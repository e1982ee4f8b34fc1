package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators._

/** The operator keys by module, and the shared `Derived` artifacts, as the
  * benchmark samples and materializes them.
  */
object Keys {

  type Fn = (SparkSession, String) => DataFrame

  /** `SparkEntry.queries`, split by the module that declares each key. */
  val modules: Seq[(String, Map[String, Fn])] = Seq(
    "Relational" -> Relational.queries,
    "Aggregates" -> Aggregates.queries,
    "Joins" -> Joins.queries,
    "Windows" -> Windows.queries,
    "Scalars" -> graft.functions.Scalars.queries,
    "Streams" -> Streams.queries,
    "TextOps" -> TextOps.queries,
    "VectorOps" -> VectorOps.queries,
    "Custom" -> graft.functions.Custom.queries,
    "Dialects" -> Dialects.queries,
    "Layouts" -> Layouts.queries,
    "GraphOps" -> GraphOps.queries,
    "Analytics" -> Analytics.queries,
    "Profiling" -> Profiling.queries,
    "DataQuality" -> DataQuality.queries,
    "Composites" -> Composites.queries)

  def moduleOf: Map[String, String] =
    modules.flatMap { case (m, qs) => qs.keys.map(_ -> m) }.toMap

  /** Each `Derived` artifact by the name its directory carries, in an
    * order where every artifact follows the ones it derives from.
    */
  val derived: Seq[(String, Fn)] = Seq(
    "valid_emb" -> Derived.validEmb _,
    "shingles" -> Derived.shingles _,
    "hashed_shingles" -> Derived.hashedShingles _,
    "shingle_pair_stats" -> Derived.shinglePairStats _,
    "minhash_sigs" -> Derived.minhashSigs _,
    "band_pairs" -> Derived.bandPairs _,
    "components" -> Derived.components _,
    "trade_edges" -> Derived.tradeEdges _,
    "lsh_capped" -> Derived.lshCapped _,
    "ppl_scores" -> Derived.pplScores _)
}
