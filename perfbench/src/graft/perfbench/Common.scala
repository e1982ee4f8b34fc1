package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared pieces of the benchmark: the Spark session every workload runs
  * in, the order-insensitive output digests the correctness checks
  * compare, and small statistics/JSON helpers.
  */
object Common {

  val mapper = new ObjectMapper()

  /** local[4] with 4 shuffle partitions, UTC, no UI — the same session
    * shape as `graft.Bench`. Every path Spark writes to lives under
    * `work`, so a run leaves nothing outside its own directory.
    */
  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // one instance per session (the server makes a session per request);
      // each forwards to the process-wide Trace sink
      .config("spark.sql.queryExecutionListeners", classOf[PhaseListener].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Row count and an order-insensitive checksum of a DataFrame's full
    * output, computed in ONE Spark job: the sum of the low 32 bits of
    * xxhash64 over each row's JSON rendering. Every column is hashed, so
    * the job computes the whole output (unlike `count()`, which lets
    * Spark prune columns).
    */
  def digest(df: DataFrame): (Long, Long) = {
    val cols = df.columns.map(c => col("`" + c.replace("`", "``") + "`"))
    val h = if (cols.isEmpty) lit(0L)
      else xxhash64(to_json(struct(cols.toIndexedSeq: _*))).bitwiseAND(0xFFFFFFFFL)
    val r = df.agg(count(lit(1)), coalesce(sum(h), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** The digest of one `/query` JSON response: `Left(error text)` for an
    * `{"error": ...}` body, otherwise row count, column list and the
    * order-insensitive sum of the low 32 bits of each row's MD5.
    */
  final case class Answer(rows: Long, columns: String, checksum: Long, truncated: Boolean)

  def answer(body: String): Either[String, Answer] = {
    val n = mapper.readTree(body)
    if (n.has("error")) Left(n.get("error").asText)
    else {
      val rows = n.get("rows")
      var sum = 0L
      val it = rows.elements()
      while (it.hasNext) sum += low32md5(mapper.writeValueAsString(it.next()))
      val cols = new StringBuilder
      n.get("columns").elements().forEachRemaining { c =>
        if (cols.nonEmpty) cols.append(','); cols.append(c.asText)
      }
      Right(Answer(n.get("rowCount").asLong, cols.toString, sum,
        n.get("truncated").asBoolean))
    }
  }

  private def low32md5(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(StandardCharsets.UTF_8))
    ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) | ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
  }

  /** Linear-interpolated percentile (the numpy default), p in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val r = p / 100.0 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  def readJson(path: String): JsonNode =
    mapper.readTree(Files.readString(Paths.get(path), StandardCharsets.UTF_8))

  def writeJson(path: String, n: JsonNode): Unit =
    Files.writeString(Paths.get(path),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(n) + "\n",
      StandardCharsets.UTF_8)

  def obj(): ObjectNode = mapper.createObjectNode()

  /** Block-unpersist every cached RDD and clear the SQL cache — the
    * per-key isolation `graft.Bench` applies between keys.
    */
  def isolate(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    spark.catalog.clearCache()
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}
