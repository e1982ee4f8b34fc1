package graft.perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

import graft.server.Server

/** Regenerates the benchmark's committed expectations (see
  * `perfbench/gen.py`, which drives it):
  *
  *   ops <fixtures> <out.json> <work>
  *     every operator key, twice: module, row count, checksum (null when
  *     the two passes disagree) and its second-pass seconds.
  *   derived <fixtures> <ops.json> <work>
  *     the `Derived` artifacts each key's build needs.
  *   calibrate <fixtures> <tiny> <ops.json> <seed> <work>
  *     each drawable key's latency in an ops_batch-like pass.
  *   requests <fixtures> <corpus.json> <out.json> <work>
  *     every corpus request through `Server.handleJson`, twice: the SQL
  *     share is `NlToSql.translate` of the NL share; answers as digests.
  *   rw <fixtures> <out.json> <work>
  *     the serve_rw reader and writer answers, through the same harness
  *     the workload uses.
  */
object Gen {

  def main(args: Array[String]): Unit = {
    val work = args.last
    val spark = Common.session(work)
    Trace.install(spark.sparkContext)
    try args(0) match {
      case "ops" => ops(spark, args(1), args(2))
      case "derived" => derived(spark, args(1), args(2), args(3))
      case "calibrate" => calibrate(spark, args(1), args(2), args(3), args(4).toLong)
      case "requests" => requests(spark, args(1), args(2), args(3))
      case "rw" => Serve.generateRw(spark, args(1), args(2), work)
      case other => sys.error(s"unknown mode $other")
    } finally spark.stop()
  }

  private def derivedRoot: File =
    new File(sys.props("java.io.tmpdir"), s"graft-derived-${ProcessHandle.current().pid()}")

  def ops(spark: SparkSession, fixtures: String, out: String): Unit = {
    val moduleOf = Keys.moduleOf
    val keys = graft.SparkEntry.queries.toSeq.sortBy(_._1)
    val oracles = graft.SparkEntry.oracleSql
    val root = Common.obj()
    val passes = (1 to 2).map { pass =>
      keys.map { case (k, fn) =>
        val t0 = System.nanoTime()
        val res = try Right(Common.digest(fn(spark, fixtures)) -> Common.secondsSince(t0))
          catch { case e: Throwable => Left(s"${e.getClass.getName}: ${e.getMessage}") }
        Common.isolate(spark)
        System.err.println(s"[gen] pass $pass $k ${res.fold(identity, r => f"rows=${r._1._1} ${r._2}%.2f s")}")
        k -> res
      }.toMap
    }
    val o = root.putObject("keys")
    keys.foreach { case (k, _) =>
      val n = o.putObject(k)
      n.put("module", moduleOf(k))
      n.put("oracle", oracles.get(k).orNull)
      (passes(0)(k), passes(1)(k)) match {
        case (Right(((rowsA, sumA), _)), Right(((rowsB, sumB), secondsB))) =>
          require(rowsA == rowsB, s"$k: row count differs between passes ($rowsA vs $rowsB)")
          n.put("rows", rowsA)
          if (sumA == sumB) n.put("checksum", sumA) else n.putNull("checksum")
          // warm cost, until `calibrate` replaces it
          n.put("cost_s", secondsB)
        case (a, b) =>
          n.put("error", Seq(a, b).collectFirst { case Left(e) => e }.get)
      }
    }
    Common.writeJson(out, root)
  }

  /** Which `Derived` artifacts each key's build needs, including those a
    * plan reaches only through an eager checkpoint: each key builds over
    * its own directory of links to the
    * fixtures — a fresh path, so `Derived` materializes every artifact the
    * build asks for under that path's hash. Merged into `ops.json`.
    */
  def derived(spark: SparkSession, fixtures: String, opsPath: String, work: String): Unit = {
    val ops = Common.readJson(opsPath)
    val keys = ops.get("keys").asInstanceOf[ObjectNode]
    val files = new File(fixtures).listFiles().toSeq
    keys.fieldNames().asScala.toSeq.sorted.foreach { k =>
      val dir = new File(work, s"links/$k")
      dir.mkdirs()
      files.foreach(f => java.nio.file.Files.createSymbolicLink(
        new File(dir, f.getName).toPath, f.getAbsoluteFile.toPath))
      val suffix = "-" + Integer.toHexString(dir.getCanonicalPath.hashCode)
      try graft.SparkEntry.queries(k)(spark, dir.getPath)
      catch { case e: Throwable => System.err.println(s"[gen] $k build failed: ${e.getMessage}") }
      Common.isolate(spark)
      val made = Option(derivedRoot.listFiles()).toSeq.flatten.map(_.getName)
        .filter(_.endsWith(suffix)).map(_.stripSuffix(suffix))
      val n = keys.get(k).asInstanceOf[ObjectNode]
      if (!n.has("error")) {
        val arr = n.putArray("derived")
        made.sorted.foreach(arr.add)
      }
      System.err.println(s"[gen] derived $k: ${made.sorted.mkString(",")}")
    }
    Common.writeJson(opsPath, ops)
  }

  /** Each key's latency as an ops_batch pass sees it: a fresh JVM, every
    * key once at the tiny scale (the warm-up), `valid_emb` materialized,
    * then every key once at sf0.1 in an order drawn from `seed`. Written
    * to `ops.json` as `lat_s_<seed>`; the population is stratified on
    * their mean (`cost_s`).
    */
  def calibrate(spark: SparkSession, fixtures: String, tiny: String, opsPath: String,
                seed: Long): Unit = {
    val ops = Common.readJson(opsPath)
    val keys = ops.get("keys").asInstanceOf[ObjectNode]
    // keys no ops_batch pass can draw are skipped: a build needing more
    // than valid_emb, or a warm cost far above the population cap
    val names = new scala.util.Random(seed).shuffle(keys.fieldNames().asScala.toSeq.sorted.filter { k =>
      val n = keys.get(k)
      !n.has("error") && n.get("cost_s").asDouble <= 5.0 &&
        n.get("derived").elements().asScala.forall(_.asText == "valid_emb")
    })
    val fns = graft.SparkEntry.queries
    names.foreach { k =>
      try Common.digest(fns(k)(spark, tiny)) catch { case _: Throwable => () }
      Common.isolate(spark)
    }
    graft.operators.Derived.validEmb(spark, fixtures).count()
    names.foreach { k =>
      val t0 = System.nanoTime()
      Common.digest(fns(k)(spark, fixtures))
      keys.get(k).asInstanceOf[ObjectNode].put(s"lat_s_$seed", Common.secondsSince(t0))
      Common.isolate(spark)
    }
    Common.writeJson(opsPath, ops)
  }

  def requests(spark: SparkSession, fixtures: String, corpusPath: String, out: String): Unit = {
    val corpus = Common.readJson(corpusPath)
    // the SQL share: NlToSql.translate of every NL question that translates
    val nl = corpus.get("nl").elements().asScala.map(_.asText).toSeq
    val sql = nl.flatMap(q => scala.util.Try(graft.dialects.NlToSql.translate(q)).toOption)
    val gql = corpus.get("graphql").elements().asScala.map(_.asText).toSeq
    val reqs = nl.map("nl" -> _) ++ sql.map("sql" -> _) ++ gql.map("graphql" -> _)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    def pass(): Seq[Either[String, Common.Answer]] = {
      val futs = reqs.map { case (d, q) =>
        pool.submit(() => Common.answer(Server.handleJson(spark, Serve.body(d, q, fixtures))))
      }
      futs.map(_.get())
    }
    val a = pass()
    val b = pass()
    pool.shutdown()
    val root = Common.obj()
    val arr = root.putArray("requests")
    reqs.indices.foreach { i =>
      val (d, q) = reqs(i)
      val n = arr.addObject()
      n.put("dialect", d); n.put("query", q)
      putAnswer(n, a(i), b(i))
    }
    System.err.println(s"[gen] ${reqs.size} requests: nl=${nl.size} sql=${sql.size} graphql=${gql.size}")
    Common.writeJson(out, root)
  }

  /** Expected answer of a request run twice: rows + columns must agree;
    * the checksum is kept only when both runs produced the same one.
    */
  def putAnswer(n: ObjectNode, a: Either[String, Common.Answer],
                b: Either[String, Common.Answer]): Unit = (a, b) match {
    case (Right(x), Right(y)) =>
      require(x.rows == y.rows && x.columns == y.columns,
        s"answer differs between passes: $x vs $y")
      n.put("rows", x.rows); n.put("columns", x.columns)
      if (x.checksum == y.checksum) n.put("checksum", x.checksum) else n.putNull("checksum")
    case _ =>
      n.put("error", Seq(a, b).collectFirst { case Left(e) => e }.get)
  }
}
