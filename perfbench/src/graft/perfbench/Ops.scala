package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession

/** ops_batch: one pass over a seeded sample of operator keys, as a
  * pipeline runs them. Each key's time covers building its DataFrame
  * (eager checkpoints and schema inference included) and running it to a
  * full-output digest; between keys the pass applies `graft.Bench`'s
  * blocking unpersist + clearCache isolation. The shared `Derived`
  * artifacts are materialized first, inside the timed pass.
  */
object Ops {

  final case class Key(name: String, module: String, rows: Long, checksum: Option[Long],
                       cost: Double, derived: Seq[String])

  /** The keys a pass may draw, cheapest first: every key with a committed
    * expectation whose `Derived` inputs are all among the artifacts the
    * pass materializes, and whose committed cost is at most the cap (one
    * key above it would set the pass time of whichever seed draws it).
    */
  def population(data: String, sizing: JsonNode): IndexedSeq[Key] = {
    val allowed = sizing.get("ops_derived").elements().asScala.map(_.asText).toSet
    val cap = sizing.get("ops_max_key_s").asDouble
    Common.readJson(s"$data/ops.json").get("keys").fields().asScala.toIndexedSeq
      .filter(e => !e.getValue.has("error"))
      .map { e =>
        val n = e.getValue
        Key(e.getKey, n.get("module").asText, n.get("rows").asLong,
          Option(n.get("checksum")).filterNot(_.isNull).map(_.asLong),
          n.get("cost_s").asDouble, n.get("derived").elements().asScala.map(_.asText).toSeq)
      }
      .filter(k => k.derived.forall(allowed) && k.cost <= cap)
      .sortBy(k => (k.cost, k.name))
  }

  /** The draw that picks the pass's key set (see `run`). */
  val SampleDraw = 0L

  /** Cost-stratified sample: the population, in cost order, is cut into
    * strata of equal key count, sized so that one key per stratum sums to
    * about `seconds` of committed cost. Each stratum contributes one key —
    * preferring a module the sample holds least of so far, ties by seed —
    * so every seed's pass has the same cost profile and covers modules
    * evenly. Run order is shuffled by seed.
    */
  def sample(pop: IndexedSeq[Key], seconds: Double, rnd: scala.util.Random): IndexedSeq[Key] = {
    val perStratum = math.max(1, math.round(pop.map(_.cost).sum / seconds).toInt)
    val strata = pop.grouped(perStratum).toIndexedSeq
    val held = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    val picked = rnd.shuffle(strata).map { s =>
      val least = s.map(k => held(k.module)).min
      val k = rnd.shuffle(s.filter(k => held(k.module) == least)).head
      held(k.module) += 1
      k
    }
    rnd.shuffle(picked)
  }

  private def check(k: Key, r: Either[String, (Long, Long)]): Option[String] = r match {
    case Left(e) => Some(s"${k.name}: ${e.take(300)}")
    case Right((rows, sum)) =>
      if (rows != k.rows) Some(s"${k.name}: $rows rows, expected ${k.rows}")
      else if (k.checksum.exists(_ != sum)) Some(s"${k.name}: checksum $sum, expected ${k.checksum.get}")
      else None
  }

  /** One pass: the artifacts, then every key in order; spans are recorded
    * when tracing is on.
    */
  private def pass(spark: SparkSession, dir: String, keys: Seq[Key],
                   artifacts: Seq[String]): (Seq[Main.Op], Double) = {
    val fns = graft.SparkEntry.queries
    val derived = Keys.derived.toMap
    val t0 = System.nanoTime()
    artifacts.foreach { a =>
      Trace.span("derived.materialize", -1L)(derived(a)(spark, dir).count())
      Common.isolate(spark)
    }
    val ops = keys.zipWithIndex.map { case (k, i) =>
      val s = System.nanoTime()
      val r = try Right(Trace.span("op", i.toLong) {
        val df = Trace.span("operators.build", i.toLong)(fns(k.name)(spark, dir))
        Trace.span("operators.exec", i.toLong)(Common.digest(df))
      }) catch { case e: Throwable => Left(s"${e.getClass.getName}: ${e.getMessage}") }
      val lat = (System.nanoTime() - s) / 1e6
      Common.isolate(spark)
      Main.Op(k.name, lat, check(k, r))
    }
    (ops, Common.secondsSince(t0))
  }

  def run(spark: SparkSession, o: Main.Opts): Main.Outcome = {
    val sizing = Common.readJson(s"${o.data}/sizing.json")
    val artifacts = sizing.get("ops_derived").elements().asScala.map(_.asText).toSeq
    // The key set is one fixed draw; the seed orders it. Drawing the set
    // per seed made lat_p50_ms spread by a third of its median across
    // five seeds: a key's time in a short fresh-JVM pass is not predicted
    // well enough by its committed cost for strata to even it out.
    val keys = new scala.util.Random(o.seed).shuffle(sample(population(o.data, sizing),
      o.seconds / sizing.get("ops_cost_factor").asDouble, new scala.util.Random(SampleDraw)))
    // warm-up, untimed: the sample once at the tiny scale (JIT, codegen,
    // first use of each key's machinery)
    if (Files.isDirectory(Paths.get(o.tiny))) {
      val fns = graft.SparkEntry.queries
      keys.foreach { k =>
        try Common.digest(fns(k.name)(spark, o.tiny))
        catch { case e: Throwable => System.err.println(s"[perfbench] warm-up ${k.name}: ${e.getMessage}") }
        Common.isolate(spark)
      }
    } else System.err.println(s"[perfbench] no tiny fixtures at ${o.tiny}; warm-up skipped")
    val firstOpMs = System.currentTimeMillis()
    val (ops, wall) = pass(spark, o.fixtures, keys, artifacts)
    val out = Main.outcome(ops, wall, firstOpMs, Main.retainedHeapMb())
    val s = out.detail.putArray("sample")
    keys.zip(ops).foreach { case (k, op) =>
      s.addObject().put("key", k.name).put("module", k.module).put("ms", op.latMs)
    }
    if (o.trace) out.layers ++= traced(spark, o, keys, artifacts, wall)
    out
  }

  /** The traced pass: the same keys over a copy of the fixtures (a fresh
    * path, so `Derived` materializes again rather than reusing the first
    * pass's artifacts).
    */
  private def traced(spark: SparkSession, o: Main.Opts, keys: Seq[Key], artifacts: Seq[String],
                     untracedWall: Double): Seq[(String, (Double, String))] = {
    val copy = Paths.get(o.work, "trace-fixtures", Paths.get(o.fixtures).getFileName.toString)
    Files.createDirectories(copy)
    Files.list(Paths.get(o.fixtures)).iterator().asScala.foreach { f =>
      Files.copy(f, copy.resolve(f.getFileName), java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    Trace.reset()
    Trace.on = true
    val (ops, wall) = try pass(spark, copy.toString, keys, artifacts) finally Trace.on = false
    Trace.drain()
    ops.flatMap(_.wrong).headOption.foreach(w => throw new IllegalStateException(s"traced pass: $w"))
    val spans = Trace.allSpans
    val jobs = Trace.allJobs
    val n = keys.size.toDouble
    val self = Trace.selfNs(spans)
    val spanName = spans.map(s => s.id -> s.name).toMap
    def totalS(name: String) = spans.filter(_.name == name).map(s => s.endNs - s.startNs).sum / 1e9
    Seq(
      "operators.build_s" -> (totalS("operators.build") / n, "s"),
      "operators.build_jobs" -> (jobs.count(j => spanName.get(j.span).contains("operators.build")) / n, "count"),
      "operators.exec_s" -> (totalS("operators.exec") / n, "s"),
      "derived.materialize_s" -> (totalS("derived.materialize"), "s"),
      "sources.schema_jobs" -> (jobs.count(Trace.isSchemaJob) / n, "count"),
      "trace.overhead_frac" -> (wall / untracedWall - 1, "ratio"),
      "trace.unattributed_ms" -> (spans.filter(_.name == "op").map(s => self(s.id)).sum / 1e6 / n, "ms")
    ) ++ Main.execLayers(jobs, n)
  }
}
