package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.collection.mutable

import com.fasterxml.jackson.databind.node.ObjectNode

/** Benchmark entry point (run through `perfbench/run.py`).
  *
  *   --workload ops_batch|serve_read|serve_rw  --seed N  --seconds S
  *   --trace 0|1  --fixtures DIR  --tiny DIR  --data DIR  --work DIR
  *   --t0-ms EPOCH_MS
  *
  * Prints one detail JSON line (canaries, per-dialect latencies, the
  * first wrong answers, the sample) and then, last, the result line:
  * `{"correct", "attempted", "failed", "metrics"}` with the end-to-end
  * metrics (`--trace 0`) or the per-layer metrics (`--trace 1`). Exits 1
  * when any output check failed.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        fixtures: String, tiny: String, data: String, work: String, t0Ms: Long)

  /** One timed operation: its kind, latency, and what was wrong with its
    * output (None when it checked out).
    */
  final case class Op(kind: String, latMs: Double, wrong: Option[String])

  final class Outcome(val attempted: Long, val failed: Long, val wrong: Seq[String],
                      val endToEnd: Seq[(String, (Double, String))]) {
    val layers = mutable.LinkedHashMap[String, (Double, String)]()
    val extra = mutable.LinkedHashMap[String, (Double, String)]()
    val detail: ObjectNode = Common.obj()
  }

  /** Every per-layer metric with its unit; a layer a workload does not
    * reach reports 0.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "sources.register_all_ms" -> "ms", "sources.schema_jobs" -> "count",
    "sources.load_entry_ms" -> "ms", "catalog.sync_ms" -> "ms",
    "dialects.translate_ms" -> "ms", "dialects.gate_ms" -> "ms",
    "dialects.graphql_build_ms" -> "ms", "catalyst.analysis_ms" -> "ms",
    "catalyst.optimization_ms" -> "ms", "catalyst.planning_ms" -> "ms",
    "operators.build_s" -> "s", "operators.build_jobs" -> "count",
    "operators.exec_s" -> "s", "derived.materialize_s" -> "s",
    "exec.jobs" -> "count", "exec.tasks" -> "count", "exec.job_wall_s" -> "s",
    "exec.executor_cpu_s" -> "s", "exec.shuffle_read_bytes" -> "bytes",
    "exec.shuffle_write_bytes" -> "bytes", "exec.spill_bytes" -> "bytes",
    "server.render_ms" -> "ms", "server.edge_ms" -> "ms",
    "trace.overhead_frac" -> "ratio", "trace.unattributed_ms" -> "ms")

  /** setup_s is measured from `t0Ms` (when the runner started the JVM)
    * to the first timed operation, less the pre-workload canary.
    */
  @volatile private var canaryPreS = 0.0
  @volatile private var t0Ms = 0L

  def outcome(ops: Seq[Op], wallS: Double, firstOpMs: Long, heapMb: Double): Outcome = {
    require(ops.nonEmpty, "the timed phase ran no operation")
    val lat = ops.map(_.latMs)
    val wrong = ops.flatMap(_.wrong)
    val setup = (firstOpMs - t0Ms) / 1000.0 - canaryPreS
    val out = new Outcome(ops.size, wrong.size, wrong, Seq(
      "setup_s" -> (setup, "s"),
      "wall_s" -> (wallS, "s"),
      "ops_per_s" -> (ops.size / wallS, "1/s"),
      "lat_p50_ms" -> (Common.pct(lat, 50), "ms"),
      "lat_p90_ms" -> (Common.pct(lat, 90), "ms"),
      "retained_heap_mb" -> (heapMb, "MB")))
    out.extra += "failed_frac" -> (wrong.size.toDouble / ops.size, "ratio")
    out
  }

  /** Driver heap in use after a full GC. */
  def retainedHeapMb(): Double = {
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** Spark execution and Catalyst layers over the traced jobs, per
    * operation.
    */
  def execLayers(jobs: Seq[Trace.Job], n: Double): Seq[(String, (Double, String))] = {
    val ph = Trace.phases
    Seq(
      "catalyst.analysis_ms" -> (ph.getOrElse("analysis", 0.0) / n, "ms"),
      "catalyst.optimization_ms" -> (ph.getOrElse("optimization", 0.0) / n, "ms"),
      "catalyst.planning_ms" -> (ph.getOrElse("planning", 0.0) / n, "ms"),
      "exec.jobs" -> (jobs.size / n, "count"),
      "exec.tasks" -> (jobs.map(_.tasks).sum / n, "count"),
      "exec.job_wall_s" -> (jobs.map(Serve.jobWallMs).sum / 1000.0 / n, "s"),
      "exec.executor_cpu_s" -> (jobs.map(_.cpuNs).sum / 1e9 / n, "s"),
      "exec.shuffle_read_bytes" -> (jobs.map(_.shuffleRead).sum / n, "bytes"),
      "exec.shuffle_write_bytes" -> (jobs.map(_.shuffleWrite).sum / n, "bytes"),
      "exec.spill_bytes" -> (jobs.map(_.spill).sum / n, "bytes"))
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("fixtures"), m("tiny"), m("data"), m("work"), m("t0-ms").toLong)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    t0Ms = o.t0Ms
    require(Set("ops_batch", "serve_read", "serve_rw")(o.workload), s"unknown workload ${o.workload}")
    val c0 = System.nanoTime()
    val canaryPre = graft.Bench.canarySeconds()
    canaryPreS = Common.secondsSince(c0)
    val spark = Common.session(o.work)
    Trace.install(spark.sparkContext)
    val out = try o.workload match {
      case "ops_batch" => Ops.run(spark, o)
      case "serve_read" => Serve.read(spark, o)
      case "serve_rw" => Serve.rw(spark, o)
    } finally spark.stop()
    val canaryPost = graft.Bench.canarySeconds()

    val d = out.detail
    d.put("workload", o.workload); d.put("seed", o.seed); d.put("seconds", o.seconds)
    d.put("trace", o.trace)
    d.put("canary_pre_s", canaryPre); d.put("canary_post_s", canaryPost)
    val ex = d.putObject("also")
    (out.extra ++ (if (o.trace) out.endToEnd else Nil)).foreach { case (k, (v, u)) =>
      ex.putObject(k).put("value", v).put("unit", u)
    }
    val listed = PerLayer.map(_._1).toSet
    out.layers.filterNot(l => listed(l._1)).foreach { case (k, (v, u)) =>
      ex.putObject(k.stripPrefix("detail.")).put("value", v).put("unit", u)
    }
    val w = d.putArray("wrong")
    out.wrong.take(20).foreach(w.add)
    println(Common.mapper.writeValueAsString(d))

    val res = Common.obj()
    res.put("correct", out.failed == 0)
    res.put("attempted", out.attempted)
    res.put("failed", out.failed)
    val m = res.putObject("metrics")
    val metrics: Seq[(String, (Double, String))] =
      if (o.trace) PerLayer.map { case (k, u) => k -> (out.layers.get(k).map(_._1).getOrElse(0.0), u) }
      else out.endToEnd
    metrics.foreach { case (k, (v, u)) => m.putObject(k).put("value", v).put("unit", u) }
    println(Common.mapper.writeValueAsString(res))
    System.out.flush()
    sys.exit(if (out.failed == 0) 0 else 1)
  }
}
