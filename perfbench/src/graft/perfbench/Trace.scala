package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's in-memory record, kept from outside the program.
  *
  * Spans: name, start, end, parent and request id, recorded by the
  * benchmark around each call it makes into a layer. A span's id is also
  * set as a Spark local property on the calling thread, so every job the
  * call launches is attributed to the innermost open span.
  *
  * Jobs and tasks come from a SparkListener; Catalyst phase times come
  * from a QueryExecutionListener reading `qe.tracker.phases`. Nothing is
  * written until the run ends.
  */
object Trace {

  final case class Span(id: Long, name: String, req: Long, parent: Long,
                        startNs: Long, endNs: Long)

  final case class Job(id: Int, span: Long, callSite: String, startMs: Long,
                       var endMs: Long = -1L, var tasks: Long = 0L,
                       var cpuNs: Long = 0L, var shuffleRead: Long = 0L,
                       var shuffleWrite: Long = 0L, var spill: Long = 0L)

  /** Full tracing: spans, jobs, tasks and Catalyst phases. */
  @volatile var on = false

  private val SpanProp = "perfbench.span"
  private val spanIds = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val open = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val phaseMs = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()
  /** Start times (ms) of every job, recorded whether or not `on` is set:
    * the replay check counts the jobs each HTTP request launched.
    */
  private val jobStarts = new ConcurrentLinkedQueue[java.lang.Long]()
  @volatile private var sc: SparkContext = _

  def install(context: SparkContext): Unit = {
    sc = context
    context.addSparkListener(Listener)
  }

  /** Run `body` as span `name` of request `req`, child of the thread's
    * innermost open span. A no-op wrapper while tracing is off.
    */
  def span[T](name: String, req: Long)(body: => T): T =
    if (!on) body
    else {
      val stack = open.get()
      val id = spanIds.incrementAndGet()
      open.set(id :: stack)
      sc.setLocalProperty(SpanProp, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, name, req, stack.headOption.getOrElse(0L), t0, System.nanoTime()))
        open.set(stack)
        sc.setLocalProperty(SpanProp, stack.headOption.map(_.toString).orNull)
      }
    }

  /** Deliver every queued listener event before reading the record. */
  def drain(): Unit =
    require(org.apache.spark.GraftListenerDrain.drain(sc, 60000L),
      "listener bus did not drain within 60 s")

  def reset(): Unit = {
    spans.clear(); jobs.clear(); stageToJob.clear(); phaseMs.clear(); jobStarts.clear()
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq
  def allJobs: Seq[Job] = jobs.values.asScala.toSeq.sortBy(_.id)
  def phases: Map[String, Double] = phaseMs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap

  /** Time-stamped jobs recorded between `fromMs` and `toMs`. */
  def jobsStartedBetween(fromMs: Long, toMs: Long): Int =
    jobStarts.asScala.count(t => t >= fromMs && t <= toMs)

  /** Self time of each span: its duration minus the part of it that its
    * child spans cover (children of one span never overlap: they run on
    * the span's own thread, one after another).
    */
  def selfNs(all: Seq[Span]): Map[Long, Long] = {
    val childNs = all.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(c => c.endNs - c.startNs).sum
    }
    all.map(s => s.id -> ((s.endNs - s.startNs) - childNs.getOrElse(s.id, 0L))).toMap
  }

  /** Job call sites that read a table's schema: the fixture loaders
    * (`Tables`), the registry that wraps them and the dataset write path.
    */
  private val SourceFiles = Seq("Tables.scala", "TableRegistry.scala",
    "DatasetRegistry.scala", "CatalogStore.scala")

  def isSchemaJob(j: Job): Boolean =
    SourceFiles.exists(f => j.callSite.contains(s" at $f:"))

  private object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobStarts.add(e.time)
      if (on) {
        val props = Option(e.properties)
        val span = props.flatMap(p => Option(p.getProperty(SpanProp))).map(_.toLong).getOrElse(0L)
        // the result stage carries the job's call site as its name
        val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
        e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
        jobs.put(e.jobId, Job(e.jobId, span, site, e.time))
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageToJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
        j.synchronized {
          j.tasks += 1
          Option(e.taskMetrics).foreach { m =>
            j.cpuNs += m.executorCpuTime
            j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
  }

  private[perfbench] def recordPhases(qe: QueryExecution): Unit =
    if (on) qe.tracker.phases.foreach { case (name, p) =>
      phaseMs.merge(name, p.durationMs.toDouble, (a, b) => a + b)
    }
}

/** Registered through `spark.sql.queryExecutionListeners`, so every
  * session — including the per-request sessions the server creates —
  * reports its executed plans' analysis, optimization and planning times.
  */
class PhaseListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    Trace.recordPhases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    Trace.recordPhases(qe)
}
