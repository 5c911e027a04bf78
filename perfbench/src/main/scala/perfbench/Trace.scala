package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call: `name` is the layer (`entry.build`, `pipelines.train`,
  * ...), `label` the query or step it ran, `pass` the pass or cycle. */
final case class Span(id: Int, parent: Int, name: String, label: String,
                      pass: Int, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work attributed to one span through the `perfbench.span` job
  * property. Times in seconds, sizes in bytes. */
final class SpanWork {
  var jobs = 0
  var tasks = 0L
  var taskBusyS = 0.0
  var taskCpuS = 0.0
  var gcS = 0.0
  var shuffleBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
}

/** In-memory trace of one benchmark run.
  *
  * Spans are always recorded: they are the benchmark's stopwatch. When
  * `traced`, every span also tags the Spark jobs it starts with its id (a
  * job property, so the attribution is exact even though listener events
  * arrive asynchronously), and a [[SparkListener]] plus a
  * [[QueryExecutionListener]] fold the jobs, tasks and final plans into
  * per-span counters. [[sync]] drains the listener bus so a reader sees
  * every event of the work that finished before the call. */
final class Trace(val runId: String, val traced: Boolean) {
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var sc: SparkContext = null

  /** Span id → Spark work, written by the listener thread. */
  private val work = new ConcurrentHashMap[Int, SpanWork]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  /** (jobId → (span, start ms, end ms)) for the no-job-time split. */
  private val jobTimes = new ConcurrentHashMap[Int, Array[Long]]()
  @volatile private var exchangeCount = 0L
  /** Pause switch for the trace-overhead A/B: while false, spans tag no
    * jobs and the listeners drop what they see. */
  @volatile var recording: Boolean = traced

  private def workOf(span: Int): SpanWork =
    work.computeIfAbsent(span, _ => new SpanWork)

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val id = Option(e.properties).flatMap(p =>
        Option(p.getProperty(Trace.SpanKey))).map(_.toInt)
      id.foreach { s =>
        workOf(s).synchronized { workOf(s).jobs += 1 }
        e.stageIds.foreach(st => stageSpan.put(st, s))
        jobTimes.put(e.jobId, Array(s.toLong, e.time, -1L))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobTimes.get(e.jobId)).foreach(_(2) = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        val m = e.taskMetrics
        val w = workOf(s)
        w.synchronized {
          w.tasks += 1
          if (m != null) {
            w.taskBusyS += m.executorRunTime / 1e3
            w.taskCpuS += m.executorCpuTime / 1e9
            w.gcS += m.jvmGCTime / 1e3
            w.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
            w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
            w.outputBytes += m.outputMetrics.bytesWritten
          }
        }
      }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit =
      if (recording) exchangeCount += Trace.exchanges(qe.executedPlan)
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = ()
  }

  /** Start listening on `spark` (traced runs only). */
  def attach(spark: org.apache.spark.sql.SparkSession): Unit = {
    sc = spark.sparkContext
    if (traced) {
      sc.addSparkListener(jobListener)
      spark.listenerManager.register(planListener)
    }
  }

  /** Time `body` as a span; nested calls get this span as parent. */
  def span[T](name: String, label: String = "", pass: Int = -1)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val tag = sc != null && traced && recording
    if (tag) sc.setLocalProperty(Trace.SpanKey, id.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      spans += Span(id, parent, name, label, pass, t0, t1)
      stack = stack.tail
      if (tag)
        sc.setLocalProperty(Trace.SpanKey,
          if (parent >= 0) parent.toString else null)
    }
  }

  /** Deliver every pending listener event (traced runs only). */
  def sync(): Unit = if (traced && sc != null) PerfbenchBus.drain(sc)

  def all: Seq[Span] = spans.toSeq

  def workFor(spanIds: Iterable[Int]): SpanWork = {
    val out = new SpanWork
    spanIds.foreach(id => Option(work.get(id)).foreach { w =>
      w.synchronized {
        out.jobs += w.jobs; out.tasks += w.tasks
        out.taskBusyS += w.taskBusyS; out.taskCpuS += w.taskCpuS
        out.gcS += w.gcS; out.shuffleBytes += w.shuffleBytes
        out.spillBytes += w.spillBytes; out.outputBytes += w.outputBytes
      }
    })
    out
  }

  /** Exchange nodes in the final plans of the queries executed so far. */
  def exchangesSoFar: Long = exchangeCount

  /** Seconds of [fromMs, toMs] covered by at least one job tagged with a
    * span in `spanIds`. */
  def jobCoveredSeconds(spanIds: Set[Int], fromMs: Long, toMs: Long): Double = {
    val iv = jobTimes.values.asScala.toSeq
      .filter(j => spanIds.contains(j(0).toInt))
      .map(j => (math.max(j(1), fromMs),
        math.min(if (j(2) < 0) toMs else j(2), toMs)))
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (a, b) =>
      if (a > curE) { covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    covered += curE - curS
    covered / 1e3
  }

  /** The span tree as JSON lines (one object per span). */
  def jsonLines: Seq[String] = spans.toSeq.map { s =>
    val w = Option(work.get(s.id))
    val extra = w.map(x => x.synchronized {
      f""","jobs":${x.jobs},"tasks":${x.tasks},"task_busy_s":${x.taskBusyS}%.4f,"shuffle_bytes":${x.shuffleBytes},"spill_bytes":${x.spillBytes}"""
    }).getOrElse("")
    s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":"${s.name}","label":"${s.label}","pass":${s.pass},"start_ns":${s.startNs},"end_ns":${s.endNs}$extra}"""
  }
}

object Trace {
  val SpanKey = "perfbench.span"

  /** Exchange nodes in an executed plan, looking through adaptive plans and
    * query stages to the final plan; a reused exchange is not counted. */
  def exchanges(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case q: QueryStageExec => exchanges(q.plan)
    case _: ReusedExchangeExec => 0L
    case e: Exchange => 1L + e.children.map(exchanges).sum
    case other =>
      other.children.map(exchanges).sum + other.subqueries.map(exchanges).sum
  }
}
