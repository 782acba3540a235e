package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.BenchAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a timed call the benchmark made into the program, with the
  * runtime counters accumulated between its start and end (empty when
  * the listeners were off).
  */
final case class Span(id: Int, name: String, parent: Int, pass: Int,
                      startNs: Long, endNs: Long, counts: Map[String, Long]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Measures the program from outside: a SparkListener (jobs, stages,
  * tasks and their metrics), a QueryExecutionListener (actions and
  * planning time) and a span recorder around the benchmark's own calls.
  * The listeners are attached only while `traced` is set; spans are
  * always timed. Spans stay in memory until the run writes them out.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  val counterNames: Seq[String] = Seq(
    "driver.actions", "driver.plan_ns", "scheduler.jobs", "scheduler.stages",
    "scheduler.tasks", "executor.task_ms", "executor.cpu_ns", "executor.gc_ms",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.spill_bytes",
    "sources.scan_bytes", "sources.scan_rows", "sinks.write_bytes", "sinks.write_rows")
  private val counters: Map[String, AtomicLong] =
    counterNames.map(_ -> new AtomicLong).toMap
  private def add(name: String, v: Long): Unit = counters(name).addAndGet(v)

  // ---- per-call-site attribution: execution -> site, stage -> site ----
  // A site is the innermost open span (carried to the job as a local
  // property) plus the innermost library frame of the call stack.
  private val executionSite = new ConcurrentHashMap[Long, String]
  private val stageSite = new ConcurrentHashMap[Int, String]
  private val SpanProperty = "perfbench.span"
  /** site -> (jobs, stages, tasks, task ms) */
  val siteStats = new ConcurrentHashMap[String, Array[Long]]
  private val graftFrame = """\bgraft\.[\w.$]+\((\w+\.scala:\d+)\)""".r
  /** The innermost library frame of a call stack. */
  private def siteOf(details: String): String =
    graftFrame.findFirstMatchIn(details).map(_.group(1)).getOrElse("other")
  private def bump(site: String, i: Int, v: Long): Unit =
    siteStats.computeIfAbsent(site, _ => new Array[Long](4))(i) += v

  private val listener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        executionSite.put(s.executionId, siteOf(s.details))
      case _ =>
    }
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      add("scheduler.jobs", 1)
      val props = Option(j.properties)
      val frame = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => Option(executionSite.get(id.toLong)))
        .getOrElse(siteOf(j.stageInfos.map(_.details).mkString("\n")))
      val site = props.flatMap(p => Option(p.getProperty(SpanProperty))).getOrElse("-") +
        " @ " + frame
      j.stageIds.foreach(stageSite.put(_, site))
      bump(site, 0, 1)
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      add("scheduler.stages", 1)
      bump(stageSite.getOrDefault(s.stageInfo.stageId, "other"), 1, 1)
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      add("scheduler.tasks", 1)
      val m = t.taskMetrics
      if (m != null) {
        add("executor.task_ms", m.executorRunTime)
        add("executor.cpu_ns", m.executorCpuTime)
        add("executor.gc_ms", m.jvmGCTime)
        add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add("shuffle.spill_bytes", m.diskBytesSpilled)
        add("sources.scan_bytes", m.inputMetrics.bytesRead)
        add("sources.scan_rows", m.inputMetrics.recordsRead)
        add("sinks.write_bytes", m.outputMetrics.bytesWritten)
        add("sinks.write_rows", m.outputMetrics.recordsWritten)
        val site = stageSite.getOrDefault(t.stageId, "other")
        bump(site, 2, 1)
        bump(site, 3, m.executorRunTime)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      add("driver.actions", 1)
      val phases = qe.tracker.phases
      add("driver.plan_ns", Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(p => (p.endTimeMs - p.startTimeMs) * 1000000L).sum)
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  private var _traced = false
  def setTraced(on: Boolean): Unit = if (on != _traced) {
    BenchAccess.drainListenerBus(sc)
    if (on) { sc.addSparkListener(listener); spark.listenerManager.register(qeListener) }
    else { sc.removeSparkListener(listener); spark.listenerManager.unregister(qeListener) }
    _traced = on
  }

  def snapshot(): Map[String, Long] =
    if (!_traced) Map.empty
    else { BenchAccess.drainListenerBus(sc); counters.map { case (k, v) => k -> v.get } }

  // ---- spans -----------------------------------------------------------
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 0
  var pass = 0

  def span[T](name: String)(body: => T): T = {
    val before = snapshot()
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack.push(id)
    val outer = sc.getLocalProperty(SpanProperty)
    sc.setLocalProperty(SpanProperty, name)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      sc.setLocalProperty(SpanProperty, outer)
      stack.pop()
      val after = snapshot()
      spans += Span(id, name, parent, pass, t0, t1,
        after.map { case (k, v) => k -> (v - before(k)) })
    }
  }

  /** Span duration minus the part of it its child spans cover (children
    * of one span never overlap: the client is single-threaded).
    */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum
}

/** The live set: driver heap in use right after a full collection. */
object LiveHeap {
  def collectAndMeasure(): Long = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }
}
