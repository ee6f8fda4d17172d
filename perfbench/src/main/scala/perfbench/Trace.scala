package perfbench

import java.lang.management.ManagementFactory
import java.util.{ArrayList => JList, LinkedHashMap => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory record of one benchmark run: spans around the calls the
  * benchmark makes into each layer, plus the events Spark's listeners
  * report while tracing is on. Spans are always kept (they are also
  * the benchmark's own timers); listeners are attached only in traced
  * runs, and only traced runs write the record to a file.
  */
final class Tracer {
  private val t0 = System.nanoTime()
  private val spans = new JList[JMap[String, Any]]()
  private val events = new JList[JMap[String, Any]]()
  private val nextId = new java.util.concurrent.atomic.AtomicLong(0L)
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  /** The benchmark phase listener events are charged to. */
  @volatile var phase: String = "setup"

  def nowMs: Double = (System.nanoTime() - t0) / 1e6

  /** Run `body` inside a span; returns its value and the span's
    * duration in seconds. `ctx` names the request or stage the span
    * belongs to; a span opened inside another on the same thread
    * becomes its child.
    */
  def span[A](name: String, ctx: String = "")(body: => A): (A, Double) = {
    val id = nextId.incrementAndGet()
    val parent = stack.get().headOption.getOrElse(0L)
    stack.set(id :: stack.get())
    val start = nowMs
    try {
      val a = body
      val end = nowMs
      record(id, parent, name, ctx, start, end, ok = true)
      (a, (end - start) / 1e3)
    } catch {
      case e: Throwable =>
        record(id, parent, name, ctx, start, nowMs, ok = false)
        throw e
    } finally stack.set(stack.get().tail)
  }

  /** Record a span whose interval was measured elsewhere (a request
    * timed from its due time on another thread).
    */
  def record(id: Long, parent: Long, name: String, ctx: String,
      start: Double, end: Double, ok: Boolean): Unit = {
    val m = new JMap[String, Any]()
    m.put("id", if (id > 0) id else nextId.incrementAndGet())
    m.put("parent", parent)
    m.put("name", name)
    m.put("ctx", ctx)
    m.put("phase", phase)
    m.put("start_ms", start)
    m.put("end_ms", end)
    m.put("ok", ok)
    spans.synchronized(spans.add(m))
  }

  def event(kind: String, fields: (String, Any)*): Unit = {
    val m = new JMap[String, Any]()
    m.put("kind", kind)
    m.put("phase", phase)
    m.put("t_ms", nowMs)
    fields.foreach { case (k, v) => m.put(k, v) }
    events.synchronized(events.add(m))
  }

  def spanList: JList[JMap[String, Any]] = spans
  def eventList: JList[JMap[String, Any]] = events

  // ---- listeners --------------------------------------------------

  private var attached: Option[(SparkSession, Seq[AnyRef])] = None

  def attach(spark: SparkSession): Unit = if (attached.isEmpty) {
    val exec = new ExecListener(this)
    val plan = new PlanListener(this)
    val stream = new StreamListener(this)
    spark.sparkContext.addSparkListener(exec)
    spark.listenerManager.register(plan)
    spark.streams.addListener(stream)
    attached = Some((spark, Seq(exec, plan, stream)))
  }

  def detach(): Unit = attached.foreach { case (spark, ls) =>
    drain(spark)
    ls.foreach {
      case l: ExecListener => spark.sparkContext.removeSparkListener(l)
      case l: PlanListener => spark.listenerManager.unregister(l)
      case l: StreamListener => spark.streams.removeListener(l)
    }
    attached = None
  }

  /** Close the current phase: wait until every queued listener event
    * has been delivered, then switch the phase events are charged to.
    */
  def enter(spark: SparkSession, next: String): Unit = {
    if (attached.nonEmpty) drain(spark)
    phase = next
    System.err.println(f"[perfbench] phase $next at ${nowMs / 1e3}%.1f s")
  }

  private def drain(spark: SparkSession): Unit =
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
}

/** Job, stage and task totals from Spark's scheduler. */
private final class ExecListener(tr: Tracer) extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit =
    tr.event("job", "job_id" -> e.jobId)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null) tr.event("stage",
      "tasks" -> i.numTasks,
      "run_ms" -> m.executorRunTime,
      "cpu_ns" -> m.executorCpuTime,
      "gc_ms" -> m.jvmGCTime,
      "input_b" -> m.inputMetrics.bytesRead,
      "shuffle_write_b" -> m.shuffleWriteMetrics.bytesWritten,
      "shuffle_read_b" -> m.shuffleReadMetrics.totalBytesRead,
      "spill_b" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
      "output_b" -> m.outputMetrics.bytesWritten)
  }
}

/** Catalyst phase times and operator metrics of each finished query. */
private final class PlanListener(tr: Tracer) extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
    val ops = OpMetrics.of(qe.executedPlan)
    tr.event("sql",
      "func" -> funcName,
      "analysis_ms" -> ms("analysis"),
      "optimization_ms" -> ms("optimization"),
      "planning_ms" -> ms("planning"),
      "scan_ms" -> ops("scan_ms"),
      "agg_ms" -> ops("agg_ms"),
      "sort_ms" -> ops("sort_ms"),
      "shuffle_write_ms" -> ops("shuffle_write_ms"),
      "broadcast_build_ms" -> ops("broadcast_build_ms"),
      "rows_out" -> ops("rows_out"))
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit =
    tr.event("sql_failed", "func" -> funcName)
}

/** Runtime SQLMetrics of an executed plan, summed by operator kind. */
object OpMetrics {
  private val byMetric = Map(
    "scanTime" -> "scan_ms", "aggTime" -> "agg_ms", "sortTime" -> "sort_ms",
    "shuffleWriteTime" -> "shuffle_write_ms",
    "buildTime" -> "broadcast_build_ms")

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    // a reused exchange's work was counted where it was built
    case _: ReusedExchangeExec => Seq.empty
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  def of(plan: SparkPlan): Map[String, Double] = {
    val acc = scala.collection.mutable.Map[String, Double](
      "scan_ms" -> 0, "agg_ms" -> 0, "sort_ms" -> 0, "shuffle_write_ms" -> 0,
      "broadcast_build_ms" -> 0, "rows_out" -> 0)
    nodes(plan).foreach(_.metrics.foreach { case (name, m) =>
      if (name == "numOutputRows") acc("rows_out") += m.value
      else byMetric.get(name).foreach { k =>
        acc(k) += (m.metricType match {
          case "nsTiming" => m.value / 1e6
          case _ => m.value.toDouble
        })
      }
    })
    acc.toMap
  }
}

/** Micro-batch durations and state-store totals of each trigger. */
private final class StreamListener(tr: Tracer) extends StreamingQueryListener {
  override def onQueryStarted(
      e: StreamingQueryListener.QueryStartedEvent): Unit =
    tr.event("stream_start", "name" -> String.valueOf(e.name))

  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala
    def ms(k: String): Long = d.get(k).map(_.longValue).getOrElse(0L)
    tr.event("stream_progress",
      "name" -> String.valueOf(p.name),
      "input_rows" -> p.numInputRows,
      "trigger_ms" -> ms("triggerExecution"),
      "add_batch_ms" -> ms("addBatch"),
      "get_batch_ms" -> ms("getBatch"),
      "planning_ms" -> ms("queryPlanning"),
      "wal_commit_ms" -> ms("walCommit"),
      "commit_offsets_ms" -> ms("commitOffsets"),
      "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
      "state_commit_ms" -> p.stateOperators.map(_.commitTimeMs).sum)
  }

  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    tr.event("stream_stop")
}

/** JVM heap and collector readings. */
object Jvm {
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  def resetHeapPeak(): Unit = ManagementFactory.getMemoryPoolMXBeans.asScala
    .foreach(_.resetPeakUsage())

  def heapPeakMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Seconds since this JVM started: JVM boot and class loading
    * included.
    */
  def uptimeS: Double = ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  /** Peak resident set of this process (Linux VmHWM), in MB. */
  def peakRssMb: Double = {
    val f = java.nio.file.Paths.get("/proc/self/status")
    if (!java.nio.file.Files.exists(f)) 0.0
    else java.nio.file.Files.readAllLines(f).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
  }
}
