package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One clock for the whole run: milliseconds since the harness started,
  * from `nanoTime` (sub-ms, monotonic). Spark's own event times are wall
  * milliseconds; [[fromWall]] maps them onto the same axis. */
object Clock {
  private val nano0 = System.nanoTime()
  private val wall0 = System.currentTimeMillis()
  def now: Double = (System.nanoTime() - nano0) / 1e6
  def fromWall(wallMs: Long): Double = (wallMs - wall0).toDouble
  def sleepUntil(t: Double): Unit = {
    var left = t - now
    while (left > 0) {
      Thread.sleep(math.max(1L, left.toLong).min(50L))
      left = t - now
    }
  }
}

/** Spans: named intervals with a parent. The current span id rides the
  * SparkContext local property [[Spans.Key]], so every job started on the
  * calling thread carries the span it belongs to. Spans stay in memory
  * and are dumped when the run ends. */
final class Spans {
  import Spans.Span

  private val ids = new AtomicLong(0)
  private val all = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Span]()
  @volatile private var sc: Option[SparkContext] = None

  def attach(ctx: SparkContext): Unit = {
    sc = Some(ctx)
    ctx.setLocalProperty(Spans.Key, stack.headOption.map(_.id.toString).orNull)
  }

  def apply[T](name: String)(body: => T): T = {
    val s = synchronized {
      val s = Span(ids.incrementAndGet(), name,
        stack.headOption.map(_.id).getOrElse(0L), Clock.now)
      all += s
      stack.push(s)
      s
    }
    sc.foreach(_.setLocalProperty(Spans.Key, s.id.toString))
    try body
    finally synchronized {
      s.end = Clock.now
      stack.pop()
      sc.foreach(_.setLocalProperty(Spans.Key,
        stack.headOption.map(_.id.toString).orNull))
    }
  }

  /** Run `body` with no span property set, so threads it creates (stream
    * executions, server dispatchers) do not inherit the current span. */
  def outside[T](body: => T): T = {
    sc.foreach(_.setLocalProperty(Spans.Key, null))
    try body
    finally synchronized {
      sc.foreach(_.setLocalProperty(Spans.Key,
        stack.headOption.map(_.id.toString).orNull))
    }
  }

  def dump: Seq[Map[String, Any]] = synchronized {
    all.toSeq.map(s => Map("id" -> s.id, "name" -> s.name,
      "parent" -> s.parent, "start" -> s.start, "end" -> s.end))
  }
}

object Spans {
  val Key = "perfbench.span"
  final case class Span(id: Long, name: String, parent: Long,
      start: Double, var end: Double = Double.NaN)
}

/** Job / stage / task attribution through the public listener APIs:
  * a SparkListener for jobs, stages and tasks, and a
  * QueryExecutionListener for the Catalyst planning phases. Installed
  * only on traced runs. */
final class JobTrace extends SparkListener with QueryExecutionListener {

  private def attrOf(p: java.util.Properties): Map[String, Any] =
    if (p == null) Map("span" -> null, "query" -> null, "batch" -> null)
    else Map(
      "span" -> p.getProperty(Spans.Key),
      "query" -> p.getProperty("sql.streaming.queryId"),
      "batch" -> p.getProperty("streaming.sql.batchId"))

  private val jobs = mutable.LinkedHashMap[Int, mutable.Map[String, Any]]()
  private val stages = mutable.LinkedHashMap[(Int, Int), mutable.Map[String, Any]]()
  private val plans = new ConcurrentLinkedQueue[Map[String, Any]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = mutable.Map[String, Any]("id" -> e.jobId,
      "start" -> Clock.fromWall(e.time), "end" -> null,
      "stages" -> e.stageInfos.size) ++ attrOf(e.properties)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j("end") = Clock.fromWall(e.time)
      j("ok") = e.jobResult == JobSucceeded
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val i = e.stageInfo
      stages((i.stageId, i.attemptNumber())) = mutable.Map[String, Any](
        "stage" -> i.stageId, "start" -> Clock.now, "tasks" -> 0, "run_ms" -> 0L, "cpu_ns" -> 0L,
        "gc_ms" -> 0L, "shuffle_read" -> 0L, "shuffle_write" -> 0L,
        "spill" -> 0L, "bytes_written" -> 0L, "bytes_read" -> 0L) ++
        attrOf(e.properties)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stages.get((e.stageId, e.stageAttemptId)).foreach { s =>
      def add(k: String, v: Long): Unit = s(k) = s(k).asInstanceOf[Long] + v
      s("tasks") = s("tasks").asInstanceOf[Int] + 1
      if (m != null) {
        add("run_ms", m.executorRunTime)
        add("cpu_ns", m.executorCpuTime)
        add("gc_ms", m.jvmGCTime)
        add("shuffle_read", m.shuffleReadMetrics.totalBytesRead)
        add("shuffle_write", m.shuffleWriteMetrics.bytesWritten)
        add("spill", m.memoryBytesSpilled + m.diskBytesSpilled)
        add("bytes_written", m.outputMetrics.bytesWritten)
        add("bytes_read", m.inputMetrics.bytesRead)
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
    val start = ph.values.map(_.startTimeMs).minOption
      .map(Clock.fromWall).getOrElse(Clock.now)
    plans.add(Map("func" -> funcName, "start" -> start,
      "analysis_ms" -> ms("analysis"), "optimization_ms" -> ms("optimization"),
      "planning_ms" -> ms("planning")))
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  /** Wait (at most 10 s) until every started job has ended and no event
    * arrived for 200 ms: the listener bus delivers asynchronously. */
  def settle(): Unit = {
    val deadline = Clock.now + 10000
    var last = -1
    var quiet = 0
    while (Clock.now < deadline && quiet < 4) {
      val (n, open) = synchronized(
        (jobs.size + stages.size, jobs.values.count(_("end") == null)))
      quiet = if (n == last && open == 0) quiet + 1 else 0
      last = n
      Thread.sleep(50)
    }
  }

  def dump: Map[String, Any] = synchronized {
    Map("jobs" -> jobs.values.map(_.toMap).toSeq,
      "stages" -> stages.values.map(_.toMap).toSeq,
      "plans" -> plans.asScala.toSeq)
  }
}

/** Micro-batch progress of every stream, kept in both passes: freshness
  * is measured at commit time from these events. `onCommit` lets a
  * workload track the highest committed offset as it happens. */
final class StreamWatch extends StreamingQueryListener {
  import StreamingQueryListener._

  private val progress = new ConcurrentLinkedQueue[Map[String, Any]]()
  @volatile var onCommit: (String, Long) => Unit = (_, _) => ()

  private def offset(s: String): Long =
    if (s == null || s == "null") -1L else s.trim.toLong

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val start = Clock.fromWall(java.time.Instant.parse(p.timestamp).toEpochMilli)
    val end = start + d.getOrElse("triggerExecution", 0L)
    val src = p.sources.headOption
    val endOff = src.map(s => offset(s.endOffset)).getOrElse(-1L)
    val startOff = src.map(s => offset(s.startOffset)).getOrElse(-1L)
    val state = p.stateOperators.toSeq.map { so =>
      Map("rows_total" -> so.numRowsTotal, "rows_updated" -> so.numRowsUpdated,
        "memory_bytes" -> so.memoryUsedBytes, "commit_ms" -> so.commitTimeMs,
        "all_updates_ms" -> so.allUpdatesTimeMs,
        "custom" -> so.customMetrics.asScala.map { case (k, v) =>
          k -> v.longValue }.toMap)
    }
    progress.add(Map("query" -> p.id.toString, "name" -> p.name,
      "batch" -> p.batchId, "start" -> start, "end" -> end,
      "received" -> Clock.now, "rows" -> p.numInputRows,
      "processed_rows_per_s" -> p.processedRowsPerSecond,
      "start_offset" -> startOff, "end_offset" -> endOff,
      "duration_ms" -> d, "state" -> state))
    if (p.numInputRows > 0) onCommit(p.id.toString, endOff)
  }

  def dump: Seq[Map[String, Any]] = progress.asScala.toSeq
}
