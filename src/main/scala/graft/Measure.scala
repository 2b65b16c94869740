package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted,
  SparkListenerStageSubmitted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.ColumnBridge

/** The one measurement seam of the dev harnesses (Bench, Profile,
  * Stress): a timed run, a per-stage listener keyed by a job-local
  * label, and a listener-bus drain. */
object Measure {

  /** Job-local property naming the harness step a stage belongs to. */
  val LabelProperty = "graft.measure.label"

  /** One completed stage's task-metric totals (bytes, ms). */
  final case class StageRow(label: String, name: String, runMs: Long,
      cpuMs: Long, tasks: Int, shuffleRead: Long, shuffleWrite: Long,
      input: Long, spillMem: Long, spillDisk: Long, output: Long)

  /** Records one [[StageRow]] per completed stage whose job carried a
    * [[LabelProperty]]. The label is read from the stage-submitted
    * event's job properties, so a row's label never depends on when its
    * events reach the listener-bus thread. Read rows after [[drain]]. */
  final class StageListener extends SparkListener {
    // (stageId, attempt) → label; touched only by the listener-bus thread
    private val labels = mutable.HashMap.empty[(Int, Int), String]
    // appended by the bus thread, read by the harness: guarded by itself
    private val done = mutable.ArrayBuffer.empty[StageRow]

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val si = e.stageInfo
      Option(e.properties).flatMap(p => Option(p.getProperty(LabelProperty)))
        .foreach(l => labels((si.stageId, si.attemptNumber())) = l)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      for {
        label <- labels.remove((si.stageId, si.attemptNumber()))
        m <- Option(si.taskMetrics)
      } done.synchronized {
        done += StageRow(label, si.name.takeWhile(_ != '\n').take(90),
          m.executorRunTime, m.executorCpuTime / 1000000, si.numTasks,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.inputMetrics.bytesRead, m.memoryBytesSpilled, m.diskBytesSpilled,
          m.outputMetrics.bytesWritten)
      }
    }

    def rows: Seq[StageRow] = done.synchronized(done.toVector)
    def rows(label: String): Seq[StageRow] = rows.filter(_.label == label)
  }

  /** A [[StageListener]] registered on `spark`'s context. */
  def listen(spark: SparkSession): StageListener = {
    val l = new StageListener
    spark.sparkContext.addSparkListener(l)
    l
  }

  /** Runs `body` with every job it submits from this thread labelled
    * `label`; the previous label is restored after. */
  def labelled[T](spark: SparkSession, label: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(LabelProperty)
    sc.setLocalProperty(LabelProperty, label)
    try body finally sc.setLocalProperty(LabelProperty, prev)
  }

  /** Blocks until every listener event posted so far is delivered. */
  def drain(spark: SparkSession): Unit =
    ColumnBridge.drainListenerBus(spark.sparkContext)

  /** Seconds `body` takes. Cached and pinned blocks are released in
    * `finally`, outside the timed span, so the next run measures
    * itself rather than this one's residue. */
  def timed(spark: SparkSession)(body: => Unit): Double =
    try {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    } finally GraftSession.releaseCaches(spark)

  /** [[timed]] over one `noop`-format write of `df`, construction
    * included. A noop write, unlike `count()`, evaluates every output
    * column, so projection-only work is not pruned from the cost. */
  def timedNoop(spark: SparkSession)(df: => DataFrame): Double =
    timed(spark)(df.write.mode("overwrite").format("noop").save())
}
