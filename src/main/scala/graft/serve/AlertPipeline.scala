package graft.serve

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.core.UserPrefs
import graft.render.AlertFormat
import graft.streaming.Streams

/** The bot's alert fanout (S5/P6/P12/J2 — StatsAlertConsumerConfig.java:
  * 89-189, bot KafkaStreamsConfig.java:164-188): for each delta, find
  * subscribed users whose preferred states contain the delta's state and
  * render their alert line.
  *
  * Reference shape: per-alert full scan of the prefs store inside a
  * consumer loop + 5 s ordering sleep (ST6). Spark-first shape: ONE
  * declarative plan per micro-batch — prefs exploded to (state → user)
  * and equi-joined (broadcast; prefs are user-count-sized), rendering as
  * a Column. The daily/delta consistency problem the sleep "solved"
  * disappears: both views are computed in the same micro-batch.
  */
object AlertPipeline {

  /** P12 — only deltas with any movement alert. */
  def relevant(deltas: DataFrame): DataFrame =
    deltas.filter(col("deltaConfirmed") >= 1L || col("deltaRecovered") >= 1L ||
      col("deltaDeaths") >= 1L)

  /** J2 as explode + equi-join (scales with |prefs|·avg-states, not
    * |alerts|×|users| as the reference's crossJoin-equivalent scan). */
  def fanout(deltas: DataFrame, prefs: Dataset[UserPrefs]): DataFrame = {
    val subscriptions = prefs.toDF()
      .filter(col("subscribed"))
      .select(col("userId"), explode(col("myStates")).as("state"))
    relevant(deltas)
      .join(broadcast(subscriptions), Seq("state"))
      .select(col("userId"), col("state"),
        AlertFormat.deltaAlertLineCol(
          col("deltaConfirmed"), col("deltaDeaths"), col("deltaRecovered"),
          col("state")).as("alertText"))
      .filter(col("alertText") =!= "")
  }

  /** Streaming entry: one foreachBatch per micro-batch; `send` is the
    * side-effecting sink boundary (Telegram adapter in the reference —
    * out of engine scope, injected for testability).
    *
    * The send runs in `foreachPartition` ON THE EXECUTORS — no
    * driver-side collect funnel, so fanout volume scales with the
    * cluster; any rate limiting belongs in the sink adapter (`send`),
    * next to the external service it protects. `send` must therefore be
    * serializable and executor-safe.
    *
    * P8 observability (the reference's peek at
    * Covid19PatientAnalyzer.java:88 and the bot's logging peeks at
    * KafkaStreamsConfig.java:162-163): an `Observation` rides the fanout
    * plan itself — zero extra passes — and reports per-batch metrics to
    * `onMetrics`. */
  def run(deltaStream: DataFrame, prefs: Dataset[UserPrefs],
      send: (String, String) => Unit,
      onMetrics: (Long, Map[String, Any]) => Unit = (_, _) => ())
      : org.apache.spark.sql.streaming.StreamingQuery =
    Streams.foreachBatch(deltaStream, "append", None)(
      sendBatch(_, _, prefs, send, onMetrics))

  /** The composite serving form: [[run]] with the user prefs read per
    * micro-batch from a durable [[graft.state.KeyedStore]] (the
    * reference's compacted user-preferences KTable,
    * KafkaStreamsConfig.java:112-118) and a checkpoint, so the WHOLE
    * topology — source offsets, the upstream tracker's engine state,
    * and the prefs — kills and resumes without loss: a prefs upsert
    * while the stream is down is visible to the first post-restart
    * batch. Side-effect delivery through `send` is at-least-once on
    * crash recovery (the foreachBatch contract): a sink that must not
    * double-send dedups by (batchId, userId, state) — the reference's
    * Telegram consumer has the same replayed-poll exposure. */
  def runWithStore(deltaStream: DataFrame, prefsStorePath: String,
      send: (String, String) => Unit,
      checkpointLocation: Option[String] = None,
      onMetrics: (Long, Map[String, Any]) => Unit = (_, _) => (),
      sentMarkerDir: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // markers are keyed by batchId, and batchIds are only stable under
    // a checkpoint: markers without one would silently suppress NEW
    // alerts after a restart resets batchIds to 0. Keep the marker dir
    // INSIDE the checkpoint dir so clearing one clears both.
    require(sentMarkerDir.isEmpty || checkpointLocation.isDefined,
      "sentMarkerDir requires a checkpointLocation: batchIds reset " +
        "without one and stale markers would swallow new batches")
    Streams.foreachBatch(deltaStream, "append", checkpointLocation) {
      (batch, batchId) =>
        val spark = batch.sparkSession
        import spark.implicits._
        val prefs = graft.state.KeyedStore.read(spark, prefsStorePath)
          .select(col("userId"), col("myStates"), col("subscribed"))
          .as[UserPrefs]
        sendBatch(batch, batchId, prefs, send, onMetrics, sentMarkerDir)
    }
  }

  /** One alert micro-batch — the foreachBatch body, callable directly.
    *
    * With `sentMarkerDir`, delivery is idempotent per batch: a marker
    * file commits AFTER the batch's sends complete, and a replayed
    * batch whose marker exists sends nothing — upgrading foreachBatch's
    * at-least-once to exactly-once delivery for every crash OUTSIDE
    * the send window itself (a crash mid-send still re-sends that one
    * batch on replay; a sink that cannot tolerate even that dedups by
    * (batchId, userId, state) — the reference's Telegram consumer has
    * the same residual exposure on replayed polls). The markers are
    * only meaningful against ONE checkpointed query's batchId sequence:
    * share the checkpoint dir's lifecycle (nest the marker dir inside
    * it) and never reuse a marker dir across queries or after deleting
    * the checkpoint. */
  def sendBatch(batch: DataFrame, batchId: Long, prefs: Dataset[UserPrefs],
      send: (String, String) => Unit,
      onMetrics: (Long, Map[String, Any]) => Unit = (_, _) => (),
      sentMarkerDir: Option[String] = None): Unit = {
    val hadoopConf = batch.sparkSession.sparkContext.hadoopConfiguration
    val marker = sentMarkerDir.map(d =>
      new org.apache.hadoop.fs.Path(d, s"batch-$batchId"))
    val fs = marker.map(_.getFileSystem(hadoopConf))
    if (marker.zip(fs).exists { case (m, f) => f.exists(m) }) return
    val obs = org.apache.spark.sql.Observation(
      s"alert_fanout_${batchId}_${System.nanoTime()}")
    val out = fanout(batch, prefs)
      .observe(obs,
        count(lit(1)).as("n_alerts"),
        approx_count_distinct(col("userId")).as("n_users"),
        approx_count_distinct(col("state")).as("n_states"))
    out.select(col("userId"), col("alertText"))
      .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
        rows.foreach(r => send(r.getString(0), r.getString(1)))
      }
    onMetrics(batchId, obs.get)
    marker.zip(fs).foreach { case (m, f) =>
      f.mkdirs(m.getParent)
      f.create(m, true).close()
    }
  }
}
