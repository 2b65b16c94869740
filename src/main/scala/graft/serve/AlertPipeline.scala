package graft.serve

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.core.UserPrefs
import graft.render.AlertFormat
import graft.streaming.Streams
import graft.streaming.Streams.ServingSized

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
    * driver-side collect funnel; any rate limiting belongs in the sink
    * adapter (`send`), next to the external service it protects. `send`
    * must therefore be serializable and executor-safe. The stream is
    * serving-sized ([[Streams.ServingSized]]): each micro-batch is one
    * partition, so one task sends a batch's alerts, and any stateful
    * operator in `deltaStream` (the `DeltaTracker` upstream) keeps its
    * state in one in-memory partition. `deltaStream` must therefore be
    * keyed by a serving key space (states, districts), not by users. */
  def run(deltaStream: DataFrame, prefs: Dataset[UserPrefs],
      send: (String, String) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    Streams.foreachBatch(deltaStream, ServingSized, "append", None)(
      sendBatch(_, _, prefs, send))

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
      sentMarkerDir: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // markers are keyed by batchId, and batchIds are only stable under
    // a checkpoint: markers without one would silently suppress NEW
    // alerts after a restart resets batchIds to 0. Keep the marker dir
    // INSIDE the checkpoint dir so clearing one clears both.
    require(sentMarkerDir.isEmpty || checkpointLocation.isDefined,
      "sentMarkerDir requires a checkpointLocation: batchIds reset " +
        "without one and stale markers would swallow new batches")
    Streams.foreachBatch(deltaStream, ServingSized, "append",
      checkpointLocation) {
      (batch, batchId) =>
        val spark = batch.sparkSession
        import spark.implicits._
        val prefs = graft.state.KeyedStore.read(spark, prefsStorePath)
          .select(col("userId"), col("myStates"), col("subscribed"))
          .as[UserPrefs]
        sendBatch(batch, batchId, prefs, send, sentMarkerDir)
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
      sentMarkerDir: Option[String] = None): Unit = {
    val hadoopConf = batch.sparkSession.sparkContext.hadoopConfiguration
    val marker = sentMarkerDir.map(d =>
      new org.apache.hadoop.fs.Path(d, s"batch-$batchId"))
    val fs = marker.map(_.getFileSystem(hadoopConf))
    if (marker.zip(fs).exists { case (m, f) => f.exists(m) }) return
    fanout(batch, prefs).select(col("userId"), col("alertText"))
      .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
        rows.foreach(r => send(r.getString(0), r.getString(1)))
      }
    marker.zip(fs).foreach { case (m, f) =>
      f.mkdirs(m.getParent)
      f.create(m, true).close()
    }
  }
}
