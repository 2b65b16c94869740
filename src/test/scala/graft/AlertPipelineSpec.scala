package graft

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.core._
import graft.serve.AlertPipeline
import graft.streaming.DeltaTracker

/** End-to-end alert fanout: snapshots → delta tracker → relevance filter
  * → preference join → rendered per-user alerts (the reference's full
  * bot loop, minus Telegram). */
class AlertPipelineSpec extends SparkSpec {

  private def snap(state: String, confirmed: String, ts: String) =
    StampedStats(Timestamp.valueOf(ts),
      StatewiseStats("0", confirmed, "0", "0", state, "XX", ""))

  test("fanout joins alerts to subscribed users' preferred states only") {
    import spark.implicits._
    val deltas = Seq(
      StatewiseDelta(0, 0, 5, 0, 0, 100, "", "Assam"),
      StatewiseDelta(0, 0, 0, 0, 0, 50, "", "Delhi"),   // irrelevant (P12)
      StatewiseDelta(2, 1, 3, 0, 0, 80, "", "Kerala")
    ).toDF()
    val prefs = Seq(
      UserPrefs("u1", Seq("Assam", "Delhi"), subscribed = true),
      UserPrefs("u2", Seq("Kerala"), subscribed = true),
      UserPrefs("u3", Seq("Assam"), subscribed = false)  // unsubscribed
    ).toDS()
    val got = AlertPipeline.fanout(deltas, prefs)
      .collect().map(r => (r.getString(0), r.getString(2))).toSet
    assert(got == Set(
      ("u1", "5 new cases in Assam\n"),
      ("u2", "3 new cases, 1 death, 2 recoveries in Kerala\n")))
  }

  test("P8 observability: Observation metrics ride the fanout plan (peek analog)") {
    import spark.implicits._
    val deltas = Seq(
      StatewiseDelta(0, 0, 5, 0, 0, 100, "", "Assam"),
      StatewiseDelta(2, 1, 3, 0, 0, 80, "", "Kerala")).toDF()
    val prefs = Seq(
      UserPrefs("u1", Seq("Assam", "Kerala"), subscribed = true)).toDS()
    val obs = org.apache.spark.sql.Observation("fanout_metrics")
    AlertPipeline.fanout(deltas, prefs)
      .observe(obs, count(lit(1)).as("n_alerts")).collect()
    assert(obs.get("n_alerts") == 2L)
  }

  test("streaming end-to-end: snapshots through tracker to executor-side sends + metrics") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    SendProbe.clear()
    val ms = MemoryStream[StampedStats]
    val deltaStream = DeltaTracker.statewise(ms.toDS()).toDF()
      .select(col("eventTime"), col("delta.*"))
    val prefs = Seq(UserPrefs("u1", Seq("Assam"), subscribed = true)).toDS()
    // send runs in foreachPartition on executors: the probe is an object
    // singleton (shared JVM in local mode), not a captured closure buffer
    val q = AlertPipeline.run(deltaStream, prefs, SendProbe.send)
    try {
      ms.addData(snap("Assam", "10", "2020-04-08 00:00:00"))
      q.processAllAvailable()
      ms.addData(snap("Assam", "17", "2020-04-08 06:00:00"))
      q.processAllAvailable()
    } finally q.stop()
    assert(SendProbe.all.toList == List(
      ("u1", "10 new cases in Assam\n"),
      ("u1", "7 new cases in Assam\n")))
    // per-batch metrics: the stream's own progress reports one input
    // snapshot for each of the two batches
    val inputRows = q.recentProgress.map(p => p.batchId -> p.numInputRows).toMap
    assert(inputRows.get(0L).contains(1L) && inputRows.get(1L).contains(1L),
      s"progress per batch: $inputRows")
  }
}

/** Executor-visible send collector (local-mode JVM singleton). */
class AlertIdempotencySpec extends SparkSpec {
  test("sendBatch with a marker dir delivers a replayed batch exactly once") {
    import spark.implicits._
    val markers = java.nio.file.Files.createTempDirectory("sent-markers")
      .toFile.getAbsolutePath
    val deltas = Seq(StatewiseDelta(0, 0, 5, 0, 0, 100, "", "Assam")).toDF()
    val prefs = Seq(UserPrefs("u1", Seq("Assam"), subscribed = true)).toDS()
    SendProbe.clear()
    AlertPipeline.sendBatch(deltas, 7L, prefs, SendProbe.send,
      sentMarkerDir = Some(markers))
    // at-least-once replay of the SAME batch id: marker suppresses it
    AlertPipeline.sendBatch(deltas, 7L, prefs, SendProbe.send,
      sentMarkerDir = Some(markers))
    assert(SendProbe.all.size == 1, s"replay double-sent: ${SendProbe.all}")
    // the next batch id is new work and sends normally
    AlertPipeline.sendBatch(deltas, 8L, prefs, SendProbe.send,
      sentMarkerDir = Some(markers))
    assert(SendProbe.all.size == 2)
  }
}

object SendProbe {
  private val buf = mutable.Buffer[(String, String)]()
  def send(user: String, text: String): Unit =
    buf.synchronized { buf += ((user, text)); () }
  def all: Seq[(String, String)] = buf.synchronized { buf.toList }
  def clear(): Unit = buf.synchronized { buf.clear() }
}
