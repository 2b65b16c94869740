package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues}

/** Streaming windowed heavy hitters on the Misra-Gries summary: per
  * tumbling window, the top-k keys by (estimated) frequency, tracked
  * with at most `capacity` counters per (window, salt) shard regardless
  * of key cardinality. Exact per-(window, key) counting would need state
  * proportional to the distinct-key count; Misra-Gries guarantees every
  * estimate sits within `decrements ≤ n_shard/capacity` of the true
  * count, which is the classical bound that makes per-window top-k
  * viable at 100 TB/day event rates.
  *
  * Two-level Spark-first form (`transformWithState`, the arbitrary-
  * state API that chains stateful operators through an event-time
  * output column):
  *
  *   1. '''Salted summaries''' — keyed on (windowStart, salt) where
  *      salt = hash(key) mod nSalts, so a tumbling window's event
  *      volume spreads over `nSalts` state tasks instead of funneling
  *      through one. Each shard maintains its own Misra-Gries summary
  *      over its DISJOINT key subset (hash partitioning ⇒ a key's
  *      whole count lives in exactly one shard, so per-key error is
  *      its own shard's decrement total — the classical bound per
  *      substream). The summary is rebuilt in ONE pass over the input
  *      iterator — the MG guarantee holds under ANY arrival order, so
  *      nothing is buffered or sorted; per-trigger memory is
  *      O(capacity), not O(batch rows). The cost is that a replayed
  *      batch may rebuild a different (equally valid) counter set;
  *      the rank-tombstone contract below makes that safe downstream.
  *   2. '''Merge''' — keyed on the bare windowStart, but its input is
  *      the per-salt SUMMARIES (≤ capacity counters each, one row per
  *      touched shard per batch), never raw events: per batch the
  *      merge task sees at most nSalts × capacity counters. Disjoint
  *      key sets make the merge a union, and the per-key error bound
  *      carries through unchanged (Misra-Gries summaries are
  *      mergeable; for disjoint substreams the merge is exact on top
  *      of each side's own bound).
  *
  * Both levels evict by event-time timer once the watermark passes the
  * window end + grace; state is O(windows × nSalts × capacity).
  *
  * Each micro-batch re-emits a touched window's current top-k as
  * EXACTLY k rows — ranks past the live counter set carry a null key
  * (estCount 0) — so a downstream upsert by (window, rank) always
  * overwrites a rank whose previous holder fell out of the summary.
  */
object HeavyHitters {

  /** One emitted ranking row. `estCount` underestimates by at most
    * `maxErr`: estCount ≤ true ≤ estCount + maxErr, where maxErr is
    * the decrement total of the key's own salt shard (keys are hash-
    * partitioned across shards, so the shard bound IS the key bound).
    * A null `key` is a rank tombstone: fewer than `rn` keys are
    * currently tracked for this window; its maxErr is the window's
    * total decrements across shards (the conservative bound for any
    * untracked key). */
  case class HitRow(windowStart: Timestamp, key: String, estCount: Long,
      maxErr: Long, rn: Int)

  /** Bounded Misra-Gries state for one (window, salt) shard. */
  case class MgState(counters: Map[String, Long], decrements: Long)

  /** One shard's summary snapshot, emitted to the merge stage each
    * time the shard is touched. `et` is the event-time column the
    * chained stateful operators propagate the watermark through —
    * window end + grace, the last instant this window can change. */
  case class SaltSummary(et: Timestamp, wsMillis: Long, salt: Int,
      keys: Seq[String], counts: Seq[Long], decrements: Long)

  private type Event = (Long, Int, Timestamp, String)

  /** Stage 1: per-(window, salt) Misra-Gries in one iterator pass. */
  private class SaltedMg(windowMillis: Long, graceMillis: Long, capacity: Int)
      extends StatefulProcessor[(Long, Int), Event, SaltSummary] {
    @transient private var st: org.apache.spark.sql.streaming.ValueState[MgState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[MgState]("mg",
        Encoders.product[MgState], TTLConfig.NONE)

    override def handleInputRows(key: (Long, Int), rows: Iterator[Event],
        timers: TimerValues): Iterator[SaltSummary] = {
      val (ws, salt) = key
      var s = if (st.exists()) st.get() else MgState(Map.empty, 0L)
      // one pass, no buffering: the n/capacity bound holds under any
      // arrival order; replay may rebuild a different valid summary
      // (see class doc — the tombstone contract absorbs that)
      rows.foreach { r =>
        val k = r._4
        s.counters.get(k) match {
          case Some(c) => s = s.copy(counters = s.counters.updated(k, c + 1))
          case None if s.counters.size < capacity =>
            s = s.copy(counters = s.counters.updated(k, 1L))
          case None =>
            // Misra-Gries overflow: decrement every counter, drop zeros
            s = MgState(
              s.counters.collect { case (kk, c) if c > 1 => kk -> (c - 1) },
              s.decrements + 1)
        }
      }
      st.update(s)
      val expiry = ws + windowMillis + graceMillis
      getHandle.registerTimer(expiry)
      val (keys, counts) = s.counters.toSeq.sortBy(_._1).unzip
      Iterator.single(
        SaltSummary(new Timestamp(expiry), ws, salt, keys, counts, s.decrements))
    }

    override def handleExpiredTimer(key: (Long, Int), timers: TimerValues,
        info: ExpiredTimerInfo): Iterator[SaltSummary] = {
      st.clear()
      Iterator.empty
    }
  }

  /** Stage 2: merge a window's per-salt summaries (disjoint key sets ⇒
    * plain union) and emit the padded top-k ranking. Input volume is
    * bounded by nSalts × capacity counters per batch, independent of
    * the window's raw event volume. */
  private class MergeTopK(windowMillis: Long, graceMillis: Long, k: Int)
      extends StatefulProcessor[Long, SaltSummary, HitRow] {
    @transient private var salts: org.apache.spark.sql.streaming.MapState[Int, SaltSummary] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      salts = getHandle.getMapState[Int, SaltSummary]("salts",
        Encoders.scalaInt, Encoders.product[SaltSummary], TTLConfig.NONE)

    override def handleInputRows(ws: Long, rows: Iterator[SaltSummary],
        timers: TimerValues): Iterator[HitRow] = {
      rows.foreach(s => salts.updateValue(s.salt, s))
      getHandle.registerTimer(ws + windowMillis + graceMillis)
      val all = salts.values().toSeq
      val totalDecr = all.map(_.decrements).sum
      val wsTs = new Timestamp(ws)
      val top = all
        .flatMap(s => s.keys.zip(s.counts).map { case (kk, c) => (kk, c, s.decrements) })
        .sortBy { case (kk, c, _) => (-c, kk) }
        .take(k)
        .zipWithIndex
        .map { case ((kk, c, d), i) => HitRow(wsTs, kk, c, d, i + 1) }
      // pad to exactly k rows: a rank whose holder fell out of the
      // summary must be overwritten downstream, not left stale
      (top ++ (top.length until k).map(i =>
        HitRow(wsTs, null, 0L, totalDecr, i + 1))).iterator
    }

    override def handleExpiredTimer(ws: Long, timers: TimerValues,
        info: ExpiredTimerInfo): Iterator[HitRow] = {
      salts.clear()
      Iterator.empty
    }
  }

  /** Top-`k` keys per `windowMillis` tumbling window, sharded over
    * `nSalts` Misra-Gries summaries of `capacity` counters each;
    * windows are evicted once the watermark passes their end +
    * `graceMillis`. Requires the RocksDB state-store provider
    * (`transformWithState`'s backend): its callers start it outside
    * [[Streams]], on the session's RocksDB provider. */
  def windowedTopK(events: DataFrame, tsCol: String, keyCol: String,
      windowMillis: Long, graceMillis: Long, capacity: Int,
      k: Int, nSalts: Int = 8): Dataset[HitRow] = {
    require(nSalts >= 1, s"nSalts must be >= 1, got $nSalts")
    require(capacity.toLong * nSalts >= k,
      s"merged counter space ${capacity}x$nSalts below k $k")
    val spark = events.sparkSession
    // transformWithState hard-requires the RocksDB provider; on the
    // default HDFS provider the query dies mid-run with an obscure
    // state-store error — fail fast at plan time with the fix instead
    val provider = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass").getOrElse("")
    require(provider.contains("RocksDBStateStoreProvider"),
      "windowedTopK uses transformWithState, which requires the RocksDB " +
        "state store: set spark.sql.streaming.stateStore.providerClass=" +
        "org.apache.spark.sql.execution.streaming.state." +
        s"RocksDBStateStoreProvider (current: '$provider'). Note the " +
        "output mode is APPEND — rows emit at window close, not per update.")
    import spark.implicits._
    val bucketed = events
      .withWatermark(tsCol, s"$graceMillis milliseconds")
      .select(
        (floor(unix_millis(col(tsCol)) / windowMillis).cast("long")
          * windowMillis).as("ws"),
        pmod(hash(col(keyCol).cast("string")), lit(nSalts)).cast("int").as("salt"),
        col(tsCol).as("ts"),
        col(keyCol).cast("string").as("k"))
      .as[Event]
    val summaries = bucketed
      .groupByKey(r => (r._1, r._2))
      .transformWithState(new SaltedMg(windowMillis, graceMillis, capacity),
        "et", OutputMode.Append())
    summaries
      .groupByKey(_.wsMillis)
      .transformWithState(new MergeTopK(windowMillis, graceMillis, k),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
