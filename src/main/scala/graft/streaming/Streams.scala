package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.streaming.StreamingQuery

/** The one place a `foreachBatch` topology starts. A stream here is a
  * sequence of deterministic batch computations (D-Streams): each
  * tracker's batch step (`dedupBatch`, `scdBatch`, `sendBatch`, the
  * view upsert) is the body, callable from batch jobs too.
  *
  * Contract, stated once for every body started here:
  *   - delivery is at-least-once: after a crash the engine replays the
  *     last uncommitted micro-batch under the same batch id;
  *   - so every body must be replay-idempotent: a replayed batch
  *     converges to the state and output of its first attempt;
  *   - with a checkpoint, a restart resumes both the engine's state
  *     (source offsets, stateful operators) and any durable store the
  *     body writes, so the first post-restart batch sees everything
  *     admitted before it. Without one, the query starts from scratch.
  *
  * State layout, chosen once per stream from its declared [[StateSize]]:
  *   - [[DataSized]] streams start on the caller's session as they are,
  *     with its width and its RocksDB provider ([[graft.GraftSession]]);
  *   - [[ServingSized]] streams start in a private clone of the caller's
  *     session (the frame rebuilt there from its analyzed plan, the
  *     caller's `StreamingQueryListener`s carried over) set to one
  *     shuffle partition and Spark's in-memory
  *     `HDFSBackedStateStoreProvider`. The caller's conf is never set; a
  *     listener added to the caller after the start does not see the
  *     stream.
  *
  * The narrowing covers the whole stream, not only its last aggregation:
  * every stateful operator upstream of the sink (e.g. a `DeltaTracker`
  * the caller built into the frame) keeps its state in one executor's
  * heap, unspillable, and every micro-batch and every query the body
  * runs on it has one partition (writes that set their own partition
  * count, like `KeyedStore.upsert`'s one task per touched bucket, keep
  * it). So the split follows what was measured, per stream, on 4 cores:
  *   - serving-sized wins where fixed per-batch coordination dominates:
  *     live-loop's views and alerts (39 keys, a few rows per batch),
  *     freshness geomean 882 → 606 ms over 12 alternating pairs, with
  *     a view batch at 4 tasks instead of 11 and state commit at ~4
  *     instead of ~210 ms per operator; district-backfill's
  *     `KeyedStore.serveToStore` (740 keys, 7,400 rows per batch),
  *     4051 → 4754 rows/s over 10 pairs. Width 1 on RocksDB alone
  *     (1088 → 808 ms on live-loop) won only 9 of 12 pairs; the
  *     in-memory provider is what makes the gain hold;
  *   - data-sized wins where a batch's row work dominates: started
  *     serving-sized, StreamBench's near-dedup at 100k rows per batch
  *     fell from 4300 to 2487 rows/s and its delta tracker from 70616
  *     to 57262 (medians of 3 alternating runs; the other harnesses
  *     moved within noise).
  * A serving-sized stream's state must also fit one executor's heap.
  *
  * A checkpoint keeps the layout it was written with: Spark restores
  * the width and the provider from its offset log, so a restart never
  * re-partitions state.
  */
private[graft] object Streams {

  /** Which per-batch cost dominates a stream. */
  sealed trait StateSize
  /** Few keys and few rows per batch (states, districts, sketch keys):
    * per-batch coordination, not row work, sets the latency. */
  case object ServingSized extends StateSize
  /** Many rows per batch, or state past one executor's heap. */
  case object DataSized extends StateSize

  private val InMemoryProvider =
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"

  /** Start `frame` in `outputMode` with the state layout of `size`,
    * handing each micro-batch and its batch id to `body`;
    * `checkpointLocation` is set only when `checkpoint` is given. */
  def foreachBatch(frame: DataFrame, size: StateSize, outputMode: String,
      checkpoint: Option[String])(
      body: (DataFrame, Long) => Unit): StreamingQuery = {
    val w = (size match {
      case DataSized => frame
      case ServingSized =>
        val caller = frame.sparkSession
        val session = ColumnBridge.cloneSession(caller)
        caller.streams.listListeners().foreach(session.streams.addListener)
        session.conf.set("spark.sql.shuffle.partitions", "1")
        session.conf.set("spark.sql.streaming.stateStore.providerClass",
          InMemoryProvider)
        ColumnBridge.ofRows(session, frame.queryExecution.analyzed)
    }).writeStream.outputMode(outputMode)
    checkpoint.foreach(c => w.option("checkpointLocation", c))
    w.foreachBatch(body).start()
  }
}
