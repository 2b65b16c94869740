package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** The iteration frame shared by the engine's fixed-point loops: BFS
  * ([[Paths.boundedDistances]]), PageRank
  * ([[Centrality.integerPageRank]]) and component resolution
  * ([[Dedup.resolveWithStats]]).
  *
  * Invariant: the frame every round joins against is
  * `repartition(n, key)` + `sortWithinPartitions(key)` + CACHED at
  * `n = max(1, min(session width, rows · 48 B / 64 MB + 1))`, and is
  * released when the loop returns or throws. The loop's own exchanges
  * stay at session width, and its result is re-spread to session width
  * on its key, so consumers never inherit the narrow loop width.
  *
  * Measured reasons:
  *  - cached, not `localCheckpoint`ed: an InMemoryRelation keeps the
  *    frame's hash partitioning and sort order visible to every round's
  *    join, so only the round-sized side exchanges. A checkpoint's
  *    LogicalRDD reports UnknownPartitioning, and the r14 BFS Stress
  *    curve showed the whole pinned table re-exchanged every hop once
  *    past the broadcast threshold (734 MB ≈ edges × hops).
  *  - size-derived width: at session width each round scanned 32
  *    near-empty cache partitions (q214 4.3 s at 32 cores vs 1.6 s at 8;
  *    q124 3.2 vs 1.9 s; ~7 s of task scheduling per q77 run).
  *  - per frame, never a session-config flip: a concurrent query on the
  *    shared session would inherit a flipped width.
  *  - result re-spread: consumers that join over the loop's output
  *    (q143, q151) measured 1.0-1.1 s slower at the loop width.
  *
  * `rows` is the frame's row count as the caller already counted it,
  * so the helper runs no Spark job of its own. */
private[graft] object Pins {

  /** Run `body` over `frame` pinned as above, passing the pinned frame
    * and the session width the body re-spreads its result to. */
  def loopFrame[A](frame: DataFrame, key: String, rows: Long)(
      body: (DataFrame, Int) => A): A = {
    val width = frame.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt
    val n = math.max(1L, math.min(width.toLong,
      rows * 48L / (64L << 20) + 1L)).toInt
    val pinned = frame.repartition(n, col(key)).sortWithinPartitions(key)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try body(pinned, width) finally pinned.unpersist(false)
  }
}
