package graft.streaming

import org.apache.spark.sql.DataFrame
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
  */
private[graft] object Streams {

  /** Start `frame` in `outputMode`, handing each micro-batch and its
    * batch id to `body`; `checkpointLocation` is set only when
    * `checkpoint` is given. */
  def foreachBatch(frame: DataFrame, outputMode: String,
      checkpoint: Option[String])(
      body: (DataFrame, Long) => Unit): StreamingQuery = {
    val w = frame.writeStream.outputMode(outputMode)
    checkpoint.foreach(c => w.option("checkpointLocation", c))
    w.foreachBatch(body).start()
  }
}
