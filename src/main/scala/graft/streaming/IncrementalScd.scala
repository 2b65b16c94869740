package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Scd
import graft.state.KeyedStore

/** Incremental SCD type-2 maintenance — the streaming twin of
  * [[graft.operators.Scd.buildHistory]] (q169), completing the
  * incremental-against-durable-state family (exact/chunk/near-dup/
  * embedding dedup → now history build): each micro-batch of change
  * events extends per-key run state held in a [[KeyedStore]], emits the
  * intervals that CLOSE within the batch, and leaves the open run
  * queryable in the store. Per-batch cost is O(|batch| + touched
  * buckets) against a history of any size — the store is probed only
  * for the batch's own keys.
  *
  * Equivalence contract (spec'd): for any split of an event stream
  * into batches that respects per-key (timestamp, tie) order, the
  * emitted closed intervals plus the store's open runs equal the
  * batch rebuild's output exactly — versions, bounds, tie-breaks and
  * all. The one committed boundary: an event arriving in a LATER
  * batch with the open run's exact start timestamp but a SMALLER tie
  * orders after the open run (its position is already committed —
  * internally the open run re-enters the collapse with a
  * (is_real=0, tie) struct key that sorts before every real event at
  * that timestamp, whatever the tie value), deterministically
  * yielding a zero-length closed interval if the state differs.
  * Out-of-order WITHIN a batch is fine (the collapse sorts); an event
  * arriving in a LATER batch with a timestamp before its key's open
  * run start is dropped (counted nowhere — the caller owns late-data
  * policy upstream via a watermark, same stance as the reference's
  * windowed stores).
  *
  * Replay idempotency (the IncrementalDedup trick, adapted): the store
  * records, per key, the batch id that last advanced it AND the
  * pre-batch open run (prev_*). A replayed batch (same batchId)
  * reconstructs its pre-batch state from prev_* and therefore
  * recomputes byte-identical closed intervals and an identical store
  * row — so a crash anywhere between the store upsert and the
  * downstream commit re-emits exactly the original rows, and a
  * batchId-keyed idempotent sink commits the closed intervals exactly once.
  */
object IncrementalScd {

  /** One batch step (the foreachBatch body; callable from batch jobs).
    * `batch`: (keyCol, stateCol, tsCol, tieCol) rows. Returns the
    * closed intervals (key, state, version, valid_from, valid_to) and
    * upserts the advanced open runs. */
  def scdBatch(batch: DataFrame, keyCol: String, stateCol: String,
      tsCol: String, tieCol: String, storePath: String,
      batchId: Long): DataFrame = {
    val spark = batch.sparkSession
    val ev = batch.select(col(keyCol), col(stateCol), col(tsCol), col(tieCol))
    // pre-batch open run per key: the store row, except on replay
    // (batch_id == batchId) where prev_* IS the pre-batch state
    val eff0 =
      if (!KeyedStore.isInitialized(spark, storePath))
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            batch.schema(keyCol),
            batch.schema(stateCol).copy(name = "eff_state"),
            batch.schema(tsCol).copy(name = "eff_from"),
            org.apache.spark.sql.types.StructField("eff_version",
              org.apache.spark.sql.types.LongType))))
      else KeyedStore
        .probe(ev.select(keyCol).distinct(), Seq(keyCol), storePath)
        .select(col(keyCol),
          when(col("batch_id") === batchId, col("prev_state"))
            .otherwise(col("open_state")).as("eff_state"),
          when(col("batch_id") === batchId, col("prev_from"))
            .otherwise(col("open_from")).as("eff_from"),
          when(col("batch_id") === batchId, col("prev_version"))
            .otherwise(col("open_version")).as("eff_version"))
        // a replayed first-sight key has prev_* null — no open run
        .filter(col("eff_state").isNotNull)
    // pin: three consumers (pseudo, the late-event bound, the version
    // offset) would otherwise re-probe the store, and the shared
    // lineage across the union's two children trips Catalyst's
    // union-constraint rewrite (duplicate attribute ids)
    val eff = eff0.localCheckpoint(true)
    // open runs re-enter the collapse as pseudo-events ordered BEFORE
    // any real event at the same timestamp. The internal tie is the
    // STRUCT (is_real, tie): (0, _) < (1, anything), so the ordering
    // guarantee holds for EVERY tie value — a sentinel like
    // Long.MinValue would collide with a real event carrying that tie
    // at the open run's start timestamp and make the collapse order
    // nondeterministic. Late real events (before the open run start)
    // drop.
    val tieSt = "__tie"
    val pseudo = eff.select(col(keyCol), col("eff_state").as(stateCol),
      col("eff_from").as(tsCol),
      struct(lit(0).as("r"),
        lit(null).cast(batch.schema(tieCol).dataType).as("t")).as(tieSt))
    val live = ev.join(eff.select(col(keyCol), col("eff_from")), Seq(keyCol), "left")
      .filter(col("eff_from").isNull || col(tsCol) >= col("eff_from"))
      .drop("eff_from")
      .withColumn(tieSt, struct(lit(1).as("r"), col(tieCol).as("t")))
      .drop(tieCol)
    // fresh-lineage rebrand at the union boundary: both children carry
    // constraints referencing pruned attributes (the late-event bound's
    // eff_from; the probe's store columns), which Catalyst's
    // union-constraint rewrite cannot map onto the union output and
    // throws (AttributeMap miss). A LogicalRDD from localCheckpoint
    // KEEPS origin constraints, so pinning does not help — rebuilding
    // from the row RDD is the lineage firebreak (lazy, batch-sized).
    def rebrand(df: DataFrame): DataFrame =
      spark.createDataFrame(df.rdd, df.schema)
    val runs = Scd.buildHistory(rebrand(live).unionByName(rebrand(pseudo)),
        keyCol, stateCol, tsCol, tieSt)
      .join(eff.select(col(keyCol), col("eff_version")), Seq(keyCol), "left")
      .withColumn("version",
        col("version") + coalesce(col("eff_version") - 1L, lit(0L)))
      .drop("eff_version")
      // pin: two consumers (closed emit + open upsert) must agree, and
      // the closed frame must not lazily re-read the store the upsert
      // below is about to overwrite
      .localCheckpoint(true)
    val open = runs.filter(col("is_current"))
      .join(eff, Seq(keyCol), "left")
      .select(col(keyCol),
        col(stateCol).as("open_state"), col("valid_from").as("open_from"),
        col("version").as("open_version"), lit(batchId).as("batch_id"),
        col("eff_state").as("prev_state"), col("eff_from").as("prev_from"),
        col("eff_version").as("prev_version"))
    KeyedStore.upsert(open, Seq(keyCol), storePath)
    runs.filter(!col("is_current"))
      .select(col(keyCol), col(stateCol), col("version"),
        col("valid_from"), col("valid_to"))
  }

  /** Current open run per key, as (key, state, version, valid_from) —
    * the latest-per-key view the reference serves from its KTables;
    * union with the emitted closed intervals for the full history. */
  def openRuns(spark: org.apache.spark.sql.SparkSession, storePath: String,
      keyCol: String, stateCol: String): DataFrame =
    KeyedStore.read(spark, storePath)
      .select(col(keyCol), col("open_state").as(stateCol),
        col("open_version").as("version"), col("open_from").as("valid_from"))
}
