package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => T}
import graft.state.{KeyedStore, StoreBloom}

/** Incremental corpus ingestion with dedup against ALL history: each
  * micro-batch of documents is deduplicated within itself, then
  * against the durable fingerprint store, and only novel documents
  * flow on; their fingerprints upsert into the store so the next
  * batch — or a restarted pipeline — rejects them.
  *
  * Why not `dropDuplicates` + watermark? Engine-side streaming dedup
  * state lives behind a watermark TTL: it answers "seen in the last N
  * days". Corpus ingestion needs "seen EVER", which is a durable
  * table, not stream state — the [[KeyedStore]]. The batch never
  * scans that table: [[KeyedStore.probe]] prunes the membership check
  * to the bucket directories the batch's fingerprints hash into, so
  * per-batch cost is O(|batch| + touched buckets) against a store of
  * any size — the same bound as the upsert. (The reference's analog:
  * the 7-day windowed news-dedup store, `covid19-telegram-bot`
  * StateStoresManager; this is the unbounded-history corpus form.)
  *
  * Within a batch, first-wins is deterministic: the minimum
  * (timestamp, id) per fingerprint survives, independent of partition
  * layout. Admission against the store is [[admit]], shared with
  * [[IncrementalChunkDedup]]; its contract makes the tracker
  * replay-idempotent INCLUDING the crash window between the store
  * upsert and the downstream commit: a replayed batch re-emits exactly
  * its original novel rows (never silently drops them), so the
  * caller's sink can commit them transactionally by batch id.
  */
object IncrementalDedup {

  /** One batch step (the foreachBatch body, callable in batch jobs
    * too): returns the novel rows of `batch` and upserts their
    * fingerprints. `batch`: (id, text, ts, …) with `idCol`/`tsCol`
    * naming the identity and arrival order. Admission is [[admit]]'s
    * first-wins step over the in-batch picks. */
  def dedupBatch(batch: DataFrame, idCol: String, textCol: String,
      tsCol: String, storePath: String,
      bloomExpectedItems: Option[Long] = None): DataFrame = {
    val fp = batch.withColumn("fp", T.fingerprint(col(textCol)))
    // in-batch first-wins: min (ts, id) per fingerprint — deterministic
    // under any partitioning
    val firsts = fp
      .groupBy("fp")
      .agg(min_by(struct(fp.columns.map(col): _*),
        struct(col(tsCol), col(idCol))).as("r"))
      .select(col("r.*"))
    admit(firsts, lit(true), "fp", Seq(idCol -> "first_id", tsCol -> "first_ts"),
      storePath, bloomExpectedItems)
      .filter(col("is_kept"))
      .drop("fp", "is_kept")
  }

  /** First-wins admission against the durable [[KeyedStore]] at
    * `storePath` — the one store step of both exact-dedup trackers
    * (this one and [[IncrementalChunkDedup]]). `candidates` carries the
    * key column `keyCol`; the rows where `eligible` holds are the
    * batch's picks, one per key. `picks` maps each candidate column of
    * a pick to the store column that records it.
    *
    * Contract: a row is kept (`is_kept`) iff it is eligible and its
    * key is unseen in the store, or seen with a recorded pick equal to
    * ours — the replayed-batch case, where THIS batch admitted the key
    * in a failed attempt, so a replay keeps exactly its original rows
    * and the re-upsert converges to the identical table. The rows are
    * pinned before the upsert changes the store underneath their plan
    * (and because the upsert and the caller must see the same rows);
    * the kept keys and picks are then upserted. With
    * `bloomExpectedItems`, only bloom-positive keys are probed; the
    * sketch's ordering around the upsert lives in [[StoreBloom]].
    * Returns every candidate row, pinned, with `is_kept`. */
  private[streaming] def admit(candidates: DataFrame, eligible: Column,
      keyCol: String, picks: Seq[(String, String)], storePath: String,
      bloomExpectedItems: Option[Long]): DataFrame = {
    val spark = candidates.sparkSession
    val sb = StoreBloom.of(spark, storePath, bloomExpectedItems)
    val kept =
      if (!KeyedStore.isInitialized(spark, storePath))
        candidates.withColumn("is_kept", eligible)
      else {
        val keys = candidates.filter(eligible).select(keyCol)
        val recorded = picks.map(_._2)
        val seen = KeyedStore
          .probe(sb.fold(keys)(_.prune(keys, keyCol)), Seq(keyCol), storePath)
          .select(keyCol, recorded: _*)
        val ours = picks.map { case (c, s) => col(s) === col(c) }.reduce(_ && _)
        candidates.join(seen, Seq(keyCol), "left")
          .withColumn("is_kept", eligible && (col(recorded.head).isNull || ours))
          .drop(recorded: _*)
      }
    val pinned = kept.localCheckpoint(eager = true)
    val admitted = pinned.filter(col("is_kept"))
    sb.foreach(_.recordBefore(admitted, keyCol))
    KeyedStore.upsert(
      admitted.select(col(keyCol) +: picks.map { case (c, s) => col(c).as(s) }: _*),
      Seq(keyCol), storePath)
    sb.foreach(_.recordAfter(admitted, keyCol))
    pinned
  }
}
