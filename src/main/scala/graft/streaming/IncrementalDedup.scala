package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => T}
import graft.state.KeyedStore

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
  * layout. Replay-idempotent INCLUDING the crash window between the
  * store upsert and the downstream commit: a fingerprint already in
  * the store is re-admitted iff the store's recorded (first_id,
  * first_ts) equals the batch's own first-wins pick — i.e. THIS batch
  * admitted it in the failed attempt — so a replayed batch re-emits
  * exactly its original novel rows (never silently drops them), the
  * re-upsert converges to the identical table, and the caller's sink
  * can commit the novel rows transactionally by batch id.
  */
object IncrementalDedup {

  /** One batch step (the foreachBatch body, callable in batch jobs
    * too): returns the novel rows of `batch` and upserts their
    * fingerprints. `batch`: (id, text, ts, …) with `idCol`/`tsCol`
    * naming the identity and arrival order. */
  def dedupBatch(batch: DataFrame, idCol: String, textCol: String,
      tsCol: String, storePath: String,
      bloomExpectedItems: Option[Long] = None): DataFrame = {
    val spark = batch.sparkSession
    val fp = batch.withColumn("fp", T.fingerprint(col(textCol)))
    // in-batch first-wins: min (ts, id) per fingerprint — deterministic
    // under any partitioning
    val firsts = fp
      .groupBy("fp")
      .agg(min_by(struct(fp.columns.map(col): _*),
        struct(col(tsCol), col(idCol))).as("r"))
      .select(col("r.*"))
    val storeInit = KeyedStore.isInitialized(spark, storePath)
    val sb = graft.state.StoreBloom.of(spark, storePath, bloomExpectedItems)
    // filter by the recorded (first_id, first_ts): unseen fp, OR seen
    // with OUR first-wins pick — the replayed-batch case (idempotency
    // note above)
    def probed(candidates: DataFrame): DataFrame = {
      val seen = KeyedStore
        .probe(candidates.select("fp"), Seq("fp"), storePath)
        .select("fp", "first_id", "first_ts")
      candidates.join(seen, Seq("fp"), "left")
        .filter(col("first_id").isNull ||
          (col("first_id") === col(idCol) && col("first_ts") === col(tsCol)))
        .drop("first_id", "first_ts")
    }
    val novel =
      if (!storeInit) firsts
      else sb.flatMap(_.split(firsts, "fp")) match {
        case None => probed(firsts)
        case Some((defNew, maybeSeen)) =>
          // superset invariant ⇒ bloom-negatives are definitely novel
          defNew.unionByName(probed(maybeSeen))
      }
    // pin before the store changes underneath the plan, and because two
    // consumers (upsert + caller) must see the same rows
    val pinned = novel.localCheckpoint(eager = true)
    sb.foreach(_.recordBefore(pinned, "fp"))
    KeyedStore.upsert(
      pinned.select(col("fp"), col(idCol).as("first_id"), col(tsCol).as("first_ts")),
      Seq("fp"), storePath)
    sb.foreach(_.recordAfter(pinned, "fp"))
    pinned.drop("fp")
  }
}
