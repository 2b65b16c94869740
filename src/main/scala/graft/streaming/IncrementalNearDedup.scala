package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => T}
import graft.functions.expressions.GraftExpressions.{minhashSig, shingleHashes}
import graft.operators.Dedup
import graft.state.KeyedStore

/** Incremental NEAR-duplicate dedup against all history — the
  * MinHash-LSH companion of [[IncrementalDedup]]'s exact-fingerprint
  * form: each micro-batch is near-dup-deduplicated within itself
  * (first-wins by (ts, id)), then against a durable band-bucket store,
  * and only novel documents flow on; their band keys upsert so the
  * next batch — or a restarted pipeline — rejects their near-copies.
  *
  * Why a store and not a full-corpus re-run? q28's batch form re-LSHes
  * the whole corpus per refresh; at 100 TB the common operation is
  * "dedup TODAY's crawl against everything ever admitted", which must
  * cost O(|batch|), not O(|corpus|). The store is the two-table
  * [[NearDupStore]] layout: `bands/` keyed (band, key) carrying member
  * ids ONLY, `docs/` keyed doc_id carrying each admitted doc's shingle
  * set exactly once — postings and payloads split, so store bytes
  * scale ~1× the admitted text (the earlier single-table form rode the
  * shingle set on every band row: 16× at the default 16 bands). The
  * exact Jaccard verify fetches only the COLLIDED members' shingle
  * sets by id — both the band probe and the payload fetch are
  * bucket-pruned ([[KeyedStore.probe]]), so per-batch cost is
  * O(|batch| × bands + collided members) against a store of any size.
  *
  * Scale guards, mirroring the batch family: a bucket's member list is
  * capped at `maxBucket` (kept = the lowest doc_ids). A saturated
  * bucket still verifies candidates against its kept members; what it
  * gives up is detecting dups of members it evicted — the same
  * recall-for-boundedness trade as `maxDf` in [[Dedup.jaccardPairs]],
  * and at 16-bands-of-4 a pair missing in one saturated bucket still
  * collides in any other shared band. (An evicted member's doc row
  * lingers in `docs/` unreferenced — storage-idempotent, never probed.)
  *
  * Replay idempotency (at-least-once foreachBatch): admitted docs are
  * recognized on replay — a stored member with the batch doc's own id
  * is skipped as a self-match, so the replayed batch re-emits exactly
  * its original novel rows; the member-merge dedups by doc_id and the
  * doc upsert replaces by key, so the re-upsert converges to the same
  * store. Within a batch, duplicate ids collapse to the minimum
  * (ts, id) row first, so duplicated delivery upstream cannot
  * double-admit.
  *
  * In-batch semantics are the conservative LSH-dedup convention: a doc
  * near-dup of ANY earlier (ts, id) batch doc is dropped, even if that
  * earlier doc was itself dropped (transitive chains over-drop, like
  * every keep-min resolution). Documents too short to shingle (< 3
  * words) can't near-dup — they pass through unexamined and never
  * enter the store.
  */
object IncrementalNearDedup {

  /** One batch step (the foreachBatch body, callable in batch jobs
    * too): returns the novel rows of `batch` and upserts their band
    * keys + shingle sets. `batch`: (id, text, ts, …). */
  def dedupBatch(batch: DataFrame, idCol: String, textCol: String,
      tsCol: String, storePath: String, threshold: Double = 0.5,
      k: Int = 64, bandRows: Int = 4, maxBucket: Int = 64,
      numBuckets: Int = KeyedStore.DefaultBuckets): DataFrame = {
    val spark = batch.sparkSession
    require(k % bandRows == 0, s"bandRows $bandRows must divide k $k")
    val nBands = k / bandRows
    // at-least-once upstream can duplicate ids WITHIN a batch: exact
    // first-wins per id before any similarity work
    val docs = batch
      .groupBy(col(idCol))
      .agg(min_by(struct(batch.columns.map(col): _*),
        struct(col(tsCol), col(idCol))).as("r"))
      .select(col("r.*"))
      .localCheckpoint(eager = true)
    // payloads (doc_id -> shs) live in ONE frame; band rows carry ids
    // only — the two meet again only on verify-sized id sets
    val shingled = docs
      .select(col(idCol).as("doc_id"),
        shingleHashes(T.words(col(textCol)), 3).as("shs"))
      .filter(size(col("shs")) > 0)
      .localCheckpoint(eager = true)
    val sigs = shingled
      .select(col("doc_id"), minhashSig(col("shs"), k).as("sig"))
    val bandCols = (0 until nBands).map { b =>
      struct(lit(b).as("band"),
        xxhash64((0 until bandRows).map(r => col("sig").getItem(b * bandRows + r)): _*)
          .as("key"))
    }
    // band rows feed the probe, the candidate join and the upsert: pin
    val bk = sigs
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
      .localCheckpoint(eager = true)

    val hasStore = NearDupStore.isInitialized(spark, storePath)
    // ONE bucket-pruned probe of the band store per batch, shared by
    // history detection and the admit member-merge below
    val bandHits =
      if (!hasStore)
        bk.select("band", "key").limit(0)
          .withColumn("members", array().cast("array<long>"))
      else NearDupStore.probeBands(bk, storePath, numBuckets)
        .localCheckpoint(eager = true)

    // near-dups of history: collide on a stored bucket, fetch ONLY the
    // collided members' shingle sets by id, then EXACT Jaccard
    val histDups =
      if (!hasStore) docs.select(col(idCol).as("doc_id")).limit(0)
      else {
        val cand = NearDupStore.collisionsFrom(bk, bandHits)
          .localCheckpoint(eager = true)
        val oldShs = NearDupStore.payloads(cand.select("old_id").distinct(),
            storePath, numBuckets)
          .select(col("doc_id").as("old_id"), col("shs").as("old_shs"))
        cand
          .join(shingled, Seq("doc_id"))
          .join(oldShs, Seq("old_id"))
          .withColumn("inter",
            size(array_intersect(col("shs"), col("old_shs"))).cast("double"))
          .withColumn("uni",
            (size(col("shs")) + size(col("old_shs"))).cast("double") - col("inter"))
          .filter(col("inter") / col("uni") >= threshold)
          .select("doc_id").distinct()
      }

    // in-batch near-dups: the batch LSH (same family), first-wins on
    // (ts, id) — X drops iff similar to any earlier Y
    val ord = docs.select(col(idCol).as("doc_id"),
      struct(col(tsCol), col(idCol)).as("o"))
    val pairs = Dedup.minhashLshPairs(shingled, threshold, k, bandRows)
    val sym = pairs.select(col("doc_a").as("x"), col("doc_b").as("y"))
      .unionAll(pairs.select(col("doc_b").as("x"), col("doc_a").as("y")))
    val losers = sym
      .join(ord.select(col("doc_id").as("x"), col("o").as("ox")), Seq("x"))
      .join(ord.select(col("doc_id").as("y"), col("o").as("oy")), Seq("y"))
      .filter(col("oy") < col("ox"))
      .select(col("x").as("doc_id")).distinct()

    val dropIds = histDups.unionAll(losers).distinct()
      .withColumnRenamed("doc_id", idCol)
    val novel = docs.join(dropIds, Seq(idCol), "left_anti")
      .localCheckpoint(eager = true)

    // upsert the admitted docs: band member ids + one payload row each
    val admittedIds = novel.select(col(idCol).as("doc_id"))
    NearDupStore.admit(
      bk.join(admittedIds, Seq("doc_id"), "left_semi"),
      shingled.join(admittedIds, Seq("doc_id"), "left_semi"),
      bandHits, storePath, maxBucket, numBuckets)
    novel
  }
}
