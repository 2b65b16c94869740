package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{VectorFunctions => V}
import graft.functions.expressions.GraftExpressions.dotQFast
import graft.state.KeyedStore

/** Incremental near-duplicate dedup for the EMBEDDING family — the
  * vector twin of [[IncrementalNearDedup]]: each micro-batch of
  * (id, embedding, ts) rows is near-dup-deduplicated within itself
  * (first-wins by (ts, id)), then against a durable sign-LSH band
  * store, and only novel rows flow on; their band keys + quantized
  * vectors upsert so the next batch — or a restarted pipeline —
  * rejects their near-copies.
  *
  * This closes the batch/incremental asymmetry the text family already
  * solved: q30/q43/q49's batch forms re-LSH the whole corpus per run,
  * but the 100 TB operation is "dedup TODAY's embeddings against
  * everything ever admitted", which must cost O(|batch|), not
  * O(|corpus|).
  *
  * Banding: `nBands` keys of `bandBits` sign bits each from the
  * production XXH-derived hyperplane family
  * ([[V.lshBandKey]] — distinct planes per band, same family as
  * [[graft.operators.Similarity.neardupPairsLsh]]). A pair collides in
  * a band iff ALL `bandBits` sign bits agree: with P[bit agree] =
  * 1 − θ/π per hyperplane, a cos ≈ 0.95 pair at the default 8×4
  * misses every band with probability (1 − 0.9⁴)⁸ ≈ 3%, and true
  * near-dups (cos ≈ 1) essentially never. Collisions are CANDIDATES
  * only — the keep/drop decision is always the exact integer-quantized
  * cosine ([[V.cosineFrom]] over [[dotQFast]]), bit-deterministic
  * across batches and engines.
  *
  * Store layout is [[NearDupStore]]'s two-table split: `bands/` rows
  * carry member ids only, `docs/` carries each admitted vector's
  * (qv, nsq) exactly once — store bytes scale ~1× the admitted
  * vectors, and the verify fetches only COLLIDED members' vectors by
  * id. Both probes are bucket-pruned, so per-batch cost is
  * O(|batch| × nBands + collided members) against a store of any size.
  * Replay idempotency and the in-batch first-wins convention are
  * exactly [[IncrementalNearDedup]]'s — see its scaladoc; null or
  * wrong-width embeddings cannot be banded and pass through
  * unexamined, never entering the store. A non-empty batch where no
  * row bands AND some non-null vector exists fails fast — a wrong
  * width on a real vector is a `dims` misconfiguration, not data
  * variance. An ALL-NULL batch (transient embedder outage) is the
  * null pass-through case writ large and passes through whole —
  * killing the streaming query over it would turn a documented
  * per-row tolerance into a batch-shape landmine.
  */
object IncrementalEmbeddingNearDedup {

  /** One batch step (the foreachBatch body, callable in batch jobs
    * too): returns the novel rows of `batch` and upserts their band
    * keys + quantized vectors. `batch`: (id, vec, ts, …); `vecCol` is
    * a float/double array of width `dims`. */
  def dedupBatch(batch: DataFrame, idCol: String, vecCol: String,
      tsCol: String, storePath: String, threshold: Double = 0.95,
      nBands: Int = 8, bandBits: Int = 4, dims: Int = 64,
      maxBucket: Int = 64,
      numBuckets: Int = KeyedStore.DefaultBuckets): DataFrame = {
    val spark = batch.sparkSession
    // at-least-once upstream can duplicate ids WITHIN a batch: exact
    // first-wins per id before any similarity work
    val docs = batch
      .groupBy(col(idCol))
      .agg(min_by(struct(batch.columns.map(col): _*),
        struct(col(tsCol), col(idCol))).as("r"))
      .select(col("r.*"))
      .localCheckpoint(eager = true)
    // payloads (doc_id -> qv, nsq) in ONE frame; band rows carry ids
    // only. Un-bandable rows (null / wrong-width vector) are excluded
    // here and so pass through below unexamined.
    val quant = docs
      .filter(col(vecCol).isNotNull && size(col(vecCol)) === dims)
      .select(col(idCol).as("doc_id"), V.quantize(col(vecCol)).as("qv"))
      .withColumn("nsq", dotQFast(col("qv"), col("qv")))
      .localCheckpoint(eager = true)
    // Unlike text (where an all-short batch is plausible), embeddings
    // have a fixed width: a batch with NON-NULL vectors where NOTHING
    // banded means the dims parameter doesn't match the data — without
    // this check the pipeline would emit every batch as "novel"
    // forever while performing no dedup at all. Null embeddings are
    // individually pass-through, so an ALL-NULL batch (transient
    // embedder outage) must pass through too, not kill the query: the
    // fail-fast fires only on evidence — a real vector of the wrong
    // width. Cheap: quant is already checkpointed.
    if (quant.isEmpty && !docs.isEmpty) {
      val bad = docs.filter(col(vecCol).isNotNull)
        .select(size(col(vecCol)).as("w")).limit(1).collect()
      if (bad.nonEmpty)
        throw new IllegalArgumentException(
          s"no row in this batch has a $dims-wide non-null '$vecCol' " +
            s"(observed non-null width: ${bad(0).getInt(0)}) — " +
            "dims does not match the data; dedup would be a silent no-op")
    }
    val bandCols = (0 until nBands).map(b =>
      struct(lit(b).as("band"),
        V.lshBandKey(col("qv"), b, bandBits, dims).as("key")))
    val bk = quant
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
      .localCheckpoint(eager = true)

    def cosine(aQv: Column, aNsq: Column, bQv: Column, bNsq: Column) =
      V.cosineFrom(dotQFast(aQv, bQv), aNsq, bNsq)

    val hasStore = NearDupStore.isInitialized(spark, storePath)
    // ONE bucket-pruned probe of the band store per batch, shared by
    // history detection and the admit member-merge below
    val bandHits =
      if (!hasStore)
        bk.select("band", "key").limit(0)
          .withColumn("members", array().cast("array<long>"))
      else NearDupStore.probeBands(bk, storePath, numBuckets)
        .localCheckpoint(eager = true)
    // near-dups of history: collide on a stored band bucket, fetch
    // ONLY the collided members' vectors by id, then exact quantized
    // cosine
    val histDups =
      if (!hasStore) docs.select(col(idCol).as("doc_id")).limit(0)
      else {
        val cand = NearDupStore.collisionsFrom(bk, bandHits)
          .localCheckpoint(eager = true)
        val oldVecs = NearDupStore.payloads(cand.select("old_id").distinct(),
            storePath, numBuckets)
          .select(col("doc_id").as("old_id"), col("qv").as("old_qv"),
            col("nsq").as("old_nsq"))
        cand
          .join(quant, Seq("doc_id"))
          .join(oldVecs, Seq("old_id"))
          .filter(cosine(col("qv"), col("nsq"), col("old_qv"), col("old_nsq"))
            >= threshold)
          .select("doc_id").distinct()
      }

    // in-batch near-dups: same banded family within the batch — bare-id
    // candidate pairs (payloads join back only for the verify), then
    // first-wins on (ts, id): X drops iff similar to any earlier Y
    val pairs = bk.as("a")
      .join(bk.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
      .join(quant.select(col("doc_id").as("doc_a"),
        col("qv").as("qv_a"), col("nsq").as("nsq_a")), Seq("doc_a"))
      .join(quant.select(col("doc_id").as("doc_b"),
        col("qv").as("qv_b"), col("nsq").as("nsq_b")), Seq("doc_b"))
      .filter(cosine(col("qv_a"), col("nsq_a"), col("qv_b"), col("nsq_b"))
        >= threshold)
      .select("doc_a", "doc_b")
    val ord = docs.select(col(idCol).as("doc_id"),
      struct(col(tsCol), col(idCol)).as("o"))
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

    // upsert the admitted docs: band member ids + one vector row each
    val admittedIds = novel.select(col(idCol).as("doc_id"))
    NearDupStore.admit(
      bk.join(admittedIds, Seq("doc_id"), "left_semi"),
      quant.join(admittedIds, Seq("doc_id"), "left_semi"),
      bandHits, storePath, maxBucket, numBuckets)
    novel
  }
}
