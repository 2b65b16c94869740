package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{VectorFunctions => V}
import graft.functions.expressions.GraftExpressions.dotQFast

/** Incremental near-duplicate dedup for the EMBEDDING family — the
  * vector twin of [[IncrementalNearDedup]] on the [[NearDupStore]]
  * batch step. q30/q43/q49's batch forms re-LSH the whole corpus per
  * run; this dedups a batch of (id, embedding, ts) rows against
  * everything ever admitted in O(|batch|), not O(|corpus|).
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
  * Payload: each vector's quantized form and squared norm (qv, nsq).
  * Predicate: exact quantized cosine ≥ `threshold`. Null or
  * wrong-width embeddings have no payload and pass through. A
  * non-empty batch where no row bands AND some non-null vector exists
  * fails fast — a wrong width on a real vector is a `dims`
  * misconfiguration, not data variance. An ALL-NULL batch (transient
  * embedder outage) is the null pass-through case writ large and
  * passes through whole — killing the streaming query over it would
  * turn a documented per-row tolerance into a batch-shape landmine.
  */
object IncrementalEmbeddingNearDedup {

  /** One batch step (the foreachBatch body, callable in batch jobs
    * too): returns the novel rows of `batch` and upserts their band
    * keys + quantized vectors. `batch`: (id, vec, ts, …); `vecCol` is
    * a float/double array of width `dims`. */
  def dedupBatch(batch: DataFrame, idCol: String, vecCol: String,
      tsCol: String, storePath: String, threshold: Double = 0.95,
      nBands: Int = 8, bandBits: Int = 4, dims: Int = 64,
      maxBucket: Int = 64): DataFrame =
    NearDupStore.dedupBatch(batch, idCol, tsCol, storePath, maxBucket) { docs =>
      // un-bandable rows (null / wrong-width vector) are excluded here
      // and so pass through unexamined
      val quant = docs
        .filter(col(vecCol).isNotNull && size(col(vecCol)) === dims)
        .select(col(idCol).as("doc_id"), V.quantize(col(vecCol)).as("qv"))
        .withColumn("nsq", dotQFast(col("qv"), col("qv")))
        .localCheckpoint(eager = true)
      // the dims fail-fast (see above) fires only on evidence — a real
      // vector of the wrong width. Cheap: quant is already checkpointed.
      if (quant.isEmpty && !docs.isEmpty) {
        val bad = docs.filter(col(vecCol).isNotNull)
          .select(size(col(vecCol)).as("w")).limit(1).collect()
        if (bad.nonEmpty)
          throw new IllegalArgumentException(
            s"no row in this batch has a $dims-wide non-null '$vecCol' " +
              s"(observed non-null width: ${bad(0).getInt(0)}) — " +
              "dims does not match the data; dedup would be a silent no-op")
      }
      (quant, NearDupStore.bandRows(quant,
        (0 until nBands).map(b => V.lshBandKey(col("qv"), b, bandBits, dims))))
    } { (a, b) =>
      V.cosineFrom(dotQFast(a("qv"), b("qv")), a("nsq"), b("nsq")) >= threshold
    }
}
