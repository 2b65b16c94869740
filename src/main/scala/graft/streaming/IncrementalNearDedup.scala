package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => T}
import graft.functions.expressions.GraftExpressions.{minhashSig, shingleHashes}

/** Incremental NEAR-duplicate dedup against all history — the
  * MinHash-LSH companion of [[IncrementalDedup]]'s exact-fingerprint
  * form, on the [[NearDupStore]] batch step: each micro-batch is
  * near-dup-deduplicated within itself, then against the durable band
  * store, and only novel documents flow on. q28's batch form re-LSHes
  * the whole corpus per refresh; this costs O(|batch|), not
  * O(|corpus|).
  *
  * Payload: each doc's distinct 3-gram shingle hashes (`shs`). Bands:
  * `k / bandRows` xxhash64 keys over the MinHash signature — the same
  * family and keys as q28's batch MinHash-LSH in `operators.Dedup`.
  * Predicate: exact Jaccard ≥ `threshold`. Documents too short to
  * shingle (< 3 words) have no payload and pass through.
  */
object IncrementalNearDedup {

  /** One batch step (the foreachBatch body, callable in batch jobs
    * too): returns the novel rows of `batch` and upserts their band
    * keys + shingle sets. `batch`: (id, text, ts, …). */
  def dedupBatch(batch: DataFrame, idCol: String, textCol: String,
      tsCol: String, storePath: String, threshold: Double = 0.5,
      k: Int = 64, bandRows: Int = 4, maxBucket: Int = 64): DataFrame = {
    require(k % bandRows == 0, s"bandRows $bandRows must divide k $k")
    NearDupStore.dedupBatch(batch, idCol, tsCol, storePath, maxBucket) { docs =>
      val shingled = docs
        .select(col(idCol).as("doc_id"),
          shingleHashes(T.words(col(textCol)), 3).as("shs"))
        .filter(size(col("shs")) > 0)
        .localCheckpoint(eager = true)
      val sigs = shingled
        .select(col("doc_id"), minhashSig(col("shs"), k).as("sig"))
      val keys = (0 until k / bandRows).map(b =>
        xxhash64((0 until bandRows).map(r => col("sig").getItem(b * bandRows + r)): _*))
      (shingled, NearDupStore.bandRows(sigs, keys))
    } { (a, b) =>
      val inter = size(array_intersect(a("shs"), b("shs"))).cast("double")
      val uni = (size(a("shs")) + size(b("shs"))).cast("double") - inter
      inter / uni >= threshold
    }
  }
}
