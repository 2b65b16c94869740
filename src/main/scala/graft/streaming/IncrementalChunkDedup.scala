package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.state.KeyedStore

/** Incremental CHUNK-level dedup against all history — the streaming
  * form of [[graft.operators.Dedup.chunkDedup]]: each micro-batch's
  * documents are chunked, deduped within the batch AND against the
  * durable chunk store, reassembled from their surviving chunks, and
  * the novel chunk digests upsert into the store so the next batch —
  * or a restarted pipeline — drops them. This is repeated-paragraph
  * removal with "seen EVER" semantics (the RefinedWeb-style corpus
  * posture), which is a durable table, not watermark-TTL stream state
  * — the same argument as [[IncrementalDedup]], one granularity down.
  *
  * Per-batch cost: [[KeyedStore.probe]] prunes the membership check
  * to the bucket directories the batch's chunk digests hash into —
  * O(|batch chunks| + touched buckets) against a store of any size.
  * The store keys on the 16-byte md5 digest, never chunk text.
  *
  * Within a batch, the winner of a chunk is the minimum
  * (ts, doc_id, chunk_idx) occurrence — deterministic under any
  * partition layout. Replay-idempotent on the IncrementalDedup
  * contract: a digest already in the store still survives iff the
  * store's recorded (first_id, first_ts, first_idx) equals the
  * batch's own winner pick — i.e. THIS batch admitted it in a failed
  * attempt — so a replayed batch reassembles exactly its original
  * output and the re-upsert converges to the identical table.
  */
object IncrementalChunkDedup {

  /** One batch step (the foreachBatch body, callable in batch jobs
    * too): returns (doc_id, ts, total_chunks, kept_chunks, dedup_text)
    * for every distinct document of `batch`, and upserts the novel
    * chunk digests. `idCol` must be non-null (it is the document's
    * identity); a null text chunks as the empty string, so such
    * documents still produce an output row rather than vanishing.
    * At-least-once delivery is safe: rows sharing a doc_id collapse to
    * the batch's first-wins pick (min (ts, text)) BEFORE chunking —
    * without this, duplicate rows would multiply through the winner
    * join and write duplicate digest rows into the durable store. */
  def dedupBatch(batch: DataFrame, idCol: String, textCol: String,
      tsCol: String, storePath: String, chunkWords: Int = 8,
      numBuckets: Int = KeyedStore.DefaultBuckets,
      splitParagraphs: Boolean = false,
      splitSentences: Boolean = false,
      bloomExpectedItems: Option[Long] = None): DataFrame = {
    val spark = batch.sparkSession
    // superset sketch over the store's chunk digests: bloom-negative
    // digests (the bulk of a mostly-novel batch) skip the store probe
    // — see StoreBloom for the invariant and crash ordering. Chunk
    // stores carry ~docLen/chunkWords keys per document, so the gate
    // matters even more here than at the whole-doc granularity.
    val sb = graft.state.StoreBloom.of(spark, storePath, bloomExpectedItems)
    val docs = batch
      .groupBy(col(idCol).as("doc_id"))
      .agg(min_by(struct(col(textCol).as("text"), col(tsCol).as("ts")),
        struct(col(tsCol), col(textCol))).as("r"))
      .select(col("doc_id"), col("r.text").as("text"), col("r.ts").as("ts"))
    val chunks = Dedup
      .chunked(docs, "text", "doc_id", chunkWords, carry = Seq("ts"),
        splitParagraphs = splitParagraphs, splitSentences = splitSentences)
      .withColumn("ch", md5(col("chunk")))
    // in-batch winner per digest: min (ts, doc_id, chunk_idx)
    val winners = chunks.groupBy("ch")
      .agg(min(struct(col("ts"), col("doc_id"), col("chunk_idx"))).as("w"))
    val withWin = chunks.join(winners, Seq("ch"))
      .withColumn("is_winner",
        col("ts") === col("w.ts") && col("doc_id") === col("w.doc_id") &&
          col("chunk_idx") === col("w.chunk_idx"))
    // against the store: a winner survives iff its digest is unseen,
    // or seen with OUR pick recorded (the replayed-batch case)
    val kept =
      if (!KeyedStore.isInitialized(spark, storePath))
        withWin.withColumn("is_kept", col("is_winner"))
      else {
        val probeKeys = withWin.select("ch").distinct()
        val seen = KeyedStore
          .probe(sb.fold(probeKeys)(_.prune(probeKeys, "ch")),
            Seq("ch"), storePath, numBuckets)
          .select("ch", "first_id", "first_ts", "first_idx")
        withWin.join(seen, Seq("ch"), "left")
          .withColumn("is_kept",
            col("is_winner") && (col("first_id").isNull ||
              (col("first_id") === col("doc_id") &&
                col("first_ts") === col("ts") &&
                col("first_idx") === col("chunk_idx"))))
          .drop("first_id", "first_ts", "first_idx")
      }
    // pin: the upsert changes the store underneath the plan, and the
    // reassembly + upsert must see the same rows
    val pinned = kept.localCheckpoint(eager = true)
    val admitted = pinned.filter(col("is_kept"))
    sb.foreach(_.recordBefore(admitted, "ch"))
    KeyedStore.upsert(
      admitted
        .select(col("ch"), col("doc_id").as("first_id"),
          col("ts").as("first_ts"), col("chunk_idx").as("first_idx")),
      Seq("ch"), storePath, numBuckets)
    sb.foreach(_.recordAfter(admitted, "ch"))
    pinned.groupBy("doc_id", "ts")
      .agg(
        count(lit(1)).as("total_chunks"),
        sum(col("is_kept").cast("long")).as("kept_chunks"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("is_kept"), struct(col("chunk_idx"), col("chunk"))))),
            x => x.getField("chunk")),
          " ").as("dedup_text"))
  }
}
