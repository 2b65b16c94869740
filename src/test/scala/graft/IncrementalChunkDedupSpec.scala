package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.{IncrementalChunkDedup, Streams}

/** Incremental chunk-level dedup: in-batch cross-doc chunk removal,
  * "seen EVER" rejection across batches AND restarts via the durable
  * digest store, document reassembly, replay idempotency. */
class IncrementalChunkDedupSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  private val t1 = Timestamp.valueOf("2020-04-08 00:00:00")
  private val t2 = Timestamp.valueOf("2020-04-08 06:00:00")

  private def collect(df: org.apache.spark.sql.DataFrame) =
    df.select("doc_id", "total_chunks", "kept_chunks", "dedup_text")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap

  test("batch steps: cross-doc + cross-batch chunk dedup with reassembly") {
    import spark.implicits._
    val store = tmp("chunkstore")
    // chunkWords=2: doc 1 = [p q][r s]; doc 2 repeats [p q] and adds [x y]
    val b1 = Seq((1L, "p q r s", t1), (2L, "p q x y", t1))
      .toDF("doc_id", "text", "ts")
    val out1 = collect(IncrementalChunkDedup.dedupBatch(
      b1, "doc_id", "text", "ts", store, chunkWords = 2))
    assert(out1(1L) == ((2L, 2L, "p q r s")))
    assert(out1(2L) == ((2L, 1L, "x y")))
    // next batch: [r s] and [x y] already in history; [z z] is novel
    val b2 = Seq((3L, "r s z z x y", t2)).toDF("doc_id", "text", "ts")
    val out2 = collect(IncrementalChunkDedup.dedupBatch(
      b2, "doc_id", "text", "ts", store, chunkWords = 2))
    assert(out2(3L) == ((3L, 1L, "z z")))
    // replayed batch (crash between upsert and commit): identical output
    val replay = collect(IncrementalChunkDedup.dedupBatch(
      b2, "doc_id", "text", "ts", store, chunkWords = 2))
    assert(replay == out2, s"replay diverged: $replay vs $out2")
    // a LATER doc with the replayed chunk is still rejected
    val b3 = Seq((4L, "z z", t2)).toDF("doc_id", "text", "ts")
    assert(collect(IncrementalChunkDedup.dedupBatch(
      b3, "doc_id", "text", "ts", store, chunkWords = 2))(4L) == ((1L, 0L, "")))
  }

  test("sentence mode: cross-batch template rejection at sentence grain") {
    import spark.implicits._
    val store = tmp("sentstore")
    // batch 1 admits the template sentence once (doc 1's first
    // occurrence) and strips its in-batch repeat in doc 2
    val b1 = Seq(
      (1L, "Buy now! Alpha insight.", t1),
      (2L, "Buy now. Beta insight.", t1)).toDF("doc_id", "text", "ts")
    val out1 = collect(IncrementalChunkDedup.dedupBatch(
      b1, "doc_id", "text", "ts", store, splitSentences = true))
    assert(out1(1L) == ((2L, 2L, "Buy now Alpha insight")))
    assert(out1(2L) == ((2L, 1L, "Beta insight")))
    // a later batch: the template is in the durable store — rejected
    // even though this batch never saw doc 1; novel sentences survive
    val b2 = Seq((3L, "Buy now? Gamma insight.", t2))
      .toDF("doc_id", "text", "ts")
    val out2 = collect(IncrementalChunkDedup.dedupBatch(
      b2, "doc_id", "text", "ts", store, splitSentences = true))
    assert(out2(3L) == ((2L, 1L, "Gamma insight")))
  }

  test("bloom-gated chunk dedup ≡ ungated across batches/replays; sketch is a store superset") {
    import spark.implicits._
    val plain = tmp("chunkstore-plain")
    val gated = tmp("chunkstore-gated")
    val batches = Seq(
      Seq((1L, "p q r s", t1), (2L, "p q x y", t1)),
      Seq((3L, "r s z z x y", t2)),
      Seq((3L, "r s z z x y", t2)), // replay
      Seq((4L, "z z n n", t2)))
    for (b <- batches) {
      val df = b.toDF("doc_id", "text", "ts")
      val p = collect(IncrementalChunkDedup.dedupBatch(
        df, "doc_id", "text", "ts", plain, chunkWords = 2))
      val g = collect(IncrementalChunkDedup.dedupBatch(
        df, "doc_id", "text", "ts", gated, chunkWords = 2,
        bloomExpectedItems = Some(1000L)))
      assert(p == g, s"gated chunk batch diverged: plain=$p gated=$g")
    }
    val bloom = graft.operators.BloomGate
      .readFile(spark, graft.state.StoreBloom.path(gated))
    assert(bloom.isDefined, "gated chunk run never wrote its sketch")
    val misses = graft.state.KeyedStore.read(spark, gated)
      .filter(!graft.operators.BloomGate.mightContain(bloom.get, col("ch")))
      .count()
    assert(misses == 0, s"$misses store chunk digests invisible to the sketch")
  }

  test("at-least-once delivery: duplicate doc rows collapse, store stays clean") {
    import spark.implicits._
    val store = tmp("chunkstore-dup")
    // the same document delivered twice in one batch (at-least-once
    // source): must behave exactly like a single delivery
    val b1 = Seq((1L, "p q", t1), (1L, "p q", t1)).toDF("doc_id", "text", "ts")
    val out1 = collect(IncrementalChunkDedup.dedupBatch(
      b1, "doc_id", "text", "ts", store, chunkWords = 2))
    assert(out1 == Map(1L -> ((1L, 1L, "p q"))), s"dup rows multiplied: $out1")
    // the store holds ONE row for the digest — a later batch sees
    // correct counts, not join-multiplied ones
    val b2 = Seq((2L, "p q x y", t1)).toDF("doc_id", "text", "ts")
    val out2 = collect(IncrementalChunkDedup.dedupBatch(
      b2, "doc_id", "text", "ts", store, chunkWords = 2))
    assert(out2 == Map(2L -> ((2L, 1L, "x y"))), s"store corrupted: $out2")
    // null text still yields an output row (empty reassembly), never
    // a vanished document
    val b3 = Seq((3L, null.asInstanceOf[String], t2)).toDF("doc_id", "text", "ts")
    val out3 = collect(IncrementalChunkDedup.dedupBatch(
      b3, "doc_id", "text", "ts", store, chunkWords = 2))
    assert(out3.contains(3L) && out3(3L)._1 == 1L, s"null-text doc lost: $out3")
  }

  test("paragraph mode threads through: offset repeats rejected across batches") {
    import spark.implicits._
    val store = tmp("chunkstore-para")
    // batch 1 seeds the boilerplate paragraph [nav bar]
    val b1 = Seq((1L, "nav bar\n\naaa bbb", t1)).toDF("doc_id", "text", "ts")
    val out1 = collect(IncrementalChunkDedup.dedupBatch(
      b1, "doc_id", "text", "ts", store, chunkWords = 2,
      splitParagraphs = true))
    assert(out1(1L) == ((2L, 2L, "nav bar aaa bbb")))
    // batch 2 repeats it at a DIFFERENT word offset: fixed 2-word
    // windows of "xxx nav bar ccc ddd" ([xxx nav][bar ccc][ddd]) share
    // no chunk with batch 1 — only paragraph alignment catches it
    val b2 = Seq((2L, "xxx\n\nnav bar\n\nccc ddd", t2))
      .toDF("doc_id", "text", "ts")
    val out2 = collect(IncrementalChunkDedup.dedupBatch(
      b2, "doc_id", "text", "ts", store, chunkWords = 2,
      splitParagraphs = true))
    assert(out2(2L) == ((3L, 2L, "xxx ccc ddd")),
      s"offset paragraph repeat survived: ${out2(2L)}")
  }

  test("streaming: chunk history survives a restart (durable store, no replay)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val store = tmp("chunkstore-s")
    val ckpt = tmp("chunkstore-ckpt")
    val byBatch = scala.collection.mutable.Map[Long, Map[Long, String]]()

    val ms = MemoryStream[(Long, String, Timestamp)]
    def start() = Streams.foreachBatch(ms.toDS().toDF("doc_id", "text", "ts"),
      "append", Some(ckpt)) { (batch, bid) =>
      val out = IncrementalChunkDedup.dedupBatch(batch, "doc_id", "text", "ts",
        store, chunkWords = 2)
      byBatch(bid) = out.select("doc_id", "dedup_text").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    }

    val q1 = start()
    try {
      ms.addData((1L, "a b c d", t1))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(byBatch.values.flatten.toMap == Map(1L -> "a b c d"))

    // restart: engine state is gone; the durable store still holds
    // [a b] and [c d]
    val q2 = start()
    try {
      ms.addData((2L, "c d e f a b", t2))
      q2.processAllAvailable()
    } finally q2.stop()
    val all = byBatch.values.flatten.toMap
    assert(all == Map(1L -> "a b c d", 2L -> "e f"), s"got $all")
  }
}
