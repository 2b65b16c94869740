package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.state.KeyedStore
import graft.streaming.{IncrementalDedup, Streams}

/** Incremental corpus ingestion: in-batch first-wins, dedup against
  * ALL history via pruned store probes, restart recovery without
  * replay, and idempotent re-emission on batch replay. */
class IncrementalDedupSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  private val t1 = Timestamp.valueOf("2020-04-08 00:00:00")
  private val t2 = Timestamp.valueOf("2020-04-08 06:00:00")
  private val t3 = Timestamp.valueOf("2020-04-08 12:00:00")

  test("streaming: novel-only flow, canonical-form dupes rejected across restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val store = tmp("incdedup")
    val ckpt = tmp("incdedup-ckpt")
    val novelByBatch = scala.collection.mutable.Map[Long, Seq[Long]]()

    val ms = MemoryStream[(Long, String, Timestamp)]
    def start() = Streams.foreachBatch(ms.toDS().toDF("doc_id", "text", "ts"),
      Streams.DataSized, "append", Some(ckpt)) { (batch, bid) =>
      val novel = IncrementalDedup.dedupBatch(batch, "doc_id", "text", "ts", store)
      novelByBatch(bid) = novel.select("doc_id").as[Long](
        novel.sparkSession.implicits.newLongEncoder).collect().toSeq.sorted
    }

    val q1 = start()
    try {
      // A, B, and an exact in-batch dup of A (later ts loses)
      ms.addData((1L, "Hello World", t1), (2L, "other text", t1),
        (3L, "Hello World", t2))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(novelByBatch.values.flatten.toSeq.sorted == Seq(1L, 2L))

    // restart: engine state is gone; only the durable store rejects
    // the formatting-variant dup of doc 2 ("other text" canonicalized)
    val q2 = start()
    try {
      ms.addData((4L, "  OTHER text!! ", t3), (5L, "genuinely new", t3))
      q2.processAllAvailable()
    } finally q2.stop()
    val afterRestart = novelByBatch.values.flatten.toSeq.sorted
    assert(afterRestart == Seq(1L, 2L, 5L), s"got $afterRestart")

    // the store records history's first-wins picks
    import spark.implicits.newProductEncoder
    val rows = KeyedStore.read(spark, store)
      .select("first_id", "first_ts").as[(Long, Timestamp)]
      .collect().toSet
    assert(rows == Set((1L, t1), (2L, t1), (5L, t3)))
  }

  test("dedupBatch replay re-emits its own novel rows; store converges") {
    import spark.implicits._
    val store = tmp("incdedup-replay")
    val b1 = Seq((10L, "alpha beta", t1)).toDF("doc_id", "text", "ts")
    assert(IncrementalDedup.dedupBatch(b1, "doc_id", "text", "ts", store)
      .select("doc_id").as[Long].collect().toSeq == Seq(10L))

    val b2 = Seq((11L, "alpha beta", t2), (12L, "gamma delta", t2))
      .toDF("doc_id", "text", "ts")
    def runB2() = IncrementalDedup.dedupBatch(b2, "doc_id", "text", "ts", store)
      .select("doc_id").as[Long].collect().toSeq.sorted
    // doc 11 is a dup of history; doc 12 is novel
    assert(runB2() == Seq(12L))
    // replay after the crash window (store already has doc 12's fp):
    // the SAME novel rows come back — not an empty frame
    assert(runB2() == Seq(12L))
    assert(KeyedStore.read(spark, store).count() == 2)
  }

  test("bloom-gated dedup ≡ ungated across batches and replays; sketch stays a store superset") {
    import spark.implicits._
    val plain = tmp("incdedup-plain")
    val gated = tmp("incdedup-gated")
    val batches = Seq(
      Seq((1L, "alpha beta", t1), (2L, "gamma delta", t1), (3L, "ALPHA beta!", t2)),
      Seq((4L, "alpha beta", t2), (5L, "epsilon zeta", t2)),
      Seq((5L, "epsilon zeta", t2), (6L, "eta theta", t3))) // replayed 5
    for (b <- batches) {
      val df = b.toDF("doc_id", "text", "ts")
      val p = IncrementalDedup.dedupBatch(df, "doc_id", "text", "ts", plain)
        .select("doc_id").as[Long].collect().toSeq.sorted
      val g = IncrementalDedup.dedupBatch(df, "doc_id", "text", "ts", gated,
          bloomExpectedItems = Some(1000L))
        .select("doc_id").as[Long].collect().toSeq.sorted
      assert(p == g, s"gated batch diverged: plain=$p gated=$g")
    }
    // superset invariant: every fingerprint IN the store must be
    // bloom-positive — a miss here is exactly the false negative that
    // would let a duplicate through
    val bloom = graft.operators.BloomGate
      .readFile(spark, graft.state.StoreBloom.path(gated))
    assert(bloom.isDefined, "gated run never wrote its sketch")
    val misses = KeyedStore.read(spark, gated)
      .filter(!graft.operators.BloomGate.mightContain(bloom.get, col("fp")))
      .count()
    assert(misses == 0, s"$misses store fingerprints invisible to the sketch")
  }

  test("a store predating gating never gets a partial sketch; rebuildBloom enables it") {
    import spark.implicits._
    val store = tmp("incdedup-legacy")
    // history written UNGATED — the sketch cannot be seeded from a
    // later batch without missing these keys
    IncrementalDedup.dedupBatch(
      Seq((1L, "old one", t1), (2L, "old two", t1)).toDF("doc_id", "text", "ts"),
      "doc_id", "text", "ts", store)
    // gated call on the legacy store: correct result, NO sketch file
    // (a partial one would break the superset invariant next batch)
    val got = IncrementalDedup.dedupBatch(
      Seq((3L, "old one", t2), (4L, "new three", t2)).toDF("doc_id", "text", "ts"),
      "doc_id", "text", "ts", store, bloomExpectedItems = Some(1000L))
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(got == Seq(4L))
    assert(graft.operators.BloomGate
      .readFile(spark, graft.state.StoreBloom.path(store)).isEmpty,
      "partial sketch written against a pre-gating store")
    // backfill from the store, then gating engages and stays correct
    graft.state.StoreBloom.rebuild(spark, store, "fp", expectedItems = 1000L)
    val got2 = IncrementalDedup.dedupBatch(
      Seq((5L, "new three", t3), (6L, "new four", t3)).toDF("doc_id", "text", "ts"),
      "doc_id", "text", "ts", store, bloomExpectedItems = Some(1000L))
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(got2 == Seq(6L))
    val bloom = graft.operators.BloomGate
      .readFile(spark, graft.state.StoreBloom.path(store))
    val misses = KeyedStore.read(spark, store)
      .filter(!graft.operators.BloomGate.mightContain(bloom.get, col("fp")))
      .count()
    assert(misses == 0)
  }

  test("probe prunes to the probed keys' buckets and respects key types") {
    import spark.implicits._
    val store = tmp("probe-prune")
    val seed = (0 until 300).map(i => (s"fp$i", i.toLong)).toDF("fp", "v")
    KeyedStore.upsert(seed, Seq("fp"), store)
    val probeKeys = Seq("fp7", "fp42", "fp7").toDF("fp")
    val hit = KeyedStore.probe(probeKeys, Seq("fp"), store)
    assert(hit.select("v").as[Long].collect().toSet == Set(7L, 42L))
    val p = hit.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("PartitionFilters") && p.contains(KeyedStore.BucketColName),
      p.take(2000))
    // uninitialized store: loud failure, not a silent empty result
    intercept[IllegalArgumentException] {
      KeyedStore.probe(probeKeys, Seq("fp"), tmp("probe-missing"))
    }
  }
}
