package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.state.KeyedStore
import graft.streaming.{IncrementalEmbeddingNearDedup, Streams}

/** Incremental EMBEDDING near-dup dedup: batch N+1 detects near-copies
  * of every vector admitted in batches ≤ N through bucket-pruned
  * probes of the durable sign-LSH band store — no rescan of stored
  * vectors — with in-batch first-wins, idempotent re-emission on batch
  * replay, and ~1× (not ~nBands×) store payload. */
class IncrementalEmbeddingNearDedupSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  private val t1 = Timestamp.valueOf("2020-04-08 00:00:00")
  private val t2 = Timestamp.valueOf("2020-04-08 06:00:00")
  private val t3 = Timestamp.valueOf("2020-04-08 12:00:00")

  /** Real embeddings from the test table — mutually dissimilar base
    * vectors (random directions in 64-dim space: cos ≈ 0). */
  private def baseVec(id: Long): Seq[Float] =
    graft.sources.Tables.load(spark, sf, "embeddings")
      .filter(col("vec_id") === id).select("embedding")
      .collect().head.getSeq[Float](0)

  /** Near-copy: one component nudged — quantized cosine ≈ 1, not
    * byte-equal (the realistic near-dup-ingest workload). */
  private def nudge(v: Seq[Float]): Seq[Float] =
    (v.head + 0.001f) +: v.tail

  private lazy val vecA = baseVec(0L)
  private lazy val vecB = baseVec(1L)
  private lazy val vecC = baseVec(2L)
  private lazy val vecA2 = nudge(vecA)

  private def df(rows: (Long, Seq[Float], Timestamp)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "vec", "ts")
  }

  private def ids(d: DataFrame): Seq[Long] =
    d.select("doc_id").collect().map(_.getLong(0)).toSeq.sorted

  private def step(batch: DataFrame, store: String): DataFrame =
    IncrementalEmbeddingNearDedup.dedupBatch(
      batch, "doc_id", "vec", "ts", store)

  test("batch N+1 drops near-copies of batch <= N via the band store; replay re-emits identically") {
    val store = tmp("embdedup")

    val n1 = step(df((1L, vecA, t1), (2L, vecB, t1)), store)
    assert(ids(n1) == Seq(1L, 2L))

    // batch 2: near-copy of A (nudged, not byte-equal) dropped, C novel
    val n2 = step(df((3L, vecA2, t2), (4L, vecC, t2)), store)
    assert(ids(n2) == Seq(4L), s"near-dup of history not dropped: ${ids(n2)}")

    // replay (at-least-once): same novel rows, store converges
    val n2r = step(df((3L, vecA2, t2), (4L, vecC, t2)), store)
    assert(ids(n2r) == Seq(4L), s"replay diverged: ${ids(n2r)}")
    val memberIds = KeyedStore.read(spark, s"$store/bands")
      .select(explode(col("members")).as("id"))
      .distinct().collect().map(_.getLong(0)).toSet
    assert(memberIds == Set(1L, 2L, 4L), s"store members: $memberIds")
    val dupMembers = KeyedStore.read(spark, s"$store/bands")
      .select(col("band"), col("key"), explode(col("members")).as("id"))
      .groupBy("band", "key", "id").count().filter(col("count") > 1).count()
    assert(dupMembers == 0, "replay duplicated bucket members")

    // payload ~1x: band rows carry ids only; each admitted vector's
    // (qv, nsq) lives in exactly one doc-store row
    val bandSchema = KeyedStore.read(spark, s"$store/bands").schema
    assert(!bandSchema.fieldNames.contains("qv"),
      "band rows must not carry vector payloads")
    val docRows = KeyedStore.read(spark, s"$store/docs")
      .groupBy("doc_id").count().collect()
    assert(docRows.map(_.getLong(0)).toSet == Set(1L, 2L, 4L))
    assert(docRows.forall(_.getLong(1) == 1L),
      "vector payload stored more than once")
  }

  test("no rescan of stored vectors: history detection reads only collided members") {
    // structural form of the O(batch) claim: probe cost is keyed by the
    // BATCH's band keys, so a batch colliding with nothing fetches no
    // stored payloads — assert via a store much larger than the batch
    // whose members stay untouched (their buckets aren't probed). Here:
    // admit 20 mutually-dissimilar vectors, then dedup a 1-near-copy
    // batch; the drop decision must come back identical whether the
    // other 19 admitted vectors exist or not.
    val big = tmp("embdedup-big")
    val small = tmp("embdedup-small")
    val basePool = (0L until 20L).map(i => (100L + i, baseVec(i), t1))
    step(df(basePool: _*), big)
    step(df((100L, vecA, t1)), small)
    val probe = df((500L, vecA2, t2), (501L, nudge(vecB), t2))
    val inBig = ids(step(probe, big))
    val inSmall = ids(step(probe, small))
    assert(inBig == Seq.empty[Long], s"big store missed near-dups: $inBig")
    // the small store only knows A — B's near-copy is novel there
    assert(inSmall == Seq(501L), s"small store: $inSmall")
  }

  test("in-batch near-dups resolve first-wins by (ts, id); un-bandable rows pass through") {
    import spark.implicits._
    val store = tmp("embdedup-inb")
    val b = Seq(
      (10L, vecA2, t2),        // later ts: loses to 11
      (11L, vecA, t1),
      (12L, Seq(1.0f, 2.0f), t1) // wrong width: cannot band, passes through
    ).toDF("doc_id", "vec", "ts")
    val n = step(b, store)
    assert(ids(n) == Seq(11L, 12L), s"got ${ids(n)}")
    val memberIds = KeyedStore.read(spark, s"$store/bands")
      .select(explode(col("members")).as("id"))
      .distinct().collect().map(_.getLong(0)).toSet
    assert(memberIds == Set(11L))
  }

  test("an ALL-null batch passes through whole; a wrong-width real vector still fails fast") {
    import spark.implicits._
    val store = tmp("embdedup-nullbatch")
    // transient embedder outage: every row null — the per-row null
    // pass-through writ large; must NOT kill the query as a dims
    // misconfiguration (nothing here contradicts dims)
    val allNull = Seq((30L, null.asInstanceOf[Seq[Float]], t1),
      (31L, null.asInstanceOf[Seq[Float]], t2)).toDF("doc_id", "vec", "ts")
    assert(ids(step(allNull, store)) == Seq(30L, 31L),
      "all-null batch did not pass through")
    // and none of them entered the band store
    assert(!KeyedStore.isInitialized(spark, s"$store/bands") ||
      KeyedStore.read(spark, s"$store/bands").isEmpty)
    // evidence of misconfiguration — a NON-null vector of the wrong
    // width with nothing banded — still fails fast
    val err = intercept[IllegalArgumentException] {
      step(Seq((40L, Seq(1.0f, 2.0f), t1),
        (41L, null.asInstanceOf[Seq[Float]], t1)).toDF("doc_id", "vec", "ts"),
        store)
    }
    assert(err.getMessage.contains("dims"))
  }

  test("duplicated ids within one batch collapse to the min-(ts,id) row") {
    val store = tmp("embdedup-dupid")
    val n = step(df(
      (20L, vecB, t2), // duplicate delivery of id 20: t1 row wins
      (20L, vecA, t1),
      (21L, vecC, t1)), store)
    assert(ids(n) == Seq(20L, 21L))
    val kept = n.filter(col("doc_id") === 20L).select("vec")
      .collect().head.getSeq[Float](0)
    assert(kept == vecA, "min-(ts,id) row did not win")
  }

  test("streaming form: near-dup rejection survives restart via the durable store") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val store = tmp("embdedup-s")
    val ckpt = tmp("embdedup-s-ckpt")
    val novel = scala.collection.mutable.ArrayBuffer[Long]()

    val ms = MemoryStream[(Long, Seq[Float], Timestamp)]
    def start() = Streams.foreachBatch(ms.toDS().toDF("doc_id", "vec", "ts"),
      Streams.DataSized, "append", Some(ckpt)) { (batch, _) =>
      val n = IncrementalEmbeddingNearDedup.dedupBatch(batch, "doc_id", "vec",
        "ts", store)
      novel ++= n.select("doc_id").collect().map(_.getLong(0))
    }

    val q1 = start()
    try {
      ms.addData((1L, vecA, t1), (2L, vecB, t1))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(novel.sorted == Seq(1L, 2L))

    // restart: only the durable band store rejects the near-copy
    val q2 = start()
    try {
      ms.addData((3L, vecA2, t3), (4L, vecC, t3))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(novel.sorted == Seq(1L, 2L, 4L), s"got ${novel.sorted}")
  }

  test("kill MID-BATCH (store upserted, offset uncommitted): resume replays the batch idempotently") {
    // the embedding twin of IncrementalNearDedupSpec's torn-state test:
    // dedupBatch has already upserted the band + vector stores when the
    // crash hits, the batch offset is never committed, and the resumed
    // stream must re-emit exactly the original novel rows against the
    // mutated store
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val store = tmp("embdedup-kill")
    val ckpt = tmp("embdedup-kill-ckpt")
    val emitted = scala.collection.mutable.ArrayBuffer[Long]()
    val failOnce = new java.util.concurrent.atomic.AtomicBoolean(true)

    val ms = MemoryStream[(Long, Seq[Float], Timestamp)]
    def start(crash: Boolean) = Streams.foreachBatch(
      ms.toDS().toDF("doc_id", "vec", "ts"), Streams.DataSized, "append",
      Some(ckpt)) { (batch, _) =>
      val n = IncrementalEmbeddingNearDedup.dedupBatch(batch, "doc_id", "vec",
        "ts", store)
      val idsNow = n.select("doc_id").collect().map(_.getLong(0))
      if (crash && failOnce.compareAndSet(true, false))
        sys.error("injected crash after store upsert")
      emitted ++= idsNow
    }

    ms.addData((1L, vecA, t1), (2L, vecB, t1))
    val q1 = start(crash = true)
    val ex = intercept[Exception] { q1.processAllAvailable() }
    q1.stop()
    assert(ex.getMessage.contains("injected crash") ||
      Option(ex.getCause).exists(_.getMessage.contains("injected crash")))
    assert(emitted.isEmpty, "crashed batch must not have been emitted")
    // the torn state is real: the dead batch DID mutate the store
    assert(KeyedStore.isInitialized(spark, s"$store/bands"))

    // resume: the uncommitted batch replays against the mutated store —
    // self-matches are skipped, the original novel rows emit once
    val q2 = start(crash = false)
    try { q2.processAllAvailable() } finally q2.stop()
    assert(emitted.sorted == Seq(1L, 2L), s"replayed emit: ${emitted.sorted}")

    // and post-resume batches keep deduping against the torn batch's
    // admissions: a near-copy of vector 1 is rejected
    val q3 = start(crash = false)
    try {
      ms.addData((3L, vecA2, t3), (4L, vecC, t3))
      q3.processAllAvailable()
    } finally q3.stop()
    assert(emitted.sorted == Seq(1L, 2L, 4L), s"post-resume: ${emitted.sorted}")
    val dupMembers = KeyedStore.read(spark, s"$store/bands")
      .select(col("band"), col("key"), explode(col("members")).as("id"))
      .groupBy("band", "key", "id").count().filter(col("count") > 1).count()
    assert(dupMembers == 0, "replay duplicated bucket members")
  }

  test("bucket member cap bounds store growth and keeps lowest ids") {
    val store = tmp("embdedup-cap")
    (0 until 5).foreach { i =>
      IncrementalEmbeddingNearDedup.dedupBatch(
        df((100L + i, baseVec(i.toLong), t1)), "doc_id", "vec", "ts",
        store, maxBucket = 3)
    }
    val maxLen = KeyedStore.read(spark, s"$store/bands")
      .select(max(size(col("members")))).collect().head.getInt(0)
    assert(maxLen <= 3, s"bucket grew past cap: $maxLen")
  }
}
