package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.state.KeyedStore
import graft.streaming.{IncrementalNearDedup, Streams}

/** Incremental NEAR-dup dedup: batch N+1 detects near-duplicates of
  * everything admitted in batches ≤ N through bucket-pruned probes of
  * the durable band store — no rescan of stored documents — with
  * in-batch first-wins and idempotent re-emission on batch replay. */
class IncrementalNearDedupSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  private val t1 = Timestamp.valueOf("2020-04-08 00:00:00")
  private val t2 = Timestamp.valueOf("2020-04-08 06:00:00")
  private val t3 = Timestamp.valueOf("2020-04-08 12:00:00")

  // base texts: long enough to shingle, mutually dissimilar
  private val textA = ("the quick brown fox jumps over the lazy dog while " +
    "seventeen sleepy cats watch from a warm stone wall nearby every morning")
  private val textB = ("completely different subject matter entirely about " +
    "distributed query engines shuffling partitioned columnar data across " +
    "executor nodes under adaptive planning")
  private val textC = ("a third unrelated passage describing mountain " +
    "weather patterns with sudden storms rolling over granite ridges " +
    "before calm evenings settle in the valleys")
  // near-dup of A: one appended word => jaccard ≈ 0.95, not exact-equal
  private val textA2 = textA + " today"

  private def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.select("doc_id").collect().map(_.getLong(0)).toSeq.sorted

  test("batch N+1 drops near-dups of batch <= N via the band store; replay re-emits identically") {
    import spark.implicits._
    val store = tmp("neardedup")

    // batch 1: A and B are mutually novel
    val b1 = Seq((1L, textA, t1), (2L, textB, t1)).toDF("doc_id", "text", "ts")
    val n1 = IncrementalNearDedup.dedupBatch(b1, "doc_id", "text", "ts", store)
    assert(ids(n1) == Seq(1L, 2L))
    assert(KeyedStore.isInitialized(spark, s"$store/bands"))
    assert(KeyedStore.isInitialized(spark, s"$store/docs"))

    // batch 2: near-copy of A (not byte-equal!) dropped, C novel
    val b2 = Seq((3L, textA2, t2), (4L, textC, t2)).toDF("doc_id", "text", "ts")
    val n2 = IncrementalNearDedup.dedupBatch(b2, "doc_id", "text", "ts", store)
    assert(ids(n2) == Seq(4L), s"near-dup of history not dropped: ${ids(n2)}")

    // replay of batch 2 (at-least-once): same novel rows, store
    // converges to the same member sets (doc 4 recognized as itself,
    // doc 3 still a near-dup of doc 1)
    val n2r = IncrementalNearDedup.dedupBatch(b2, "doc_id", "text", "ts", store)
    assert(ids(n2r) == Seq(4L), s"replay diverged: ${ids(n2r)}")
    val memberIds = KeyedStore.read(spark, s"$store/bands")
      .select(explode(col("members")).as("id"))
      .distinct().collect().map(_.getLong(0)).toSet
    assert(memberIds == Set(1L, 2L, 4L), s"store members: $memberIds")

    // every stored bucket's member list is unique per doc (replay did
    // not duplicate members)
    val dupMembers = KeyedStore.read(spark, s"$store/bands")
      .select(col("band"), col("key"), explode(col("members")).as("id"))
      .groupBy("band", "key", "id").count().filter(col("count") > 1).count()
    assert(dupMembers == 0, "replay duplicated bucket members")

    // payload amplification is ~1x, not ~16x: the band rows carry
    // member IDS only (no shingle payload in the postings schema), and
    // each admitted doc's shingle set lives in exactly ONE doc-store
    // row — replay included
    val bandSchema = KeyedStore.read(spark, s"$store/bands").schema
    assert(!bandSchema.fieldNames.contains("shs"),
      "band rows must not carry shingle payloads")
    assert(bandSchema("members").dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType),
      s"members must be bare ids: ${bandSchema("members").dataType}")
    val docRows = KeyedStore.read(spark, s"$store/docs")
      .groupBy("doc_id").count().collect()
    assert(docRows.map(_.getLong(0)).toSet == Set(1L, 2L, 4L))
    assert(docRows.forall(_.getLong(1) == 1L),
      "doc payload stored more than once")
  }

  test("in-batch near-dups resolve first-wins by (ts, id); short docs pass through") {
    import spark.implicits._
    val store = tmp("neardedup-inb")
    val b = Seq(
      (10L, textA2, t2),   // later ts: loses to 11
      (11L, textA, t1),
      (12L, "tiny", t1)    // < 3 words: cannot shingle, passes through
    ).toDF("doc_id", "text", "ts")
    val n = IncrementalNearDedup.dedupBatch(b, "doc_id", "text", "ts", store)
    assert(ids(n) == Seq(11L, 12L), s"got ${ids(n)}")
    // the dropped doc's bands were never admitted to the store
    val memberIds = KeyedStore.read(spark, s"$store/bands")
      .select(explode(col("members")).as("id"))
      .distinct().collect().map(_.getLong(0)).toSet
    assert(memberIds == Set(11L))
  }

  test("duplicated ids within one batch collapse to the min-(ts,id) row") {
    import spark.implicits._
    val store = tmp("neardedup-dupid")
    val b = Seq(
      (20L, textB, t2),  // duplicate delivery of id 20: t1 row wins
      (20L, textA, t1),
      (21L, textC, t1)
    ).toDF("doc_id", "text", "ts")
    val n = IncrementalNearDedup.dedupBatch(b, "doc_id", "text", "ts", store)
    assert(ids(n) == Seq(20L, 21L))
    val kept = n.filter(col("doc_id") === 20L).select("text")
      .collect().head.getString(0)
    assert(kept == textA, "min-(ts,id) row did not win")
  }

  test("streaming form: near-dup rejection survives restart via the durable store") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val store = tmp("neardedup-s")
    val ckpt = tmp("neardedup-s-ckpt")
    val novel = scala.collection.mutable.ArrayBuffer[Long]()

    val ms = MemoryStream[(Long, String, Timestamp)]
    def start() = Streams.foreachBatch(ms.toDS().toDF("doc_id", "text", "ts"),
      "append", Some(ckpt)) { (batch, _) =>
      val n = IncrementalNearDedup.dedupBatch(batch, "doc_id", "text", "ts", store)
      novel ++= n.select("doc_id").collect().map(_.getLong(0))
    }

    val q1 = start()
    try {
      ms.addData((1L, textA, t1), (2L, textB, t1))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(novel.sorted == Seq(1L, 2L))

    // restart: only the durable band store rejects the near-copy
    val q2 = start()
    try {
      ms.addData((3L, textA2, t3), (4L, textC, t3))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(novel.sorted == Seq(1L, 2L, 4L), s"got ${novel.sorted}")
  }

  test("kill MID-BATCH (store upserted, offset uncommitted): resume replays the batch idempotently") {
    import spark.implicits._
    val base = Files.createTempDirectory("neardedup-kill").toString
    val (inDir, store, ckpt) = (s"$base/in", s"$base/store", s"$base/ckpt")
    new java.io.File(inDir).mkdirs()
    def writeBatch(file: String, rows: Seq[(Long, String, Long)]): Unit = {
      val w = new java.io.PrintWriter(s"$inDir/$file")
      rows.foreach { case (id, tx, ts) =>
        w.println(s"""{"doc_id":$id,"text":"$tx","epoch":$ts}""") }
      w.close()
    }
    val schema = "doc_id LONG, text STRING, epoch LONG"
    val emitted = scala.collection.mutable.ArrayBuffer[Long]()
    val failOnce = new java.util.concurrent.atomic.AtomicBoolean(true)
    def start(crash: Boolean) = Streams.foreachBatch(
      spark.readStream.schema(schema).json(inDir)
        .withColumn("ts", timestamp_seconds(col("epoch"))),
      "append", Some(ckpt)) { (batch, _) =>
      val n = IncrementalNearDedup.dedupBatch(batch, "doc_id", "text", "ts", store)
      // dedupBatch has ALREADY upserted the band + doc stores when this
      // callback runs — throwing here is the torn state: store mutated,
      // batch offset never committed
      val idsNow = n.select("doc_id").collect().map(_.getLong(0))
      if (crash && failOnce.compareAndSet(true, false))
        sys.error("injected crash after store upsert")
      emitted ++= idsNow
    }

    writeBatch("b0.json", Seq((1L, textA, 1000L), (2L, textB, 1000L)))
    val q1 = start(crash = true)
    val ex = intercept[Exception] { q1.processAllAvailable() }
    q1.stop()
    assert(ex.getMessage.contains("injected crash") ||
      Option(ex.getCause).exists(_.getMessage.contains("injected crash")))
    assert(emitted.isEmpty, "crashed batch must not have been emitted")
    // the torn state is real: the store WAS mutated by the dead batch
    assert(KeyedStore.isInitialized(spark, s"$store/bands"))

    // resume: the uncommitted batch replays against the already-mutated
    // store — novel rows emit exactly as they would have (self-matches
    // skipped), the store converges, nothing is emitted twice
    val q2 = start(crash = false)
    try { q2.processAllAvailable() } finally q2.stop()
    assert(emitted.sorted == Seq(1L, 2L), s"replayed emit: ${emitted.sorted}")

    // and the resumed pipeline keeps deduping against what the torn
    // batch admitted: a near-copy of doc 1 is rejected post-resume
    writeBatch("b1.json", Seq((3L, textA2, 2000L), (4L, textC, 2000L)))
    val q3 = start(crash = false)
    try { q3.processAllAvailable() } finally q3.stop()
    assert(emitted.sorted == Seq(1L, 2L, 4L), s"post-resume: ${emitted.sorted}")
    val dupMembers = KeyedStore.read(spark, s"$store/bands")
      .select(col("band"), col("key"), explode(col("members")).as("id"))
      .groupBy("band", "key", "id").count().filter(col("count") > 1).count()
    assert(dupMembers == 0, "replay duplicated bucket members")
  }

  test("crash between admit's two writes cannot wedge the stream (docs-first order, bands = commit point)") {
    import spark.implicits._
    val store = tmp("neardedup-torn")
    val b1 = Seq((1L, textA, t1), (2L, textB, t1)).toDF("doc_id", "text", "ts")
    IncrementalNearDedup.dedupBatch(b1, "doc_id", "text", "ts", store)

    // simulate the mid-admit crash state the write ORDER guarantees:
    // payloads on disk, band table not yet written. (The reverse —
    // bands without docs — is unreachable now; it was the state that
    // permanently wedged replays on the old order, because the replay
    // probes docs/ before it ever reaches admit.)
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmrf)
      f.delete(); ()
    }
    rmrf(new java.io.File(s"$store/bands"))
    assert(KeyedStore.isInitialized(spark, s"$store/docs"))
    assert(!KeyedStore.isInitialized(spark, s"$store/bands"),
      "bands table must be the commit point")

    // the replayed batch runs clean against the torn store (reads as
    // uninitialized — no probe of the orphaned payloads) and re-admits
    val n1r = IncrementalNearDedup.dedupBatch(b1, "doc_id", "text", "ts", store)
    assert(ids(n1r) == Seq(1L, 2L), s"replay over torn store: ${ids(n1r)}")

    // and the healed store dedups again: near-copy of doc 1 rejected
    val b2 = Seq((3L, textA2, t2), (4L, textC, t2)).toDF("doc_id", "text", "ts")
    val n2 = IncrementalNearDedup.dedupBatch(b2, "doc_id", "text", "ts", store)
    assert(ids(n2) == Seq(4L), s"post-heal dedup broken: ${ids(n2)}")
  }

  test("bucket member cap bounds store growth and keeps lowest ids") {
    import spark.implicits._
    val store = tmp("neardedup-cap")
    // 5 mutually-near-dup docs admitted ONE per batch so each becomes
    // history for the next; cap members at 3
    // (each batch's doc is a near-dup of doc 100 => dropped after b0;
    //  to grow the bucket, use genuinely distinct texts sharing bands —
    //  instead grow via distinct docs: admit distinct texts, then check
    //  the cap on a hot bucket cannot exceed maxBucket)
    val texts = Seq(textA, textB, textC,
      textA.replace("fox", "wolf").replace("cats", "dogs"),
      textB.replace("query", "stream").replace("columnar", "rowwise"))
    texts.zipWithIndex.foreach { case (tx, i) =>
      IncrementalNearDedup.dedupBatch(
        Seq((100L + i, tx, t1)).toDF("doc_id", "text", "ts"),
        "doc_id", "text", "ts", store, threshold = 0.9, maxBucket = 3)
    }
    val maxLen = KeyedStore.read(spark, s"$store/bands")
      .select(max(size(col("members")))).collect().head.getInt(0)
    assert(maxLen <= 3, s"bucket grew past cap: $maxLen")
  }
}
