package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.core._
import graft.streaming.{DeltaTracker, Streams}

/** Streaming throughput micro-bench (the r8 verdict's task 4): rows/sec
  * through the engine's two hottest stateful streaming paths —
  * (1) MemoryStream → DeltaTracker.statewise (flatMapGroupsWithState) →
  * foreachBatch parquet store, and (2, r10) MemoryStream →
  * IncrementalDedup (durable KeyedStore + bloom gate, the LLM
  * pipeline's actual streaming workhorse) → novel-rows parquet sink —
  * each at two micro-batch sizes.
  *
  * The comparison frame is the reference's operational envelope
  * (BASELINE.md: Kafka Streams on 3-8 threads, 10 s commit interval,
  * ≤100-record polls — i.e. designed for ~10-100 records/sec feeds):
  * the numbers this main prints are how many rows/sec the SAME
  * topologies sustain here, state store + sink write included.
  * MemoryStream feeds from the driver, so the figures are a
  * single-node envelope — both operators are key-partitioned (state
  * scales with key cardinality across executors; the dedup store's
  * per-batch cost is bucket-pruned, not store-sized).
  *
  * Emits one JSON line per harness:
  * {"metric":"stream_rows_per_sec"|"incdedup_rows_per_sec","runs":[…]}.
  * A warmup batch is fed outside the clock (state-store init + codegen
  * JIT dominate a cold first micro-batch). StreamBenchSpec runs the
  * same harnesses small and asserts exactly-once row accounting.
  */
object StreamBench {

  final case class Result(batchRows: Int, batches: Int, keys: Int,
      totalRows: Long, storedRows: Long, sec: Double, rowsPerSec: Double)

  /** One micro-batch: `rows` snapshots over `keys` states, per-key
    * totals strictly increasing across batch indexes so every row
    * produces a real nonzero delta (no degenerate zero-work path).
    * Deterministic in (i, rows, keys). */
  def batch(i: Int, rows: Int, keys: Int): Seq[StampedStats] =
    (0 until rows).map { j =>
      val k = j % keys
      val seq = i.toLong * (rows / keys + 1) + j / keys
      val conf = seq * 7 + k + 1 // +1: k=0's first snapshot must still delta from the zero-init state
      StampedStats(
        new Timestamp(1586300000000L + seq * 1000L + k),
        StatewiseStats(
          active = (conf / 2).toString,
          confirmed = conf.toString,
          deaths = (seq + k).toString,
          recovered = (seq * 2 + k).toString,
          state = s"state-$k",
          statecode = s"S$k",
          lastupdatedtime = "08/04/2020 06:00:00"))
    }

  /** Feed `batches` micro-batches of `batchRows` rows and time the
    * processing (warmup batch excluded). `storedRows` counts what the
    * sink actually persisted for the measured batches — the spec's
    * exactly-once assertion. */
  def run(spark: SparkSession, batchRows: Int, batches: Int, keys: Int,
      outDir: String): Result = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[StampedStats]
    val store = s"$outDir/store"
    val warmupRows = math.min(batchRows, 1000)
    val q = Streams.foreachBatch(DeltaTracker.statewise(ms.toDS()).toDF(),
      "append", Some(s"$outDir/ck")) { (b, _) =>
      b.write.mode("append").parquet(store)
    }
    val (_, _, sec) = drive(q, ms, batch(0, warmupRows, keys), batches, Nil)(
      batch(_, batchRows, keys))(())
    val total = batchRows.toLong * batches
    val stored = spark.read.parquet(store).count() - warmupRows
    Result(batchRows, batches, keys, total, stored, sec, total / sec)
  }

  /** The loop every harness shares: feed `warmup` outside the clock
    * (state-store init + codegen JIT dominate a cold first
    * micro-batch), read the sink's post-warmup baseline with `settle`,
    * pre-build the `batches` feeds (driver-side row construction must
    * not charge data-generation cost to the engine's rows/sec), then
    * time `addData` + `processAllAvailable` per feed and, last, per
    * non-empty `flush`. `q` stops on every path. Returns the baseline,
    * the feeds and the timed seconds. */
  private def drive[A, B](q: StreamingQuery, ms: MemoryStream[A],
      warmup: Seq[A], batches: Int, flush: Seq[A])(
      feed: Int => Seq[A])(settle: => B): (B, Seq[Seq[A]], Double) =
    try {
      ms.addData(warmup)
      q.processAllAvailable()
      val base = settle
      val feeds = (1 to batches).map(feed)
      val t0 = System.nanoTime()
      (feeds :+ flush).filter(_.nonEmpty).foreach { f =>
        ms.addData(f)
        q.processAllAvailable()
      }
      (base, feeds, (System.nanoTime() - t0) / 1e9)
    } finally q.stop()

  /** Warmup size for the decade-structured document feeds: whole
    * decades, at most one 1,000-row batch. */
  private def decadeWarmup(batchRows: Int): Int =
    math.max(10, math.min(batchRows, 1000) / 10 * 10)

  /** One micro-batch of document events with a known duplicate
    * structure: global row index g takes the TEXT of row (g − g%10 + 3)
    * when g%10 < 3 — each decade of rows carries one 4-copy text group
    * + 6 unique texts, so exactly 7 novel documents per decade survive
    * the dedup (first-wins collapses the copy group to one row).
    * Batches own disjoint global-index ranges (rows % 10 == 0), so the
    * expected novel count is exact: 0.7 × rows × batches — the
    * accounting assertion. Texts lead with the key token (uniqueness is
    * STRUCTURAL — a vocab-modulus text could collide across decades and
    * silently shrink the novel count) followed by 19 shared-vocabulary
    * tokens, deterministic in (i, rows). */
  def dedupBatch(i: Int, rows: Int): Seq[(Long, String, Long)] = {
    require(rows % 10 == 0, s"rows must cover whole decades, got $rows")
    (0 until rows).map { j =>
      val g = i.toLong * rows + j
      val key = if (g % 10 < 3) g - g % 10 + 3 else g
      val text = s"k$key " + (1 until 20)
        .map(t => "w" + ((key * 31 + t * 7) % 50021)).mkString(" ")
      (g, text, 1586300000000000L + g)
    }
  }

  /** Feed `batches` micro-batches through the full incremental-dedup
    * topology (in-batch first-wins → bloom gate → bucket-pruned store
    * probe → novel rows out + fingerprint upsert) and time the
    * processing, warmup batch excluded. `storedRows` counts the novel
    * rows the sink persisted for the measured batches — exactly
    * 0.7 × totalRows by construction. */
  def runDedup(spark: SparkSession, batchRows: Int, batches: Int,
      outDir: String): Result = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[(Long, String, Long)]
    val novelDir = s"$outDir/novel"
    val q = Streams.foreachBatch(ms.toDF().toDF("doc_id", "text", "ts_us"),
      "append", Some(s"$outDir/ck")) { (b, _) =>
      graft.streaming.IncrementalDedup.dedupBatch(b, "doc_id", "text",
        "ts_us", s"$outDir/store",
        bloomExpectedItems = Some(batchRows.toLong * (batches + 1)))
        .write.mode("append").parquet(novelDir)
    }
    val (warmupNovel, _, sec) =
      drive(q, ms, dedupBatch(0, decadeWarmup(batchRows)), batches, Nil)(
        dedupBatch(_, batchRows))(spark.read.parquet(novelDir).count())
    val total = batchRows.toLong * batches
    val stored = spark.read.parquet(novelDir).count() - warmupNovel
    Result(batchRows, batches, 0, total, stored, sec, total / sec)
  }

  /** One micro-batch for the NEAR-dedup harness: [[dedupBatch]]'s
    * decade structure (3 copies + 1 original + 6 uniques → exactly 7
    * novel per 10) but with KEY-SALTED tokens, because the exact
    * harness's shared-vocabulary texts are arithmetic progressions mod
    * 50021 — any two keys with 31·d ≡ 7·m (mod 50021), |m| ≤ 18, share
    * a 19−|m| token RUN and therefore most of their word 3-grams, so
    * past ~50k rows nearly every doc has ~36 true near-dup "cousins"
    * and the feed collapses transitively (measured: 6,282 survivors of
    * an expected 35,000 — the large-size accounting caught what the
    * 1,200-row spec could not). Prefixing every token with the key makes
    * non-copy shingle sets DISJOINT, so the 7-in-10 accounting is
    * provable at any scale. */
  def nearDedupBatch(i: Int, rows: Int): Seq[(Long, String, Long)] = {
    require(rows % 10 == 0, s"rows must cover whole decades, got $rows")
    (0 until rows).map { j =>
      val g = i.toLong * rows + j
      val key = if (g % 10 < 3) g - g % 10 + 3 else g
      val text = s"k$key " + (1 until 20).map(t => s"g${key}_w$t").mkString(" ")
      (g, text, 1586300000000000L + g)
    }
  }

  /** Feed `batches` micro-batches through the incremental NEAR-dedup
    * topology ([[graft.streaming.IncrementalNearDedup]]: in-batch
    * MinHash-LSH first-wins → bucket-pruned band-store probe → exact
    * Jaccard verify against fetched payloads → novel rows out + band/
    * payload upsert) and time the processing, warmup excluded — the r10
    * verdict's task 5: the 100 TB near-dup workhorse was the one
    * Incremental* member without a throughput number.
    *
    * Feed: [[nearDedupBatch]]'s decade structure — a 30% duplicate
    * rate. Copies are EXACT so the accounting is exact: MinHash
    * detection of a J<1 near-pair is probabilistic (a 0.9-Jaccard pair
    * misses all 16 bands with p≈4e-8 — negligible for recall, fatal
    * for an exactly-once assertion), while identical shingle sets
    * collide in EVERY band, yet still exercise the full near-dup
    * machinery: signature computation, band explode, store probe,
    * payload fetch, exact-Jaccard verify. Non-copy docs are
    * shingle-disjoint by construction, so a stray band-hash collision
    * is verify-rejected and cannot move the count. `storedRows` must
    * equal 0.7 × totalRows exactly. */
  def runNearDedup(spark: SparkSession, batchRows: Int, batches: Int,
      outDir: String): Result = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[(Long, String, Long)]
    val novelDir = s"$outDir/novel"
    val q = Streams.foreachBatch(ms.toDF().toDF("doc_id", "text", "ts_us"),
      "append", Some(s"$outDir/ck")) { (b, _) =>
      graft.streaming.IncrementalNearDedup.dedupBatch(b, "doc_id", "text",
        "ts_us", s"$outDir/store").write.mode("append").parquet(novelDir)
    }
    val (warmupNovel, _, sec) =
      drive(q, ms, nearDedupBatch(0, decadeWarmup(batchRows)), batches, Nil)(
        nearDedupBatch(_, batchRows))(spark.read.parquet(novelDir).count())
    val total = batchRows.toLong * batches
    val stored = spark.read.parquet(novelDir).count() - warmupNovel
    Result(batchRows, batches, 0, total, stored, sec, total / sec)
  }

  /** One micro-batch for the CHUNK-dedup harness: 5 chunks of exactly
    * 8 key-salted words per document, with [[dedupBatch]]'s decade
    * structure applied at CHUNK grain — global chunk index h = 5·g + c
    * takes chunk-key (h − h%10 + 3) when h%10 < 3, so each decade of
    * chunks carries one 4-copy chunk group + 6 unique chunks and
    * exactly 7 of every 10 fed chunks are DISTINCT. Key-salting every
    * token makes non-copy chunks byte-disjoint (the [[nearDedupBatch]]
    * lesson), so the accounting is provable at any scale: after any
    * run, `stored chunk digests == 0.7 × chunks fed`. Documents are
    * all distinct (each doc mixes its own chunk keys), so every doc
    * produces an output row. `rows` must be even so batches own whole
    * chunk decades. */
  def chunkBatch(i: Int, rows: Int): Seq[(Long, String, Long)] = {
    require(rows % 2 == 0, s"rows must cover whole chunk decades, got $rows")
    (0 until rows).map { j =>
      val g = i.toLong * rows + j
      val text = (0 until 5).map { c =>
        val h = g * 5 + c
        val key = if (h % 10 < 3) h - h % 10 + 3 else h
        s"c$key " + (1 to 7).map(t => s"c${key}_$t").mkString(" ")
      }.mkString(" ")
      (g, text, 1586300000000000L + g)
    }
  }

  /** Feed `batches` micro-batches through the incremental CHUNK-dedup
    * topology ([[graft.streaming.IncrementalChunkDedup]]: in-batch
    * first-wins per digest → bloom gate → bucket-pruned store probe →
    * reassembly + novel digest upsert) and time the processing, warmup
    * excluded — the r12 verdict's task 3: one of the two remaining
    * durable-store streaming members with duality specs but no
    * throughput number. Exact accounting REQUIREs (warmup included —
    * the store is global): stored digests == 0.7 × chunks fed ==
    * Σ kept_chunks, and Σ total_chunks == 5 × docs fed. `storedRows`
    * reports the measured batches' kept chunks. */
  def runChunkDedup(spark: SparkSession, batchRows: Int, batches: Int,
      outDir: String): Result = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[(Long, String, Long)]
    val outParquet = s"$outDir/deduped"
    val store = s"$outDir/store"
    val q = Streams.foreachBatch(ms.toDF().toDF("doc_id", "text", "ts_us"),
      "append", Some(s"$outDir/ck")) { (b, _) =>
      graft.streaming.IncrementalChunkDedup.dedupBatch(b, "doc_id", "text",
        "ts_us", store, chunkWords = 8,
        bloomExpectedItems = Some(5L * batchRows * (batches + 1)))
        .select("doc_id", "total_chunks", "kept_chunks")
        .write.mode("append").parquet(outParquet)
    }
    val warmupRows = decadeWarmup(batchRows)
    val (warmupKept, _, sec) =
      drive(q, ms, chunkBatch(0, warmupRows), batches, Nil)(
        chunkBatch(_, batchRows))(
        spark.read.parquet(outParquet)
          .agg(org.apache.spark.sql.functions.sum("kept_chunks"))
          .collect().head.getLong(0))
    val total = batchRows.toLong * batches
    val fedChunks = 5L * (warmupRows + total)
    val out = spark.read.parquet(outParquet)
      .agg(org.apache.spark.sql.functions.sum("total_chunks"),
        org.apache.spark.sql.functions.sum("kept_chunks"))
      .collect().head
    val (sumTotal, sumKept) = (out.getLong(0), out.getLong(1))
    val storedDigests = graft.state.KeyedStore.read(spark, store).count()
    require(storedDigests * 10 == fedChunks * 7,
      s"chunk accounting: $storedDigests stored digests != " +
        s"0.7 x $fedChunks fed chunks")
    require(sumKept == storedDigests,
      s"chunk accounting: kept $sumKept != stored $storedDigests")
    require(sumTotal == fedChunks,
      s"chunk accounting: total_chunks $sumTotal != fed $fedChunks")
    Result(batchRows, batches, 0, total, sumKept - warmupKept, sec,
      total / sec)
  }

  /** One micro-batch for the SCD2 harness: `keys` entity keys ×
    * `changes` state changes each, every change a REAL transition
    * (states are per-key strictly increasing version tags, so no
    * consecutive-duplicate collapse hides work). Per-key timestamps
    * are globally monotone across batches (ts = changes·i + c), ties
    * are the global row index. After any run every fed event is a
    * distinct version: closed intervals == events fed − keys. */
  def scdChangeBatch(i: Int, keys: Int, changes: Int)
      : Seq[(Long, String, Long, Long)] =
    (0 until keys * changes).map { j =>
      val k = j / changes
      val c = j % changes
      val ts = i.toLong * changes + c
      (k.toLong, s"v$ts", ts, i.toLong * keys * changes + j)
    }

  /** Feed `batches` micro-batches through the incremental SCD2
    * topology ([[graft.streaming.IncrementalScd]]: store probe →
    * pseudo-event collapse → closed intervals out + open-run upsert)
    * and time the processing, warmup excluded — the r12 verdict's
    * task 3's second member. Exact accounting (warmup included):
    * emitted closed intervals == events fed − keys, and the closed
    * SET plus the store's open runs equal the BATCH REBUILD
    * ([[graft.operators.Scd.buildHistory]] over everything fed)
    * exactly — the duality claim, asserted at bench scale, not just
    * spec scale. `storedRows` reports the emitted closed intervals. */
  def runScd(spark: SparkSession, batchRows: Int, batches: Int,
      outDir: String): Result = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val changes = 10
    val keys = batchRows / changes
    val ms = MemoryStream[(Long, String, Long, Long)]
    val closedDir = s"$outDir/closed"
    val store = s"$outDir/store"
    val q = Streams.foreachBatch(
      ms.toDF().toDF("user_id", "state", "ts_us", "event_id"), "append",
      Some(s"$outDir/ck")) { (b, id) =>
      graft.streaming.IncrementalScd.scdBatch(b, "user_id", "state", "ts_us",
        "event_id", store, id).write.mode("append").parquet(closedDir)
    }
    // warmup: one change per key — initializes every key's open run
    val warmup = scdChangeBatch(0, keys, 1)
    val (_, feeds, sec) = drive(q, ms, warmup, batches, Nil)(
      scdChangeBatch(_, keys, changes))(())
    val total = batchRows.toLong * batches
    val fedEvents = warmup.size + total
    val closed = spark.read.parquet(closedDir)
      .select("user_id", "state", "version", "valid_from", "valid_to")
    val closedN = closed.count()
    require(closedN == fedEvents - keys,
      s"scd accounting: $closedN closed intervals != " +
        s"fed $fedEvents - $keys keys")
    // duality at bench scale: stream closed+open == batch rebuild
    val rebuild = graft.operators.Scd.buildHistory(
      (warmup ++ feeds.flatten).toDF("user_id", "state", "ts_us", "event_id"),
      "user_id", "state", "ts_us", "event_id").localCheckpoint(true)
    val rbClosed = rebuild.filter(!org.apache.spark.sql.functions.col("is_current"))
      .select("user_id", "state", "version", "valid_from", "valid_to")
    require(closed.except(rbClosed).isEmpty && rbClosed.except(closed).isEmpty,
      "scd duality: streamed closed intervals != batch rebuild")
    val open = graft.streaming.IncrementalScd
      .openRuns(spark, store, "user_id", "state")
      .select("user_id", "state", "version", "valid_from")
    val rbOpen = rebuild.filter(org.apache.spark.sql.functions.col("is_current"))
      .select("user_id", "state", "version", "valid_from")
    require(open.except(rbOpen).isEmpty && rbOpen.except(open).isEmpty,
      "scd duality: store open runs != batch rebuild current rows")
    Result(batchRows, batches, keys, total, closedN, sec, total / sec)
  }

  /** splitmix64 finalizer — deterministic pseudo-random 64-bit mix for
    * the embedding feed (no RNG object, pure function of the seed). */
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Deterministic embedding micro-batch with [[nearDedupBatch]]'s
    * decade structure — a 30% duplicate rate: row g's 64-dim vector is
    * a pure splitmix64 function of its KEY (members 0-2 of each decade
    * share member 3's key, hence its exact vector). Distinct keys give
    * i.i.d.-uniform components → pairwise |cos| ~ 1/√64, nowhere near
    * the 0.95 threshold, and the exact-cosine verify rejects any stray
    * band collision — so `storedRows` must equal 0.7 × totalRows
    * EXACTLY, same argument as the text feed's (exact copies collide
    * in every band; sign-LSH detection of a cos < 1 near-pair is
    * probabilistic, fine for recall, fatal for an exactly-once
    * assertion). */
  def embeddingBatch(i: Int, rows: Int, dims: Int = 64)
      : Seq[(Long, Array[Float], Long)] =
    (0 until rows).map { j =>
      val g = i.toLong * rows + j
      val key = if (g % 10 < 3) g - g % 10 + 3 else g
      // primitive array, not Seq: a boxed-Float 64-vector costs ~1.5 KB
      // against the array's ~300 B, and the pre-materialized feeds plus
      // MemoryStream's retained batches multiply that by every row fed
      val vec = new Array[Float](dims)
      var d = 0
      while (d < dims) {
        // uniform [-1, 1) from the top 53 bits
        vec(d) =
          ((mix64(key * 131071L + d) >>> 11) / 4503599627370496.0 - 1.0).toFloat
        d += 1
      }
      (g, vec, 1586300000000000L + g)
    }

  /** Feed `batches` micro-batches through the incremental EMBEDDING
    * near-dedup topology ([[graft.streaming.IncrementalEmbeddingNearDedup]]:
    * in-batch sign-LSH first-wins → bucket-pruned band-store probe →
    * exact integer-cosine verify against fetched quantized vectors →
    * novel rows out + band/payload upsert) and time the processing,
    * warmup excluded — the r11 verdict's task 6: the last Incremental*
    * member without a throughput number. Feed: [[embeddingBatch]]'s
    * 30%-exact-duplicate decades; accounting is exact by the same
    * argument as [[runNearDedup]]'s.
    *
    * Band sizing is the load-bearing knob at these batch sizes (the
    * q29 structural-cap lesson in streaming form): a 4-bit band has
    * 16 possible keys REGARDLESS of batch size, so at 10k rows every
    * bucket holds ~625 docs and the in-batch candidate join
    * materializes tens of millions of verify pairs per micro-batch —
    * the first two harness attempts spent minutes per batch and the
    * 100k size died on Spark's OOM exit (52) exactly there. 16-bit
    * bands (65 536 keys) keep expected bucket occupancy ≤ ~2 at the
    * 100k size; exact copies still collide in EVERY band, so the
    * 7-in-10 accounting stays exact, and stray random collisions
    * (~2⁻¹⁶ per band-pair) are verify-rejected. A production 0.95-
    * cosine deployment sizing for recall would raise nBands with the
    * same band width rather than shrink the key space. */
  def runEmbeddingNearDedup(spark: SparkSession, batchRows: Int,
      batches: Int, outDir: String): Result = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[(Long, Array[Float], Long)]
    val novelDir = s"$outDir/novel"
    val q = Streams.foreachBatch(ms.toDF().toDF("doc_id", "vec", "ts_us"),
      "append", Some(s"$outDir/ck")) { (b, _) =>
      graft.streaming.IncrementalEmbeddingNearDedup.dedupBatch(b, "doc_id",
        "vec", "ts_us", s"$outDir/store", nBands = 8, bandBits = 16)
        .write.mode("append").parquet(novelDir)
    }
    val (warmupNovel, _, sec) =
      drive(q, ms, embeddingBatch(0, decadeWarmup(batchRows)), batches, Nil)(
        embeddingBatch(_, batchRows))(spark.read.parquet(novelDir).count())
    val total = batchRows.toLong * batches
    val stored = spark.read.parquet(novelDir).count() - warmupNovel
    Result(batchRows, batches, 0, total, stored, sec, total / sec)
  }

  /** Deterministic (day, type, Δcount) delta rows: 365 day keys × 37
    * types, counts 1..5 — each global row index lands on a fixed cell,
    * so the total fed count per day is reproducible and the tracker's
    * final per-day `n` must equal it exactly (counts only grow, so the
    * max emission per day IS the final state — the accounting
    * assertion). */
  def entropyBatch(i: Int, rows: Int): Seq[graft.streaming.TypeCount] =
    (0 until rows).map { j =>
      val g = i.toLong * rows + j
      graft.streaming.TypeCount((g % 365).toInt, "t" + (g % 37), (g % 5) + 1)
    }

  /** Feed `batches` micro-batches of count deltas through
    * [[graft.streaming.EntropyTracker]] (day-keyed FMGWS, one mix map
    * per day, one entropy emission per touched day per batch) and time
    * the processing, warmup excluded. `storedRows` reports the summed
    * final per-day counts for the exactly-once accounting check. */
  def runEntropy(spark: SparkSession, batchRows: Int,
      batches: Int): Result = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[graft.streaming.TypeCount]
    val name = s"sb_entropy_${batchRows}_$batches"
    val q = graft.streaming.EntropyTracker.track(ms.toDS())
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    val warmup = entropyBatch(0, math.max(10, math.min(batchRows, 1000)))
    val (_, feeds, sec) =
      drive(q, ms, warmup, batches, Nil)(entropyBatch(_, batchRows))(())
    val total = batchRows.toLong * batches
    val fedC = (warmup ++ feeds.flatten).map(_.c).sum
    val finalN = spark.table(name)
      .groupBy("day").agg(org.apache.spark.sql.functions.max("n").as("n"))
      .agg(org.apache.spark.sql.functions.sum("n")).collect().head.getLong(0)
    require(finalN == fedC,
      s"entropy accounting: final per-day counts $finalN != fed $fedC")
    Result(batchRows, batches, 365, total, finalN, sec, total / sec)
  }

  /** Deterministic splitmix64 — distinct g ⇒ distinct 48-bit hash with
    * overwhelming probability, no RNG state. */
  private def mix48(g: Long): Long = {
    var z = g + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    ((z ^ (z >>> 31)) >>> 16) + 1 // (0, 2^48]
  }

  def kmvBatch(i: Int, rows: Int, keys: Int): Seq[graft.streaming.KeyedHash] =
    (0 until rows).map { j =>
      val g = i.toLong * rows + j
      graft.streaming.KeyedHash("k" + (g % keys), mix48(g))
    }

  /** Feed `batches` micro-batches of keyed hashes through
    * [[graft.streaming.KmvTracker]] (key-keyed FMGWS, ≤k longs of
    * state per key, one sketch emission per touched key per batch) and
    * time the processing, warmup excluded. The accounting assertion is
    * the tracker family's strongest: the final streaming sketch per
    * key must be BIT-IDENTICAL to the batch `KmvMins` aggregate over
    * everything fed (a set of mins is order- and duplicate-immune). */
  def runKmv(spark: SparkSession, batchRows: Int, batches: Int): Result = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val keys = 37
    val ms = MemoryStream[graft.streaming.KeyedHash]
    val name = s"sb_kmv_${batchRows}_$batches"
    val q = graft.streaming.KmvTracker.track(ms.toDS(), 256)
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    val warmup = kmvBatch(0, math.max(10, math.min(batchRows, 1000)), keys)
    val (_, feeds, sec) =
      drive(q, ms, warmup, batches, Nil)(kmvBatch(_, batchRows, keys))(())
    val total = batchRows.toLong * batches
    // duality accounting: last emission per key == batch aggregate
    val E = graft.functions.expressions.GraftExpressions
    val batch = (warmup ++ feeds.flatten).toDF("key", "h")
      .groupBy("key").agg(E.kmvMins(org.apache.spark.sql.functions.col("h"),
        256).as("sk"))
      .selectExpr("key", "size(sk) AS n_sk",
        "CASE WHEN size(sk) < 256 THEN 0L ELSE element_at(sk, 256) END AS hk")
      .collect().map(r => r.getString(0) -> (r.getInt(1), r.getLong(2))).toMap
    val emissions = spark.table(name)
      .as[graft.streaming.KmvPoint].collect()
    // latest per key by the tracker's monotone `ver`, not by row
    // position in the memory sink (non-contractual order — ADVICE r11)
    val last = emissions.groupBy(_.key)
      .map { case (_, xs) => xs.maxBy(_.ver) }
    require(last.size == keys, s"kmv: ${last.size} keys emitted, want $keys")
    last.foreach { p =>
      val (nSk, hk) = batch(p.key)
      require(p.nSk == nSk && p.hK == hk,
        s"kmv duality broke for ${p.key}: stream (${p.nSk},${p.hK}) " +
          s"!= batch ($nSk,$hk)")
    }
    Result(batchRows, batches, keys, total, total, sec, total / sec)
  }

  /** One micro-batch of skewed windowed events: each batch is one
    * 1-second event-time window; half the mass lands on 10 hot keys,
    * the rest spreads over 997 cold ones — the Zipf-ish shape
    * Misra-Gries exists for. */
  def hhBatch(i: Int, rows: Int): Seq[(java.sql.Timestamp, String)] =
    (0 until rows).map { j =>
      val keyId = if (j % 2 == 0) j % 10 else 10 + (j % 997)
      (new java.sql.Timestamp(i.toLong * 1000L + (j % 1000)), "k" + keyId)
    }

  /** Feed `batches` one-window micro-batches through
    * [[graft.streaming.HeavyHitters.windowedTopK]] (two chained
    * transformWithState stages: salted Misra-Gries shards → per-window
    * merge, state in the session's RocksDB provider) plus a flush batch
    * that closes every window, and time the processing, warmup excluded.
    * Accounting: every emitted (window, key) estimate must satisfy the
    * Misra-Gries bound est ≤ true ≤ est + maxErr against exact counts of
    * the fed rows, and each window's 3 hottest true keys must be present
    * in its emitted top-k (they sit far above the error bound by
    * construction). */
  def runHeavyHitters(spark: SparkSession, batchRows: Int,
      batches: Int): Result = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, String)]
    val name = s"sb_hh_${batchRows}_$batches"
    val q = graft.streaming.HeavyHitters.windowedTopK(
      ms.toDS().toDF("ts", "key"), "ts", "key",
      windowMillis = 1000L, graceMillis = 0L, capacity = 64, k = 10)
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    // warmup occupies window 0 — it must sit BELOW the measured
    // windows: a warmup past them would advance the event-time
    // watermark and turn every measured row into dropped late data.
    // The timed flush closes every fed window (event time past all ends).
    val (_, feeds, sec) = drive(q, ms,
      hhBatch(0, math.max(10, math.min(batchRows, 1000))), batches,
      Seq((new java.sql.Timestamp((batches + 10).toLong * 1000L),
        "flush")))(hhBatch(_, batchRows))(())
    val total = batchRows.toLong * batches
    val truth: Map[(Long, String), Long] = feeds.flatten
      .groupBy(r => (r._1.getTime / 1000L * 1000L, r._2))
      .map { case (k, xs) => k -> xs.size.toLong }
    val emitted: Array[(Long, String, Long, Long)] = spark.table(name)
      .filter(org.apache.spark.sql.functions.col("key").isNotNull)
      .select("windowStart", "key", "estCount", "maxErr")
      .collect()
      .map(r => (r.getTimestamp(0).getTime, r.getString(1),
        r.getLong(2), r.getLong(3)))
      .filter(t => t._1 / 1000L >= 1 && t._1 / 1000L <= batches)
    require(emitted.nonEmpty, "heavy hitters: no windows emitted")
    emitted.foreach { case (ws, k, est, err) =>
      val tru = truth.getOrElse((ws, k), 0L)
      require(est <= tru && tru <= est + err,
        s"MG bound broke for window $ws key $k: est=$est err=$err true=$tru")
    }
    val byWindow = emitted.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    (1 to batches).foreach { i =>
      val ws = i.toLong * 1000L
      val top3 = truth.collect { case ((w, k), c) if w == ws => k -> c }
        .toSeq.sortBy(-_._2).take(3).map(_._1)
      val got = byWindow.getOrElse(ws, Set.empty)
      top3.foreach(k => require(got.contains(k),
        s"window $ws lost true heavy hitter $k (got $got)"))
    }
    Result(batchRows, batches, 1007, total, total, sec, total / sec)
  }

  private def runsJson(results: Seq[Result]): String = results.map { r =>
    s"""{"batch_rows":${r.batchRows},"batches":${r.batches},""" +
      s""""keys":${r.keys},"total_rows":${r.totalRows},""" +
      s""""stored_rows":${r.storedRows},"sec":${r.sec},""" +
      s""""rows_per_sec":${math.round(r.rowsPerSec)}}"""
  }.mkString("[", ",", "]")

  def main(args: Array[String]): Unit = {
    val spark = GraftSession
      .configure(SparkSession.builder(), GraftSession.defaultCpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // dev-only harness filter (unset for driver runs = all harnesses),
    // the Bench SPARK_GRAFT_ONLY convention: comma-separated names from
    // {delta,incdedup,incchunkdedup,incscd,incneardedup,incembdedup,
    //  entropy,kmv,heavyhitters}
    val only = sys.env.get("SPARK_STREAMBENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    def want(name: String): Boolean = only.forall(_.contains(name))
    if (only.isDefined)
      System.err.println("[streambench] WARNING: SPARK_STREAMBENCH_ONLY " +
        s"is set — running only ${only.get.mkString(",")}")
    def tmp(prefix: String) =
      Files.createTempDirectory(prefix).toFile.getAbsolutePath
    // (name, printed metric, (batchRows, batches) sizes, harness)
    val harnesses = Seq[(String, String, Seq[(Int, Int)], (Int, Int) => Result)](
      ("delta", "stream", Seq((10000, 10), (100000, 5)),
        run(spark, _, _, 40, tmp("streambench"))),
      ("incdedup", "incdedup", Seq((10000, 10), (100000, 3)),
        runDedup(spark, _, _, tmp("streambench-dd"))),
      // chunk dedup pays 5 chunk-digest rows per doc where exact dedup
      // pays one fingerprint — near-dedup's batch sizing applies
      ("incchunkdedup", "incchunkdedup", Seq((10000, 5), (100000, 2)),
        runChunkDedup(spark, _, _, tmp("streambench-cd"))),
      // SCD2: per-batch cost is the batch window + a keys-sized store
      // round-trip, so it sustains the exact-dedup batch counts
      ("incscd", "incscd", Seq((10000, 10), (100000, 3)),
        runScd(spark, _, _, tmp("streambench-scd"))),
      // near-dedup pays ~16 band rows + a payload row per doc where exact
      // dedup pays one fingerprint — fewer batches at the large size keep
      // the harness bounded while still measuring a store 3 batches deep
      ("incneardedup", "incneardedup", Seq((10000, 5), (100000, 2)),
        runNearDedup(spark, _, _, tmp("streambench-nd"))),
      // embedding near-dedup: 8 band rows + one quantized-vector payload
      // row per admitted doc, 64 float components quantized per row —
      // the heaviest per-row Incremental* member, so the large size runs
      // 2 batches like the text near-dup harness; band bits sized to the
      // batch (see runEmbeddingNearDedup's scaladoc)
      ("incembdedup", "incembdedup", Seq((10000, 5), (100000, 2)),
        runEmbeddingNearDedup(spark, _, _, tmp("streambench-emb"))),
      ("entropy", "entropy", Seq((10000, 10), (100000, 5)),
        runEntropy(spark, _, _)),
      ("kmv", "kmv", Seq((10000, 10), (100000, 5)), runKmv(spark, _, _)),
      ("heavyhitters", "heavyhitters", Seq((10000, 10), (100000, 5)),
        runHeavyHitters(spark, _, _)))
    val results = harnesses.filter(h => want(h._1)).map {
      case (name, metric, sizes, harness) =>
        val runs = sizes.map { case (rows, n) =>
          System.err.println(s"[streambench] $name batchRows=$rows batches=$n")
          harness(rows, n)
        }
        println(s"""{"metric":"${metric}_rows_per_sec","runs":${runsJson(runs)}}""")
        name -> runs
    }.toMap
    def of(names: String*) = names.flatMap(results.getOrElse(_, Nil))
    spark.stop()
    if (of("delta").exists(r => r.storedRows != r.totalRows) ||
      of("incdedup", "incneardedup", "incembdedup")
        .exists(r => r.storedRows * 10 != r.totalRows * 7)) {
      System.err.println("[streambench] row accounting mismatch")
      sys.exit(1)
    }
  }
}
