package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale stress harness (dev-run, not part of the driver contract):
  * amplifies the sf corpus N× with a controlled duplicate structure,
  * then drives the flagship dedup/decontamination pipelines while
  * [[Measure.StageListener]] totals shuffle read/write bytes and spill
  * per harness stage.
  *
  * Purpose: the correctness gate proves the operators RIGHT at small
  * SF; this harness measures whether their cost curves stay LINEAR as
  * the corpus grows — per-row seconds and per-row shuffle bytes at
  * amplification N vs 4N should be flat if the shuffle keys, partial
  * aggregation, and digest-only exchanges hold (a super-linear bend
  * is exactly the 100 TB failure the scaladocs argue cannot happen;
  * this makes the argument measured instead of rhetorical). Results
  * are recorded in ARCHITECTURE.md's scale table per round.
  *
  * Amplified corpus: each source doc yields N replicas in
  * independent FAMILIES of 4 (g = r/4; every token is salted with the
  * family id, so families share NO grams and the duplicate structure
  * is scale-INVARIANT — doubling N doubles the corpus without
  * changing any dup family's size, which is what makes the N-vs-4N
  * per-doc comparison a measurement of the OPERATORS, not of a
  * corpus whose duplication rate drifts with N):
  *   r ≡ 0, 1 (mod 4): byte-exact duplicates of the family base,
  *   r ≡ 2 (mod 4): base plus one appended token (near-dup),
  *   r ≡ 3 (mod 4): replica-salted + reversed word order (unique).
  * Everything derives deterministically from (doc_id, r) — two runs
  * at the same (sf, N) see the identical corpus.
  *
  * Usage:
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_AMPLIFY=20 \
  *     sbt "runMain graft.Stress"
  * Emits one JSON line per stage and a closing summary line.
  */
object Stress {

  /** The summed stage rows of one harness stage. */
  final case class Tot(shufRead: Long, shufWrite: Long, spillMem: Long,
      spillDisk: Long, outBytes: Long, tasks: Long)
  def total(rows: Seq[Measure.StageRow]): Tot =
    Tot(rows.map(_.shuffleRead).sum, rows.map(_.shuffleWrite).sum,
      rows.map(_.spillMem).sum, rows.map(_.spillDisk).sum,
      rows.map(_.output).sum, rows.map(_.tasks.toLong).sum)

  def amplified(spark: SparkSession, sfDir: String, n: Int): DataFrame = {
    val docs = graft.sources.Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text", "source")
    val reps = spark.range(n.toLong).toDF("r")
    docs.crossJoin(broadcast(reps))
      .withColumn("g", concat(col("doc_id").cast("string"), lit("x"),
        floor(col("r") / 4).cast("string")))
      .withColumn("salted", array_join(
        transform(split(col("text"), " "),
          w => concat(lit("g"), col("g"), lit("_"), w)), " "))
      .select(
        (col("doc_id") * n + col("r")).as("doc_id"),
        when(col("r") % 4 <= 1, col("salted"))
          .when(col("r") % 4 === 2, concat(col("salted"), lit(" extra")))
          .otherwise(concat(lit("u"), col("r").cast("string"), lit(" "),
            array_join(reverse(split(col("salted"), " ")), " ")))
          .as("text"),
        col("source"))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val n = sys.env.get("SPARK_GRAFT_AMPLIFY").map(_.toInt).getOrElse(20)
    val spark = GraftSession.local()
    val listener = Measure.listen(spark)
    // jobs outside a measured stage (corpus builds, index seeds) count
    // as setup in the closing grand total
    spark.sparkContext.setLocalProperty(Measure.LabelProperty, "setup")
    // a label's totals, read only after the bus has delivered its stages
    def totals(label: String): Tot = {
      Measure.drain(spark)
      total(listener.rows(label))
    }

    // the amplified corpus materializes once per (sf, N) so every stage
    // reads the same columnar files (as production would), not the
    // generator; returns its root
    def corpusRoot(nAmp: Int): String = {
      val r = s"${System.getProperty("java.io.tmpdir")}/graft_stress/" +
        s"v2_${sfDir.replaceAll("[^A-Za-z0-9._-]", "_")}_x$nAmp"
      val marker = new java.io.File(s"$r/_done")
      if (!marker.exists()) {
        amplified(spark, sfDir, nAmp).repartition(32)
          .write.mode("overwrite").parquet(s"$r/documents")
        marker.createNewFile()
      }
      r
    }
    val root = corpusRoot(n)
    val corpus = spark.read.parquet(s"$root/documents")
    val nDocs = corpus.count()
    System.err.println(s"[stress] corpus: $nDocs docs at $root")

    // dev-only focus filter, mirrors Bench's SPARK_GRAFT_ONLY
    val only = sys.env.get("SPARK_GRAFT_STAGES")
      .map(_.split(",").map(_.trim).toSet)
    def stage(name: String)(df: => DataFrame): Unit = if (only.forall(_.contains(name))) {
      val sec = Measure.labelled(spark, name)(Measure.timedNoop(spark)(df))
      val m = totals(name)
      val json = f"""{"stage":"$name","sec":$sec%.2f,"docs":$nDocs,""" +
        f""""docs_per_sec":${nDocs / sec}%.0f,""" +
        s""""shuffle_read_b":${m.shufRead},"shuffle_write_b":${m.shufWrite},""" +
        s""""spill_mem_b":${m.spillMem},"spill_disk_b":${m.spillDisk},"tasks":${m.tasks}}"""
      println(json)
    }

    stage("exact_dedup") {
      graft.operators.Dedup.exact(corpus, "text", "doc_id")
    }
    stage("chunk_dedup") {
      graft.operators.Dedup.chunkDedup(corpus, "text", "doc_id")
        .select("doc_id", "total_chunks", "kept_chunks") // prune reassembly text
    }
    stage("span_strip") {
      graft.operators.Dedup.dupSpanStrip(corpus, "text", "doc_id")
        .select("doc_id", "n_tokens", "removed_tokens", "kept_tokens")
    }
    stage("minhash_pairs") {
      graft.operators.Dedup.portableMinhashLshPairs(corpus, "text", "doc_id",
        threshold = 0.5)
    }
    stage("minhash_lsh_resolve") {
      graft.operators.Dedup.resolve(
        graft.operators.Dedup.portableMinhashLshPairs(corpus, "text", "doc_id",
          threshold = 0.5))
    }
    stage("snapshot_diff") {
      // old = corpus; new drops every 7th doc and perturbs every 5th —
      // the digest-only full-outer diff must scale with doc COUNT, not
      // text volume (text never crosses its exchange)
      val newSnap = corpus.filter(col("doc_id") % 7 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
      graft.operators.SnapshotDiff.diff(corpus, newSnap, "doc_id", "text")
    }
    stage("bpe_train_encode") {
      // family-salted words make every family's vocab disjoint, so the
      // DISTINCT word table grows with the corpus — exactly the case
      // the TakeOrderedAndProject vocab cap exists for; the stage
      // times train (count+cap+merge loop) AND the full re-encode
      val merges = graft.operators.Bpe.learnMerges(corpus, "text",
        numMerges = 40, maxWords = 20000)
      graft.operators.Bpe.encode(corpus, "text", merges)
        .select(col("doc_id"), size(col("subwords")).as("n_subwords"))
    }
    stage("bloom_decontaminate") {
      def grams(df: DataFrame): DataFrame = df
        .select(col("doc_id"),
          explode(graft.functions.expressions.GraftExpressions.shingleHashes(
            split(col("text"), " "), 8, ordered = false, poly = true)).as("h"))
      val seen = grams(corpus.filter(col("doc_id") % 2 === 0))
      val flagged = graft.operators.BloomGate
        .gatedSemiJoin(grams(corpus.filter(col("doc_id") % 2 === 1)), "h",
          seen, "h", expectedItems = math.max(nDocs * 64, 1 << 20))
        .select("doc_id").distinct()
      corpus.filter(col("doc_id") % 2 === 1)
        .join(flagged, Seq("doc_id"), "left_anti")
        .select("doc_id", "source")
    }
    stage("sentence_dedup") {
      // q149's shape: sentence explode → digest projection → two
      // map-side-combined rollups; shuffle bytes must scale with
      // DISTINCT sentences (16-byte digests), not text volume
      corpus
        .select(col("source"), explode(split(col("text"), "[.!?]+")).as("s0"))
        .select(col("source"), trim(col("s0")).as("sent"))
        .filter(length(col("sent")) > 0)
        .select(col("source"), unhex(md5(col("sent"))).as("d"))
        .groupBy("source", "d").agg(count(lit(1)).as("c"))
        .groupBy("source")
        .agg(sum(col("c")).as("n_sentences"), count(lit(1)).as("n_distinct"))
    }
    stage("vocab_coverage") {
      // q150's shape: one corpus-sized count, then vocab-sized prefix
      // sums (one subtotal pass) — time and shuffle must be dominated
      // by the count stage, flat per-doc as N grows
      val counts = corpus
        .select(explode(split(col("text"), " ")).as("term"))
        .groupBy("term").agg(count(lit(1)).as("cnt"))
      graft.operators.Ranks.globalRunningSums(counts,
        Seq(col("cnt").desc, col("term").asc),
        Seq(col("cnt") -> "cum", lit(1L) -> "rnk"))
        .select("cum", "rnk")
    }
    // the q259 contrast pair: distinct-token cardinality per source,
    // exact vs KMV sketch. The salted amplified corpus grows the
    // distinct-token set linearly with N, so the exact path's shuffle
    // must grow with it while the sketch path ships ≤ k longs per
    // (partition, source) REGARDLESS of N — the measured form of the
    // KMV scale argument (curve recorded in ARCHITECTURE §4)
    def tokenHashes = corpus
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .select(col("source"), xxhash64(col("w")).as("h"))
    stage("exact_distinct") {
      tokenHashes.groupBy("source")
        .agg(count_distinct(col("h")).as("n_distinct"))
    }
    stage("kmv_sketch") {
      tokenHashes.groupBy("source")
        .agg(graft.functions.expressions.GraftExpressions
          .kmvMins(col("h"), 256).as("sk"))
        .select(col("source"), size(col("sk")).as("n_sk"))
    }
    // the q27/q44/q92/q143 family: exact n-gram Jaccard candidates,
    // connected-component resolve, and the two query shapes stacked on
    // top of resolve — the r8 verdict's "argued, not measured" gap.
    // Each stage re-derives its inputs (a stage measures the WHOLE
    // query shape, as the bench does), so the deltas between them
    // isolate the marginal cost of resolve / histogram / pipeline.
    def ngramPairs = graft.operators.Dedup.jaccardPairs(
      graft.operators.Dedup.shingleProjection(corpus, "text", "doc_id"),
      threshold = 0.5, maxDf = 1000)
    stage("ngram_jaccard_pairs") { ngramPairs } // q27 shape
    stage("ngram_resolve") { // q44 shape
      graft.operators.Dedup.resolve(ngramPairs)
    }
    stage("dup_cluster_histogram") { // q92 shape
      graft.operators.Dedup.resolve(ngramPairs)
        .groupBy("canonical_id").agg(count(lit(1)).as("sz"))
        .groupBy("sz").agg(count(lit(1)).as("n_clusters"))
    }
    stage("corpus_pipeline_v4") { // q143 shape (n_chars := length(text))
      import graft.functions.expressions.{GraftExpressions => E}
      val docs2 = corpus.withColumn("n_chars", length(col("text")))
      val labels = graft.operators.Dedup.resolve(ngramPairs)
        .localCheckpoint(true)
      val winners = labels
        .join(docs2.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
        .groupBy("canonical_id")
        .agg(E.topKByScore(col("n_chars").cast("double"), col("doc_id"), 1)
          .as("tk"))
        .select(col("canonical_id"),
          element_at(col("tk"), 1).getField("id").as("doc_id"))
      docs2
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
        .join(labels, Seq("doc_id"), "left")
        .join(winners.select(col("doc_id"), lit(true).as("is_win")),
          Seq("doc_id"), "left")
        .filter(col("canonical_id").isNull || col("is_win"))
        .select(col("source"), col("n_tok"),
          coalesce(col("canonical_id"), col("doc_id")).as("canon"))
        .withColumn("split", graft.operators.Sampling.splitColumn(col("canon")))
        .groupBy("split", "source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
    }
    stage("prefix_filter_candidates") {
      // q168's candidate stage alone; the verify REMAINDER (array
      // fetch-back + intersect) = prefix_filter_pairs − this, per point
      graft.operators.Dedup.prefixCandidatePairs(
        graft.operators.Dedup.cappedShingles(
          graft.operators.Dedup.shingleProjection(corpus, "text", "doc_id"),
          maxDf = 1000),
        threshold = 0.5)
    }
    stage("prefix_filter_pairs") {
      // q168's AllPairs shape vs minhash_pairs above: candidate join
      // traffic is prefix-bounded, the verify fetch-back O(candidates);
      // per-doc cost and shuffle must stay flat as N grows (dup
      // families are scale-invariant, so candidates grow linearly)
      graft.operators.Dedup.prefixFilterJaccardPairs(
        graft.operators.Dedup.shingleProjection(corpus, "text", "doc_id"),
        threshold = 0.5, maxDf = 1000)
    }
    stage("scd2_history") {
      // q169's shape on a synthesized change stream (≈20 events/key,
      // state from the source column): every window is key-partitioned,
      // so the sort cost is per-key and the curve must stay linear
      val ev = corpus.select(
        (col("doc_id") % (nDocs / 20 + 1)).as("user_id"),
        col("source").as("state"), col("doc_id").as("ts_us"),
        col("doc_id").as("event_id"))
      graft.operators.Scd.buildHistory(ev, "user_id", "state",
        "ts_us", "event_id")
    }
    stage("range_join_binned") {
      // q170's shape: 1,000 overlapping windows over the doc_id
      // timeline, hash equi-join on bin ids — join traffic scales with
      // points + windows×span/bin, never points×windows
      val step = nDocs / 1000L + 1L
      val wins = spark.range(1000).select(col("id").as("window_id"),
        (col("id") * step).as("lo"), (col("id") * step + 2L * step).as("hi"))
      graft.operators.RangeJoin.binnedPointJoin(
          corpus.select(col("doc_id").as("pt"), col("source")), "pt",
          wins, "lo", "hi", binWidth = 2L * step)
        .groupBy("window_id").agg(count(lit(1)).as("n"))
    }
    stage("triangle_counts") {
      // q199's operator on a graph built to punish naive wedge
      // enumeration: a K4 per 4-doc group (constant local structure —
      // per-node triangle count is scale-INVARIANT) plus ONE global
      // hub adjacent to every group. The hub's degree grows linearly
      // with the corpus, so an unoriented wedge build would fan out
      // |groups|² pairs at it; under the degree-ordered orientation
      // every hub edge points INTO the hub (it is the (degree, id)-
      // maximal endpoint), so it fans out ZERO wedges — the curve
      // staying linear IS the hub-safety argument, measured.
      val ids = corpus.select(col("doc_id").as("v"))
        .withColumn("fam", expr("v div 4")).localCheckpoint(true)
      val k4 = ids.as("a").join(ids.as("b"),
          col("a.fam") === col("b.fam") && col("a.v") < col("b.v"))
        .select(col("a.v").as("item_a"), col("b.v").as("item_b"))
      val hub = ids.filter(expr("v % 4 = 0"))
        .select(lit(-1L).as("item_a"), col("v").as("item_b"))
      graft.operators.Centrality.triangleCountsWithDegrees(
        k4.unionByName(hub))
    }
    stage("bfs_distances") {
      // q214/q215's operator on the same hub-adversarial graph as
      // triangle_counts: BFS from the hub reaches every v%4==0 node at
      // hop 1 (a frontier of |groups| rows — the hub's one rank row
      // replicates across edge partitions, the AQE skew shape) and the
      // rest at hop 2, then two empty layers. Frontier joins, distinct
      // and anti-join traffic must all scale linearly with the corpus;
      // a super-linear bend means the anti-join re-shuffles the
      // accumulated reach instead of the new layer.
      val ids = corpus.select(col("doc_id").as("v"))
        .withColumn("fam", expr("v div 4")).localCheckpoint(true)
      val k4 = ids.as("a").join(ids.as("b"),
          col("a.fam") === col("b.fam") && col("a.v") < col("b.v"))
        .select(col("a.v").as("item_a"), col("b.v").as("item_b"))
      val hub = ids.filter(expr("v % 4 = 0"))
        .select(lit(-1L).as("item_a"), col("v").as("item_b"))
      val pairs = k4.unionByName(hub)
      val edges = pairs
        .select(col("item_a").as("src"), col("item_b").as("dst"))
        .unionByName(pairs
          .select(col("item_b").as("src"), col("item_a").as("dst")))
      graft.operators.Paths.boundedDistances(edges,
        spark.range(1).select(lit(-1L).as("id")), maxHops = 4)
        .groupBy("dist").agg(count(lit(1)).as("n"))
    }
    stage("positional_postings") {
      // TextIndex.build's dominant stage (the per-term posting-list
      // collect): shuffle bytes scale with token count; the family-
      // salted vocab keeps posting lists bounded, so no single-term
      // straggler appears as N grows
      graft.operators.TextIndex.postingRowsForStress(corpus)
        .select(col("term"), col("df"), size(col("postings")).as("np"))
    }
    // ---- text-index UPSERT locality curve (r9 verdict task 4) ----
    // A FIXED 200-doc replace batch over a FIXED 40-term vocabulary
    // (seed upsert re-establishes version A every run, the measured
    // upsert replaces A -> B — old+new term sets both live inside the
    // vocab, so the touched term-bucket count is batch-determined).
    // Two series against indexes built over the amplified corpora:
    //   (a) n_buckets PINNED at 16 across 25k/100k/400k docs — every
    //       bucket is touched, so rewrite bytes grow WITH the index
    //       (the honest falsification of the r9 "sublinear" claim);
    //   (b) n_buckets SCALED with corpus (16@x5, 64@x20, 256@x80) —
    //       rewrite bytes ~ touched_buckets x bucket_size, flat-ish
    //       while the index grows 16x (the knob restores locality).
    // `side` effects (parquet writes) are what we measure: out_bytes is
    // the listener's task outputMetrics total for the stage — staging +
    // dynamic overwrite + fwd + stats, i.e. everything the upsert puts
    // on disk.
    def upsertDoc(i: Int, ver: Int): (Long, String) =
      (10000000L + i, (0 until 20)
        .map(t => "uv" + ((i * 7 + t * 3 + ver) % 40)).mkString(" "))
    def upsertCurve(nAmp: Int, nb: Int): Unit = {
      val name = s"upsert_x${nAmp}_b$nb"
      if (only.forall(_.contains(name))) {
        import spark.implicits._
        val corpusN =
          if (nAmp == n) corpus
          else spark.read.parquet(s"${corpusRoot(nAmp)}/documents")
        val root = s"${System.getProperty("java.io.tmpdir")}/graft_stress/" +
          s"tidx_${sfDir.replaceAll("[^A-Za-z0-9._-]", "_")}_x${nAmp}_b$nb"
        Measure.labelled(spark, s"${name}_build") {
          graft.operators.TextIndex.ensure(
            corpusN.select("doc_id", "text"), root, maxDf = 0, numBuckets = nb)
        }
        Measure.labelled(spark, s"${name}_seed") {
          graft.operators.TextIndex.upsert(
            (0 until 200).map(upsertDoc(_, 0)).toDF("doc_id", "text"), root)
        }
        val sec = Measure.labelled(spark, name)(Measure.timed(spark) {
          graft.operators.TextIndex.upsert(
            (0 until 200).map(upsertDoc(_, 1)).toDF("doc_id", "text"), root)
        })
        val m = totals(name)
        val idxBytes = {
          val p = new org.apache.hadoop.fs.Path(s"$root/postings")
          p.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .getContentSummary(p).getLength
        }
        println(f"""{"stage":"$name","sec":$sec%.2f,""" +
          s""""docs":${nDocs / n * nAmp},"n_buckets":$nb,""" +
          s""""out_bytes":${m.outBytes},"index_bytes":$idxBytes,""" +
          s""""shuffle_write_b":${m.shufWrite},"tasks":${m.tasks}}""")
      }
    }
    // series (a): pinned buckets, growing index
    upsertCurve(5, 16); upsertCurve(20, 16); upsertCurve(80, 16)
    // series (b): buckets scaled with the corpus
    upsertCurve(20, 64); upsertCurve(80, 256)
    // ---- KeyedStore UPSERT locality curve (r10 verdict task 6) ----
    // The text-index falsification (fixed buckets ⇒ rewrite linear in
    // store size) applies STRUCTURALLY to the durable serving stores:
    // KeyedStore.upsert rewrites every bucket a changed key hashes
    // into, and with the 8-bucket default a realistic changed batch
    // touches all 8, so per-batch IO grows with the table. A FIXED
    // 32-key changed batch against 25k/100k/400k-row stores, two
    // series:
    //   (a) numBuckets PINNED at the DefaultBuckets=8 — 32 spread keys
    //       touch every bucket; rewrite bytes grow with the store;
    //   (b) numBuckets SCALED so a bucket stays ~400 rows (64@25k,
    //       256@100k, 1024@400k) — touched buckets ≈ |batch| of FIXED
    //       size, so rewrite bytes stay ~flat across 16× store growth.
    // The knob itself already exists and is recorded in the table's
    // _graft_buckets marker (bucketCountOf) — this curve MEASURES it,
    // which is what the TextIndex episode taught: claim nothing about
    // locality that a 5-point curve hasn't shown.
    def storeCurve(nRows: Int, nb: Int): Unit = {
      val name = s"kvupsert_${nRows / 1000}k_b$nb"
      if (only.forall(_.contains(name))) {
        val root = s"${System.getProperty("java.io.tmpdir")}/graft_stress/" +
          s"kvstore_${nRows}_b$nb"
        // fresh store each run: the measured upsert must hit a
        // deterministic layout, not residue from a prior run
        val p = new org.apache.hadoop.fs.Path(root)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.delete(p, true)
        Measure.labelled(spark, s"${name}_build") {
          val base = spark.range(nRows.toLong).select(
            col("id").as("k"), (col("id") * 7).as("total"), lit(0L).as("ver"))
          graft.state.KeyedStore.upsert(base, Seq("k"), root, numBuckets = nb)
        }
        val sec = Measure.labelled(spark, name)(Measure.timed(spark) {
          val batch = spark.range(32).select(
            (col("id") * (nRows / 32) + 5).as("k"),
            (col("id") * 7 + 1).as("total"), lit(1L).as("ver"))
          graft.state.KeyedStore.upsert(batch, Seq("k"), root)
        })
        val m = totals(name)
        val storeBytes = fs.getContentSummary(p).getLength
        println(f"""{"stage":"$name","sec":$sec%.2f,""" +
          s""""store_rows":$nRows,"n_buckets":$nb,""" +
          s""""out_bytes":${m.outBytes},"store_bytes":$storeBytes,""" +
          s""""shuffle_write_b":${m.shufWrite},"tasks":${m.tasks}}""")
      }
    }
    // series (a): pinned default buckets, growing store
    storeCurve(25000, 8); storeCurve(100000, 8); storeCurve(400000, 8)
    // series (b): buckets scaled with the store
    storeCurve(25000, 64); storeCurve(100000, 256); storeCurve(400000, 1024)
    // ---- doubled tie-rank machinery curve (r12 verdict task 4) ----
    // q222's distinct-value-grain tie-averaged doubled-rank prefix sum
    // (one grouped count -> Ranks.globalRunningSum over the VALUE
    // table -> value-grain joins, mannWhitneyReport) now underpins
    // five oracled queries (q222 Mann-Whitney, q290 MAP@10's rank
    // reads, q293 Kruskal-Wallis, q297 ROC AUC, the q219-q221 family).
    // Its scaling CLAIM: cost rides DISTINCT-VALUE grain, not row
    // grain — the only row-grain work is one map-side-combined
    // groupBy, so shuffle bytes ~ distinct x partitions, and the
    // prefix sum / joins never see rows. Falsify-then-measure, the
    // text-index/KeyedStore curve discipline:
    //   (a) rows 2M -> 8M -> 32M at FIXED 200 distinct values: shuffle
    //       bytes must stay ~flat (partial agg compresses to value
    //       grain before the exchange); wall time may grow with the
    //       scan but per-row cost must not bend upward;
    //   (b) distinct 100 -> 10k -> 1M at FIXED 8M rows: shuffle and
    //       the value-table stages grow with distinct — that growth is
    //       the machinery working as designed, not a failure.
    // FALLBACK if (a) bends super-linear in shuffle: salt the value
    // key for a two-level combine before the grouped count (the q29
    // band-width move, aggregation-shaped). The generator (range +
    // xxhash64 + pmod, pure codegen, no IO) is identical per row
    // across all six points, so cross-point comparisons measure the
    // machinery, not the feed.
    def rankStage(rows: Long, distinct: Long): Unit = {
      val name = s"rank_r${rows / 1000000}m_d$distinct"
      if (only.forall(_.contains(name))) {
        val sec = Measure.labelled(spark, name)(Measure.timedNoop(spark) {
          graft.queries.StatQueries.mannWhitneyReport(
            spark.range(rows).select(
              concat(lit("s"), pmod(col("id"), lit(20L)).cast("string"))
                .as("source"),
              pmod(xxhash64(col("id")), lit(distinct)).as("x")))
        })
        val m = totals(name)
        println(f"""{"stage":"$name","sec":$sec%.2f,""" +
          s""""rows":$rows,"distinct":$distinct,""" +
          f""""rows_per_sec":${rows / sec}%.0f,""" +
          s""""shuffle_read_b":${m.shufRead},"shuffle_write_b":${m.shufWrite},""" +
          s""""spill_mem_b":${m.spillMem},"spill_disk_b":${m.spillDisk},""" +
          s""""tasks":${m.tasks}}""")
      }
    }
    // series (a): rows grow, distinct pinned
    rankStage(2000000L, 200L); rankStage(8000000L, 200L)
    rankStage(32000000L, 200L)
    // series (b): distinct grows, rows pinned
    rankStage(8000000L, 100L); rankStage(8000000L, 10000L)
    rankStage(8000000L, 1000000L)
    // ---- bounded-hop BFS curve (r13 verdict task 3) ----
    // q214/q215 are the largest honest bench cost class (3-4 s)
    // whose scaling claim ("each iteration's join is proportional to
    // the NEW layer, not the accumulated reach" — Paths.scala:33-35)
    // was argued, not measured. The claim to falsify: per-hop cost
    // rides FRONTIER × mean degree, not graph size. Synthetic layered
    // graph, pure codegen (range + floor/pmod, no IO): H layers of
    // width W, every node in layer l has `deg` out-edges into layer
    // l+1 (src = l·W+i → dst = (l+1)·W + (i+k) mod W), seeds = layer
    // 0 — so the frontier is EXACTLY W at every hop and the layer
    // count is EXACTLY the hop count; nothing about the duplicate
    // structure drifts between points. Distractor axis: xMul−1 extra
    // copies of the edge volume between nodes in a disjoint id space
    // (offset 2⁴⁰, pmod-hashed) — reachable structure IDENTICAL,
    // total edge table xMul× bigger.
    //   (a) hops 4 → 8 → 16 at fixed W=20k: marginal sec/hop flat
    //       (each layer does the same join + distinct + anti-join);
    //   (b) frontier 5k → 20k → 80k at fixed 8 hops: per-hop cost
    //       grows ~linearly with W×deg — that is the machinery
    //       working, not a failure;
    //   (c) edges ×1 → ×4 → ×16 at fixed W=20k, 8 hops: per-hop
    //       SHUFFLE must stay flat (the frontier side broadcasts or
    //       exchanges ~W rows; distinct and anti-join traffic ride
    //       the layer) — the graph-size falsification axis. The known
    //       honest residual: each hop re-SCANS the pinned edge table
    //       (a cached columnar read, no shuffle), so wall time may
    //       grow mildly with xMul even when shuffle stays flat.
    // FALLBACK if (c) bends in SHUFFLE (the anti-join re-shuffling
    // accumulated reach, or the edge side exchanging per hop):
    // pre-hash-partition the pinned edge table on src so the per-hop
    // join only exchanges the frontier side. FALLBACK if (c) bends in
    // WALL beyond the scan share: bucket edges by src at rest and
    // semi-join-prune scanned buckets against the frontier's bucket
    // set (frontier-bitmap pruning) — at 100 TB the edge table is a
    // bucketed parquet table, so the prune is partition elimination,
    // not an in-memory filter.
    // Each point times the FULL boundedDistances call (pin included,
    // as the bench does) and a hops=2 run on the SAME pinned-input
    // graph under label <name>_h2 — (sec − sec_h2)/(hops − 2) is the
    // marginal per-hop cost with the one-time edge pin subtracted
    // out, which is what series (c) needs (the pin itself grows with
    // xMul by construction; the CLAIM is about the per-hop loop).
    def bfsStage(w: Long, hops: Int, deg: Long, xMul: Long): Unit = {
      val name = s"bfs_w${w / 1000}k_h${hops}_x$xMul"
      if (only.forall(_.contains(name))) {
        val layerEdges = w * deg
        val base = spark.range(hops.toLong * layerEdges).select(
          (floor(col("id") / layerEdges) * w +
            pmod(floor(col("id") / deg), lit(w))).as("src"),
          ((floor(col("id") / layerEdges) + 1L) * w +
            pmod(floor(col("id") / deg) + pmod(col("id"), lit(deg)),
              lit(w))).as("dst"))
        val off = 1L << 40
        val edges = if (xMul <= 1L) base else base.unionByName(
          spark.range((xMul - 1L) * hops * layerEdges).select(
            (lit(off) + pmod(xxhash64(col("id")), lit(w * hops))).as("src"),
            (lit(off) + pmod(xxhash64(col("id") + 777L), lit(w * hops)))
              .as("dst")))
        val seeds = spark.range(w).select(col("id"))
        def run(label: String, mh: Int): Double =
          Measure.labelled(spark, label)(Measure.timedNoop(spark) {
            graft.operators.Paths.boundedDistances(edges, seeds, maxHops = mh)
              .groupBy("dist").agg(count(lit(1)).as("n"))
          })
        val sec2 = run(s"${name}_h2", 2)
        val sec = run(name, hops)
        val m = totals(name)
        println(f"""{"stage":"$name","sec":$sec%.2f,"sec_h2":$sec2%.2f,""" +
          f""""sec_per_hop":${(sec - sec2) / (hops - 2)}%.3f,""" +
          s""""frontier":$w,"hops":$hops,"deg":$deg,""" +
          s""""edges":${xMul * hops * layerEdges},""" +
          s""""shuffle_read_b":${m.shufRead},"shuffle_write_b":${m.shufWrite},""" +
          s""""spill_mem_b":${m.spillMem},"spill_disk_b":${m.spillDisk},""" +
          s""""tasks":${m.tasks}}""")
      }
    }
    // series (a): hops grow, frontier pinned
    bfsStage(20000L, 4, 4L, 1L); bfsStage(20000L, 8, 4L, 1L)
    bfsStage(20000L, 16, 4L, 1L)
    // series (b): frontier grows, hops pinned (20k point shared with (a))
    bfsStage(5000L, 8, 4L, 1L); bfsStage(80000L, 8, 4L, 1L)
    // series (c): graph size grows, frontier AND hops pinned
    bfsStage(20000L, 8, 4L, 4L); bfsStage(20000L, 8, 4L, 16L)
    // ---- PageRank iteration curve (r14, rides the BFS finding) ----
    // integerPageRank got the same cache-partitioned edge pin as the
    // BFS fix (Centrality.scala); this curve measures ITS OWN claim:
    // per-iteration SHUFFLE rides NODE grain (the inflow partial-
    // aggregates to dst before its exchange and the rank table is
    // node-grain), while the edge table — scanned in full every
    // iteration, that IS the algorithm — contributes no per-iteration
    // exchange after the one-time pin. Synthetic graph, pure codegen:
    // N nodes, N·deg edges with xxhash64-spread endpoints (skew-free
    // by construction — hub behavior is q261/q266's concern; this
    // isolates the iteration machinery).
    //   (a) iters 4 → 8 at fixed (200k, deg 4): marginal sec/iter
    //       flat, shuffle linear in iters at NODE grain;
    //   (b) deg 4 → 16 → 64 at fixed 200k nodes, 4 iters: total
    //       edges grow 16× — per-iteration shuffle must stay ~flat
    //       (node-grain), wall grows only with the cached scan.
    // Each point also runs iters=2 on the same graph (label <name>_i2)
    // so sec_per_iter = (sec − sec_i2)/(iters − 2) excludes the pin.
    // FALLBACK if (b) bends in shuffle: the inflow's partial agg is
    // not combining (check spark.sql.aggregate partial-merge in the
    // plan) — force a two-level combine by salting dst.
    def prStage(nNodes: Long, deg: Long, iters: Int): Unit = {
      val name = s"pagerank_n${nNodes / 1000}k_d${deg}_i$iters"
      if (only.forall(_.contains(name))) {
        val edges = spark.range(nNodes * deg).select(
          pmod(xxhash64(col("id")), lit(nNodes)).as("src"),
          pmod(xxhash64(col("id") + 1234567L), lit(nNodes)).as("dst"))
        def run(label: String, it: Int): Double =
          Measure.labelled(spark, label)(Measure.timedNoop(spark) {
            graft.operators.Centrality.integerPageRank(edges, iters = it)
              .agg(sum(col("pr")).as("s"))
          })
        val sec2 = run(s"${name}_i2", 2)
        val sec = run(name, iters)
        val m = totals(name)
        println(f"""{"stage":"$name","sec":$sec%.2f,"sec_i2":$sec2%.2f,""" +
          f""""sec_per_iter":${(sec - sec2) / (iters - 2)}%.3f,""" +
          s""""nodes":$nNodes,"deg":$deg,"iters":$iters,""" +
          s""""edges":${nNodes * deg},""" +
          s""""shuffle_read_b":${m.shufRead},"shuffle_write_b":${m.shufWrite},""" +
          s""""spill_mem_b":${m.spillMem},"spill_disk_b":${m.spillDisk},""" +
          s""""tasks":${m.tasks}}""")
      }
    }
    // series (a): iterations grow, graph pinned
    prStage(200000L, 4L, 4); prStage(200000L, 4L, 8)
    // series (b): edge volume grows 16×, nodes and iterations pinned
    prStage(200000L, 16L, 4); prStage(200000L, 64L, 4)
    // the node-grain proof point: (i8 − i4) shuffle at d64 vs at d4
    // reads the PER-ITERATION exchange with the one-time pin
    // subtracted out on both sides
    prStage(200000L, 64L, 8)
    // ---- media codec curve (r10): the ImageIO class, measured ----
    // Encode / decode / perceptual-hash are pure per-row codec work on
    // mapPartitions — ZERO shuffle of media bytes by construction, so
    // the scale claim is docs/sec staying flat (cost linear in pixels)
    // and shuffle_read/write staying ~0 as the corpus grows. The
    // payload table materializes once per amplified root (the
    // ensurePayloads contract), so decode/phash measure their own
    // cost, not the encoder's.
    // pre-build whenever ANY media-read stage will run, so the one-time
    // payload encode never lands inside a timed media stage. (`only` is
    // an Option[Set], so Option.forall already meant "unfiltered, or the
    // stage list names a media read" — but it READ like a per-stage
    // collection forall, ADVICE r10; the isEmpty||exists form is the
    // same predicate spelled unambiguously.)
    val wantsMediaReads = only.isEmpty ||
      only.exists(s => s.contains("media_decode") || s.contains("media_phash"))
    if (wantsMediaReads)
      graft.operators.Multimodal.ensurePayloads(
        corpus.select("doc_id", "text"), s"$root/media")
    stage("media_encode") {
      graft.operators.Multimodal.withPayload(corpus.select("doc_id", "text"))
    }
    stage("media_decode") {
      graft.operators.Multimodal.decodeMeta(spark,
        graft.operators.Multimodal.ensurePayloads(
          corpus.select("doc_id", "text"), s"$root/media")).toDF()
    }
    stage("media_phash") {
      graft.operators.Multimodal.perceptualHash(spark,
        graft.operators.Multimodal.ensurePayloads(
          corpus.select("doc_id", "text"), s"$root/media"))
    }
    Measure.drain(spark)
    val grand = total(listener.rows)
    System.err.println(
      s"[stress] total shuffle read ${grand.shufRead / (1 << 20)} MiB, " +
        s"write ${grand.shufWrite / (1 << 20)} MiB, " +
        s"spill ${(grand.spillMem + grand.spillDisk) / (1 << 20)} MiB")
    spark.stop()
  }
}
