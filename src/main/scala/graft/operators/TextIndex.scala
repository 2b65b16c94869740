package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => T}

/** Persisted positional inverted index — the text-retrieval analog of
  * [[AnnIndex]]'s build-once/probe-many contract, and the engine's
  * standing form of the reference's "materialize once, serve point
  * queries forever" KTable pattern applied to ranked retrieval: the
  * corpus is scanned ONCE at build time; every subsequent BM25 or
  * phrase query touches only the term-bucket directories its own
  * terms hash into.
  *
  * Layout under `root`:
  *   - `postings/tbucket=N/` — one row per TERM: (term, df, postings:
  *     array<struct<doc_id, tf, dl, positions: array<int>>>), bucketed
  *     by `pmod(xxhash64(term), n_buckets)` (a build-time knob recorded
  *     in stats — see [[Buckets]]). A query for k terms reads
  *     at most k bucket directories (Spark partition-prunes the
  *     `tbucket IN (…)` filter) — the KeyedStore trick, with the
  *     posting LIST as the value so a term is one row.
  *   - `stats/` — one row: (n_docs, sum_dl, avgdl, max_df,
  *     n_buckets) — the BM25 corpus constants + the layout contract.
  *   - `_INDEX_COMMITTED` — the commit marker; its absence means rebuild.
  *
  * Writers are [[build]] and [[upsert]], serialized by
  * [[AnnIndex.withBuildLock]] (same cross-process lock, stale-break and
  * heartbeat semantics), and both commit through [[AnnIndex.commit]]:
  * marker down → write the artifacts → marker up. `ensure` re-checks
  * the marker under the lock so concurrent callers build exactly once.
  *
  * 100 TB posture: the build is one tokenize + one (term, doc) count
  * + one term-keyed collect_list shuffle — the same passes a
  * from-scratch BM25 pays ONCE, amortized over every later query. A
  * stop-word term's posting row is corpus-sized; production deploys
  * either df-cap the index (stop terms score ~0 under idf anyway —
  * `maxDf` here) or segment hot lists by doc range. The probe side
  * broadcasts the query's term list; nothing corpus-sized shuffles at
  * query time.
  */
object TextIndex {

  val AlgoVersion = 3 // v3: forward index (doc -> terms/dl) enabling upsert

  /** Default bucket count. A BUILD-TIME KNOB since r10 (recorded in
    * stats as `n_buckets`, honored by every reader): upsert
    * rewrites whole touched bucket directories, so the rewrite cost of a
    * fixed batch is ≈ touched_buckets × (index_bytes / n_buckets) —
    * with the bucket count pinned, a batch whose term set spans all
    * buckets rewrites a FIXED FRACTION of the index, i.e. cost linear
    * in index size. Scaling `numBuckets` with corpus size at build time
    * is what keeps a fixed batch's rewrite bytes governed by the BATCH
    * (its distinct-term bucket span), not the index — the measured
    * curve lives in ARCHITECTURE §4. Probes only get cheaper with more
    * buckets (a k-term query prunes to ≤ k of them); the trade is file
    * count, the usual small-files economics. */
  val Buckets = 16
  private val Marker = "_INDEX_COMMITTED"

  private def tbucketOf(term: org.apache.spark.sql.Column, n: Int) =
    pmod(xxhash64(term), lit(n)).cast("int")
  private def dbucketOf(docId: org.apache.spark.sql.Column, n: Int) =
    pmod(xxhash64(docId), lit(n)).cast("int")

  /** The bucket count an existing index was BUILT with (recorded in
    * stats; indexes persisted before the knob existed default to the
    * original fixed [[Buckets]]). Readers must derive bucket ids with
    * THIS value — a mismatched modulus probes the wrong directories. */
  private def bucketsOf(stats: org.apache.spark.sql.Row): Int =
    if (stats.schema.fieldNames.contains("n_buckets"))
      stats.getAs[Int]("n_buckets")
    else Buckets

  def isBuilt(spark: SparkSession, root: String): Boolean = {
    val p = new Path(root, Marker)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The per-term posting rows for a document frame — shared by
    * [[build]] (whole corpus) and [[upsert]] (the replacement docs). */
  private def postingRows(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), T.words(col("text")).as("ws"))
      .select(col("doc_id"), size(col("ws")).as("dl"),
        posexplode(col("ws")).as(Seq("p", "term")))
    toks.groupBy("term", "doc_id", "dl")
      .agg(count(lit(1)).cast("long").as("tf"),
        sort_array(collect_list(col("p"))).as("positions"))
      .groupBy("term")
      .agg(count(lit(1)).cast("long").as("df"),
        sort_array(collect_list(struct(col("doc_id"), col("tf"),
          col("dl"), col("positions")))).as("postings"))
  }

  /** [[postingRows]] exposed for the scale-stress harness (the build's
    * dominant stage, measured in isolation). */
  private[graft] def postingRowsForStress(docs: DataFrame): DataFrame =
    postingRows(docs)

  /** The FORWARD index rows for a document frame: (doc_id, dl,
    * terms: sorted distinct array, dbucket). The inverse mapping the
    * posting table cannot answer without a full scan — "which term
    * rows mention doc X" — which is exactly what [[upsert]] needs to
    * retract a replaced/deleted document: its touched term set. Also
    * the source of the stats aggregate (n_docs, sum_dl), so the
    * corpus is tokenized once per slice for both artifacts. */
  private def fwdRows(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id"), T.words(col("text")).as("ws"))
      .select(col("doc_id"), size(col("ws")).as("dl"),
        array_sort(array_distinct(col("ws"))).as("terms"))
      .withColumn("dbucket", dbucketOf(col("doc_id"), n))

  /** Build the index from (doc_id, text) docs. `maxDf > 0` tombstones
    * terms in more than `maxDf` documents (true df kept, postings
    * emptied — the classic stop-list cap; their idf ≈ 0 contribution
    * is the trade). Such a df-tombstone keeps the term's row, so its
    * idf stays exact. The cap is recorded in stats; [[upsert]] refuses
    * a capped index. */
  def build(docs: DataFrame, root: String, maxDf: Int = 0,
      numBuckets: Int = Buckets): Unit = {
    require(numBuckets >= 1 && numBuckets <= 65536,
      s"numBuckets must be in [1, 65536], got $numBuckets")
    val spark = docs.sparkSession
    AnnIndex.commit(spark, root, Marker) {
      val rows = postingRows(docs)
      val kept = (if (maxDf <= 0) rows
        else rows.withColumn("postings", // slice(…, 1, 0): a typed empty array
          when(col("df") > maxDf, slice(col("postings"), 1, 0))
            .otherwise(col("postings"))))
        .withColumn("tbucket", tbucketOf(col("term"), numBuckets))
      kept.write.partitionBy("tbucket").mode("overwrite")
        .parquet(s"$root/postings")
      // the schema files make an EMPTY index (or an empty probe of a
      // bucketless read) readable: partitioned writes of zero rows emit
      // no part files, and a schemaless parquet read of that throws
      kept.limit(0).coalesce(1).write.mode("overwrite")
        .parquet(s"$root/schema")
      val fwd = fwdRows(docs, numBuckets)
      fwd.write.partitionBy("dbucket").mode("overwrite")
        .parquet(s"$root/fwd")
      fwd.limit(0).coalesce(1).write.mode("overwrite")
        .parquet(s"$root/fwd_schema")
      // stats aggregate off the (small, just-written) forward index — the
      // same (n_docs, sum_dl) a direct doc scan would produce, without a
      // third corpus tokenize
      readFwd(spark, root)
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("dl")).cast("long").as("sum_dl"),
          (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
        .withColumn("max_df", lit(maxDf))
        .withColumn("n_buckets", lit(numBuckets))
        .coalesce(1).write.mode("overwrite").parquet(s"$root/stats")
    }
  }

  /** The postings table read with the recorded schema — works even
    * when the directory holds no part files (empty index). */
  private def readPostings(spark: SparkSession, root: String): DataFrame =
    spark.read.schema(spark.read.parquet(s"$root/schema").schema)
      .parquet(s"$root/postings")

  /** The forward index read with its recorded schema. */
  private def readFwd(spark: SparkSession, root: String): DataFrame =
    spark.read.schema(spark.read.parquet(s"$root/fwd_schema").schema)
      .parquet(s"$root/fwd")

  /** upsert needs the v3 forward-index layout; an index root
    * persisted by pre-v3 code has the commit marker but no `fwd/`, and
    * without this check the failure is a raw path-does-not-exist from
    * deep inside the merge instead of a designed error. */
  private def requireV3Layout(spark: SparkSession, root: String): Unit = {
    val p = new Path(s"$root/fwd_schema")
    val ok = p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    require(ok, s"upsert against index $root built by a pre-v$AlgoVersion " +
      "layout (no forward index) — delete the root and rebuild")
  }

  /** UPSERT a batch against a built index: each input row REPLACES the
    * document with its `doc_id` (or inserts it if new); a row with
    * NULL `text` is a TOMBSTONE — the document is deleted. The
    * reference's KTable upsert/tombstone semantics
    * (covid19-stats Covid19Stats.java's latest-per-key tables) applied
    * to the retrieval index: real feeds re-send and retract documents,
    * and a replayed batch converges to the same index.
    *
    * Mechanics: the forward index answers "which term rows mention the
    * upserted ids" (bucket-pruned on dbucket), so retraction touches
    * only the term buckets those terms hash into. Within the touched
    * buckets, rows whose term is NOT in the upserted docs' term sets
    * pass through byte-identical; the rest explode, drop the upserted
    * ids' entries, regroup, and full-outer-merge with the replacement
    * content's posting rows. df re-counts from the surviving lists, so
    * it is exact; n_docs/sum_dl correct by the old fwd rows' dl. A
    * term whose whole posting list vanishes is dropped, and a touched
    * partition left with ZERO rows is deleted EXPLICITLY — dynamic
    * partition overwrite skips empty partitions, which would otherwise
    * leave the old directory serving stale postings.
    *
    * Requires an UNCAPPED index (maxDf == 0): a df-tombstoned term has
    * no posting list to delete from, so deletions that bring its df
    * back under the cap could not recover the postings a rebuild would
    * have — upsert == rebuild would silently break. A capped index is
    * rebuilt, never upserted; mutable corpora rely on idf.
    *
    * The batch must be pre-collapsed: one row per doc_id (last-wins
    * collapsing is the caller's contract, checked here).
    *
    * The rewritten buckets are STAGED to disk before the commit
    * ([[AnnIndex.commit]]) overwrites them: a localCheckpoint pin lives
    * in executor storage, and an executor lost mid-overwrite would
    * recompute from the half-rewritten directory.
    *
    * Spec'd: upsert-then-probe == rebuild-over-current-set bit-for-bit
    * including stats and the forward index, for mixes of replace /
    * insert / delete, and delete-everything. */
  def upsert(docs: DataFrame, root: String): Unit = {
    val spark = docs.sparkSession
    AnnIndex.withBuildLock(spark, root) {
      require(isBuilt(spark, root),
        s"upsert against unbuilt index $root (run ensure/build first)")
      requireV3Layout(spark, root)
      val oldStats = spark.read.parquet(s"$root/stats").head()
      val maxDf = oldStats.getAs[Int]("max_df")
      val nb = bucketsOf(oldStats)
      require(maxDf == 0,
        s"upsert requires an uncapped index (maxDf=0, got $maxDf): a " +
          "df-tombstoned term cannot recover its postings when deletions " +
          "bring its df back under the cap")
      // name the two input defects separately: a NULL doc_id is not a
      // "duplicate" (countDistinct skips nulls, so the old single check
      // blamed dedup for a malformed key), and a null key would match
      // nothing in the retraction joins — silently dropped
      val chk = docs.agg(
        count(when(col("doc_id").isNull, lit(1))).as("nulls"),
        (count(col("doc_id")) - countDistinct(col("doc_id"))).as("d"))
        .head()
      require(chk.getLong(0) == 0,
        s"upsert batch has ${chk.getLong(0)} NULL doc_id rows — a " +
          "tombstone is a non-null doc_id with NULL text")
      require(chk.getLong(1) == 0,
        s"upsert batch has ${chk.getLong(1)} duplicate doc_id rows — " +
          "collapse last-wins first")
      // NOTE on join strategy: ids/affectedTerms are batch-derived and
      // batch-SIZED — a KTable-style re-feed can make them arbitrarily
      // large, so none of the joins below carries a broadcast() hint (an
      // explicit hint forces a driver-side collect that OOMs on a big
      // batch). The frames are localCheckpoint-ed, so AQE sees their
      // TRUE sizes and picks broadcast for the common small batch while
      // degrading gracefully to a shuffle join for a bulk re-feed.
      val ids = docs.select("doc_id").localCheckpoint(true)
      val live = docs.filter(col("text").isNotNull)
        .select("doc_id", "text").localCheckpoint(true)
      // which of the upserted ids exist, and what terms did they carry
      val touchedD = ids.select(dbucketOf(col("doc_id"), nb).as("dbucket"))
        .distinct().collect().map(_.getInt(0))
      val fwdTouched = readFwd(spark, root)
        .filter(col("dbucket").isin(touchedD.map(Integer.valueOf): _*))
        .localCheckpoint(true)
      val oldMine = fwdTouched
        .join(ids, Seq("doc_id"), "left_semi")
        .localCheckpoint(true)
      val newRows = postingRows(live).localCheckpoint(true)
      // AFFECTED terms: every term any upserted doc's OLD version
      // carried (those rows must drop the retracted ids) UNION every
      // term the REPLACEMENT content carries (those rows must merge
      // with the new postings — an existing row whose term arrives
      // only via new content would otherwise pass through unchanged
      // while the merge emitted a SECOND row for the same term, df
      // split across the two)
      val affectedTerms = oldMine.select(explode(col("terms")).as("term"))
        .unionByName(newRows.select("term"))
        .distinct()
        .localCheckpoint(true)
      val touchedT = affectedTerms
        .select(tbucketOf(col("term"), nb).as("tbucket"))
        .distinct().collect().map(_.getInt(0))
      val staging = s"$root/.staging-upsert"
      val fwdStaging = s"$root/.staging-upsert-fwd"
      if (touchedT.nonEmpty) {
        val existing = readPostings(spark, root)
          .filter(col("tbucket").isin(touchedT.map(Integer.valueOf): _*))
        // pass-through rows: their term appears in NO upserted doc (old
        // or new), so their posting lists cannot mention an upserted id
        // and no new postings will merge into them
        val pass = existing
          .join(affectedTerms, Seq("term"), "left_anti")
        val stripped = existing
          .join(affectedTerms, Seq("term"), "left_semi")
          .select(col("term"), explode(col("postings")).as("p"))
          .join(ids.select(col("doc_id").as("__uid")),
            col("p.doc_id") === col("__uid"), "left_anti")
          .groupBy("term")
          .agg(count(lit(1)).cast("long").as("df"),
            sort_array(collect_list(col("p"))).as("postings"))
        // dfs add: the stripped lists hold no upserted id, the new
        // lists only upserted ids
        val merged = stripped.as("o")
          .join(newRows.as("n"), Seq("term"), "full_outer")
          .select(col("term"),
            (coalesce(col("o.df"), lit(0L)) + coalesce(col("n.df"), lit(0L)))
              .as("df"),
            when(col("o.postings").isNull, col("n.postings"))
              .when(col("n.postings").isNull, col("o.postings"))
              .otherwise(sort_array(concat(col("o.postings"), col("n.postings"))))
              .as("postings"))
          .withColumn("tbucket", tbucketOf(col("term"), nb))
        // two writes, not a union: pass and merged share `existing`'s
        // lineage, the unionByName constraint-rewrite trap
        pass.select("term", "df", "postings", "tbucket")
          .write.mode("overwrite").parquet(staging)
        merged.select("term", "df", "postings", "tbucket")
          .write.mode("append").parquet(staging)
      }
      // forward index: touched dbuckets minus upserted ids, plus the
      // live replacements' rows
      val newFwd = fwdRows(live, nb).localCheckpoint(true)
      fwdTouched.join(ids, Seq("doc_id"), "left_anti")
        .select("doc_id", "dl", "terms", "dbucket")
        .write.mode("overwrite").parquet(fwdStaging)
      newFwd.select("doc_id", "dl", "terms", "dbucket")
        .write.mode("append").parquet(fwdStaging)
      // stats corrections from the old fwd rows and the new content
      val oldAgg = oldMine.agg(count(lit(1)).cast("long").as("n"),
        coalesce(sum(col("dl")), lit(0L)).cast("long").as("s")).head()
      val newAgg = newFwd.agg(count(lit(1)).cast("long").as("n"),
        coalesce(sum(col("dl")), lit(0L)).cast("long").as("s")).head()
      val n2 = oldStats.getAs[Long]("n_docs") -
        oldAgg.getAs[Long]("n") + newAgg.getAs[Long]("n")
      val s2 = (if (oldStats.isNullAt(oldStats.fieldIndex("sum_dl"))) 0L
        else oldStats.getAs[Long]("sum_dl")) -
        oldAgg.getAs[Long]("s") + newAgg.getAs[Long]("s")
      val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
      // probes fail fast ("no text index") while the rewrite runs
      AnnIndex.commit(spark, root, Marker) {
        if (touchedT.nonEmpty) {
          // read staging with the RECORDED schema: a delete-heavy batch
          // can stage zero rows (overwrite of an empty frame emits no
          // part files), and a schemaless read of that throws
          val staged = spark.read
            .schema(spark.read.parquet(s"$root/schema").schema)
            .parquet(staging)
          val present = staged.select("tbucket").distinct()
            .collect().map(_.getInt(0)).toSet
          staged.write.partitionBy("tbucket").mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(s"$root/postings")
          // a touched bucket with zero surviving rows: dynamic overwrite
          // left its old directory — delete it, a rebuild would not have it
          (touchedT.toSet -- present).foreach { b =>
            fs.delete(new Path(s"$root/postings/tbucket=$b"), true) }
        }
        val stagedFwd = spark.read
          .schema(spark.read.parquet(s"$root/fwd_schema").schema)
          .parquet(fwdStaging)
        val presentD = stagedFwd.select("dbucket").distinct()
          .collect().map(_.getInt(0)).toSet
        stagedFwd.write.partitionBy("dbucket").mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .parquet(s"$root/fwd")
        (touchedD.toSet -- presentD).foreach { b =>
          fs.delete(new Path(s"$root/fwd/dbucket=$b"), true) }
        import spark.implicits._
        // an emptied corpus writes NULL sum_dl/avgdl, exactly as a
        // rebuild's aggregate over zero docs would
        Seq((n2, if (n2 == 0) None else Some(s2),
          if (n2 == 0) None else Some(s2.toDouble / n2)))
          .toDF("n_docs", "sum_dl", "avgdl")
          .withColumn("max_df", lit(maxDf))
          .withColumn("n_buckets", lit(nb))
          .coalesce(1).write.mode("overwrite").parquet(s"$root/stats")
      }
      fs.delete(new Path(staging), true)
      fs.delete(new Path(fwdStaging), true)
    }
  }

  /** Build if absent (cross-process safe, builds exactly once). */
  def ensure(docs: DataFrame, root: String, maxDf: Int = 0,
      numBuckets: Int = Buckets): Unit = {
    val spark = docs.sparkSession
    if (!isBuilt(spark, root))
      AnnIndex.withBuildLock(spark, root) {
        if (!isBuilt(spark, root)) build(docs, root, maxDf, numBuckets)
      }
  }

  /** Posting rows for exactly the given distinct terms, read through
    * the bucket-pruned scan. `terms`: a small frame with a `term`
    * column (broadcast into the pruned postings). */
  def probePostings(spark: SparkSession, root: String,
      terms: DataFrame): DataFrame = {
    require(isBuilt(spark, root), s"no text index at $root (run ensure first)")
    val nb = bucketsOf(spark.read.parquet(s"$root/stats").head())
    val t = terms.select("term").distinct()
      .withColumn("tbucket", tbucketOf(col("term"), nb))
      .localCheckpoint(true)
    val touched = t.select("tbucket").distinct().collect().map(_.getInt(0))
    readPostings(spark, root)
      .filter(col("tbucket").isin(touched.map(Integer.valueOf): _*))
      .join(broadcast(t.select("term")), Seq("term"), "left_semi")
      .drop("tbucket")
  }

  /** BM25 top scores served FROM THE INDEX — same output contract as
    * [[Relevance.bm25]] (query_id, doc_id, score; zero-score docs
    * omitted), spec'd to agree with the corpus-scan form to 1e-9
    * relative. `queries`: (query_id, term) long form. */
  /** Per-(query, doc, term) BM25 contributions from the index — the
    * shared core of [[bm25]] and [[bm25Micros]]. */
  private def termScores(spark: SparkSession, root: String,
      queries: DataFrame, k1: Double, b: Double): DataFrame = {
    // fail-fast BEFORE touching stats: an unbuilt root (or an upsert's
    // marker-down rewrite window) must surface as the designed error,
    // not a raw path-does-not-exist from the stats read
    require(isBuilt(spark, root), s"no text index at $root (run ensure first)")
    val stats = spark.read.parquet(s"$root/stats").select("n_docs", "avgdl")
    val post = probePostings(spark, root, queries.select("term"))
      .select(col("term"), col("df"), explode(col("postings")).as("p"))
      .select(col("term"), col("df"), col("p.doc_id").as("doc_id"),
        col("p.tf").as("tf"), col("p.dl").as("dl"))
    post
      .join(broadcast(queries.select("query_id", "term").distinct()), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log((col("n_docs").cast("double") - col("df") + lit(0.5))
          / (col("df") + lit(0.5)) + lit(1.0)))
      .withColumn("term_score",
        col("idf") * (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) *
            (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
  }

  def bm25(spark: SparkSession, root: String, queries: DataFrame,
      k1: Double = 1.2, b: Double = 0.75): DataFrame =
    termScores(spark, root, queries, k1, b)
      .groupBy("query_id", "doc_id")
      .agg(sum(col("term_score")).as("score"))

  /** [[bm25]] with the score QUANTIZED per term to integer MICRO-units
    * before the sum: each term's double contribution — bit-identical
    * across engines because its inputs (tf, df, dl, n_docs, avgdl) and
    * expression tree are — rounds to `round(ts * 1e6)` as a long, and
    * the per-(query, doc) total is then an exact integer sum, immune
    * to aggregation order. This is what lets the index-served scorer
    * hash-oracle against DuckDB (q179): the raw-double [[bm25]] sums
    * in aggregation order, so its last bits float. Returns (query_id,
    * doc_id, score_u6). */
  def bm25Micros(spark: SparkSession, root: String, queries: DataFrame,
      k1: Double = 1.2, b: Double = 0.75): DataFrame =
    termScores(spark, root, queries, k1, b)
      .groupBy("query_id", "doc_id")
      .agg(sum(round(col("term_score") * lit(1000000.0)).cast("long"))
        .as("score_u6"))

  /** CONJUNCTIVE (AND) boolean retrieval served FROM THE INDEX: docs
    * containing EVERY term of each query, ranked by the micro-quantized
    * BM25 of [[bm25Micros]] (exact BIGINT, aggregation-order-immune),
    * top `k` per query by (score desc, doc_id asc) on the bounded-heap
    * top-k aggregate — k rows per query per task cross the shuffle, no
    * window over the full candidate set. The AND constraint rides the
    * same per-(query, doc) aggregate that sums the score: a doc
    * qualifies iff its matched-term count equals the query's term
    * count, so conjunctive filtering costs zero extra passes over the
    * postings. Returns (query_id, doc_id, score_u6, rn). */
  def booleanBm25(spark: SparkSession, root: String, queries: DataFrame,
      k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val q = queries.select("query_id", "term").distinct()
    val nt = q.groupBy("query_id").agg(count(lit(1)).as("ntq"))
    val conj = termScores(spark, root, q, k1, b)
      .groupBy("query_id", "doc_id")
      .agg(sum(round(col("term_score") * lit(1000000.0)).cast("long"))
        .as("score_u6"),
        countDistinct(col("term")).as("nm"))
      .join(broadcast(nt), Seq("query_id"))
      .filter(col("nm") === col("ntq"))
    Sampling.quotaPerGroup(conj, Seq("query_id"),
      col("score_u6").cast("double"), col("doc_id"), k)
      .select(col("query_id"), col("id").as("doc_id"),
        col("score").cast("long").as("score_u6"), col("rn"))
  }

  /** FUZZY retrieval FROM THE INDEX — the "did you mean" probe: each
    * query term expands to every DICTIONARY term within `maxDist`
    * plain Levenshtein (an exact-vocabulary term expands to itself
    * plus its neighbors), and the expanded term set scores through
    * [[bm25Micros]] with the usual bounded-heap top-k. The dictionary
    * is the index's own term relation (column-pruned postings read —
    * vocabulary grain, not corpus grain) and the expansion joins it
    * against the BROADCAST query terms with the distance as the
    * predicate: vocabulary × |query terms| comparisons, the q31-class
    * broadcast shape, never a corpus scan. A production deployment
    * with a large vocabulary would add a length/prefix blocking key
    * exactly like [[graft.operators.Dedup]]'s edit-distance family;
    * at dictionary grain the broadcast form is already the right
    * plan. Returns (query_id, doc_id, score_u6, rn). */
  def fuzzyBm25(spark: SparkSession, root: String, queries: DataFrame,
      maxDist: Int, k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(isBuilt(spark, root), s"no text index at $root (run ensure first)")
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    val dict = readPostings(spark, root).select("term").distinct()
    val expanded = dict
      .join(broadcast(queries.select(col("query_id"),
        col("term").as("qterm")).distinct()),
        levenshtein(col("term"), col("qterm")) <= maxDist)
      .select("query_id", "term").distinct()
    Sampling.quotaPerGroup(
      bm25Micros(spark, root, expanded, k1, b),
      Seq("query_id"), col("score_u6").cast("double"), col("doc_id"), k)
      .select(col("query_id"), col("id").as("doc_id"),
        col("score").cast("long").as("score_u6"), col("rn"))
  }

  /** Phrase hits served FROM THE INDEX — same output contract as
    * q178's corpus-scan form (phrase, n_docs, n_occurrences), exact:
    * the (doc, phrase, pos − idx) grouping with count(DISTINCT idx)
    * runs over the index's positional postings instead of a fresh
    * tokenize. `phrases`: (phrase_id, phrase, idx, term) long form. */
  def phraseHits(spark: SparkSession, root: String,
      phrases: DataFrame): DataFrame = {
    require(isBuilt(spark, root), s"no text index at $root (run ensure first)")
    val occ = probePostings(spark, root, phrases.select("term"))
      .select(col("term"), explode(col("postings")).as("p"))
      .select(col("term"), col("p.doc_id").as("doc_id"),
        explode(col("p.positions")).as("pos"))
    val pl = phrases.groupBy("phrase_id", "phrase")
      .agg(countDistinct(col("idx")).as("plen"))
    occ.join(broadcast(phrases.select("phrase_id", "idx", "term")), Seq("term"))
      .groupBy(col("doc_id"), col("phrase_id"),
        (col("pos") - col("idx")).as("start"))
      .agg(countDistinct(col("idx")).as("nidx"))
      .join(broadcast(pl), Seq("phrase_id"))
      .filter(col("nidx") === col("plen"))
      .groupBy("phrase")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"))
  }
}
