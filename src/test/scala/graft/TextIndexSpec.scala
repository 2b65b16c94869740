package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

import graft.operators.{Relevance, TextIndex}
import graft.queries.Registry
import graft.sources.Tables

/** Persisted inverted index: build-once semantics, bucket-pruned
  * probes, and agreement of the index-served BM25/phrase paths with
  * their corpus-scan forms.
  */
class TextIndexSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  private lazy val docs =
    Tables.load(spark, sf, "documents").select("doc_id", "text")

  // schema-file reads: a fully-emptied index has zero part files
  private def postingsOf(root: String): Seq[String] =
    spark.read.schema(spark.read.parquet(s"$root/schema").schema)
      .parquet(s"$root/postings")
      .drop("tbucket").orderBy("term").collect().map(_.toString).toSeq
  private def fwdOf(root: String): Seq[String] =
    spark.read.schema(spark.read.parquet(s"$root/fwd_schema").schema)
      .parquet(s"$root/fwd")
      .drop("dbucket").orderBy("doc_id").collect().map(_.toString).toSeq
  private def statsOf(root: String): String =
    spark.read.parquet(s"$root/stats").head().toString

  test("ensure builds once; a second ensure leaves the artifacts untouched") {
    val root = tmp("tidx")
    TextIndex.ensure(docs, root)
    assert(TextIndex.isBuilt(spark, root))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def mtimes: Map[String, Long] = fs
      .listStatus(new org.apache.hadoop.fs.Path(s"$root/postings"))
      .map(s => s.getPath.getName -> s.getModificationTime).toMap
    val before = mtimes
    TextIndex.ensure(docs, root)
    assert(mtimes === before, "second ensure must not rewrite the index")
  }

  test("index-served BM25 agrees with the corpus scan to 1e-9 relative") {
    val root = tmp("tidx-bm25")
    TextIndex.ensure(docs, root)
    val queries = docs.filter(col("doc_id") < 5)
      .select(col("doc_id").as("query_id"),
        explode(split(col("text"), " ")).as("term"))
      .distinct().localCheckpoint(true)
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id")) ->
        r.getAs[Double]("score")).toMap
    val fromIndex = toMap(TextIndex.bm25(spark, root, queries))
    val fromScan = toMap(Relevance.bm25(
      Tables.load(spark, sf, "documents"), queries))
    assert(fromIndex.keySet === fromScan.keySet)
    fromIndex.foreach { case (k, v) =>
      val ref = fromScan(k)
      assert(math.abs(v - ref) <= 1e-9 * math.max(math.abs(ref), 1e-12),
        s"$k: index $v vs scan $ref")
    }
    assert(fromIndex.nonEmpty)
  }

  test("index-served phrase hits equal the corpus-scan query exactly") {
    val fromIndex = Registry.byName("q180_index_phrase").fn(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val fromScan = Registry.byName("q178_phrase_search").fn(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(fromIndex === fromScan)
    assert(fromIndex.nonEmpty)
  }

  test("probe reads only the touched term buckets (partition-pruned scan)") {
    import spark.implicits._
    val root = tmp("tidx-prune")
    TextIndex.ensure(docs, root)
    val probe = TextIndex.probePostings(spark, root,
      Seq("spark", "join").toDF("term"))
    val plan = probe.queryExecution.explainString(
      ExplainMode.fromString("formatted"))
    assert(plan.contains("tbucket"),
      "tbucket filter lost — the scan would read every bucket directory:\n" +
        plan.take(600))
    val terms = probe.select("term").collect().map(_.getString(0)).toSet
    assert(terms === Set("spark", "join"))
  }

  test("bucket-count knob: layout honors it, content is bucket-invariant, append/upsert stay bit-exact") {
    // the 100 TB upsert-locality knob (ARCHITECTURE §4): more buckets =
    // finer rewrite granularity; results must not depend on it
    val r16 = tmp("tidx-b16")
    val r64 = tmp("tidx-b64")
    TextIndex.build(docs, r16)
    TextIndex.build(docs, r64, numBuckets = 64)
    // stats records the knob; the layout actually fans out past 16 dirs
    assert(spark.read.parquet(s"$r64/stats").head()
      .getAs[Int]("n_buckets") == 64)
    val fs = new org.apache.hadoop.fs.Path(r64)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs64 = fs.listStatus(new org.apache.hadoop.fs.Path(s"$r64/postings"))
      .count(_.getPath.getName.startsWith("tbucket="))
    assert(dirs64 > 16 && dirs64 <= 64, s"64-bucket build wrote $dirs64 dirs")
    // content is bucket-invariant (tbucket dropped)
    assert(postingsOf(r64) === postingsOf(r16))
    assert(fwdOf(r64) === fwdOf(r16))
    // served BM25 identical across bucket counts
    val queries = docs.filter(col("doc_id") < 3)
      .select(col("doc_id").as("query_id"),
        explode(split(col("text"), " ")).as("term"))
      .distinct().localCheckpoint(true)
    def served(root: String) = TextIndex.bm25Micros(spark, root, queries)
      .collect().map(_.toString).sorted.toSeq
    assert(served(r64) === served(r16))
    // upsert against the 64-bucket index == rebuild at 64
    val up = tmp("tidx-b64up")
    TextIndex.build(docs, up, numBuckets = 64)
    import spark.implicits._
    val batch = docs.filter(col("doc_id") < 4)
      .select(col("doc_id"), concat(col("text"), lit(" r10salt")).as("text"))
      .unionByName(Seq((900001L, "brand new b64 doc")).toDF("doc_id", "text"))
      .unionByName(docs.filter(col("doc_id") === 5)
        .select(col("doc_id"), lit(null.asInstanceOf[String]).as("text")))
    TextIndex.upsert(batch, up)
    val cur = docs.filter(col("doc_id") =!= 5)
      .select(col("doc_id"),
        when(col("doc_id") < 4, concat(col("text"), lit(" r10salt")))
          .otherwise(col("text")).as("text"))
      .unionByName(Seq((900001L, "brand new b64 doc")).toDF("doc_id", "text"))
    val reb = tmp("tidx-b64reb")
    TextIndex.build(cur, reb, numBuckets = 64)
    assert(postingsOf(up) === postingsOf(reb))
    assert(fwdOf(up) === fwdOf(reb))
    assert(statsOf(up) === statsOf(reb))
  }

  test("the text ingest loop composes: incremental dedup gates what index append admits") {
    // stream batch -> IncrementalDedup (novel survivors only) ->
    // TextIndex.upsert -> serve. Duplicates must never reach the index;
    // upserted novelty must be immediately servable through BM25.
    import spark.implicits._
    import java.sql.Timestamp
    val t1 = Timestamp.valueOf("2020-04-08 00:00:00")
    val store = tmp("tloop-store")
    val root = tmp("tloop-idx")

    val b1 = Seq((0L, "spark join order table", t1),
      (1L, "merge sort batch window", t1)).toDF("doc_id", "text", "ts")
    val n1 = graft.streaming.IncrementalDedup
      .dedupBatch(b1, "doc_id", "text", "ts", store)
    TextIndex.build(n1.select("doc_id", "text"), root)

    // batch 2: an exact dup of doc 0 plus one genuinely new doc
    val b2 = Seq((10L, "spark join order table", t1),
      (11L, "vector scan spark filter", t1)).toDF("doc_id", "text", "ts")
    val n2 = graft.streaming.IncrementalDedup
      .dedupBatch(b2, "doc_id", "text", "ts", store)
    assert(n2.select("doc_id").collect().map(_.getLong(0)).toSeq === Seq(11L))
    TextIndex.upsert(n2.select("doc_id", "text"), root)

    // the dup never entered; the novelty serves immediately
    val post = spark.read.parquet(s"$root/postings")
      .select(explode(col("postings.doc_id")).as("d"))
      .distinct().collect().map(_.getLong(0)).toSet
    assert(post === Set(0L, 1L, 11L),
      s"dup leaked into (or novelty missing from) the index: $post")
    val hits = TextIndex.bm25(spark, root,
      Seq((99L, "vector"), (99L, "filter")).toDF("query_id", "term"))
      .orderBy(col("score").desc).select("doc_id")
      .collect().map(_.getLong(0)).toSeq
    assert(hits === Seq(11L), s"upserted doc not servable: $hits")
  }

  test("upsert (replace + insert + delete) equals rebuild over the current set, bit-for-bit") {
    import spark.implicits._
    // quarter the corpus by residue: build over residues 0-2, then one
    // upsert batch REPLACES residue-0 docs with residue-3 docs' text
    // (re-keyed), INSERTS genuinely new ids, and DELETES residue-1
    val base = docs.filter(col("doc_id") % 4 < 3)
    val root = tmp("tidx-up")
    TextIndex.build(base, root)
    val replace = docs.filter(col("doc_id") % 4 === 3)
      .select((col("doc_id") - 3).as("doc_id"), col("text"))
    val maxId = docs.agg(max("doc_id")).head().getLong(0)
    val insert = Seq((maxId + 1, "upsert fresh spark document"),
      (maxId + 2, "another inserted row row row")).toDF("doc_id", "text")
    val delete = docs.filter(col("doc_id") % 4 === 1)
      .select(col("doc_id"), lit(null).cast("string").as("text"))
    val batch = replace.unionByName(insert).unionByName(delete)
    TextIndex.upsert(batch, root)
    // the current set a from-scratch build would see
    val current = base.join(batch.select("doc_id"), Seq("doc_id"), "left_anti")
      .unionByName(batch.filter(col("text").isNotNull))
    val rebuilt = tmp("tidx-up-reb")
    TextIndex.build(current, rebuilt)
    assert(postingsOf(root) === postingsOf(rebuilt))
    assert(fwdOf(root) === fwdOf(rebuilt))
    assert(statsOf(root) === statsOf(rebuilt))
    // replacing with identical content is idempotent
    TextIndex.upsert(batch.filter(col("text").isNotNull), root)
    assert(postingsOf(root) === postingsOf(rebuilt))
    assert(statsOf(root) === statsOf(rebuilt))
    // a deleted doc no longer serves; an inserted one does
    val hits = TextIndex.bm25(spark, root,
      Seq((1L, "upsert"), (1L, "fresh")).toDF("query_id", "term"))
      .orderBy(col("score").desc).select("doc_id")
      .collect().map(_.getLong(0))
    assert(hits.headOption === Some(maxId + 1))
  }

  test("upsert deleting every document leaves the empty index a rebuild-over-nothing would") {
    import spark.implicits._
    val root = tmp("tidx-empty")
    val five = docs.limit(5).localCheckpoint(true)
    TextIndex.build(five, root)
    TextIndex.upsert(
      five.select(col("doc_id"), lit(null).cast("string").as("text")), root)
    assert(TextIndex.isBuilt(spark, root))
    // every touched partition emptied -> explicitly deleted (dynamic
    // overwrite alone would have left the old directories serving)
    assert(postingsOf(root).isEmpty)
    assert(fwdOf(root).isEmpty)
    val st = spark.read.parquet(s"$root/stats").head()
    assert(st.getAs[Long]("n_docs") === 0L)
    assert(st.isNullAt(st.fieldIndex("sum_dl")))
    assert(st.isNullAt(st.fieldIndex("avgdl")))
    assert(TextIndex.bm25(spark, root,
      Seq((1L, "spark")).toDF("query_id", "term")).count() === 0L)
  }

  test("upsert insert sharing a term with an UNTOUCHED doc merges into one row (no split df)") {
    import spark.implicits._
    // the code-review scenario: doc 1 holds 'zebra'; the batch only
    // INSERTS doc 2, also holding 'zebra'. doc 1's row is not retracted
    // (no old version of an upserted id mentions 'zebra'), but it must
    // still MERGE with the new postings — the first cut passed it
    // through unchanged AND emitted a second new-content row, df split
    // 1/1 where a rebuild holds one row with df=2
    val root = tmp("tidx-share")
    val base = Seq((1L, "zebra stripes pattern"), (2L, "ocean wave"))
      .toDF("doc_id", "text")
    TextIndex.build(base, root)
    TextIndex.upsert(Seq((3L, "zebra runs fast")).toDF("doc_id", "text"), root)
    val zebra = spark.read.parquet(s"$root/postings")
      .filter(col("term") === "zebra")
      .select(col("df"), col("postings.doc_id").as("ids")).collect()
    assert(zebra.length === 1,
      s"'zebra' must be ONE row, got ${zebra.length} (split df)")
    assert(zebra.head.getLong(0) === 2L)
    assert(zebra.head.getAs[Seq[Long]]("ids").sorted === Seq(1L, 3L))
    val rebuilt = tmp("tidx-share-reb")
    TextIndex.build(base.unionByName(
      Seq((3L, "zebra runs fast")).toDF("doc_id", "text")), rebuilt)
    assert(postingsOf(root) === postingsOf(rebuilt))
    assert(fwdOf(root) === fwdOf(rebuilt))
    assert(statsOf(root) === statsOf(rebuilt))
  }

  test("upsert crash window: marker down -> probes fail fast with the designed error; ensure() recovers") {
    import spark.implicits._
    val root = tmp("tidx-crash")
    val ten = docs.limit(10).localCheckpoint(true)
    TextIndex.build(ten, root)
    // simulate dying inside the rewrite window (after the marker drop,
    // before the commit): the on-disk state a crashed upsert leaves
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root, "_INDEX_COMMITTED"), false)
    val e = intercept[IllegalArgumentException] {
      TextIndex.bm25(spark, root, Seq((1L, "spark")).toDF("query_id", "term"))
    }
    assert(e.getMessage.contains("no text index"),
      s"probe in the crash window must fail with the designed error, got: ${e.getMessage}")
    // recovery is a rebuild: ensure() sees the missing marker
    TextIndex.ensure(ten, root)
    assert(TextIndex.isBuilt(spark, root))
    val rebuilt = tmp("tidx-crash-reb")
    TextIndex.build(ten, rebuilt)
    assert(postingsOf(root) === postingsOf(rebuilt))
    assert(statsOf(root) === statsOf(rebuilt))
  }

  test("upsert guards: capped index refused; duplicate batch ids refused") {
    import spark.implicits._
    val root = tmp("tidx-guard")
    TextIndex.build(docs.limit(20), root, maxDf = 5)
    val e1 = intercept[IllegalArgumentException] {
      TextIndex.upsert(Seq((0L, "x")).toDF("doc_id", "text"), root) }
    assert(e1.getMessage.contains("uncapped"))
    val root2 = tmp("tidx-guard2")
    TextIndex.build(docs.limit(20), root2)
    val e2 = intercept[IllegalArgumentException] {
      TextIndex.upsert(Seq((0L, "x"), (0L, "y")).toDF("doc_id", "text"), root2) }
    assert(e2.getMessage.contains("duplicate"))
    // a NULL doc_id is named as such, not blamed on deduplication (and
    // must not slip through to match nothing in the retraction joins)
    val e3 = intercept[IllegalArgumentException] {
      TextIndex.upsert(
        Seq((Some(0L), Some("x")), (None, Some("y")))
          .toDF("doc_id", "text"), root2) }
    assert(e3.getMessage.contains("NULL doc_id"))
  }

  test("booleanBm25: a query term absent from the corpus empties that query, not just weakens it") {
    import spark.implicits._
    val root = tmp("tidx-bool")
    TextIndex.ensure(docs, root)
    val qt = Seq((1L, "spark"), (2L, "spark"), (2L, "zzz_not_a_word"))
      .toDF("query_id", "term")
    val got = TextIndex.booleanBm25(spark, root, qt, k = 5)
    // query 1 (known term) returns hits; query 2's unknown term has no
    // posting row, so the matched-term count can never reach the query
    // size — conjunctive semantics demand ZERO rows, not "ignore the
    // unknown term and rank by the rest"
    assert(got.filter(col("query_id") === 1L).count() > 0)
    assert(got.filter(col("query_id") === 2L).count() === 0)
  }

  test("append/upsert against a pre-v3 root (no forward index) fail with the designed rebuild message") {
    import spark.implicits._
    val root = tmp("tidx-prev3")
    TextIndex.build(docs.limit(10), root)
    // simulate an index persisted by v2 code: committed, but no fwd layout
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root, "fwd"), true)
    fs.delete(new org.apache.hadoop.fs.Path(root, "fwd_schema"), true)
    val batch = Seq((9000L, "fresh doc")).toDF("doc_id", "text")
    val eu = intercept[IllegalArgumentException] { TextIndex.upsert(batch, root) }
    assert(eu.getMessage.contains("pre-v3") && eu.getMessage.contains("rebuild"))
    // probes are unaffected: the v2 read path never touches fwd/
    assert(TextIndex.bm25(spark, root,
      Seq((1L, "spark")).toDF("query_id", "term")).count() >= 0)
  }

  test("maxDf tombstones stop terms (true df, empty postings); append accumulates df across the cap") {
    // pick the cap from the corpus's own df distribution so both the
    // tombstoned and kept sides are provably nonempty
    val full = tmp("tidx-full")
    TextIndex.build(docs, full)
    val dfs = spark.read.parquet(s"$full/postings")
      .select("df").collect().map(_.getLong(0)).sorted
    val cap = dfs(dfs.length / 2).toInt
    assume(dfs.head <= cap && dfs.last > cap, "degenerate df distribution")
    val capped = tmp("tidx-cap")
    TextIndex.build(docs, capped, maxDf = cap)
    val rows = spark.read.parquet(s"$capped/postings")
      .select(col("df"), size(col("postings")).as("np")).collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    // every term row survives; over-cap terms carry their TRUE df with
    // an EMPTY posting list, under-cap terms keep their postings
    assert(rows.length === dfs.length)
    assert(rows.filter(_._1 > cap).forall(_._2 == 0))
    assert(rows.filter(_._1 <= cap).forall(_._2 > 0))
  }
}
