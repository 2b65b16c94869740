package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.state.KeyedStore

/** The durable serving sink (VERDICT r3 #1): partition-pruned
  * changed-bucket upsert into bucketed parquet, replacing the
  * full-snapshot view rewrite at data-table cardinality. Asserts the
  * two "done" criteria: (a) a batch touching one key rewrites only that
  * key's bucket — unchanged buckets' files are not even opened, so
  * per-batch cost is independent of unchanged-key cardinality and of
  * batch index; (b) store contents survive a session restart. */
class KeyedStoreSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  /** (bucketDir -> sorted data-file names) fingerprint of the store. */
  private def layout(base: String): Map[String, Seq[String]] = {
    val root = new java.io.File(base)
    root.listFiles().filter(f => f.isDirectory && f.getName.startsWith("kbucket="))
      .map { d =>
        d.getName -> d.listFiles().map(_.getName)
          .filter(_.endsWith(".parquet")).sorted.toSeq
      }.toMap
  }

  test("upsert rewrites only the changed key's bucket; others untouched on disk") {
    import spark.implicits._
    val base = tmp("kstore")
    val seed = (0 until 500).map(i => (s"key$i", i.toLong, "v1")).toDF("k", "n", "v")
    KeyedStore.upsert(seed, Seq("k"), base)
    val before = layout(base)
    assert(before.size > 1, s"want several bucket dirs, got ${before.keySet}")

    val change = Seq(("key7", 7L, "v2")).toDF("k", "n", "v")
    KeyedStore.upsert(change, Seq("k"), base)
    val after = layout(base)

    val touched = spark.range(1).select(
      pmod(hash(lit("key7")), lit(KeyedStore.DefaultBuckets))).first().getInt(0)
    val touchedDir = s"kbucket=$touched"
    assert(after(touchedDir) != before(touchedDir), "changed bucket not rewritten")
    (before.keySet - touchedDir).foreach { d =>
      assert(after(d) == before(d), s"unchanged bucket $d was rewritten")
    }

    // contents: 500 keys, key7 updated, everything else v1
    val got = KeyedStore.read(spark, base)
    assert(got.count() == 500)
    assert(got.filter($"k" === "key7").select("v").as[String].head() == "v2")
    assert(got.filter($"v" === "v1").count() == 499)
  }

  test("upsert is idempotent under batch replay; the marker's bucket count wins") {
    import spark.implicits._
    val base = tmp("kstore-idem")
    val seed = (0 until 100).map(i => (s"key$i", i.toLong)).toDF("k", "n")
    KeyedStore.upsert(seed, Seq("k"), base)
    val change = Seq(("key7", 700L)).toDF("k", "n")
    KeyedStore.upsert(change, Seq("k"), base)
    val once = KeyedStore.read(spark, base).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // foreachBatch is at-least-once: replaying the same batch must
    // converge to the identical table
    KeyedStore.upsert(change, Seq("k"), base)
    val twice = KeyedStore.read(spark, base).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(twice == once && once("key7") == 700L && once.size == 100)
    // a caller passing a stale bucket count cannot corrupt the table:
    // the recorded layout wins over the parameter
    KeyedStore.upsert(Seq(("key9", 900L)).toDF("k", "n"), Seq("k"), base,
      numBuckets = 64)
    val afterStale = KeyedStore.read(spark, base).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(afterStale.size == 100 && afterStale("key9") == 900L,
      s"stale-count upsert duplicated or lost keys: ${afterStale.size}")
    // a store created with a non-default count records it; lookup and
    // probe discover it from the table's own marker (no parameter)
    val wide = tmp("kstore-wide")
    KeyedStore.upsert(seed, Seq("k"), wide, numBuckets = 32)
    assert(KeyedStore.bucketCountOf(spark, wide) == 32)
    assert(KeyedStore.lookup(spark, wide, Seq("k"), Seq("key7"))
      .select("n").as[Long].head() == 7L)
    assert(KeyedStore.probe(Seq("key7").toDF("k"), Seq("k"), wide)
      .select("n").as[Long].collect().toSeq == Seq(7L))
  }

  test("probe/batch key types are aligned to the table's key type before hashing") {
    import spark.implicits._
    val base = tmp("kstore-type")
    // Long-keyed store
    val seed = (0 until 200).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    KeyedStore.upsert(seed, Seq("id"), base)
    // Int probe against the Long key: hash(42: Int) != hash(42L), so an
    // unaligned bucket filter would prune to the wrong directory and
    // return empty even though the row exists
    val hit = KeyedStore.lookup(spark, base, Seq("id"), Seq(42))
    assert(hit.select("v").as[String].collect().toSeq == Seq("v42"))
    // Int-typed BATCH against the Long-keyed table: rows must land in
    // the bucket a Long probe computes, and replace (not duplicate) them
    KeyedStore.upsert(Seq((7, "v2")).toDF("id", "v"), Seq("id"), base)
    val got = KeyedStore.read(spark, base)
    assert(got.count() == 200)
    assert(KeyedStore.lookup(spark, base, Seq("id"), Seq(7L))
      .select("v").as[String].head() == "v2")
  }

  test("empty/garbled bucket marker falls back instead of bricking the store") {
    import spark.implicits._
    val base = tmp("kstore-meta")
    val seed = (0 until 50).map(i => (s"key$i", i.toLong)).toDF("k", "n")
    KeyedStore.upsert(seed, Seq("k"), base)
    // simulate a crash between create and write of the marker
    val p = new org.apache.hadoop.fs.Path(base, "_graft_buckets")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(p, true).close()
    assert(KeyedStore.bucketCountOf(spark, base) == KeyedStore.DefaultBuckets)
    // upsert/lookup keep working on the fallback layout
    KeyedStore.upsert(Seq(("key7", 700L)).toDF("k", "n"), Seq("k"), base)
    assert(KeyedStore.lookup(spark, base, Seq("k"), Seq("key7"))
      .select("n").as[Long].head() == 700L)
    assert(KeyedStore.read(spark, base).count() == 50)
  }

  test("a failed bucket-marker rename fails the upsert instead of leaving no marker") {
    import spark.implicits._
    // without the marker every later read falls back to DefaultBuckets,
    // and a 3-bucket table would be probed and upserted in the wrong
    // buckets without any error
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.failrename.impl", classOf[FailingMarkerRenameFs].getName)
    val local = tmp("kstore-rename")
    val batch = Seq(("a", 1L), ("b", 2L)).toDF("k", "n")
    try {
      val e = intercept[java.io.IOException](KeyedStore.upsert(
        batch, Seq("k"), "failrename://" + local, numBuckets = 3))
      assert(e.getMessage.contains("_graft_buckets"), e.getMessage)
    } finally conf.unset("fs.failrename.impl")
    // the replayed batch, on a file system whose rename works, must
    // create the table with the requested layout, not take the
    // existing-table branch and fall back to DefaultBuckets
    KeyedStore.upsert(batch, Seq("k"), local, numBuckets = 3)
    assert(KeyedStore.bucketCountOf(spark, local) == 3)
    val got = KeyedStore.probe(Seq("a", "b").toDF("k"), Seq("k"), local)
      .select("k", "n").as[(String, Long)].collect().toSet
    assert(got == Set(("a", 1L), ("b", 2L)))
  }

  test("null-keyed rows upsert like any key (no per-batch duplication)") {
    import spark.implicits._
    val base = tmp("kstore-null")
    val seed = Seq((Some("a"), "v1"), (None, "v1")).toDF("k", "v")
    KeyedStore.upsert(seed, Seq("k"), base)
    KeyedStore.upsert(Seq((None: Option[String], "v2")).toDF("k", "v"), Seq("k"), base)
    val got = KeyedStore.read(spark, base)
    assert(got.count() == 2)
    assert(got.filter($"k".isNull).select("v").as[String].head() == "v2")
  }

  test("lookup prunes to the key's single bucket partition") {
    import spark.implicits._
    val base = tmp("kstore-lkp")
    val seed = (0 until 200).map(i => (s"key$i", i.toLong)).toDF("k", "n")
    KeyedStore.upsert(seed, Seq("k"), base)
    val hit = KeyedStore.lookup(spark, base, Seq("k"), Seq("key42"))
    assert(hit.select("n").as[Long].collect().toSeq == Seq(42L))
    val p = hit.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("PartitionFilters") && p.contains(KeyedStore.BucketColName),
      p.take(2000))
  }

  test("serveDurable: global view is a lazy alias over the store, not a snapshot") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = tmp("kstore-view")
    val t1 = Timestamp.valueOf("2020-04-08 00:00:00")
    val t2 = Timestamp.valueOf("2020-04-08 06:00:00")
    val ms = MemoryStream[(String, String, String, Timestamp)]
    val q = graft.state.ViewCatalog.serveDurable(
      graft.state.ViewCatalog.doublingRate,
      ms.toDS().toDF("date", "state", "doublingRate", "eventTime"), base)
    try {
      ms.addData((0 until 20).map(i => ("08/04/2020", s"State$i", "100", t1)): _*)
      q.processAllAvailable()
      assert(spark.table("global_temp.doubling_rate").count() == 20)
      ms.addData(("08/04/2020", "State7", "121", t2))
      q.processAllAvailable()
      val view = spark.table("global_temp.doubling_rate")
      assert(view.count() == 20)
      assert(view.filter(col("state") === "State7")
        .select("doublingRate").as[String].head() == "121")
      // the view's plan is a parquet scan of the store — no cached
      // snapshot relation
      assert(view.queryExecution.optimizedPlan.toString.toLowerCase
        .contains("parquet"), view.queryExecution.optimizedPlan.toString)
    } finally q.stop()
  }

  test("serveToStore: durable across query restart and session restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = tmp("kstore-stream")
    val ckpt = tmp("kstore-ckpt")
    val t1 = Timestamp.valueOf("2020-04-08 00:00:00")
    val t2 = Timestamp.valueOf("2020-04-08 06:00:00")
    val t3 = Timestamp.valueOf("2020-04-08 12:00:00")

    val ms = MemoryStream[(String, String, Timestamp)]
    def start() = KeyedStore.serveToStore(
      ms.toDS().toDF("state", "doublingRate", "eventTime"),
      Seq("state"), "eventTime", base, checkpointLocation = Some(ckpt))

    val q1 = start()
    try {
      ms.addData((0 until 50).map(i => (s"State$i", "100", t1)): _*)
      q1.processAllAvailable()
      ms.addData(("State7", "121", t2))
      q1.processAllAvailable()
    } finally q1.stop()

    // store survives with the query stopped; a fresh session reads it
    val fresh = spark.newSession()
    val afterStop = KeyedStore.read(fresh, base)
    assert(afterStop.count() == 50)
    assert(afterStop.filter(col("state") === "State7")
      .select("doublingRate").as[String](fresh.implicits.newStringEncoder)
      .head() == "121")

    // restart from the same checkpoint: engine state resumes, upserts continue
    val q2 = start()
    try {
      ms.addData(("State7", "133", t3))
      q2.processAllAvailable()
    } finally q2.stop()
    val afterRestart = KeyedStore.read(spark, base)
    assert(afterRestart.count() == 50)
    assert(afterRestart.filter(col("state") === "State7")
      .select("doublingRate").as[String].head() == "133")
    // stale-ts writes do not regress the store (engine max_by keeps t3)
    val q3 = start()
    try {
      ms.addData(("State7", "999", t1))
      q3.processAllAvailable()
    } finally q3.stop()
    assert(KeyedStore.read(spark, base).filter(col("state") === "State7")
      .select("doublingRate").as[String].head() == "133")
  }
}

/** The raw local file system under the `failrename` scheme, except that
  * a rename onto a `_graft_buckets` bucket marker reports failure. */
class FailingMarkerRenameFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("failrename:///")
  override def rename(src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Boolean =
    dst.getName != "_graft_buckets" && super.rename(src, dst)
}
