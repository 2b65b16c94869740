package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{AnnIndex, Similarity}

/** Persisted ANN index: deterministic rebuild, probe-path equivalence
  * with the in-memory build, and the cluster-partitioned layout that
  * makes probes partition-pruned. */
class AnnIndexSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("annindex").toFile.getAbsolutePath

  private def corpus: DataFrame = Similarity.quantize(
    graft.sources.Tables.load(spark, sf, "embeddings"), "embedding", "vec_id")

  private def topkRows(df: DataFrame): Set[(Long, Long, Int)] =
    df.select("query_id", "neighbor_id", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  test("rebuild over the same corpus produces identical artifacts") {
    val c = corpus
    val r1 = tmp(); val r2 = tmp()
    AnnIndex.build(c, r1, kClusters = 16, iters = 2)
    AnnIndex.build(c, r2, kClusters = 16, iters = 2)
    val h1 = AnnIndex.load(spark, r1)
    val h2 = AnnIndex.load(spark, r2)
    // codebook: same centroids, same order
    assert(h1.codebook.length == h2.codebook.length)
    h1.codebook.zip(h2.codebook).foreach { case (a, b) =>
      assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
    }
    // cluster model identical
    def cents(h: AnnIndex.Handle) = h.centroids.collect()
      .map(r => r.getInt(0) -> (r.getSeq[Long](1), r.getLong(2))).toMap
    assert(cents(h1) == cents(h2))
    // assignments and codes identical
    def assign(h: AnnIndex.Handle) = h.indexed.select("vec_id", "cluster")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(assign(h1) == assign(h2))
    def codes(h: AnnIndex.Handle) = h.encoded.select("vec_id", "code")
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codes(h1) == codes(h2))
  }

  test("probe over loaded artifacts equals the in-memory build's results") {
    val c = corpus
    val root = tmp()
    val h = AnnIndex.ensure(c, root, kClusters = 16, iters = 2)
    val queries = c.filter(col("vec_id") < 20)
    // IVF exact re-rank path
    val (freshIdx, freshCents) = Similarity.kmeansIndex(c, k = 16, iters = 2)
    assert(
      topkRows(Similarity.annIvfTopK(h.indexed, h.centroids, queries, 5, 4)) ==
        topkRows(Similarity.annIvfTopK(freshIdx, freshCents, queries, 5, 4)))
    // ADC path: encoded-table probe == encode-at-query-time
    val cb = Similarity.pqTrain(c)
    assert(
      topkRows(Similarity.annPqTopKEncoded(h.encoded, queries, 10, h.codebook)) ==
        topkRows(Similarity.annPqTopK(c, queries, 10, cb)))
    // IVF-PQ composition
    assert(
      topkRows(Similarity.annIvfPqTopKEncoded(h.encoded, h.centroids,
        queries, 10, 2, h.codebook)) ==
        topkRows(Similarity.annIvfPqTopK(freshIdx, freshCents, queries, 10, 2, cb)))
    // ensure() is idempotent: second call loads, not rebuilds (marker)
    assert(AnnIndex.isBuilt(spark, root))
  }

  test("concurrent ensure() calls build exactly once (lock file serializes builders)") {
    val root = tmp()
    val c = corpus.filter(col("vec_id") < 100).localCheckpoint(true)
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    AnnIndex.buildObserver = { _ =>
      builds.incrementAndGet()
      Thread.sleep(1500) // slow build: the second caller MUST overlap it
    }
    try {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      val ec = scala.concurrent.ExecutionContext.fromExecutor(pool)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      val fs = (1 to 2).map(_ => Future {
        AnnIndex.ensure(c, root, kClusters = 4, iters = 1)
      }(ec))
      val handles = fs.map(Await.result(_, 120.seconds))
      pool.shutdown()
      assert(builds.get() == 1, s"built ${builds.get()} times under contention")
      handles.foreach(h => assert(h.centroids.count() == 4))
      // lock released: a later ensure neither blocks nor rebuilds
      AnnIndex.ensure(c, root, kClusters = 4, iters = 1)
      assert(builds.get() == 1)
    } finally AnnIndex.buildObserver = _ => ()
  }

  test("a dead holder's stale lock is broken; a live holder's heartbeat keeps it held") {
    import org.apache.hadoop.fs.Path
    val root = tmp()
    val lock = new Path(root, "_graft_ann_lock")
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(root))

    // a lock whose holder died: mtime far in the past, no heartbeat —
    // withBuildLock must break it and run the body promptly
    fs.create(lock, false).close()
    fs.setTimes(lock, System.currentTimeMillis() - 60000L, -1)
    var ran = false
    AnnIndex.withBuildLock(spark, root, staleMs = 2000L) { ran = true }
    assert(ran, "stale lock was not broken")
    assert(!fs.exists(lock), "lock not released after body")
    // the rename-then-delete break leaves no tombstones behind
    val leftovers = fs.listStatus(new Path(root))
      .map(_.getPath.getName).filter(_.startsWith("_graft_ann_lock"))
    assert(leftovers.isEmpty, s"break left lock debris: ${leftovers.toSeq}")

    // a LIVE holder refreshes the lock mtime every staleMs/3 (the
    // heartbeat), so a cross-process contender with the same staleMs
    // never observes it stale — assert the refresh actually happens
    // during a body that runs longer than staleMs
    AnnIndex.withBuildLock(spark, root, staleMs = 900L) {
      val t0 = fs.getFileStatus(lock).getModificationTime
      Thread.sleep(2000)
      val t1 = fs.getFileStatus(lock).getModificationTime
      assert(t1 > t0,
        s"heartbeat did not refresh lock mtime ($t0 -> $t1): a build " +
          "longer than staleMs would be broken by a waiter")
    }
    assert(!fs.exists(lock))
  }

  test("a built index reads lock-free: an orphaned FRESH lock never stalls ensure()") {
    import org.apache.hadoop.fs.Path
    val root = tmp()
    val c = corpus.limit(64)
    AnnIndex.ensure(c, root, kClusters = 2, iters = 1)
    // simulate a SIGKILLed holder: lock file with a CURRENT mtime and
    // no heartbeat — a locked read path would wait staleMs (10 min)
    val lock = new Path(root, "_graft_ann_lock")
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(lock, false).close()
    try {
      val t0 = System.nanoTime()
      val h = AnnIndex.ensure(c, root, kClusters = 2, iters = 1)
      val secs = (System.nanoTime() - t0) / 1e9
      assert(h.indexed.count() == 64)
      assert(secs < 60.0,
        f"ensure() on a built index took $secs%.1f s behind an orphan " +
          "lock — the built-index fast path is not lock-free")
    } finally fs.delete(lock, false)
  }

  test("a rebuild that throws midway leaves the root unbuilt; ensure() rebuilds it") {
    val root = tmp()
    val c = corpus
    AnnIndex.build(c.filter(col("vec_id") < 100), root, kClusters = 4, iters = 1)
    // m = 7 does not divide the 64 dims: pqTrain's require throws after
    // ivf/ and centroids/ were already rewritten over the full corpus
    val e = intercept[IllegalArgumentException] {
      AnnIndex.build(c, root, kClusters = 4, iters = 1, m = 7)
    }
    assert(e.getMessage.contains("not divisible"), e.getMessage)
    assert(!AnnIndex.isBuilt(spark, root),
      "a failed rebuild left the old marker over half-rewritten artifacts")
    val h = AnnIndex.ensure(c, root, kClusters = 4, iters = 1)
    val n = c.count()
    assert(h.indexed.count() == n)
    assert(h.encoded.count() == n)
  }

  test("source fingerprint sees paths, not leaf names: compensating subdir swaps differ") {
    import java.nio.file.{Files => JFiles, Paths}
    // two same-named part files in different subdirs SWAP len/mtime —
    // under the old name-only additive fold both layouts summed to the
    // same fingerprint, so a regenerated corpus could silently serve a
    // stale index. The mixed path-sensitive form must distinguish them.
    def write(root: String, sub: String, bytes: Int, mtime: Long): Unit = {
      val d = Paths.get(root, sub)
      JFiles.createDirectories(d)
      JFiles.write(d.resolve("part-0"), Array.fill(bytes)('x'.toByte))
      d.resolve("part-0").toFile.setLastModified(mtime)
    }
    val (ta, tb) = (1700000000000L, 1700000600000L)
    val r1 = tmp()
    write(r1, "sub1", 100, ta); write(r1, "sub2", 200, tb)
    val r2 = tmp()
    write(r2, "sub1", 200, tb); write(r2, "sub2", 100, ta)
    val f1 = AnnIndex.sourceFingerprint(spark, r1)
    val f2 = AnnIndex.sourceFingerprint(spark, r2)
    assert(f1 != f2, s"compensating len/mtime swap collided: $f1")
    // and the fingerprint is stable for identical content
    assert(f1 == AnnIndex.sourceFingerprint(spark, r1))
  }

  test("ivf and codes tables are partitioned by cluster (probe prunes directories)") {
    val root = tmp()
    AnnIndex.build(corpus, root, kClusters = 8, iters = 1)
    def parts(sub: String): Seq[String] =
      new java.io.File(s"$root/$sub").listFiles()
        .map(_.getName).filter(_.startsWith("cluster=")).toSeq
    assert(parts("ivf").nonEmpty, "ivf not cluster-partitioned")
    assert(parts("codes").nonEmpty, "codes not cluster-partitioned")
    // a 2-cluster probe plan scans only the probed partitions
    val h = AnnIndex.load(spark, root)
    val probed = h.encoded.filter(col("cluster").isin(0, 1))
    val scan = probed.queryExecution.executedPlan.toString
    assert(!scan.contains("cluster=2") || parts("codes").size <= 2,
      "partition filter missing from the probe scan")
  }
}
