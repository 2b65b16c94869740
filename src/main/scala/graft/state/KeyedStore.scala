package graft.state

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Keyed mutable serving table: hash-bucketed parquet with
  * partition-pruned changed-bucket upsert — the engine's analog of the
  * reference's changelog-backed RocksDB state stores
  * (covid19-telegram-bot StateStoresManager.java, KafkaStreamsConfig
  * .java:79-95): durable, restart-recoverable, point-lookup-friendly
  * keyed state maintained incrementally from a stream.
  *
  * Layout: `basePath/kbucket=N/…parquet`, `kbucket = pmod(hash(key), B)`.
  * Each upsert touches ONLY the buckets containing changed keys:
  *
  *  1. changed rows (one per key — the update-mode contract of
  *     [[MaterializedViews.serveAsView]]'s engine-side aggregation)
  *     are tagged with their bucket;
  *  2. the existing table is read WITH a `kbucket IN (…)` filter —
  *     partition pruning means untouched bucket directories are never
  *     opened;
  *  3. surviving rows (anti-join on null-safe key equality) union the
  *     changed rows and overwrite ONLY those bucket directories
  *     (dynamic partition overwrite).
  *
  * Per-batch cost is therefore O(|changed keys| + |rows in touched
  * buckets|) — independent of the batch index and of the cardinality
  * of unchanged keys, which is what lets this run at data-table
  * cardinality where a full-snapshot rewrite (the global-temp-view leg)
  * cannot. At 100 TB, size `numBuckets` so a bucket is a few hundred MB
  * (one overwrite task's comfortable unit); the shuffle in step 3 moves
  * only touched-bucket rows.
  *
  * Restart story: the table IS the durable state — a fresh session
  * reads it back with [[read]] (no replay needed), and a restarted
  * stream with the same `checkpointLocation` resumes the engine-side
  * aggregation exactly where it left off (RocksDB state store +
  * WAL offsets), so upserts continue from the last committed batch.
  */
object KeyedStore {

  /** Partition-column name of the bucket (internal; dropped by [[read]]). */
  val BucketColName = "kbucket"
  private val BucketCol = BucketColName

  /** Number of bucket partitions. Serving-store cardinalities need few;
    * this is a table-layout constant, not a parallelism cap (each
    * bucket write is its own task, reads split by file). */
  val DefaultBuckets = 8

  private def bucketed(df: DataFrame, keyCols: Seq[String], numBuckets: Int): DataFrame =
    df.withColumn(BucketCol, pmod(hash(keyCols.map(col): _*), lit(numBuckets)))

  /** True only if the path holds table content (an existing-but-empty
    * directory is "no table yet" — the first write initializes it). */
  def isInitialized(spark: SparkSession, basePath: String): Boolean =
    exists(spark, basePath)

  private def exists(spark: SparkSession, basePath: String): Boolean = {
    val p = new Path(basePath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).exists(s =>
      s.getPath.getName.startsWith(s"$BucketCol="))
  }

  private val MetaFile = "_graft_buckets"

  private def writeBucketMeta(spark: SparkSession, basePath: String,
      numBuckets: Int): Unit = {
    val p = new Path(basePath, MetaFile)
    val tmp = new Path(basePath, MetaFile + ".tmp")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // stage + rename so a crash mid-write can't leave a torn marker at
    // the canonical name (readers of a missing/empty marker fall back)
    val out = fs.create(tmp, true)
    try out.write(numBuckets.toString.getBytes("UTF-8")) finally out.close()
    fs.delete(p, false)
    fs.rename(tmp, p)
  }

  /** The table's bucket count as written — the layout is a property of
    * the TABLE, not of the caller: every reader/writer derives it from
    * this marker, so a caller passing a stale count cannot silently
    * probe (or upsert against) the wrong bucket. Falls back to the
    * passed default only when the marker is absent (pre-existing
    * tables). */
  def bucketCountOf(spark: SparkSession, basePath: String,
      fallback: Int = DefaultBuckets): Int = {
    val p = new Path(basePath, MetaFile)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) fallback
    else {
      val in = fs.open(p)
      try {
        // read to EOF — a single read() may legally return fewer bytes
        // than available, which would silently truncate the count
        val acc = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](64)
        var n = in.read(buf)
        while (n >= 0) { acc.write(buf, 0, n); n = in.read(buf) }
        val s = new String(acc.toByteArray, "UTF-8").trim
        // an empty/garbled marker (crash between create and write of a
        // pre-rename-era table) must not brick the store — fall back
        scala.util.Try(s.toInt).filter(_ > 0).getOrElse(fallback)
      } finally in.close()
    }
  }

  /** Upsert `changed` (one row per key) into the store at `basePath`,
    * rewriting only the buckets that contain changed keys.
    * `numBuckets` applies only when the call CREATES the table; an
    * existing table's recorded layout always wins (see [[bucketCountOf]]).
    *
    * Idempotent per batch REPLAY: foreachBatch delivers at-least-once
    * on failure recovery, and re-applying the same changed rows to any
    * consistent table state converges to the identical table (same
    * keys replaced with the same latest values) — exactly-once
    * CONTENTS without a transaction log for every crash OUTSIDE the
    * file-commit window. The honest caveat: the parquet dynamic
    * overwrite itself is not atomic — a crash inside commitJob (old
    * bucket files deleted, staged ones not yet moved) can tear a
    * touched bucket, and the replayed batch carries only changed keys,
    * not the bucket's unchanged rows. Deployments needing atomic
    * commits put a Delta/Iceberg MERGE behind this same changed-rows
    * contract; this store keeps the offline-capable parquet form. */
  def upsert(changed: DataFrame, keyCols: Seq[String], basePath: String,
      numBuckets: Int = DefaultBuckets): Unit = {
    val spark = changed.sparkSession
    if (!exists(spark, basePath)) {
      val ch = bucketed(changed, keyCols, numBuckets).localCheckpoint(eager = true)
      ch.repartition(col(BucketCol))
        .write.partitionBy(BucketCol).mode("overwrite").parquet(basePath)
      writeBucketMeta(spark, basePath, numBuckets)
    } else {
      val b = bucketCountOf(spark, basePath, numBuckets)
      // hash() is type-sensitive (hash(7: Int) != hash(7L)): align the
      // batch's key columns to the TABLE's key types before bucketing,
      // or a caller handing an Int batch to a Long-keyed store would
      // write rows into buckets lookup never probes
      val tableSchema = spark.read.parquet(basePath).schema
      val aligned = keyCols.foldLeft(changed) { (df, k) =>
        df.withColumn(k, col(k).cast(tableSchema(k).dataType))
      }
      // changed is batch-small (update-mode output: only keys whose
      // latest value changed this trigger); pin it once — it feeds the
      // bucket list, the anti-join and the union.
      val ch = bucketed(aligned, keyCols, b).localCheckpoint(eager = true)
      // driver-side list of touched buckets: ≤ numBuckets ints, model-sized
      val touched = ch.select(BucketCol).distinct().collect().map(_.getInt(0))
      val prev = spark.read.parquet(basePath)
        .filter(col(BucketCol).isin(touched.map(Integer.valueOf): _*))
      // null-safe key equality: null-keyed groups upsert like any other
      // key (plain equality would never match NULL = NULL and duplicate
      // them every batch).
      val cond = keyCols.map(k => prev(k) <=> ch(k)).reduce(_ && _)
      val merged = prev.join(ch, cond, "left_anti").unionByName(ch)
      // one write task per touched bucket; localCheckpoint breaks the
      // read-path dependency so overwriting the same directories is safe
      merged.repartition(touched.length.max(1), col(BucketCol))
        .localCheckpoint(eager = true)
        .write.partitionBy(BucketCol)
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite").parquet(basePath)
    }
  }

  /** Re-bucket a store into `destPath` with a new bucket count — the
    * one-pass migration for when key cardinality outgrows the layout
    * (buckets are fixed at write time, like any bucketed table; size
    * them so a bucket stays a few hundred MB). */
  def rebucket(spark: SparkSession, basePath: String, keyCols: Seq[String],
      destPath: String, newBuckets: Int): Unit = {
    require(destPath != basePath, "rebucket writes to a NEW path")
    bucketed(read(spark, basePath), keyCols, newBuckets)
      .repartition(col(BucketCol))
      .write.partitionBy(BucketCol).mode("overwrite").parquet(destPath)
    writeBucketMeta(spark, destPath, newBuckets)
  }

  /** Current store contents (bucket column dropped). Partition pruning
    * applies to key-bucket point lookups via [[lookup]]. */
  def read(spark: SparkSession, basePath: String): DataFrame =
    spark.read.parquet(basePath).drop(BucketCol)

  /** Point lookup: prunes to the single bucket directory holding the
    * key before filtering — the store-scan analog of the reference
    * bot's `store.get(key)`. The bucket count comes from the table's
    * own marker; `numBuckets` is only the fallback for tables without
    * one. */
  def lookup(spark: SparkSession, basePath: String, keyCols: Seq[String],
      keyVals: Seq[Any], numBuckets: Int = DefaultBuckets): DataFrame = {
    val table = spark.read.parquet(basePath)
    // hash() is type-sensitive: cast each probe literal to the stored
    // key column's type, else an Int probe against a Long key computes
    // a different bucket and the pruning filter silently misses a row
    // the <=> filter alone would have matched
    val keyLits = keyCols.zip(keyVals).map { case (k, v) =>
      lit(v).cast(table.schema(k).dataType)
    }
    val b = pmod(hash(keyLits: _*), lit(bucketCountOf(spark, basePath, numBuckets)))
    table
      .filter(col(BucketCol) === b)
      .filter(keyCols.zip(keyLits).map { case (k, v) => col(k) <=> v }
        .reduce(_ && _))
      .drop(BucketCol)
  }

  /** Set probe: the store rows matching ANY key in `keys` — the
    * many-key form of [[lookup]], reading only the bucket directories
    * the probe keys hash into. A plain join against [[read]] would
    * scan the WHOLE store to answer a batch-sized probe; this prunes
    * the scan to O(touched buckets) exactly like [[upsert]] does, so
    * probing a micro-batch against a 100 TB store reads a few bucket
    * directories, not the table. `keys` must be batch-small (its
    * distinct bucket list is collected — ≤ numBuckets ints). The store
    * must exist ([[isInitialized]]) — an uninitialized store has no
    * schema to shape an empty result with. */
  def probe(keys: DataFrame, keyCols: Seq[String], basePath: String,
      numBuckets: Int = DefaultBuckets): DataFrame = {
    val spark = keys.sparkSession
    require(exists(spark, basePath),
      s"probe against uninitialized store $basePath (check isInitialized first)")
    val b = bucketCountOf(spark, basePath, numBuckets)
    val tableSchema = spark.read.parquet(basePath).schema
    val aligned = keyCols.foldLeft(keys.select(keyCols.map(col): _*)) {
      (df, k) => df.withColumn(k, col(k).cast(tableSchema(k).dataType))
    }
    val kb = bucketed(aligned, keyCols, b).localCheckpoint(eager = true)
    val touched = kb.select(BucketCol).distinct().collect().map(_.getInt(0))
    spark.read.parquet(basePath)
      .filter(col(BucketCol).isin(touched.map(Integer.valueOf): _*))
      .join(kb.dropDuplicates(keyCols), keyCols, "left_semi")
      .drop(BucketCol)
  }

  /** Maintain the store continuously from a streaming frame: the
    * latest-per-key aggregation runs inside the engine (update mode —
    * per-trigger output is exactly the changed keys), and each
    * micro-batch upserts those into the bucketed table. With a
    * `checkpointLocation` the whole pipeline is restart-recoverable:
    * engine state from RocksDB, serving state from the table itself. */
  def serveToStore(streaming: DataFrame, keyCols: Seq[String], tsCol: String,
      basePath: String, checkpointLocation: Option[String] = None,
      numBuckets: Int = DefaultBuckets,
      viewName: Option[String] = None): StreamingQuery = {
    val latest = MaterializedViews.latestPerKey(streaming, keyCols, tsCol)
    graft.streaming.Streams.foreachBatch(latest, "update",
      checkpointLocation) { (changed, _) =>
        upsert(changed, keyCols, basePath, numBuckets)
        // optionally serve the table as `global_temp.<name>` — a LAZY
        // alias over the parquet (re-registered per batch only so the
        // scan picks up the new file listing; nothing materializes),
        // unlike serveAsView's driver-held local relation. Global temp
        // views are shared across sessions, so registration from the
        // cloned foreachBatch session is visible to the serving session.
        // Caveat: a query that starts mid-overwrite of a bucket it
        // reads can hit a vanished file (the alias captures the file
        // listing at registration); set spark.sql.files.ignoreMissingFiles
        // or retry — the window is one bucket rewrite, and the reading
        // view is refreshed right after every batch.
        viewName.foreach(v =>
          read(changed.sparkSession, basePath).createOrReplaceGlobalTempView(v))
    }
  }
}
