package graft

import org.apache.spark.sql.SparkSession

/** Central place for session configuration so Verify/Bench/tests all run
  * with identical semantics (UTC, AQE on, nanos-parquet readable).
  *
  * Scale posture: shuffle partitions default to the local core count here,
  * but on a real cluster these settings are safe — AQE coalesces and
  * re-plans skewed joins at runtime.
  *
  * Invariant: no Hadoop `file:` operation forks a process. Without the
  * native-hadoop library the stock local file system runs `chmod` on
  * every create/mkdirs and `readlink` on every FileContext rename, each
  * a fork of this JVM; a micro-batch does dozens (offsets and commits
  * logs, RocksDB checkpoint files, their `.crc` and checksum files).
  * `fs.file.impl` and `fs.AbstractFileSystem.file.impl` name
  * [[graft.sources.ForkFreeLocalFileSystem]] and
  * [[graft.sources.ForkFreeLocalFs]] instead. Measured on perfbench
  * live-loop (4 cores): walCommit 72 → 4 ms and RocksDB commit 866 →
  * 198 ms per batch, freshness geomean 2.34 → 1.42 s (median of 12 pairs).
  */
object GraftSession {

  /** Apply graft's standard configuration to a builder. */
  def configure(b: SparkSession.Builder, cpus: String): SparkSession.Builder =
    b.master(s"local[$cpus]")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // AQE's global sort-merge→shuffled-hash rewrite stays OFF: an r14
      // A/B (48 queries, sf0.1) sped the one-shot digest self-joins up
      // 1.2-1.6x but regressed the iterative classes up to 3.4x, so the
      // winning joins carry a targeted shuffle_hash hint instead
      // (Dedup.jaccardPairs, CoOccurrence).
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "0")
      // some events.parquet vintages store INT64 TIMESTAMP(NANOS), which
      // Spark's parquet reader rejects by default; read the raw long and
      // let Tables.load normalize whichever vintage is present.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // the engine's read surface includes multi-KB BINARY payload
      // columns (the media store): at the 4096-row default a single
      // columnar batch of ~9 KB payloads is a ~37 MB contiguous vector
      // PER TASK, and 32 concurrent scan tasks OOM the reader
      // (measured: the 400k-doc media_decode stress stage failed with
      // FAILED_READ_FILE before this bound). 1024 rows keeps batch
      // bytes ~9 MB/task for payload scans while costing narrow scans
      // nothing measurable (batch setup amortizes over 1024 rows;
      // full-suite bench rate was flat under A/B).
      .config("spark.sql.parquet.columnarReaderBatchSize", "1024")
      // production streaming state backend (spillable, incremental
      // checkpoints) — the analog of the reference's RocksDB stores
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // file: I/O without a forked chmod/readlink (see the invariant above)
      .config("spark.hadoop.fs.file.impl",
        classOf[graft.sources.ForkFreeLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[graft.sources.ForkFreeLocalFs].getName)
      .config("spark.ui.enabled", "false")

  /** Default parallelism: the driver environment's CPU count (capped at
    * the 32 the target runs with), overridable via SPARK_GRAFT_CPUS. */
  def defaultCpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    math.min(32, Runtime.getRuntime.availableProcessors()).toString)

  def local(cpus: String = defaultCpus): SparkSession = {
    val spark = configure(SparkSession.builder(), cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Release every block the last query pinned: several query fns use
    * eager `localCheckpoint(true)` to cut iterative lineage (resolve,
    * PageRank) or pin reused frames, and those checkpoint RDD blocks
    * stay in the block manager until unpersisted. Invariant: after
    * this call no query's pinned blocks remain, so in a multi-query
    * run each query starts on a clean block manager and pays no
    * eviction cost for the ones before it. Safe anywhere, running
    * streams included: graft queries never rely on cross-query
    * persisted state, and the `global_temp` serving views hold their
    * rows on the driver
    * ([[graft.state.MaterializedViews.upsertIntoGlobalView]]), not in
    * pinned blocks. */
  def releaseCaches(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    spark.catalog.clearCache()
  }
}
