package graft.operators

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.BinaryType

/** Bloom-filter pre-gate for membership joins against a large "seen"
  * key set — the manual form of Catalyst's own runtime row-level
  * filtering (`InjectRuntimeFilter`), exposed as an operator because
  * the optimizer never injects a bloom filter where THIS engine needs
  * one: semi/anti probes whose probe side is the 100 TB corpus and
  * whose build side (a benchmark blocklist, yesterday's digest store,
  * a contamination gram set) is far too large to broadcast as an
  * in-list but small enough to sketch.
  *
  * Correctness: a Bloom filter has NO false negatives, so
  * bloom-negative probe rows are DEFINITELY absent from `seen` — they
  * skip the exact join entirely and never shuffle. Bloom-positive rows
  * (true hits + the fpp share of false positives) are confirmed by an
  * exact semi-join, so the composed result is bit-identical to the
  * ungated join at any fpp (BloomGateSpec proves ≡ on random inputs).
  * The gate is a pure exchange-volume optimization: at a 1% fpp the
  * probe-side shuffle carries ~(hits + 1% of misses) instead of every
  * row.
  *
  * Sizing: the sketch is built distributed (partial sketches OR-merge
  * associatively) and collects ONE bitmap to the driver —
  * ~1.2 MB per 10⁶ keys at 1% fpp, so it broadcasts comfortably up to
  * ~10⁹ seen keys (~1.2 GB). Beyond that, shard `seen` and gate each
  * shard, or skip the gate — the operator `require`s a sane
  * `expectedItems` rather than guessing. Keys are hashed to the
  * sketch with `xxhash64` on BOTH build and probe sides, so any
  * key type Spark can hash participates; the EXACT join runs on the
  * caller's key column itself (pass a 128-bit digest for corpus-scale
  * key sets — the bloom's 64-bit hash only ever widens the candidate
  * set, never the result).
  */
object BloomGate {

  /** Serialized Bloom filter over `seen.keyCol`, built with a
    * distributed aggregation (one `xxhash64` long per row; partial
    * sketches merge on the driver). */
  def build(seen: DataFrame, keyCol: String, expectedItems: Long,
      fpp: Double = 0.01): Array[Byte] = {
    require(expectedItems > 0, s"expectedItems must be positive: $expectedItems")
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1): $fpp")
    val bf = seen.select(xxhash64(col(keyCol)).as("__bloom_key"))
      .stat.bloomFilter("__bloom_key", expectedItems, fpp)
    val bos = new ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  /** Probe predicate: true iff `key` MIGHT be in the sketch (never
    * false for a present key). Evaluates inside the scan — a plain
    * codegen-friendly filter, no join, no broadcast variable. */
  def mightContain(bloom: Array[Byte], key: Column): Column =
    ColumnBridge.column(BloomFilterMightContain(
      Literal(bloom, BinaryType),
      ColumnBridge.expression(xxhash64(key))))

  /** Rows of `probe` whose `keyCol` value occurs in `seen.seenKeyCol`
    * — semantically `probe LEFT SEMI JOIN seen`, with the bloom gate
    * dropping definitely-absent rows before the exchange. */
  def gatedSemiJoin(probe: DataFrame, keyCol: String, seen: DataFrame,
      seenKeyCol: String, expectedItems: Long,
      fpp: Double = 0.01): DataFrame = {
    val bloom = build(seen, seenKeyCol, expectedItems, fpp)
    probe.filter(mightContain(bloom, col(keyCol)))
      .join(seen.select(col(seenKeyCol).as(keyCol)), Seq(keyCol), "left_semi")
  }

  /** OR-merge of two sketches built with the SAME (expectedItems, fpp)
    * — the union filter matches everything either input matches. */
  def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val fa = org.apache.spark.util.sketch.BloomFilter
      .readFrom(new java.io.ByteArrayInputStream(a))
    val fb = org.apache.spark.util.sketch.BloomFilter
      .readFrom(new java.io.ByteArrayInputStream(b))
    fa.mergeInPlace(fb)
    val bos = new ByteArrayOutputStream()
    fa.writeTo(bos)
    bos.toByteArray
  }

  /** Read a small file to EOF (a sketch, a store marker); None when
    * absent. For a sketch, absence means the ungated path, which is
    * always safe. */
  def readFile(spark: org.apache.spark.sql.SparkSession,
      path: String): Option[Array[Byte]] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val bos = new ByteArrayOutputStream()
        val buf = new Array[Byte](64 * 1024)
        var n = in.read(buf)
        while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
        Some(bos.toByteArray)
      } finally in.close()
    }
  }

  /** Write a small file (a sketch, a store marker) via write-temp +
    * rename; a failed rename throws. The delete→rename gap can leave
    * the path briefly absent on a non-atomic FS — sketch readers treat
    * absence as "no gate", so the worst case is one ungated batch,
    * never a wrong one. */
  def writeFile(spark: org.apache.spark.sql.SparkSession, path: String,
      bytes: Array[Byte]): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(p.getParent)
    val tmp = new org.apache.hadoop.fs.Path(
      p.getParent, s".${p.getName}.tmp${System.nanoTime()}")
    val out = fs.create(tmp, true)
    try out.write(bytes) finally out.close()
    if (fs.exists(p)) fs.delete(p, false)
    if (!fs.rename(tmp, p)) {
      fs.delete(tmp, false)
      throw new java.io.IOException(s"rename failed: $tmp -> $path")
    }
  }
}
