package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Embedding-similarity column functions.
  *
  * Determinism design: float components are quantized to integers
  * (`floor(x · 2^20)`), so dot products and squared norms are exact
  * 64-bit integer sums (every partial sum < 2^53 ⇒ exact in any
  * accumulation order, in any engine). The only floating-point steps are
  * the final `sqrt` and division — IEEE-deterministic given identical
  * integer inputs — which makes cosine values reproducible bit-for-bit
  * against external oracles and across cluster re-runs.
  */
object VectorFunctions {

  val QuantScale: Long = 1L << 20

  /** Quantize a float/double vector to exact integer components. */
  def quantize(vec: Column): Column =
    transform(vec, x => floor(x * lit(QuantScale.toDouble)).cast(LongType))

  /** Exact integer dot product of two quantized vectors. */
  def dotQ(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  /** Cosine similarity from precomputed integer dot + squared norms. */
  def cosineFrom(dot: Column, normSqA: Column, normSqB: Column): Column =
    dot.cast("double") / (sqrt(normSqA) * sqrt(normSqB))

  /** Deterministic ±1 hyperplane components shared by the Spark plan
    * and the generated DuckDB oracle (q64): eight iterated rounds of
    * the engine-portable polynomial step over the (plane, dim) seed
    * force modular reduction past PolyMod (the first two steps alone
    * stay linear in the seed — too structured for a sign family), and
    * bit 7 of the mixed residue gives the sign. Data-independent
    * constants, so both engines consume them as literals — part of the
    * operator definition, like q50's fixed term list. */
  def portablePlanes(nPlanes: Int, dims: Int): Array[Array[Long]] = {
    val P = graft.functions.expressions.ShingleHashes.PolyMod
    Array.tabulate(nPlanes, dims) { (p, i) =>
      var acc = (7L * 131 + p) % P
      acc = (acc * 131 + i) % P
      var r = 0
      while (r < 8) { acc = (acc * 131 + 13) % P; r += 1 }
      if (((acc >> 7) & 1L) == 1L) 1L else -1L
    }
  }

  /** Sign-bit LSH bucket for approximate search: `nBits` pseudo-random
    * ±1 hyperplanes with components derived from a splittable hash of
    * (plane, dimension) — deterministic, no stored model. Returns an
    * integer bucket id in [0, 2^nBits). `planeOffset` shifts the plane
    * indices so BANDED callers ([[lshBandKey]]) draw each band's bits
    * from distinct planes of the same family.
    */
  def lshBucket(qvec: Column, nBits: Int, dims: Int,
      planeOffset: Int = 0): Column = {
    val bits = (0 until nBits).map { r =>
      val p = planeOffset + r
      // ±1 hyperplane component for (plane p, dim i): parity of a hash.
      val proj = aggregate(
        zip_with(qvec, lit((0 until dims).toArray),
          (x, i) => when(pmod(hash(lit(p) * 1000 + i), lit(2)) === 0, x)
            .otherwise(-x)),
        lit(0L), (acc, x) => acc + x)
      when(proj >= 0, lit(1L << r)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a + b)
  }

  /** Band `band`'s sign-LSH key: `bandBits` sign bits from planes
    * `band*bandBits .. band*bandBits+bandBits-1` of the [[lshBucket]]
    * family — the AND-within-band/OR-across-bands construction that
    * gives banded sign-LSH its near-dup recall (a pair collides in a
    * band iff ALL its bits agree; across `nBands` independent bands a
    * cos≈0.95 pair at bandBits=4 collides somewhere with ≥99.9%
    * probability). Deterministic: a pure function of the vector and
    * the (band, dim) hash seeds, so the same vector always lands in
    * the same buckets — across batches, sessions, and restarts. */
  def lshBandKey(qvec: Column, band: Int, bandBits: Int, dims: Int): Column =
    lshBucket(qvec, bandBits, dims, planeOffset = band * bandBits)
}
