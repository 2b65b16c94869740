package graft.functions.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, DoubleType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the similarity/dedup hot paths.
  *
  * Spark's higher-order functions (`zip_with`, `aggregate`, `transform`)
  * are CodegenFallback — evaluated interpretively per element, which
  * dominates wall-clock when a join emits millions of candidate pairs.
  * These expressions run the inner loop as one compiled call per row:
  * `DotProductL` participates in whole-stage codegen; `MinHashSig` does
  * its k×n work in a single tight JVM loop per row.
  */

/** Exact integer dot product of two `array<bigint>` columns (the
  * quantized-embedding hot path of q30/q31/q32). Whole-stage codegen:
  * one fused loop, no per-element virtual calls.
  *
  * Null semantics MATCH the declarative
  * `aggregate(zip_with(a,b,(x,y)=>x*y), 0L, (acc,x)=>acc+x)` form —
  * null result on length mismatch or any null element — so
  * `RewriteDotProduct` may substitute this expression soundly. */
case class DotProductL(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) return null
    var s = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      s += x.getLong(i) * y.getLong(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = $a.numElements();
         |long $s = 0L;
         |if ($b.numElements() != $n) {
         |  ${ev.isNull} = true;
         |} else {
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $s += $a.getLong($i) * $b.getLong($i);
         |  }
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Distinct hashed word n-gram shingles of an `array<string>` token
  * list, as `array<bigint>` (sorted). One pass per row: each word is
  * XXH64-hashed once, each n-window identity is a seed-chained hash of
  * its word hashes — no shingle strings are ever materialized. Replaces
  * an interpreted transform+concat lambda that cost ~50× (collision
  * odds over ~10^5 shingles: ~1e-9, irrelevant to set semantics). */
case class ShingleHashes(child: Expression, n: Int, ordered: Boolean = false,
    poly: Boolean = false) extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(v: Any): Any = {
    val words = v.asInstanceOf[ArrayData]
    val m = words.numElements()
    if (m < n) return new GenericArrayData(Array.empty[Long])
    val out =
      if (poly) polyWindowHashes(words, m)
      else {
        val wh = new Array[Long](m)
        var i = 0
        while (i < m) {
          val s = words.getUTF8String(i)
          wh(i) = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
          i += 1
        }
        val o = new Array[Long](m - n + 1)
        i = 0
        while (i <= m - n) {
          var acc = 42L
          var j = 0
          while (j < n) { acc = XXH64.hashLong(wh(i + j), acc); j += 1 }
          o(i) = acc
          i += 1
        }
        o
      }
    var i = 0
    // ordered = document-position order (winnowing input);
    // default = sorted distinct (set semantics for Jaccard/MinHash)
    if (ordered) return new GenericArrayData(out)
    java.util.Arrays.sort(out)
    var w = 0
    i = 0
    while (i < out.length) {
      if (w == 0 || out(i) != out(w - 1)) { out(w) = out(i); w += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, w))
  }

  /** Oracle-replicable mode: per-window polynomial codepoint hash of
    * the shingle STRING "w1 w2 … wn" — `acc = (acc*131 + cp) mod P`
    * from acc=7 over every codepoint including the joining spaces, with
    * P = 35184372088777 (< 2^45, so `acc*131 + cp` < 2^53 never
    * overflows a BIGINT in any engine). DuckDB computes the identical
    * value with `list_reduce(list_prepend(7, codepoints), …)`, making
    * winnowing sketches over these hashes exactly checkable end-to-end
    * (XXH64 stays the production default — faster, better avalanche). */
  private def polyWindowHashes(words: ArrayData, m: Int): Array[Long] = {
    val ws = new Array[String](m)
    var i = 0
    while (i < m) { ws(i) = words.getUTF8String(i).toString; i += 1 }
    val out = new Array[Long](m - n + 1)
    i = 0
    while (i <= m - n) {
      var acc = 7L
      var j = 0
      while (j < n) {
        if (j > 0) acc = (acc * 131 + 32) % ShingleHashes.PolyMod
        acc = ShingleHashes.polyFold(acc, ws(i + j))
        j += 1
      }
      out(i) = acc
      i += 1
    }
    out
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleHashes {
  /** Prime modulus < 2^45: keeps the fold exact in 64-bit signed
    * arithmetic on every engine (no overflow, DuckDB errors on it). */
  val PolyMod = 35184372088777L

  private[expressions] def polyFold(acc0: Long, s: String): Long = {
    var acc = acc0
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      acc = (acc * 131 + cp) % PolyMod
      i += Character.charCount(cp)
    }
    acc
  }
}

/** MinHash signature of an `array<bigint>` shingle-hash set (the
  * `shingleHashes` output): k independent hash functions derived from
  * each shingle hash by splitmix64 finalizers — k×n hashing in one eval
  * call per row instead of k interpreted `transform`s (the q28 hot
  * path). Any other input type is rejected at analysis. */
case class MinHashSig(child: Expression, k: Int)
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))

  private lazy val seeds: Array[Long] =
    Array.tabulate(k)(j => MinHashSig.mix(j.toLong * 0x9e3779b97f4a7c15L + 1L))

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val sig = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val base = arr.getLong(i)
      var j = 0
      while (j < k) {
        val h = MinHashSig.mix(base ^ seeds(j))
        if (h < sig(j)) sig(j) = h
        j += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSig {
  /** splitmix64 finalizer — full-avalanche 64-bit mix. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
}

/** Distinct sliding-window minima of an `array<bigint>` (the winnowing
  * sketch inner loop, SIGMOD'03): minimum of every length-`w` window in
  * position order, deduplicated keeping first occurrence. Semantically
  * identical to `array_distinct(transform(sequence(1, n-w+1), i ->
  * array_min(slice(hs, i, w))))` but one O(n) monotonic-deque pass per
  * row instead of an interpreted O(n·w) HOF chain (the q40 hot path). */
case class WinnowMins(child: Expression, w: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(v: Any): Any = {
    val hs = v.asInstanceOf[ArrayData]
    val n = hs.numElements()
    if (n < w) return new GenericArrayData(Array.empty[Long])
    val arr = new Array[Long](n)
    var i = 0
    while (i < n) { arr(i) = hs.getLong(i); i += 1 }
    val mins = new Array[Long](n - w + 1)
    val dq = new Array[Int](n) // monotonic deque of indices, values increasing
    var head = 0
    var tail = 0
    i = 0
    while (i < n) {
      while (tail > head && arr(dq(tail - 1)) >= arr(i)) tail -= 1
      dq(tail) = i
      tail += 1
      if (dq(head) <= i - w) head += 1
      if (i >= w - 1) mins(i - w + 1) = arr(dq(head))
      i += 1
    }
    val seen = new java.util.HashSet[java.lang.Long](mins.length * 2)
    val res = new Array[Long](mins.length)
    var k = 0
    i = 0
    while (i < mins.length) {
      if (seen.add(mins(i))) { res(k) = mins(i); k += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(res, k))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Highest multiplicity of any element in an `array<bigint>` — the
  * repetition-score inner loop (max n-gram count per document, the
  * Gopher/C4 duplicate-n-gram quality signal). One hashmap pass per
  * row; 0 for an empty array. The declarative form would be an
  * explode + two shuffles or an interpreted O(n²) HOF. Null elements
  * are skipped (not counted as 0). */
case class MaxMultiplicity(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n == 0) return 0L
    val counts = new java.util.HashMap[java.lang.Long, Int](n * 2)
    var best = 0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val c = counts.merge(arr.getLong(i), 1, (a, b) => a + b)
        if (c > best) best = c
      }
      i += 1
    }
    best.toLong
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Membership probe into a SORTED `array<bigint>` by binary search —
  * O(log n) per row where `array_contains` linear-scans. The chunk
  * keep/boilerplate flags probe a per-document position array once per
  * chunk row; with `array_contains` a 100k-chunk document costs 100k²
  * comparisons inside one task (the scan-per-row pathology the
  * winnowPairs hot-cap fix removed elsewhere), with the bisect it is
  * n·log n. Caller contract: the array is sorted ascending with
  * non-null elements (`array_sort(collect_set(...))` — enforced at the
  * call sites); standard binary-expression null-in → null-out. */
case class SortedContainsLong(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = BooleanType

  override def nullSafeEval(a: Any, v: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val x = v.asInstanceOf[Long]
    var lo = 0
    var hi = arr.numElements() - 1
    var found = false
    while (!found && lo <= hi) {
      val mid = (lo + hi) >>> 1
      val m = arr.getLong(mid)
      if (m == x) found = true
      else if (m < x) lo = mid + 1
      else hi = mid - 1
    }
    found
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(newLeft, newRight)
}

/** Occurrences of any of a fixed marker set in an `array<string>` token
  * list (language-ID scores, stopword counts — the q24/q25 hot path).
  * Counts OCCURRENCES, not distinct markers (stopwords repeat), exactly
  * like `size(filter(ws, w -> w.isin(markers)))` — which is an
  * interpreted per-element HOF running an `In` over the marker literals
  * per token (~50× the scan cost). One hash-set probe per token here. */
case class MarkerCount(child: Expression, markers: Seq[String])
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = IntegerType

  private lazy val markerSet: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](markers.size * 2)
    markers.foreach(m => s.add(UTF8String.fromString(m)))
    s
  }

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    var c = 0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i) && markerSet.contains(arr.getUTF8String(i))) c += 1
      i += 1
    }
    c
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Frequency-weighted 64-bit SimHash of an `array<string>` token list:
  * every occurrence votes ±1 per bit position, signature bit = sign of
  * the tally — one pass per row instead of a 64×-explode + two shuffles
  * (the q29 hot path). */
case class SimHashSig(child: Expression) extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val counts = new Array[Int](64)
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
      var j = 0
      while (j < 64) {
        if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
        j += 1
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < 64) {
      if (counts(j) > 0) sig |= (1L << j)
      j += 1
    }
    sig
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Both document-fingerprint canonical forms in one pass over the text
  * (the q26 hot path — previously two chained regexp_replace scans plus
  * a separate tokenize→distinct→sort→join pass, each re-reading every
  * byte with regex machinery):
  *
  *  - `norm`: lowercased, non-[a-z0-9 ] stripped, spaces collapsed,
  *    trimmed — byte-identical to
  *    `trim(regexp_replace(regexp_replace(lower(t),"[^a-z0-9 ]",("")," +"," "))`;
  *  - `bag`: sorted distinct raw space-split tokens joined by " " —
  *    byte-identical to `array_join(array_sort(array_distinct(split(t," ")))," ")`
  *    (empty tokens from consecutive spaces included, binary UTF8 sort).
  *
  * md5 stays outside (codegen'd builtin). Single struct output so the
  * text is scanned once even when both forms are consumed. */
/** DEFLATE-compressed byte count of a string's UTF-8 bytes (zlib
  * level 6, raw stream) — the compression-ratio quality signal of the
  * curation literature (Gopher/RedPajama-class filters: template and
  * boilerplate-heavy documents compress far below prose; random or
  * encrypted junk compresses above it). One JDK Deflater pass per row,
  * counting output bytes into a scratch buffer — nothing is retained.
  * Deterministic for a fixed input (fixed level/strategy, single
  * `deflate` stream); no SQL-engine twin exists, so consumers are
  * rows-only + spec-bounded (CurationSpec pins monotonicity:
  * repeated text < prose < high-entropy). */
case class DeflateSize(child: Expression) extends UnaryExpression
    with CodegenFallback {

  override def dataType: DataType = IntegerType

  override def nullSafeEval(v: Any): Any = {
    val bytes = v.asInstanceOf[UTF8String].getBytes
    val d = new java.util.zip.Deflater(6, true)
    try {
      d.setInput(bytes)
      d.finish()
      val buf = new Array[Byte](8192)
      var total = 0
      while (!d.finished()) total += d.deflate(buf)
      total
    } finally d.end()
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class CanonicalForms(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StructType(Seq(
    StructField("norm", StringType, nullable = false),
    StructField("bag", StringType, nullable = false)))

  override def nullSafeEval(v: Any): Any = {
    val lowered = v.asInstanceOf[UTF8String].toLowerCase
    val bytes = lowered.getBytes
    val n = bytes.length
    // norm: keep [a-z0-9], collapse space runs, trim — one forward pass.
    // Non-ASCII bytes (>= 0x80) are dropped exactly like the regex does
    // (any lowered char outside [a-z0-9 ] is stripped).
    val norm = new Array[Byte](n)
    var w = 0
    var pendingSpace = false
    var i = 0
    while (i < n) {
      val b = bytes(i)
      val keep = (b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')
      if (keep) {
        if (pendingSpace) { norm(w) = ' '; w += 1; pendingSpace = false }
        norm(w) = b
        w += 1
      } else if (b == ' ' && w > 0) pendingSpace = true
      i += 1
    }
    val normStr = UTF8String.fromBytes(java.util.Arrays.copyOf(norm, w))
    // bag: raw split on single spaces (empties kept), distinct, binary
    // sort, single-space join — TreeSet gives sorted-distinct in one go.
    val raw = v.asInstanceOf[UTF8String]
    val tokens = new java.util.TreeSet[UTF8String]()
    raw.split(UTF8String.fromString(" "), -1).foreach(tokens.add)
    val bagStr = UTF8String.concatWs(UTF8String.fromString(" "),
      tokens.toArray(new Array[UTF8String](tokens.size)): _*)
    org.apache.spark.sql.catalyst.InternalRow(normStr, bagStr)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Bounded top-k aggregate over (score, id) pairs: keeps only the k
  * best per group in a size-k heap, so the aggregation is PARTIAL —
  * each map task ships at most k pairs per group instead of every
  * scored row crossing the shuffle (the q31/q32/q39 re-rank path; a
  * `row_number().over(partitionBy(key))` window shuffles ALL n×q scored
  * rows to rank them). Order: score descending, id ascending on ties —
  * the exact `ORDER BY cosine DESC, neighbor_id` semantics of the
  * window form, reproduced deterministically. Null score/id inputs are
  * skipped. Output: `array<struct<score:double, id:bigint>>` best-first.
  */
case class TopKByScore(scoreExpr: Expression, idExpr: Expression, k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[java.util.PriorityQueue[(Double, Long)]] {

  require(k > 0, s"top-k needs k > 0, got $k")

  override def children: Seq[Expression] = Seq(scoreExpr, idExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("score", org.apache.spark.sql.types.DoubleType, nullable = false),
    StructField("id", LongType, nullable = false))), containsNull = false)

  // heap head = WORST of the kept k, so eviction is O(log k)
  private def worseFirst = new java.util.Comparator[(Double, Long)] {
    override def compare(a: (Double, Long), b: (Double, Long)): Int = {
      val s = java.lang.Double.compare(a._1, b._1)
      if (s != 0) s else java.lang.Long.compare(b._2, a._2)
    }
  }

  override def createAggregationBuffer(): java.util.PriorityQueue[(Double, Long)] =
    new java.util.PriorityQueue[(Double, Long)](k + 1, worseFirst)

  private def offer(buf: java.util.PriorityQueue[(Double, Long)],
      s: Double, id: Long): Unit = {
    // fast reject (r15, guide §1.2 per-task work): once the heap holds
    // k entries, a candidate that does not beat the current WORST can
    // be dropped with one field comparison — no tuple allocation, no
    // add+poll heap churn. At full k this is the steady state for all
    // but ~k·ln(n/k) of a group's n rows, and the kept set is
    // provably identical: add-then-poll of a worse-or-equal candidate
    // polls the candidate itself right back out.
    // worseFirst order: lower score = worse; on score ties LARGER id =
    // worse (kept order is id asc). Skip iff candidate ⊑ current worst.
    if (buf.size >= k) {
      val head = buf.peek()
      val sc = java.lang.Double.compare(s, head._1)
      if (sc < 0 || (sc == 0 && head._2 <= id)) return
    }
    buf.add((s, id))
    if (buf.size > k) buf.poll()
    ()
  }

  override def update(buf: java.util.PriorityQueue[(Double, Long)],
      input: org.apache.spark.sql.catalyst.InternalRow): java.util.PriorityQueue[(Double, Long)] = {
    val s = scoreExpr.eval(input)
    val id = idExpr.eval(input)
    if (s != null && id != null)
      offer(buf, s.asInstanceOf[Double], id.asInstanceOf[Long])
    buf
  }

  override def merge(buf: java.util.PriorityQueue[(Double, Long)],
      other: java.util.PriorityQueue[(Double, Long)]): java.util.PriorityQueue[(Double, Long)] = {
    other.forEach(p => offer(buf, p._1, p._2))
    buf
  }

  override def eval(buf: java.util.PriorityQueue[(Double, Long)]): Any = {
    val arr = buf.toArray(new Array[(Double, Long)](buf.size))
    // best-first: score desc, id asc
    java.util.Arrays.sort(arr, worseFirst.reversed())
    new GenericArrayData(arr.map(p =>
      org.apache.spark.sql.catalyst.InternalRow(p._1, p._2): Any))
  }

  override def serialize(buf: java.util.PriorityQueue[(Double, Long)]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + buf.size * 16)
    bb.putInt(buf.size)
    buf.forEach { p => bb.putDouble(p._1); bb.putLong(p._2) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.PriorityQueue[(Double, Long)] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = createAggregationBuffer()
    var i = 0
    while (i < n) { offer(buf, bb.getDouble, bb.getLong); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKByScore =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKByScore =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(scoreExpr = newChildren(0), idExpr = newChildren(1))
}

/** KMV (k-minimum-values) distinct-value sketch: keeps the k SMALLEST
  * DISTINCT `bigint` values seen (Bar-Yossef et al. 2002; the Theta /
  * KMV estimator family). Over uniform hashes in (0, 2^48] the k-th
  * smallest kept value U_(k) yields the unbiased cardinality estimate
  * (k-1)·2^48 / U_(k) with relative error ~1/sqrt(k), and the k
  * smallest of a UNION of two sketches' values is exactly the sketch
  * of the union — so intersections/Jaccard come from set algebra on
  * kilobyte arrays instead of a shuffle of the raw keys.
  *
  * Unlike MinHash/HLL the sketch is fully DETERMINISTIC given the
  * hash column — no RNG, no update-order sensitivity (a set of mins is
  * order-immune) — so KMV estimates hash-oracle exactly against a SQL
  * engine computing the same k mins (q259/q260), where the HLL rollup
  * (q175) can only be rows-only twinned.
  *
  * Scale shape: TypedImperativeAggregate with map-side partials — each
  * partition ships at most k longs per group, so a billion-row group
  * costs the shuffle k·8 bytes, and pre-aggregated per-shard sketches
  * re-merge losslessly (the datacube pattern). Buffer is a TreeSet:
  * O(log k) insert, dedup for free, ascending iteration at eval. */
case class KmvMins(child: Expression, k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]]
    with ExpectsInputTypes {

  require(k > 0, s"KMV needs k > 0, got $k")
  // the downstream estimator (k-1)·2^48/U_(k) computes (k-1)·2^48 as a
  // Long product, which wraps for k > 2^15 — enforce the precondition
  // at sketch construction so no caller can build an inestimable sketch
  require(k <= 32768, s"KMV needs k <= 32768 " +
    s"((k-1)*2^48 must fit int64), got $k")

  override def inputTypes: Seq[DataType] = Seq(LongType)
  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
    new java.util.TreeSet[java.lang.Long]()

  private def offer(buf: java.util.TreeSet[java.lang.Long], v: Long): Unit = {
    if (buf.size < k) { buf.add(v); () }
    else if (v < buf.last()) {
      if (buf.add(v)) { buf.pollLast(); () }
    }
  }

  override def update(buf: java.util.TreeSet[java.lang.Long],
      input: org.apache.spark.sql.catalyst.InternalRow): java.util.TreeSet[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) offer(buf, v.asInstanceOf[Long])
    buf
  }

  override def merge(buf: java.util.TreeSet[java.lang.Long],
      other: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] = {
    other.forEach(v => offer(buf, v))
    buf
  }

  override def eval(buf: java.util.TreeSet[java.lang.Long]): Any = {
    val arr = new Array[Any](buf.size)
    var i = 0
    val it = buf.iterator()
    while (it.hasNext) { arr(i) = it.next().longValue(); i += 1 }
    new GenericArrayData(arr) // ascending: arr(k-1) IS U_(k)
  }

  override def serialize(buf: java.util.TreeSet[java.lang.Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + buf.size * 8)
    bb.putInt(buf.size)
    buf.forEach(v => { bb.putLong(v.longValue()); () })
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = createAggregationBuffer()
    var i = 0
    while (i < n) { offer(buf, bb.getLong); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvMins =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvMins =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0))
}

/** TRUE Damerau-Levenshtein edit distance (Lowrance-Wagner 1975: the
  * unrestricted variant with an alphabet table, where a transposed
  * pair may be edited again — distance("ca","abc") = 2 where the
  * restricted/OSA variant says 3) between two strings, over their
  * UTF-8 BYTES. Spark ships only plain Levenshtein; transpositions
  * are the most common human typo class, so fuzzy key consolidation
  * wants this one. Byte (not codepoint) semantics match the q235
  * oracle's reference implementation; inputs in this repo's verified
  * queries are ASCII, where the two coincide.
  *
  * Participates in whole-stage codegen via a static call (the same
  * shape as Spark's own `Levenshtein`); cost is O(|a|·|b|) time and
  * space per row — a NAME-grade matcher (keys, titles), deliberately
  * not a document matcher (documents go through the shingle/winnow
  * family instead). */
case class DamerauLevenshtein(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  // declared input types make a non-string child a clean ANALYSIS error
  // (ADVICE r10: without them it passed analysis and ClassCastException'd
  // at runtime; Spark's own Levenshtein declares the same)
  override def inputTypes: Seq[DataType] = Seq(StringType, StringType)

  override def dataType: DataType = IntegerType

  override def nullSafeEval(a: Any, b: Any): Any =
    DamerauLevenshtein.compute(
      a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.expressions.DamerauLevenshtein.compute($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object DamerauLevenshtein {
  /** One flat (n+2)×(m+2) DP with the 256-entry last-seen table. */
  def compute(ls: UTF8String, rs: UTF8String): Int = {
    val a = ls.getBytes
    val b = rs.getBytes
    val n = a.length
    val m = b.length
    if (n == 0) return m
    if (m == 0) return n
    val inf = n + m
    val w = m + 2
    val d = new Array[Int]((n + 2) * w)
    d(0) = inf
    var i = 0
    while (i <= n) {
      d((i + 1) * w) = inf
      d((i + 1) * w + 1) = i
      i += 1
    }
    var j = 0
    while (j <= m) {
      d(j + 1) = inf
      d(w + j + 1) = j
      j += 1
    }
    val da = new Array[Int](256)
    i = 1
    while (i <= n) {
      var db = 0
      j = 1
      while (j <= m) {
        val k = da(b(j - 1) & 0xff)
        val l = db
        var cost = 1
        if (a(i - 1) == b(j - 1)) { cost = 0; db = j }
        var best = d(i * w + j) + cost              // substitute / match
        val ins = d((i + 1) * w + j) + 1            // insert
        if (ins < best) best = ins
        val del = d(i * w + j + 1) + 1              // delete
        if (del < best) best = del
        val tra = d(k * w + l) + (i - k - 1) + 1 + (j - l - 1) // transpose
        if (tra < best) best = tra
        d((i + 1) * w + j + 1) = best
        j += 1
      }
      da(a(i - 1) & 0xff) = i
      i += 1
    }
    d((n + 1) * w + m + 1)
  }
}

/** Jaro-Winkler similarity over UTF-8 bytes — the standard
  * name-matching score (match window max(|a|,|b|)/2 − 1, half
  * transpositions, Winkler prefix boost p = 0.1 over ≤ 4 common lead
  * bytes, applied only above the classic 0.7 threshold). The exact
  * operation order below was verified BIT-IDENTICAL to the q236
  * oracle's reference implementation over every same-noun part-name
  * pair and 2,000 sequential customer-name pairs at sf0.1 (0/4015
  * double mismatches), so micro-quantized outputs hash-match exactly.
  * Codegen via static call; O(|a|·window) per row — name-grade like
  * [[DamerauLevenshtein]]. */
case class JaroWinkler(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType, StringType)

  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any =
    JaroWinkler.compute(
      a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.expressions.JaroWinkler.compute($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object JaroWinkler {
  def compute(ls: UTF8String, rs: UTF8String): Double = {
    val a = ls.getBytes
    val b = rs.getBytes
    if (java.util.Arrays.equals(a, b)) return 1.0
    val n = a.length
    val m = b.length
    if (n == 0 || m == 0) return 0.0
    val window = math.max(n, m) / 2 - 1
    val ma = new Array[Boolean](n)
    val mb = new Array[Boolean](m)
    var matches = 0
    var i = 0
    while (i < n) {
      var j = math.max(0, i - window)
      val hi = math.min(i + window + 1, m)
      var found = false
      while (j < hi && !found) {
        if (!mb(j) && a(i) == b(j)) {
          ma(i) = true; mb(j) = true; matches += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (matches == 0) return 0.0
    var t = 0
    var k = 0
    i = 0
    while (i < n) {
      if (ma(i)) {
        while (!mb(k)) k += 1
        if (a(i) != b(k)) t += 1
        k += 1
      }
      i += 1
    }
    val half = t / 2
    val mD = matches.toDouble
    // fixed IEEE operation order — the bit-parity contract
    val jaro = (mD / n + mD / m + (mD - half) / mD) / 3.0
    if (jaro <= 0.7) return jaro
    var p = 0
    val lim = math.min(4, math.min(n, m))
    while (p < lim && a(p) == b(p)) p += 1
    jaro + p * 0.1 * (1.0 - jaro)
  }
}

/** Column-level entry points. */
object GraftExpressions {

  def damerauLevenshtein(a: Column, b: Column): Column =
    ColumnBridge.column(DamerauLevenshtein(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def jaroWinkler(a: Column, b: Column): Column =
    ColumnBridge.column(JaroWinkler(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def dotQFast(a: Column, b: Column): Column =
    ColumnBridge.column(DotProductL(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def minhashSig(shingles: Column, k: Int): Column =
    ColumnBridge.column(MinHashSig(ColumnBridge.expression(shingles), k))

  def simhashSig(tokens: Column): Column =
    ColumnBridge.column(SimHashSig(ColumnBridge.expression(tokens)))

  def shingleHashes(words: Column, n: Int = 3, ordered: Boolean = false,
      poly: Boolean = false): Column =
    ColumnBridge.column(ShingleHashes(ColumnBridge.expression(words), n, ordered, poly))

  def winnowMins(hashes: Column, w: Int): Column =
    ColumnBridge.column(WinnowMins(ColumnBridge.expression(hashes), w))

  def markerCount(words: Column, markers: Seq[String]): Column =
    ColumnBridge.column(MarkerCount(ColumnBridge.expression(words), markers))

  def maxMultiplicity(hashes: Column): Column =
    ColumnBridge.column(MaxMultiplicity(ColumnBridge.expression(hashes)))

  def canonicalForms(text: Column): Column =
    ColumnBridge.column(CanonicalForms(ColumnBridge.expression(text)))

  def sortedContainsLong(sortedArr: Column, v: Column): Column =
    ColumnBridge.column(SortedContainsLong(ColumnBridge.expression(sortedArr),
      ColumnBridge.expression(v)))

  def topKByScore(score: Column, id: Column, k: Int): Column =
    ColumnBridge.column(TopKByScore(ColumnBridge.expression(score),
      ColumnBridge.expression(id), k).toAggregateExpression())

  def kmvMins(hash: Column, k: Int): Column =
    ColumnBridge.column(KmvMins(ColumnBridge.expression(hash), k)
      .toAggregateExpression())

  def bpeEncode(words: Column, merges: Seq[(String, String)]): Column =
    ColumnBridge.column(BpeEncode(ColumnBridge.expression(words), merges))

  def deflateSize(text: Column): Column =
    ColumnBridge.column(DeflateSize(ColumnBridge.expression(text)))

  /** Register for SQL use (`SELECT graft_dot_q(a, b)`). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("graft_dot_q",
      exprs => DotProductL(exprs(0), exprs(1)), "scala_udf")
    reg.createOrReplaceTempFunction("graft_minhash_sig",
      exprs => MinHashSig(exprs(0),
        exprs(1).eval().asInstanceOf[Int]), "scala_udf")
    reg.createOrReplaceTempFunction("graft_kmv_mins",
      exprs => KmvMins(exprs(0),
        exprs(1).eval().asInstanceOf[Int]).toAggregateExpression(), "scala_udf")
  }
}
