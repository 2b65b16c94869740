package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Ranks}

/** Operator-level unit tests for the scale-path rework: partitioned
  * global rank, dedup df-cap skew guard, native winnowing window. */
class OpsSpec extends SparkSpec {

  test("globalRowNumber equals a single-partition row_number") {
    // sf0.1 (15k rows): large enough that unstable range-partitioner
    // sampling across recomputations would produce duplicate ranks
    val c = graft.sources.Tables.load(spark, "/root/testdata/sf0.1", "customer")
    val order = Seq(col("c_acctbal").desc, col("c_custkey"))
    val got = Ranks.globalRowNumber(c, order, "rn")
      .select("c_custkey", "rn").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val exp = c.withColumn("rn", row_number().over(
        Window.orderBy(order: _*)))
      .select("c_custkey", "rn").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == exp)
  }

  test("globalRowNumber never funnels rows through one task") {
    // Assert the PHYSICAL property: the ranked output keeps the
    // operator's range partitioning — many non-empty partitions, each
    // holding a contiguous, correctly-offset rank run. The r11 native
    // form runs under AQE, which (correctly) coalesces this 15k-row
    // exchange to ONE partition by its byte-size targets — that is
    // right-sizing, not funneling: the operator DECLARES
    // OrderedDistribution, so at real scale AQE keeps it wide. Disable
    // coalescing for the observation so the test sees the declared
    // distribution, not the small-input collapse.
    val prev = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
    val c = graft.sources.Tables.load(spark, "/root/testdata/sf0.1", "customer")
    val df = Ranks.globalRowNumber(c,
      Seq(col("c_acctbal").desc, col("c_custkey")), "rn")
    val perPartition = df.select("rn").rdd
      .mapPartitions(it => Iterator.single(it.map(_.getInt(0)).toSeq))
      .collect().filter(_.nonEmpty)
    assert(perPartition.length > 1,
      s"all ${df.count()} rows landed in ${perPartition.length} partition(s)")
    // contiguous global numbering across partition boundaries
    val runs = perPartition.map(p => (p.min, p.max, p.size)).sortBy(_._1)
    assert(runs.forall { case (lo, hi, n) => hi - lo + 1 == n },
      s"non-contiguous rank run: $runs")
    assert(runs.sliding(2).forall {
      case Array((_, hi, _), (lo2, _, _)) => lo2 == hi + 1
      case _ => true
    }, s"partition offsets disagree: $runs")
    } finally
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", prev)
  }

  test("df-cap drops hot-shingle pairs but keeps true near-dups") {
    import spark.implicits._
    // 40 docs sharing one stop-phrase 3-gram + one planted near-dup pair
    val stop = "the quick brown"
    val docs = (0 until 40).map(i => (i.toLong, s"$stop unique$i word$i tail$i")) ++
      Seq((100L, "alpha beta gamma delta epsilon zeta"),
        (101L, "alpha beta gamma delta epsilon eta"))
    val df = docs.toDF("doc_id", "text")
    val shingled = Dedup.shingleProjection(df, "text", "doc_id")
    val capped = Dedup.jaccardPairs(shingled, threshold = 0.3, maxDf = 10)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // the planted pair survives (its overlap shingles are df=2)
    assert(capped.contains((100L, 101L)), s"planted pair missing: $capped")
    // no pair whose only shared shingle is the hot stop-phrase
    assert(capped.forall { case (a, b) => a >= 100L && b >= 100L },
      s"hot-shingle-only pairs leaked: $capped")
  }

  test("resolve assigns min-id canonicals across transitive chains") {
    import spark.implicits._
    // chain 1-2-3 (transitive, no direct 1-3 edge), pair 10-11,
    // triangle 5-6-7
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (5L, 6L), (6L, 7L), (5L, 7L))
      .toDF("doc_a", "doc_b")
    val got = Dedup.resolve(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 5L -> 5L, 6L -> 5L, 7L -> 5L))
  }

  test("resolve converges on a 64-node chain within the round cap (pointer doubling)") {
    import spark.implicits._
    // worst-case diameter: a path graph. Plain neighbor propagation
    // moves the min label ONE hop per round (63 rounds > maxIters);
    // pointer doubling contracts the chain in O(log n) rounds.
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = Dedup.resolve(chain, maxIters = 10).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 64)
    assert(got.values.forall(_ == 0L),
      s"unconverged labels: ${got.filter(_._2 != 0L).take(5)}")
  }

  test("approx percentiles track the exact ones within 5% relative error") {
    val exact = graft.queries.Registry.byName("q37_percentiles").fn(spark, sf)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    val approx = graft.queries.Registry.byName("q46_approx_percentiles").fn(spark, sf)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(approx.keySet == exact.keySet)
    approx.foreach { case (k, (a50, a90, ap90)) =>
      val (e50, e90, ep90) = exact(k)
      def close(a: Double, e: Double) = math.abs(a - e) <= 0.05 * math.abs(e)
      assert(close(a50, e50) && close(a90, e90) && close(ap90, ep90),
        s"$k: approx ($a50,$a90,$ap90) vs exact ($e50,$e90,$ep90)")
    }
  }

  test("q36 HLL estimates track q93's exact per-group cardinalities within 5%") {
    // the one place the HLL error bound is asserted: against the
    // hash-oracled exact twin (q93), not a re-derived countDistinct —
    // so the bound and the oracle pin the same numbers
    val exact = graft.queries.Registry.byName("q93_distinct_exact").fn(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = graft.queries.Registry.byName("q36_approx_distinct").fn(spark, sf)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(approx.keySet == exact.keySet, "groupings diverged")
    approx.foreach { case (k, (est, exactInQ36)) =>
      assert(exactInQ36 == exact(k),
        s"$k: q36's inline exact ($exactInQ36) != q93's oracled exact (${exact(k)})")
      assert(math.abs(est - exact(k)).toDouble <= 0.05 * exact(k),
        s"$k: HLL estimate $est vs exact ${exact(k)} exceeds 5%")
    }
  }

  test("sortedContainsLong == array_contains on sorted arrays (incl. empty/null/bounds)") {
    import spark.implicits._
    import graft.functions.expressions.GraftExpressions.sortedContainsLong
    import org.apache.spark.sql.functions._
    // randomized-ish coverage: sorted arrays of varying size, probes on
    // hits, misses, below-min, above-max; plus empty array and null array
    val rows = (0L until 40L).map { i =>
      val arr = (0L until i % 7L).map(j => j * 3L + i % 2)
      (i, arr, i % 11L)
    }
    val df = rows.toDF("id", "arr", "probe")
      .withColumn("arr", when(col("id") === 39L, lit(null)).otherwise(col("arr")))
    val got = df.select(col("id"),
        sortedContainsLong(col("arr"), col("probe")).as("bs"),
        array_contains(col("arr"), col("probe")).as("lin"))
      .collect()
    got.foreach { r =>
      val (bs, lin) = (if (r.isNullAt(1)) None else Some(r.getBoolean(1)),
        if (r.isNullAt(2)) None else Some(r.getBoolean(2)))
      assert(bs == lin, s"id=${r.getLong(0)}: bisect $bs vs linear $lin")
    }
  }

  test("native WinnowMins equals the HOF sliding-min formula") {
    import spark.implicits._
    val w = 8
    val docs = graft.sources.Tables.load(spark, sf, "documents").limit(50)
    val hs = docs.select(col("doc_id"),
      graft.functions.expressions.GraftExpressions.shingleHashes(
        graft.functions.TextFunctions.words(col("text")), 3, ordered = true).as("hs"))
      .filter(size(col("hs")) >= w)
    val native = hs.select(col("doc_id"),
      graft.functions.expressions.GraftExpressions.winnowMins(col("hs"), w).as("fp"))
    val hof = hs.select(col("doc_id"), array_distinct(
      transform(sequence(lit(1), size(col("hs")) - (w - 1)),
        i => array_min(slice(col("hs"), i, lit(w))))).as("fp"))
    val n = native.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val h = hof.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(n == h)
  }

}
