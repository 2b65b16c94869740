package graft

import org.apache.spark.sql.functions._

import graft.operators.BloomGate

/** BloomGate ≡ exact joins (the no-false-negative argument made
  * executable), plus the gate's probe mechanics. */
class BloomGateSpec extends SparkSpec {

  test("mightContain never rejects a present key (no false negatives)") {
    import spark.implicits._
    val seen = (1L to 2000L).map(i => s"key_$i").toDF("k")
    // deliberately undersized sketch: fpp degrades, negatives must not
    val bloom = BloomGate.build(seen, "k", expectedItems = 64, fpp = 0.5)
    val misses = seen.filter(!BloomGate.mightContain(bloom, col("k"))).count()
    assert(misses == 0, s"$misses present keys rejected by the bloom gate")
  }

  test("gatedSemiJoin is bit-identical to the ungated semi-join") {
    import spark.implicits._
    // overlapping ranges with dup keys on both sides; probe carries a
    // payload column to prove row identity survives the gate
    val probe = (1L to 500L).flatMap(i => Seq(i, i))
      .map(i => (i % 97, s"p$i")).toDF("k", "payload")
    val seen = (60L to 160L).map(i => (i % 97, s"s$i")).toDF("k", "tag")
    for (fpp <- Seq(0.5, 0.01)) {
      val semi = BloomGate.gatedSemiJoin(probe, "k", seen, "k",
          expectedItems = 1000, fpp = fpp)
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted
      val semiExp = probe.join(seen.select("k"), Seq("k"), "left_semi")
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted
      assert(semi.sameElements(semiExp), s"semi mismatch at fpp=$fpp")
    }
  }

  test("the gate actually prunes: disjoint probe keys never reach the exact join") {
    import spark.implicits._
    val seen = (1L to 1000L).map(i => s"seen_$i").toDF("k")
    val probe = (1L to 1000L).map(i => s"probe_$i").toDF("k")
    val bloom = BloomGate.build(seen, "k", expectedItems = 1000, fpp = 0.01)
    // at 1% fpp a disjoint 1000-key probe should survive the gate only
    // ~10 rows strong — the pruning the operator exists for
    val survivors = probe.filter(BloomGate.mightContain(bloom, col("k"))).count()
    assert(survivors <= 60, s"bloom gate passed $survivors of 1000 disjoint keys")
  }
}
