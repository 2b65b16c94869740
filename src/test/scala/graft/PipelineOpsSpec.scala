package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Decontaminate, Ranks, Sampling, Sharding}

/** Corpus-assembly operators (q56-q60): properties the oracle can't
  * state — split stability under corpus growth, mixture determinism,
  * prefix-sum equivalence with the single-task window form, packing
  * invariants, decontamination distinct-count semantics. */
class PipelineOpsSpec extends SparkSpec {

  private def docs = graft.sources.Tables.load(spark, sf, "documents")

  test("splitColumn: membership is a pure function of the id (stable under growth)") {
    import spark.implicits._
    val full = docs.select(col("doc_id"),
      Sampling.splitColumn(col("doc_id")).as("split"))
      .as[(Long, String)].collect().toMap
    // recompute on an arbitrary subset: shared ids keep their assignment
    val subset = docs.filter(col("doc_id") % 3 === 1)
      .select(col("doc_id"), Sampling.splitColumn(col("doc_id")).as("split"))
      .as[(Long, String)].collect().toMap
    subset.foreach { case (id, s) => assert(full(id) == s, s"doc $id reassigned") }
    // rough proportions hold (80/10/10 target; md5 on small n is noisy)
    val n = full.size.toDouble
    val train = full.values.count(_ == "train") / n
    assert(train > 0.7 && train < 0.9, s"train fraction $train")
    assert(full.values.toSet.subsetOf(Set("train", "valid", "test")))
  }

  test("mixtureSample: 10000 bp keeps all, 0 bp keeps none, reruns are identical") {
    import spark.implicits._
    val d = docs.select("doc_id", "source")
    val w = Seq(("src0", 10000L), ("src1", 0L)).toDF("source", "w_bp")
    val kept = Sampling.mixtureSample(d, w, "source", col("doc_id"))
    val bySrc = kept.groupBy("source").count()
      .as[(String, Long)].collect().toMap
    val total = d.groupBy("source").count().as[(String, Long)].collect().toMap
    assert(bySrc("src0") == total("src0"), "full-weight source lost rows")
    assert(!bySrc.contains("src1"), "zero-weight source sampled rows")
    // unlisted sources sample at the 1000 bp default: strictly partial
    val others = bySrc.filterKeys(s => s != "src0" && s != "src1").values.sum
    val othersTotal = total.filterKeys(s => s != "src0" && s != "src1").values.sum
    assert(others > 0 && others < othersTotal, s"default rate kept $others/$othersTotal")
    // determinism: a second run selects the identical set
    val again = Sampling.mixtureSample(d, w, "source", col("doc_id"))
    assert(kept.select("doc_id").as[Long].collect().sorted.toSeq ==
      again.select("doc_id").as[Long].collect().sorted.toSeq)
  }

  test("quotaPerGroup == row_number window ranking (score desc, id asc)") {
    import spark.implicits._
    val got = Sampling.quotaPerGroup(docs, Seq("source"),
      col("n_chars").cast("double"), col("doc_id"), k = 3)
      .select(col("source"), col("id"), col("rn"))
      .as[(String, Long, Long)].collect().toSet
    val ref = docs
      .withColumn("rn", row_number().over(Window.partitionBy("source")
        .orderBy(col("n_chars").desc, col("doc_id").asc)))
      .filter(col("rn") <= 3)
      .select(col("source"), col("doc_id"), col("rn").cast("long"))
      .as[(String, Long, Long)].collect().toSet
    assert(got == ref)
  }

  test("uniformPerGroup: fixed size, dense ranks, membership independent of other groups") {
    val full = Sampling.uniformPerGroup(docs, Seq("source"), col("doc_id"), k = 5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3)))
    // every group fills its quota (groups here are all larger than k)
    full.groupBy(_._1).foreach { case (src, rows) =>
      assert(rows.length == 5, s"$src sampled ${rows.length}")
      assert(rows.map(_._3).sorted.toSeq == (1L to 5L), s"$src ranks not dense")
    }
    // restricting the input to one group leaves that group's sample
    // unchanged — the reservoir is a pure function of the ids
    val src = full.head._1
    val alone = Sampling.uniformPerGroup(docs.filter(col("source") === src),
      Seq("source"), col("doc_id"), k = 5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3)))
    assert(alone.toSet == full.filter(_._1 == src).toSet)
  }

  test("packSequences: sequences fill exactly, docs partition into contiguous pieces") {
    val L = 64L
    val packed = Sharding.packSequences(
      docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok")),
      Seq(col("doc_id")), "n_tok", seqLen = L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getLong(4), r.getLong(5)))
    val total = packed.groupBy(_._1).map { case (_, rs) => rs.head._2 }.sum
    // every sequence except the last carries exactly L tokens
    val bySeq = packed.groupBy(_._3).view.mapValues(_.map(_._5).sum).toMap
    val lastSeq = bySeq.keys.max
    bySeq.foreach { case (s, tok) =>
      if (s != lastSeq) assert(tok == L, s"seq $s carries $tok tokens")
      else assert(tok == total - L * lastSeq, s"tail seq carries $tok")
    }
    // each document's pieces partition [0, n_tok) in seq_id order
    packed.groupBy(_._1).foreach { case (d, rs) =>
      val pieces = rs.sortBy(_._3)
      assert(pieces.map(_._5).sum == pieces.head._2, s"doc $d tokens lost")
      // offsets: first piece lands mid-sequence, later pieces at 0
      pieces.drop(1).foreach(p => assert(p._4 == 0L, s"doc $d split piece offset ${p._4}"))
    }
  }

  test("globalRunningSum == single-task window sum; nulls count as 0") {
    import spark.implicits._
    val d = Seq[(Long, Option[Long])]((1L, Some(10L)), (2L, None), (3L, Some(5L)),
      (4L, Some(0L)), (5L, None), (6L, Some(7L)))
      .toDF("id", "v")
    val got = Ranks.globalRunningSum(d, Seq(col("id")), col("v"), "cum")
      .select(col("id"), col("cum")).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 10L, 2L -> 10L, 3L -> 15L, 4L -> 15L,
      5L -> 15L, 6L -> 22L))
    // and at table size against the window form
    val base = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n"))
    val ref = base.withColumn("cum",
      sum(col("n")).over(Window.orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("doc_id"), col("cum")).as[(Long, Long)].collect().toMap
    val dist = Ranks.globalRunningSum(base, Seq(col("doc_id")), col("n"), "cum")
      .select(col("doc_id"), col("cum")).as[(Long, Long)].collect().toMap
    assert(dist == ref)
  }

  test("globalRunningSum edge cases: empty input, negative values, duplicate-safe order") {
    import spark.implicits._
    // empty frame: the operator yields an empty result, no crash in
    // the subtotal job
    val empty = Seq.empty[(Long, Long)].toDF("id", "v")
    assert(Ranks.globalRunningSum(empty, Seq(col("id")), col("v"), "cum")
      .count() == 0L)
    // negative values: the prefix can DECREASE — offsets must carry sign
    val d = Seq((1L, 5L), (2L, -8L), (3L, 2L)).toDF("id", "v")
    val got = Ranks.globalRunningSum(d, Seq(col("id")), col("v"), "cum")
      .select(col("id"), col("cum")).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 5L, 2L -> -3L, 3L -> -1L))
  }

  test("globalRunningSums: one fused pass equals per-column single passes") {
    import spark.implicits._
    val base = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("a"),
      col("n_chars").cast("long").as("b"))
    val fused = Ranks.globalRunningSums(base, Seq(col("doc_id")),
        Seq(col("a") -> "ca", col("b") -> "cb"))
      .select(col("doc_id"), col("ca"), col("cb"))
      .as[(Long, Long, Long)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    def single(v: String, out: String) =
      Ranks.globalRunningSum(base, Seq(col("doc_id")), col(v), out)
        .select(col("doc_id"), col(out)).as[(Long, Long)].collect().toMap
    val (ca, cb) = (single("a", "ca"), single("b", "cb"))
    assert(fused.map { case (k, (x, _)) => k -> x } == ca)
    assert(fused.map { case (k, (_, y)) => k -> y } == cb)
  }

  test("packByBudget invariants: monotone shards, every shard starts under budget") {
    import spark.implicits._
    val budget = 500L
    val packed = Sharding.packByBudget(
      docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok")),
      Seq(col("doc_id")), "n_tok", budget)
      .select(col("doc_id"), col("n_tok"), col("cum_tok"), col("shard"))
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    // shard = position of the doc's FIRST token: monotone, 0-based, and
    // each doc starts strictly inside its shard's budget span
    packed.foreach { case (id, n, cum, s) =>
      val start = cum - n
      assert(s == start / budget, s"doc $id: shard $s, start $start")
    }
    assert(packed.map(_._4).toSeq == packed.map(_._4).sorted.toSeq)
    assert(packed.head._4 == 0L)
    // no shard is skipped (docs overflow a boundary, never jump one):
    // every doc is shorter than the budget here
    val shards = packed.map(_._4).distinct
    assert(shards.toSeq == (0L to shards.max).toSeq)
    // shard totals stay within budget + one overflowing document
    val maxDoc = packed.map(_._2).max
    packed.groupBy(_._4).values.foreach { rows =>
      assert(rows.map(_._2).sum <= budget + maxDoc)
    }
  }

  test("poly-simhash: identical texts share sigs, near-dups land closer than strangers") {
    import spark.implicits._
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "the quick brown fox leaps over the lazy dog again and again"),
      (4L, "completely unrelated words about database shuffle partitions here")
    ).toDF("doc_id", "text")
    val sig = graft.operators.Dedup.polySimhash45(d, "text", "doc_id")
      .as[(Long, Long)].collect().toMap
    assert(sig(1L) == sig(2L), "identical texts got different signatures")
    sig.values.foreach(s => assert(s >= 0L && s < (1L << 45), s"sig $s outside 45 bits"))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sig(1L), sig(3L)) < hamming(sig(1L), sig(4L)),
      s"one-word edit (${hamming(sig(1L), sig(3L))}) not closer than " +
        s"unrelated text (${hamming(sig(1L), sig(4L))})")
    // frequency weighting: sf-table signatures agree with the registry query
    val fromQ = graft.queries.Registry.byName("q61_simhash_oracle").fn(spark, sf)
      .as[(Long, Long)].collect().toMap
    val direct = graft.operators.Dedup.polySimhash45(docs, "text", "doc_id")
      .as[(Long, Long)].collect().toMap
    assert(fromQ == direct)
  }

  test("portable minhash-LSH pairs ⊆ exact Jaccard pairs; near-exact dupes recalled") {
    import spark.implicits._
    val lsh = graft.queries.Registry.byName("q63_minhash_lsh_oracle").fn(spark, sf)
      .select("doc_a", "doc_b", "jacc").as[(Long, Long, Double)].collect()
    val exact = graft.queries.Registry.byName("q27_ngram_jaccard").fn(spark, sf)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect()
    val exactPairs = exact.map(r => (r._1, r._2)).toSet
    assert(lsh.nonEmpty)
    // verify stage enforces the same exact-Jaccard threshold, so LSH
    // output can only be a subset of the exact pair set (candidates
    // that banding missed are the probabilistic part)
    lsh.foreach { case (a, b, j) =>
      assert(exactPairs.contains((a, b)), s"LSH pair ($a,$b) not in exact set")
      assert(j >= 0.5, s"unverified pair ($a,$b) jacc $j")
    }
    // high-similarity pairs collide in some band with near certainty
    val strong = exact.filter(_._3 >= 0.9).map(r => (r._1, r._2)).toSet
    val found = lsh.map(r => (r._1, r._2)).toSet
    assert(strong.nonEmpty && strong.subsetOf(found),
      s"missed strong pairs: ${strong -- found}")
  }

  test("decontamination counts DISTINCT shared grams; short docs produce none") {
    import spark.implicits._
    val bench = Seq((0L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val corpus = Seq(
      // shares "alpha beta gamma delta" AND "beta gamma delta epsilon",
      // and repeats the first — counted once
      (1L, "alpha beta gamma delta epsilon x alpha beta gamma delta"),
      (2L, "zeta eta theta iota kappa"),            // clean
      (3L, "alpha beta gamma")                      // shorter than n=4
    ).toDF("doc_id", "text")
    val hits = Decontaminate.ngramHits(corpus, bench, n = 4)
      .as[(Long, Long)].collect().toMap
    assert(hits == Map(1L -> 2L), s"got $hits")
    // wordNgrams: empty for short inputs, positional join otherwise
    val g = Seq(("a b c d e", "a b c")).toDF("t1", "t2")
      .select(
        Decontaminate.wordNgrams(split(col("t1"), " "), 4).as("g1"),
        Decontaminate.wordNgrams(split(col("t2"), " "), 4).as("g2"))
      .as[(Seq[String], Seq[String])].head()
    assert(g._1 == Seq("a b c d", "b c d e") && g._2.isEmpty)
  }

  test("q188 spans: window-merged islands equal brute-force interval union") {
    import spark.implicits._
    // re-derive the hit positions independently of the query's window
    // machinery, merge [p, p+3] intervals brute-force in Scala, and
    // compare per-doc (n_spans, covered) — guards the shared-formula
    // risk of the oracle computing islands with the SAME window logic
    val grams = docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 4)
      .select(col("doc_id"),
        posexplode(Decontaminate.wordNgrams(col("ws"), 4)).as(Seq("p", "g")))
    val bench = grams.filter(col("doc_id") % 20 === 0)
      .select("g").distinct()
    val hitPos = grams.filter(col("doc_id") % 20 =!= 0)
      .join(bench, Seq("g"), "left_semi")
      .select("doc_id", "p").as[(Long, Int)].collect()
      .groupBy(_._1).map { case (d, ps) => d -> ps.map(_._2).sorted }
    val expected = hitPos.map { case (d, ps) =>
      val spans = ps.foldLeft(List.empty[(Int, Int)]) {
        case (Nil, p) => List((p, p + 3))
        case ((s, e) :: rest, p) =>
          if (p <= e + 1) (s, math.max(e, p + 3)) :: rest
          else (p, p + 3) :: (s, e) :: rest
      }
      d -> ((spans.length.toLong, spans.map { case (s, e) => e - s + 1L }.sum))
    }
    val got = graft.queries.Registry.byName("q188_contamination_spans")
      .fn(spark, sf).as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == expected, s"first diff: ${
      (got.keySet ++ expected.keySet).find(k =>
        got.get(k) != expected.get(k)).map(k =>
        s"doc $k got ${got.get(k)} want ${expected.get(k)}")}")
    assert(got.nonEmpty, "no contaminated docs at this sf — vacuous test")
  }
}
