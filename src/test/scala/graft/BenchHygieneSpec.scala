package graft

import scala.io.Source

/** The bench harness's two self-measurement contracts: (1) every block
  * a query pins is released before the next query is timed (the r9
  * driver record's q91 15.29s-in-process / 0.98s-isolated spread was
  * accumulated localCheckpoint blocks evicting onto the late tail);
  * (2) the compact trailer drops its per-query fields in a fixed order
  * instead of printing an over-budget line that a 2000-char archived
  * tail truncates.
  */
class BenchHygieneSpec extends SparkSpec {

  test("releaseCaches drops localCheckpoint blocks and cached tables between queries") {
    // simulate a query that pins frames the way resolve/PageRank do
    val pinned = spark.range(1000).toDF("id").localCheckpoint(true)
    assert(pinned.count() == 1000)
    val cached = spark.range(100).toDF("id").cache()
    assert(cached.count() == 100)
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
      "localCheckpoint/cache should have pinned blocks")
    GraftSession.releaseCaches(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "releaseCaches must leave ZERO persistent RDDs — residue lands " +
        "on whichever bench queries run late")
    // a released localCheckpoint frame is spent by design (its lineage
    // was truncated to the checkpoint) — bench queries never reuse
    // frames across queries, so only NEW plans must still work:
    assert(spark.range(10).count() == 10)
  }

  private val ctrl = Some((1.93, 1.88, 2.01, 1.90))
  private val forms = Seq("ds-mindelta", "ds-minarray", "ds-minarray-bare", "omitted")
  private def unitOf(t: String): String =
    "\"unit\":\"([a-z-]+)\"".r.findFirstMatchIn(t).get.group(1)

  /** A 332-query record shaped like BENCH_r15's: mins drawn from its
    * deciles (0.08-4.5 s, 0.38 s median), about two thirds of medians
    * equal to their min, a few spikes; values scaled by `scale`, the
    * first `failed` queries failed. Deterministic: java.util.Random is
    * specified. */
  private def r15Like(scale: Double, failed: Int): (Seq[(String, Double, Double, Double)], Map[String, String]) = {
    val deciles = Vector(0.08, 0.19, 0.24, 0.28, 0.33, 0.38, 0.46, 0.61, 0.97, 1.54, 4.5)
    val rnd = new java.util.Random(15)
    var off = 0.0
    val rs = (1 to 332).map { i =>
      val x = rnd.nextDouble() * 10
      val k = math.min(x.toInt, 9)
      val min = (deciles(k) + (deciles(k + 1) - deciles(k)) * (x - k)) * scale
      val p = rnd.nextDouble()
      val gap = if (p < 0.64) 0.0 else if (p < 0.97) 0.1 + 0.5 * rnd.nextDouble()
        else 1.0 + 14.0 * rnd.nextDouble()
      val r = if (i <= failed) (s"q${i}_n", -1.0, -1.0, off) else (s"q${i}_n", min + gap, min, off)
      off += 4 * (min + gap)
      r
    }
    (rs, rs.take(failed).map(_._1 -> "boom").toMap)
  }

  test("compact trailer parity: r15-like records keep the archived bytes") {
    // expected lines were printed by the eight-rung ladder this form
    // replaced, on the same inputs; archived-record parsers rely on them
    def trailer(scale: Double, failed: Int): String = {
      val (rs, errs) = r15Like(scale, failed)
      Bench.compactTrailer(rs, errs, rs.map(_._2).filter(_ >= 0).sum, "",
        "sf0.1", ctrl, Seq("q7_n" -> 2.13),
        Seq(1.93, 2.01, 1.88, 1.95, 2.2, 1.9, 1.97, 2.05, 1.91, 1.99, 2.02, 1.94))
    }
    val huge = Bench.compactTrailer(
      (1 to 3000).map(i => (f"q$i%04d_x", 111.2, 100.1, 60.0 * i)),
      Map("q0007_x" -> "boom"), 333600.0, "", "sf0.1", ctrl)
    val got = Seq(trailer(1.0, 0), trailer(8.0, 0), trailer(2.0, 40),
      trailer(2.0, 100), huge)
    val in = getClass.getResourceAsStream("/graft/trailer_parity.txt")
    val expected = try Source.fromInputStream(in, "UTF-8").getLines().toVector
      finally in.close()
    assert(got.map(unitOf) == Seq("ds-mindelta", "ds-minarray", "ds-minarray",
      "ds-minarray-bare", "omitted"))
    got.zip(expected).foreach { case (g, e) => assert(g == e) }
    assert(got.size == expected.size)
  }

  test("compact trailer drops qmedd, then qoffm, then qmin, never over budget") {
    // offsets: query i starts at 4·sec·(i−1) seconds (warmup + 3
    // repeats back to back) — the realistic timeline shape
    def results(n: Int, sec: Double): Seq[(String, Double, Double, Double)] =
      (1 to n).map(i => (f"q$i%03d_name", sec, sec * 0.9, 4 * sec * (i - 1)))
    // small registry: med (as the gap) + min + offsets all kept
    val small = Bench.compactTrailer(results(50, 1.234), Map.empty, 61.7, "", "sf0.1", ctrl)
    assert(unitOf(small) == "ds-mindelta" && small.contains("\"qmin\":[11,11,"),
      "small registry lost the min array: " + small.take(300))
    assert(small.contains("\"qmedd\":\"" + "1" * 50 + "\""),
      "small registry lost the med gaps: " + small.take(300))
    assert(small.length <= Bench.TrailerBudget)
    // sweep the registry size: EVERY emitted line fits the budget, the
    // form only ever drops fields as the registry grows, and the sweep
    // visits every form
    val sweep = (1 to 300).map(_ * 10).map { n =>
      val t = Bench.compactTrailer(results(n, 4.04), Map.empty, n * 4.04, "", "sf0.1", ctrl)
      assert(t.length <= Bench.TrailerBudget,
        s"n=$n: ${t.length} chars exceeds the tail budget")
      forms.indexOf(unitOf(t))
    }
    assert(sweep == sweep.sorted, "fields must drop monotonically with registry size")
    assert(sweep.distinct == forms.indices, s"sweep skipped a form: ${sweep.distinct}")
    // the med survives as the base-36 gap string: decode a known gap at
    // a size the sweep routes through ds-mindelta, with a 10-entry
    // heartbeat column (the realistic record shape)
    val hb = Seq.fill(10)(1.93)
    val atDelta = (1 to 300).map(_ * 10).flatMap { n =>
      val r = (1 to n).map(i => (f"q$i%03d_name", 4.21, 4.04, 16.0 * (i - 1)))
      val t = Bench.compactTrailer(r, Map.empty, n * 4.21, "", "sf0.1",
        ctrl, Seq.empty, hb)
      assert(t.length <= Bench.TrailerBudget, s"n=$n over budget with ctrl_hb")
      if (unitOf(t) == "ds-mindelta") Some((n, t)) else None
    }
    val (nDelta, tDelta) = atDelta.last
    // med 4.21 → 42 ds, min 4.04 → 40 ds, gap 2 ds → every char '2'
    val qmedd = "\"qmedd\":\"([0-9a-z]*)\"".r.findFirstMatchIn(tDelta)
      .getOrElse(fail("ds-mindelta lost qmedd")).group(1)
    assert(qmedd.length == nDelta && qmedd.forall(_ == '2'),
      s"gap chars wrong: ${qmedd.take(20)}")
    assert(tDelta.contains("\"qmin\":[40,") && tDelta.contains("\"qoffm\":\""),
      "ds-mindelta lost the min array or offsets")
    // gap saturation + failed-entry defense: a ≥3.5 s gap renders 'z',
    // a failed query renders '0' with -1 in the min array — splice both
    // shapes into the head of a ds-mindelta run
    val spliced =
      Seq(("q000_a", 9.99, 0.5, 0.0), ("q000_b", -1.0, -1.0, 4.0)) ++
        (1 to atDelta.head._1).map(i => (f"q$i%03d_name", 4.21, 4.04, 16.0 * (i - 1)))
    val tSpiky = Bench.compactTrailer(spliced, Map("q000_b" -> "err"),
      atDelta.head._1 * 4.21, "", "sf0.1", ctrl, Seq.empty, hb)
    assert(unitOf(tSpiky) == "ds-mindelta", s"splice changed the form: ${unitOf(tSpiky)}")
    assert(tSpiky.contains("\"qmedd\":\"z02"), // 95 ds gap → 'z'; fail → '0'
      s"saturation/defense chars wrong: ${tSpiky.take(200)}")
    assert(tSpiky.contains("\"qmin\":[5,-1,40,"),
      "min array lost the -1 failed marker")
    // a 290-query registry at r11's 0.85 s/query keeps med+min+offsets
    val current = Bench.compactTrailer(results(290, 0.85), Map.empty, 247.0, "", "sf0.1", ctrl)
    assert(unitOf(current) == "ds-mindelta",
      s"290 queries lost per-query data: ${unitOf(current)}")
    // a heavier box (every value 3 ds digits) may drop the median but
    // NEVER the min or the offsets at this registry size
    val heavy = Bench.compactTrailer(results(290, 4.04), Map.empty, 1172.0, "", "sf0.1", ctrl)
    assert(heavy.contains("\"qmin\":[") && heavy.contains("\"qoffm\":\""),
      s"heavy-valued 290-query trailer lost min or offsets: ${unitOf(heavy)}")
    // the floor: totals + failed query NUMBERS survive, map is {}
    val huge = Bench.compactTrailer(results(3000, 111.2),
      Map("q0007_x" -> "boom"), 333600.0, "", "sf0.1", ctrl)
    assert(huge.contains("\"unit\":\"omitted\"") && huge.contains("\"queries\":{}"))
    assert(huge.contains("\"errors\":[\"0007\"]"))
    assert(huge.length <= Bench.TrailerBudget)
    // failed queries mark -1 in the min array
    val withFail = Bench.compactTrailer(
      results(5, 0.5) :+ (("q006_bad", -1.0, -1.0, 10.0)), Map("q006_bad" -> "err"),
      2.5, "", "sf0.1", ctrl)
    assert(withFail.contains(",-1],\"qoffm\"") && withFail.contains("\"errors\":[\"006\"]"))
  }

  private def formResults(n: Int): Seq[(String, Double, Double, Double)] =
    (1 to n).map(i => (f"q$i%03d_name", 4.0, 3.6, 16.0 * (i - 1)))
  private def qoffmOf(t: String): Option[String] =
    "\"qoffm\":\"([0-9a-z]*)\"".r.findFirstMatchIn(t).map(_.group(1))

  /** One trailer per form (the smallest swept registry that lands in
    * it), each checked for budget and per-query qoffm, then handed to
    * `assertion`. */
  private def eachForm(ctl: Option[(Double, Double, Double, Double)],
      re: Seq[(String, Double)], hb: Seq[Double])(assertion: String => Unit): Unit = {
    val sizes = 5 +: (1 to 300).map(_ * 10)
    val got = sizes.map { n =>
      n -> Bench.compactTrailer(formResults(n), Map.empty, n * 4.0, "", "sf0.1", ctl, re, hb)
    }.groupBy { case (_, t) => unitOf(t) }.map { case (u, ts) => u -> ts.head }
    assert(got.keySet == forms.toSet, s"a form was never reached: ${got.keySet}")
    forms.map(got).foreach { case (n, t) =>
      val what = s"${unitOf(t)} at n=$n"
      assert(t.length <= Bench.TrailerBudget, s"$what over budget")
      // one base-36 start-offset char per query while per-query data
      // fits; the floor forms drop it before the min array
      val perQuery = Set("ds-mindelta", "ds-minarray")(unitOf(t))
      assert(qoffmOf(t).map(_.length) == (if (perQuery) Some(n) else None),
        s"$what: qoffm ${qoffmOf(t).map(_.length)}")
      withClue(what + ": ")(assertion(t))
    }
  }

  test("every trailer form carries qoffm: one base-36 minute char per query, registry order") {
    // the per-form qoffm length check runs inside eachForm
    eachForm(ctrl, Seq.empty, Seq.empty)(_ => ())
    // the offset encoding: minutes floor, base-36, 'z' cap, '0' defense
    assert(Bench.offsetChar(0.0) == '0' && Bench.offsetChar(59.9) == '0')
    assert(Bench.offsetChar(60.0) == '1' && Bench.offsetChar(605.0) == 'a')
    assert(Bench.offsetChar(35 * 60.0) == 'z' && Bench.offsetChar(1e9) == 'z')
    assert(Bench.offsetChar(-3.0) == '0' && Bench.offsetChar(Double.NaN) == '0')
    // a 287-query run at the r11 timeline (~0.85 s/query median → ~16
    // min wall) clusters by minute and keeps med+min beside the offsets
    val t287 = Bench.compactTrailer(
      (1 to 287).map(i => (f"q$i%03d_name", 0.85, 0.765, 3.4 * (i - 1))),
      Map.empty, 244.0, "", "sf0.1", ctrl)
    val q287 = qoffmOf(t287).getOrElse(fail("287-query trailer lost qoffm"))
    assert(q287.length == 287 && q287.head == '0' && q287.last > '9',
      s"287-query timeline didn't span minutes: head=${q287.head} last=${q287.last}")
    assert(unitOf(t287) == "ds-mindelta",
      "qoffm displaced the med/min fields at the current registry size")
  }

  test("every trailer form carries qre: post-control re-readings, deciseconds, capped") {
    // an empty rerun map is still present: a record must distinguish
    // "nothing spiked" from an old one
    eachForm(ctrl, Seq.empty, Seq.empty) { t => assert(t.contains("\"qre\":{}")) }
    // re-readings render as {query number → deciseconds}, -1 = failed
    val re = Seq("q099_chunk" -> 2.13, "q167_pipeline" -> 1.48, "q042_chart" -> -1.0)
    eachForm(ctrl, re, Seq.empty) { t =>
      assert(t.contains("\"qre\":{\"099\":21,\"167\":15,\"042\":-1}"))
    }
    // the cap: a pathological run cannot blow the tail budget
    val many = (1 to 40).map(i => (f"q$i%03d_name", 9.9))
    eachForm(ctrl, many, Seq.empty) { t =>
      assert("\"\\d+\":99".r.findAllIn(t).size == Bench.MaxReruns)
    }
  }

  test("every trailer form carries the q27 control bracket in centiseconds") {
    eachForm(ctrl, Seq.empty, Seq.empty) { t =>
      assert(t.contains("\"ctrl_cs\":[193,188,201,190]"))
    }
    // a run without the control query still emits a parseable marker
    eachForm(None, Seq.empty, Seq.empty) { t =>
      assert(t.contains("\"ctrl_cs\":[-1,-1,-1,-1]"))
    }
  }

  test("every trailer form carries ctrl_hb: mid-run heartbeat centiseconds (r14)") {
    // an empty heartbeat array is still present: a record must
    // distinguish "no heartbeats" from an old one
    eachForm(ctrl, Seq.empty, Seq.empty) { t => assert(t.contains("\"ctrl_hb\":[]")) }
    // readings render as centiseconds, -1 = a heartbeat failed
    val hb = Seq(1.93, 2.01, 16.42, -1.0, 1.88)
    eachForm(ctrl, Seq.empty, hb) { t =>
      assert(t.contains("\"ctrl_hb\":[193,201,1642,-1,188]"))
    }
  }

  test("committed band file: parses, covers the adjudicated set, names resolve (r14)") {
    val bands = Bench.loadBands()
    // the r13 verdict's minimum coverage list, task 1
    val adjudicated = Seq("q21_set_ops", "q28_minhash_lsh", "q68_semdedup",
      "q77_embedding_dedup_oracle", "q99_chunk_dup_by_source",
      "q124_copurchase_rank", "q134_quality_canonical",
      "q135_simhash_calibration", "q143_corpus_pipeline_v4",
      "q167_corpus_pipeline_v5", "q168_prefix_filter_join",
      "q209_index_snippet", "q212_multimodal_resize", "q214_graph_distances",
      "q215_hub_proximity", "q219_retrieval_ndcg", "q220_retrieval_mrr",
      "q283_bradley_terry")
    adjudicated.foreach { q =>
      assert(bands.contains(q), s"band file missing adjudicated query $q")
    }
    bands.foreach { case (name, (floor, ceil)) =>
      assert(SparkEntry.queries.contains(name),
        s"band file names unregistered query $name — a rename drifted")
      assert(floor > 0 && floor <= ceil, s"$name band [$floor,$ceil] malformed")
    }
  }

  test("rerun triggers: med/min spike OR band-ceiling departure, severity-ordered, capped (r14)") {
    val bands = Map(
      "q219_x" -> (0.59, 1.3), "q021_y" -> (0.29, 0.32), "q777_z" -> (1.0, 2.0))
    // the BENCH_r13 shape the spike trigger provably misses: med≈min,
    // both far above the band ceiling → band trigger fires
    val sustained = Seq(
      ("q219_x", 16.95, 16.86, 700.0),  // 6.5× its 2×ceiling — worst
      ("q021_y", 8.23, 7.71, 800.0),    // 12.0× its 2×ceiling — worse still
      ("q100_n", 0.50, 0.45, 10.0),     // no band, no spike → quiet
      ("q101_s", 9.00, 1.00, 20.0),     // med/min 9 = 3× the spike bar
      ("q777_z", 3.90, 3.90, 30.0))     // 0.975× its 2×ceiling → quiet
    val picked = Bench.rerunCandidates(sustained, bands)
    assert(picked == Seq("q021_y", "q219_x", "q101_s"),
      s"trigger selection/order wrong: $picked")
    // a failed query never re-runs; an in-band query never re-runs
    assert(Bench.rerunCandidates(
      Seq(("q219_x", -1.0, -1.0, 0.0), ("q777_z", 1.9, 1.8, 5.0)), bands).isEmpty)
    // the shared cap: 20 departures still emit MaxReruns entries
    val many = (1 to 20).map(i => (f"q$i%03d_m", 10.0 + i, 10.0 + i, i * 5.0))
    val capBands = many.map { case (n, _, _, _) => n -> (0.5, 1.0) }.toMap
    assert(Bench.rerunCandidates(many, capBands).size == Bench.MaxReruns)
    // no bands at all → pure spike behavior (the pre-r14 contract)
    assert(Bench.rerunCandidates(sustained, Map.empty) == Seq("q101_s"))
  }
}
