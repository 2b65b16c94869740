package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark main: times every registered query over the sf0.1 test
  * tables at SPARK_GRAFT_SF_DIR (`SPARK_GRAFT_ONLY=q1,q2` runs a subset,
  * tagged `"filtered":true`).
  *
  * Output contract: stdout carries the full result JSON line, also
  * written to `bench_out.json` and `bench_out_c{cpus}.json` (the copy
  * survives a second run at another core count), then the compact
  * [[compactTrailer]] line LAST. A bench record is archived from a
  * 2000-char tail of the output, where the full line truncates from the
  * left; the trailer always fits whole. All progress goes to stderr. A failed
  * query reads -1, its message lands in the `errors` map, and the
  * process exits non-zero.
  *
  * Adjudication fields — each query is one warmup plus [[Repeats]]
  * timed noop writes ([[Measure.timedNoop]]), so the record can tell
  * box contention from a regression without a re-run by hand:
  *  - `queries` / `mins`: the median (headline) and the min (the
  *    contention-robust floor) per query;
  *  - `offsets`: each query's start in seconds since run start, so slow
  *    queries that cluster in time read as a contention window;
  *  - `control`: the [[ControlQuery]] measured first and last;
  *  - `ctrl_hb`: one timed control reading every [[HeartbeatEvery]]
  *    queries and one after the reruns, as [offset, sec] pairs, which
  *    timestamps a sustained window inside the record;
  *  - `reruns`: after the closing control, one more timed run of each
  *    query whose med/min exceeds [[RerunRatio]] (a spike) or whose
  *    min exceeds [[BandTriggerRatio]]× its adjudicated band ceiling (a
  *    sustained window inflates med and min together), worst first,
  *    at most [[MaxReruns]].
  * A heartbeat or rerun that throws reads -1 with a stderr warning and
  * never joins `errors`: the query already ran clean, and -1 marks the
  * one reading a judge must look at by hand.
  */
object Bench {

  /** The control query: small and stable; its readings calibrate every
    * other number in the record. Its quiet-box datum at sf0.1 moved
    * from ~1.9 s to ~1.0-1.3 s when its self-join gained the
    * shuffle_hash hint (r14), so compare control readings only within
    * a record or against a same-tree datum. */
  val ControlQuery = "q27_ngram_jaccard"

  /** Timed runs per query after its warmup: at sf0.1 Catalyst analysis
    * and codegen JIT dominate a cold first run, and this box's
    * scheduler is noisy, so the median of 3 is the headline and the
    * min the adjudication floor. */
  val Repeats = 3

  /** A query is re-run after the closing control when its median
    * exceeds its min by this ratio — the med≫min shape that is either
    * a contention window (re-reading lands near the min) or a real
    * bimodal regression (re-reading repeats the spike). 3× sits far
    * above this box's ±25% scheduler noise. */
  val RerunRatio = 3.0

  /** Tail-budget bound on the rerun map: worst severities first.
    * 8 entries ≈ 90 trailer chars; a run with more than 8 queries
    * spiking 3× (or departing their bands 2×) is a poisoned record no
    * per-query re-run can save. */
  val MaxReruns = 8

  /** A single q27 control reading is taken after every this-many
    * measured queries (~10 heartbeats at the current registry, ~20 s
    * of a ~25 min run) — a sustained contention window lands ON a
    * heartbeat and is timestamped inside the record, where the
    * first/last bracket sees only the ends. */
  val HeartbeatEvery = 30

  /** A query is re-run after the closing control when its MIN exceeds
    * its adjudicated band ceiling by this ratio — the sustained-window
    * shape (med AND min inflated together) the med/min spike trigger
    * cannot fire on. 2× a box-datum ceiling sits above this box's
    * ±25% scheduler noise and the ~1.5× slow-session drift the
    * control readings calibrate out. */
  val BandTriggerRatio = 2.0

  /** The committed adjudicated min-band file:
    * {"bands": {name: [floor, ceiling]}} in seconds at sf0.1. */
  val BandsResource = "/graft/bench_bands.json"

  /** Adjudicated [floor, ceiling] min-bands by query name, loaded from
    * [[BandsResource]]. A missing or unparseable resource degrades to
    * an empty map with a loud stderr warning — the band trigger is an
    * adjudication aid, never a reason a bench record fails to exist. */
  def loadBands(): Map[String, (Double, Double)] =
    try {
      val in = getClass.getResourceAsStream(BandsResource)
      if (in == null) {
        System.err.println(s"[bench] WARNING: $BandsResource missing — band trigger disabled")
        Map.empty
      } else
        try {
          val om = new com.fasterxml.jackson.databind.ObjectMapper()
          val bands = om.readTree(in).get("bands")
          val it = bands.properties().iterator()
          val b = Map.newBuilder[String, (Double, Double)]
          while (it.hasNext) {
            val e = it.next()
            b += e.getKey -> (e.getValue.get(0).asDouble, e.getValue.get(1).asDouble)
          }
          b.result()
        } finally in.close()
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] WARNING: $BandsResource unparseable " +
          s"(${e.toString.take(120)}) — band trigger disabled")
        Map.empty
    }

  /** The post-control rerun set: every query
    * whose med/min exceeds [[RerunRatio]] (the SPIKE shape) or whose
    * MIN exceeds [[BandTriggerRatio]]× its adjudicated band ceiling
    * (the SUSTAINED-window shape), ordered worst severity first and
    * capped at [[MaxReruns]]. Severity is the trigger ratio normalized
    * to its own threshold, so a 28× band departure (BENCH_r13's q219)
    * outranks a 3.5× spike. Pure — pinned by BenchHygieneSpec. */
  private[graft] def rerunCandidates(
      results: Seq[(String, Double, Double, Double)],
      bands: Map[String, (Double, Double)]): Seq[String] =
    results
      .flatMap { case (name, med, min, _) =>
        if (med <= 0 || min <= 0) None
        else {
          val spike = med / min / RerunRatio
          val band = bands.get(name)
            .map { case (_, ceil) => min / (BandTriggerRatio * ceil) }
            .getOrElse(0.0)
          val severity = math.max(spike, band)
          if (severity > 1.0) Some((name, severity)) else None
        }
      }
      .sortBy { case (n, s) => (-s, n) }
      .take(MaxReruns)
      .map(_._1)

  /** Locale-pinned 2-dp rendering — `f"$v%.2f"` uses the JVM default
    * locale, which on a comma-decimal locale (de_DE) would emit "1,23"
    * and corrupt the JSON record. */
  private[graft] def f2(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.defaultCpus
    val spark = GraftSession.configure(SparkSession.builder(), cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    type Query = (SparkSession, String) => org.apache.spark.sql.DataFrame
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    // warmup + Repeats timed runs; returns (median, min)
    def measure(fn: Query): (Double, Double) = {
      Measure.timedNoop(spark)(fn(spark, sfDir))
      val ts = Seq.fill(Repeats)(Measure.timedNoop(spark)(fn(spark, sfDir)))
      (median(ts), ts.min)
    }
    // one timed run for a heartbeat or rerun: a throw reads -1 (see the
    // object scaladoc)
    def reading(what: String, fn: Query): Double =
      try Measure.timedNoop(spark)(fn(spark, sfDir))
      catch {
        case e: Throwable =>
          System.err.println(s"[bench] WARNING: $what failed: " + e.toString.take(200))
          -1.0
      }

    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    var errors = Map.empty[String, String]
    def record(e: Throwable, name: String): Unit =
      errors += name -> e.toString.replaceAll("[\\\\\"\\n\\r]", " ").take(200)

    val controlFn = SparkEntry.queries.get(ControlQuery)
    def controlReading(tag: String): Option[(Double, Double)] = controlFn.map { fn =>
      System.err.println(s"[bench] control($tag) $ControlQuery")
      try measure(fn)
      catch { case e: Throwable => record(e, s"control_$tag"); (-1.0, -1.0) }
    }
    // one timeline origin for the control bracket, heartbeats and queries
    val runStart = System.nanoTime()
    val ctrlFirst = controlReading("first")

    // heartbeats take no warmup: the control is JIT-warm from the bracket
    val ctrlHb = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
    def heartbeat(tag: String): Unit = controlFn.foreach { fn =>
      val off = (System.nanoTime() - runStart) / 1e9
      System.err.println(s"[bench] heartbeat($tag) $ControlQuery")
      ctrlHb += ((off, reading("heartbeat", fn)))
    }

    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .zipWithIndex
      .map { case ((name, fn), i) =>
        if (i > 0 && i % HeartbeatEvery == 0) heartbeat(s"q$i")
        System.err.println(s"[bench] $name")
        val off = (System.nanoTime() - runStart) / 1e9
        val (med, min) =
          try measure(fn)
          catch { case e: Throwable => record(e, name); (-1.0, -1.0) }
        (name, med, min, off)
      }
    val ctrlLast = controlReading("last")
    val ctrl = (ctrlFirst, ctrlLast) match {
      case (Some((fm, fn0)), Some((lm, ln))) => Some((fm, fn0, lm, ln))
      case _ => None
    }
    // reruns follow the closing control, and one more heartbeat
    // follows them, so a control reading brackets each re-reading
    val bands = loadBands()
    val reruns: Seq[(String, Double)] = rerunCandidates(results, bands)
      .map { name =>
        val (_, med, min, _) = results.find(_._1 == name).get
        System.err.println(f"[bench] rerun $name (med $med%.2f / min $min%.2f)")
        (name, reading(s"rerun of $name", SparkEntry.queries(name)))
      }
    heartbeat("post-rerun")

    def jmap(kv: Seq[(String, Double)]): String =
      kv.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val qs = jmap(results.map { case (k, m, _, _) => k -> m })
    val mins = jmap(results.map { case (k, _, m, _) => k -> m })
    val offs = results
      .map { case (k, _, _, o) => "\"" + k + "\":" + f2(o) }
      .mkString("{", ",", "}")
    val rerunsJson = reruns
      .map { case (k, v) => "\"" + k + "\":" + f2(v) }
      .mkString("{", ",", "}")
    val ctrlJson = ctrl
      .map { case (fm, fn0, lm, ln) => s"""{"first":[$fm,$fn0],"last":[$lm,$ln]}""" }
      .getOrElse("null")
    val ctrlHbJson = ctrlHb
      .map { case (off, t) => s"[${f2(off)},$t]" }
      .mkString("[", ",", "]")
    val errJson = errors.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // a subset must never read as a full-suite total
    val filteredTag = if (only.isDefined) {
      System.err.println(
        s"[bench] WARNING: SPARK_GRAFT_ONLY is set — this is a " +
          s"${results.size}-query SUBSET, not the full suite")
      ""","filtered":true"""
    } else ""
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
        s""""mins":$mins,"offsets":$offs,"reruns":$rerunsJson,""" +
        s""""control":$ctrlJson,"ctrl_hb":$ctrlHbJson,""" +
        s""""errors":$errJson$filteredTag,"sf":"$sfDir"}"""
    Seq("bench_out.json", s"bench_out_c$cpus.json").foreach { f =>
      Files.write(Paths.get(f), (json + "\n").getBytes(StandardCharsets.UTF_8))
    }
    println(json)
    println(compactTrailer(results, errors, total, filteredTag, sfDir, ctrl,
      reruns, ctrlHb.map(_._2).toSeq))
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }

  /** Budget for the compact trailer: the driver archives a 2000-char
    * tail; leave room for sbt's closing [success]/[error] line. */
  val TrailerBudget = 1900

  /** One base-36 char for a query's start offset: whole minutes since
    * run start, 'z' = ≥35 min (a run that long has coarser problems);
    * negative/NaN defends to '0'. */
  private[graft] def offsetChar(sec: Double): Char =
    if (!(sec > 0)) '0'
    else Character.forDigit(math.min((sec / 60.0).toInt, 35), 36)

  /** The compact trailer, printed last: one JSON object that fits
    * [[TrailerBudget]]. It always carries `total`, `n_queries`,
    * `n_errors`, `unit`, an empty `"queries":{}`, `ctrl_cs` (the
    * control bracket [first_med, first_min, last_med, last_min] in
    * centiseconds, all -1 without a control), `ctrl_hb` (heartbeat
    * readings in centiseconds), `qre` (rerun readings in deciseconds
    * keyed by query number, at most [[MaxReruns]]), `errors` (failed
    * query numbers only), the `filtered` tag and `sf`. -1 marks a
    * failed reading everywhere.
    *
    * Per query, in `results` order (Bench passes registry-name order),
    * it adds up to three fields, dropped in this order while the line
    * exceeds the budget; `unit` names what is left:
    *  1. `qmedd` — med−min as one base-36 char in deciseconds ('z' =
    *     ≥35 ds, '0' for a failed query; med_ds = qmin + digit);
    *  2. `qoffm` — the start offset as one [[offsetChar]];
    *  3. `qmin` — the min as a decisecond array.
    * All three: `ds-mindelta`; `qmin` and `qoffm`: `ds-minarray`;
    * `qmin`: `ds-minarray-bare`; none: `omitted`. Full-precision values
    * and error messages stay in the first line and bench_out.json. */
  private[graft] def compactTrailer(results: Seq[(String, Double, Double, Double)],
      errors: Map[String, String], total: Double, filteredTag: String,
      sfDir: String, ctrl: Option[(Double, Double, Double, Double)],
      reruns: Seq[(String, Double)] = Seq.empty,
      ctrlHb: Seq[Double] = Seq.empty): String = {
    def qnum(name: String): String = name.takeWhile(_ != '_').drop(1)
    def cs(v: Double): Long = if (v < 0) -1 else math.round(v * 100)
    def ds(v: Double): Long = if (v < 0) -1 else math.round(v * 10)
    val errQs = errors.keys.toSeq.sorted
      .map("\"" + qnum(_) + "\"").mkString("[", ",", "]")
    val ctrlCs = ctrl
      .map { case (a, b, c, d) => Seq(a, b, c, d).map(cs).mkString("[", ",", "]") }
      .getOrElse("[-1,-1,-1,-1]")
    val qre = reruns.take(MaxReruns)
      .map { case (k, v) => "\"" + qnum(k) + "\":" + ds(v) }
      .mkString("{", ",", "}")
    val hbCs = ctrlHb.map(cs).mkString("[", ",", "]")
    def trailer(unit: String, perQuery: String): String =
      s"""{"total":${f2(total)},"n_queries":${results.size},""" +
        s""""n_errors":${errors.size},"unit":"$unit","queries":{}$perQuery,""" +
        s""""ctrl_cs":$ctrlCs,"ctrl_hb":$hbCs,"qre":$qre,""" +
        s""""errors":$errQs$filteredTag,""" +
        s""""sf":"${Paths.get(sfDir).getFileName}"}"""
    val qmedd = results.map { case (_, med, min, _) =>
      val d = if (med < 0 || min < 0) 0L
        else math.min(math.max(ds(med) - ds(min), 0L), 35L)
      Character.forDigit(d.toInt, 36)
    }.mkString
    val qmin = results.map(r => ds(r._3)).mkString(""","qmin":[""", ",", "]")
    val qoffm = results.map(r => offsetChar(r._4)).mkString(""","qoffm":"""", "", "\"")
    val forms = Seq(
      trailer("ds-mindelta", s""","qmedd":"$qmedd"""" + qmin + qoffm),
      trailer("ds-minarray", qmin + qoffm),
      trailer("ds-minarray-bare", qmin),
      trailer("omitted", ""))
    forms.find(_.length <= TrailerBudget).getOrElse {
      System.err.println("[bench] WARNING: even the trailer without " +
        "per-query fields exceeds the tail budget — emitting it anyway")
      forms.last
    }
  }
}
