package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.core._
import graft.state.MaterializedViews
import graft.streaming.{DailyAgg, DeltaTracker, NewsDedup}

/** The reference's streaming topologies under MemoryStream — covering
  * what its own tests leave untested (SURVEY.md §5.2). Golden numbers
  * from FIXTURES.md §1 (AlertTextTests fixtures). */
class StreamingSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  private val snap1 = StatewiseStats("4729", "5341", "157", "455",
    "Total", "TT", "08/04/2020 00:04:28")
  private val snap2 = StatewiseStats("4745", "5372", "160", "463",
    "Total", "TT", "08/04/2020 06:00:00")
  private val t1 = ts("2020-04-08 00:04:28")
  private val t2 = ts("2020-04-08 06:00:00")

  test("delta tracker: first snapshot deltas = totals, second = diffs (golden)") {
    import spark.implicits._
    val in = Seq(StampedStats(t1, snap1), StampedStats(t2, snap2)).toDS()
    val out = DeltaTracker.statewise(in).collect().sortBy(_.eventTime.getTime)
    assert(out.length == 2)
    val d1 = out(0).delta
    assert((d1.deltaConfirmed, d1.deltaDeaths, d1.deltaRecovered) == ((5341L, 157L, 455L)))
    val d2 = out(1).delta
    assert((d2.deltaConfirmed, d2.deltaDeaths, d2.deltaRecovered) == ((31L, 3L, 8L)))
    assert(d2.currentConfirmed == 5372L && d2.lastUpdatedTime == "08/04/2020 06:00:00")
  }

  test("delta tracker: state persists across micro-batches (streaming)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[StampedStats]
    val q = DeltaTracker.statewise(ms.toDS())
      .writeStream.format("memory").queryName("deltas_t")
      .outputMode("append").start()
    try {
      ms.addData(StampedStats(t1, snap1))
      q.processAllAvailable()
      ms.addData(StampedStats(t2, snap2))
      q.processAllAvailable()
      val rows = spark.table("deltas_t").as[StampedDelta]
        .collect().sortBy(_.eventTime.getTime)
      assert(rows.length == 2)
      assert(rows(1).delta.deltaConfirmed == 31L)
      assert(rows(1).delta.deltaRecovered == 8L)
      assert(rows(1).delta.deltaDeaths == 3L)
    } finally q.stop()
  }

  test("district tracker: composite key, string-typed numerics") {
    import spark.implicits._
    val d1 = DistrictwiseData("Maharashtra", "Mumbai", confirmed = "100",
      recovered = "20", deceased = "5")
    val d2 = DistrictwiseData("Maharashtra", "Mumbai", confirmed = "130",
      recovered = "26", deceased = "6")
    val in = Seq(StampedDistrict(t1, d1), StampedDistrict(t2, d2)).toDS()
    val out = DeltaTracker.districtwise(in).collect().sortBy(_.eventTime.getTime)
    assert(out(0).data.deltaConfirmed == "100")
    assert(out(1).data.deltaConfirmed == "30")
    assert(out(1).data.deltaRecovered == "6")
    assert(out(1).data.deltaDeceased == "1")
    assert(out(1).data.confirmed == "130")
  }

  test("daily agg: window sums deltas, carries latest currents, dd/MM/yyyy key") {
    import spark.implicits._
    val deltas = DeltaTracker.statewise(
      Seq(StampedStats(t1, snap1), StampedStats(t2, snap2)).toDS())
    val daily = DailyAgg.statewiseDaily(deltas).collect()
    assert(daily.length == 1)
    val r = daily(0)
    assert(r.getAs[String]("date") == "08/04/2020")
    assert(r.getAs[Long]("deltaConfirmed") == 5372L) // 5341 + 31
    assert(r.getAs[Long]("deltaDeaths") == 160L)
    assert(r.getAs[Long]("currentConfirmed") == 5372L)
    assert(r.getAs[String]("lastUpdatedTime") == "08/04/2020 06:00:00")
  }

  test("district tracker: composite-key state persists across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[StampedDistrict]
    val q = DeltaTracker.districtwise(ms.toDS())
      .writeStream.format("memory").queryName("district_deltas_t")
      .outputMode("append").start()
    try {
      ms.addData(StampedDistrict(t1, DistrictwiseData("Maharashtra", "Mumbai",
        confirmed = "100", recovered = "20", deceased = "5")))
      q.processAllAvailable()
      ms.addData(
        StampedDistrict(t2, DistrictwiseData("Maharashtra", "Mumbai",
          confirmed = "130", recovered = "26", deceased = "6")),
        StampedDistrict(t2, DistrictwiseData("Maharashtra", "Pune",
          confirmed = "40")))
      q.processAllAvailable()
      val rows = spark.table("district_deltas_t").as[StampedDistrict]
        .collect().map(r => ((r.data.state, r.data.district, r.eventTime),
          r.data.deltaConfirmed)).toMap
      // Mumbai's second batch diffs against batch-1 state; Pune is fresh
      assert(rows((("Maharashtra"), "Mumbai", t2)) == "30")
      assert(rows((("Maharashtra"), "Pune", t2)) == "40")
    } finally q.stop()
  }

  test("districtwise daily: composite key sums deltas, carries latest cumulative") {
    import spark.implicits._
    val rows = Seq(
      StampedDistrict(t1, DistrictwiseData("Maharashtra", "Mumbai",
        confirmed = "100", deltaConfirmed = "100", deltaRecovered = "20",
        deltaDeceased = "5")),
      StampedDistrict(t2, DistrictwiseData("Maharashtra", "Mumbai",
        confirmed = "130", deltaConfirmed = "30", deltaRecovered = "6",
        deltaDeceased = "1")),
      StampedDistrict(t2, DistrictwiseData("Maharashtra", "Pune",
        confirmed = "40", deltaConfirmed = "40"))).toDS()
    val daily = DailyAgg.districtwiseDaily(rows).collect()
      .map(r => (r.getAs[String]("district"), r)).toMap
    assert(daily.size == 2)
    val mum = daily("Mumbai")
    assert(mum.getAs[String]("date") == "08/04/2020")
    assert(mum.getAs[Long]("deltaConfirmed") == 130L)
    assert(mum.getAs[Long]("deltaRecovered") == 26L)
    assert(mum.getAs[Long]("deltaDeceased") == 6L)
    assert(mum.getAs[String]("confirmed") == "130")
    assert(daily("Pune").getAs[Long]("deltaConfirmed") == 40L)
  }

  test("districtwise daily streaming: composite-key windows behind a watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[StampedDistrict]
    val q = DailyAgg.districtwiseDailyStreaming(ms.toDS(), "1 day")
      .writeStream.format("memory").queryName("district_daily_wm")
      .outputMode("update").start()
    def d(t: Timestamp, district: String, dc: String, conf: String) =
      StampedDistrict(t, DistrictwiseData("Maharashtra", district,
        confirmed = conf, deltaConfirmed = dc))
    try {
      ms.addData(d(t1, "Mumbai", "100", "100"), d(t1, "Pune", "10", "10"))
      q.processAllAvailable()
      ms.addData(d(t2, "Mumbai", "30", "130"))
      q.processAllAvailable()
      // late row beyond the 1-day watermark delay: dropped from the window
      ms.addData(d(ts("2020-04-20 00:00:00"), "Nagpur", "1", "1"))
      q.processAllAvailable()
      ms.addData(d(ts("2020-04-08 01:00:00"), "Mumbai", "999", "999"))
      q.processAllAvailable()
      val mum = spark.table("district_daily_wm")
        .filter(col("district") === "Mumbai" && col("date") === "08/04/2020")
        .select("deltaConfirmed", "confirmed").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(mum.contains((130L, "130")), s"window sum wrong: $mum")
      assert(!mum.exists(_._1 > 130L), s"late row leaked: $mum")
    } finally q.stop()
  }

  test("doubling rate matches DecimalFormat(0).format(Math.round(70/growth))") {
    import spark.implicits._
    // growth = 100*31/5372 = 0.577%, 70/0.577 = 121.3 -> "121"
    val df = Seq((31L, 5372L), (0L, 100L), (100L, 0L), (5372L, 5372L)).toDF("d", "c")
    val got = df.select(DailyAgg.doublingRate(col("d"), col("c")).as("r"))
      .as[String].collect().toSeq
    assert(got == Seq("121", "0", "0", "1"))
  }

  test("dedup with TTL refresh: duplicates keep suppressing (ST3)") {
    import spark.implicits._
    def p(src: String) = PatientInfo(currentstatus = "Hospitalized",
      detectedstate = "Assam", source1 = src)
    val day = 86400000L
    def at(d: Int) = new Timestamp(ts("2020-04-01 00:00:00").getTime + d * day)
    // ttl 7d -> dup window = ttl/2 = 3.5d around last seen
    val in = Seq(
      StampedPatient(at(0), p("srcA")),   // emit (first)
      StampedPatient(at(1), p("srcA")),   // dup, refreshes
      StampedPatient(at(4), p("srcA")),   // 3d after refresh -> still dup, refreshes
      StampedPatient(at(10), p("srcA")),  // 6d after refresh -> emit
      StampedPatient(at(2), p("srcB"))    // different id -> emit
    ).toDS()
    val out = NewsDedup.dedupWithTtl(in, ttlMs = 7 * day).collect()
    val times = out.filter(r => NewsDedup.bestNewsSource(r.patient) == "srcA")
      .map(_.eventTime).sortBy(_.getTime)
    assert(times.toSeq == Seq(at(0), at(10)))
    assert(out.count(r => NewsDedup.bestNewsSource(r.patient) == "srcB") == 1)
  }

  test("dedup TTL state is evicted once the watermark passes lastSeen+ttl (ST3)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def p(src: String) = PatientInfo(currentstatus = "Hospitalized",
      detectedstate = "Assam", source1 = src)
    val day = 86400000L
    def at(d: Int) = new Timestamp(ts("2020-04-01 00:00:00").getTime + d * day)
    val ms = MemoryStream[StampedPatient]
    val q = NewsDedup.dedupWithTtl(ms.toDS(), ttlMs = 7 * day)
      .writeStream.format("memory").queryName("dedup_ttl_t")
      .outputMode("append").start()
    def stateRows: Long = q.lastProgress.stateOperators(0).numRowsTotal
    try {
      ms.addData(StampedPatient(at(0), p("srcA")), StampedPatient(at(0), p("srcB")))
      q.processAllAvailable()
      assert(stateRows == 2, s"expected 2 live keys, got $stateRows")
      // srcB refreshes at day 20 -> watermark (1d delay) lands at day 19,
      // far past srcA's timeout of day 7
      ms.addData(StampedPatient(at(20), p("srcB")))
      q.processAllAvailable()
      // next batch runs with watermark=day19 and fires srcA's timeout
      ms.addData(StampedPatient(at(21), p("srcB")))
      q.processAllAvailable()
      assert(stateRows == 1, s"srcA state not evicted: $stateRows rows")
    } finally q.stop()
  }

  test("news-sources pipeline: clean, recency window, best source, re-key") {
    import spark.implicits._
    val today = java.time.LocalDate.of(2020, 4, 8)
    val in = Seq(
      StampedPatient(t1, PatientInfo(dateannounced = "08/04/2020",
        detectedstate = "Assam", currentstatus = "Recovered",
        source1 = "s1", source3 = "s3")),
      StampedPatient(t1, PatientInfo(dateannounced = "02/04/2020",
        detectedstate = "Delhi", currentstatus = "Hospitalized",
        source2 = "s2")),                                    // 6d ago: inside
      StampedPatient(t1, PatientInfo(dateannounced = "01/04/2020",
        detectedstate = "Kerala", currentstatus = "Hospitalized",
        source1 = "s1")),                                    // 7d ago: outside
      StampedPatient(t1, PatientInfo(dateannounced = "08/04/2020",
        detectedstate = "Goa", currentstatus = "",
        source1 = "sX"))                                     // unclean
    ).toDS()
    val out = NewsDedup.newsSources(in, ttlMs = 7 * 86400000L, today)
      .collect().toSet
    assert(out == Set(("Assam", "s3"), ("Delhi", "s2")))
  }

  test("latestPerKey equals ranked-scan as-of on real data") {
    val ev = graft.sources.Tables.load(spark, sf, "events")
      .select("user_id", "event_id", "ts", "value")
    val got = MaterializedViews.latestPerKey(ev, Seq("user_id"), "event_id")
      .select("user_id", "event_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val exp = ev.groupBy("user_id").agg(max("event_id").as("m")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == exp)
  }

  test("latestPerKey breaks equal-timestamp ties deterministically") {
    import spark.implicits._
    // same key, same ts, different payload, shuffled input order — the
    // winner must not depend on scan/partition order (ADVICE r3: plain
    // max_by on the ts alone is nondeterministic on ties)
    val rowsA = Seq(("k", "v1", t1), ("k", "v9", t1), ("k", "v5", t1))
    val winners = Seq(rowsA, rowsA.reverse, rowsA.sortBy(_._2)).map { rs =>
      MaterializedViews.latestPerKey(
        rs.toDF("state", "v", "eventTime").repartition(3), Seq("state"), "eventTime")
        .select("v").as[String].head()
    }
    assert(winners.toSet == Set("v9"), s"tie winners varied: $winners")
  }

  test("serveAsView maintains a queryable latest-per-key view across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[StampedStats]
    val q = MaterializedViews.serveAsView(
      DeltaTracker.statewise(ms.toDS()).toDF()
        .select(col("eventTime"), col("delta.*")),
      Seq("state"), "eventTime", "delta_view")
    // a frame whose state decoded to null: its group must upsert in
    // place (null-safe key equality), not add a row per batch
    def unnamed(confirmed: String, at: String) =
      StatewiseStats("0", confirmed, "0", "0", null, null, at)
    try {
      ms.addData(StampedStats(t1, snap1),
        StampedStats(t1, unnamed("10", "08/04/2020 00:04:28")))
      q.processAllAvailable()
      ms.addData(StampedStats(t2, snap2),
        StampedStats(t2, unnamed("12", "08/04/2020 06:00:00")))
      q.processAllAvailable()
      val rows = spark.table("global_temp.delta_view").collect()
      assert(rows.length == 2, rows.toSeq)
      val (nulls, named) = rows.partition(_.getAs[String]("state") == null)
      assert(nulls.length == 1, rows.toSeq)
      assert(nulls(0).getAs[Long]("currentConfirmed") == 12L)
      assert(nulls(0).getAs[Long]("deltaConfirmed") == 2L)
      assert(named(0).getAs[Long]("currentConfirmed") == 5372L)
      assert(named(0).getAs[Long]("deltaConfirmed") == 31L)
    } finally q.stop()
  }

  test("view catalog declares the bot's 11 KTables with distinct names/topics") {
    import graft.state.ViewCatalog
    assert(ViewCatalog.all.size == 11)
    assert(ViewCatalog.all.map(_.view).distinct.size == 11)
    assert(ViewCatalog.all.map(_.topic).distinct.size == 11)
    // composite keys mirror the reference serdes
    assert(ViewCatalog.zones.keyCols == Seq("state", "district"))
    assert(ViewCatalog.doublingRate.keyCols == Seq("date", "state"))
  }

  test("catalog view: per-batch state update cost tracks the batch, not history") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[(String, String, String, Timestamp)]
    val root = java.nio.file.Files.createTempDirectory("vc-root")
      .toFile.getAbsolutePath
    val q = graft.state.ViewCatalog.serve(graft.state.ViewCatalog.doublingRate,
      ms.toDS().toDF("date", "state", "doublingRate", "eventTime"), root)
    try {
      ms.addData((0 until 50).map(i =>
        ("08/04/2020", s"State$i", "100", t1)): _*)
      q.processAllAvailable()
      assert(spark.table("global_temp.doubling_rate").count() == 50)
      // one changed key: the stateful agg updates 1 state row, not 50
      ms.addData(("08/04/2020", "State7", "121", t2))
      q.processAllAvailable()
      val oneRowBatches = q.recentProgress
        .filter(_.numInputRows == 1).flatMap(_.stateOperators.headOption)
      assert(oneRowBatches.nonEmpty, "no 1-row batch in progress history")
      // the engine reports up to 2 state writes for the one changed key
      // (partial + final) — the claim under test is that updates track
      // the BATCH (≤2 writes), not the 50-key history
      assert(oneRowBatches.forall(_.numRowsUpdated <= 2),
        s"state updates scaled with history, not batch: " +
          s"${oneRowBatches.map(_.numRowsUpdated).toSeq}")
      val view = spark.table("global_temp.doubling_rate")
      assert(view.count() == 50)
      assert(view.filter(col("state") === "State7")
        .select("doublingRate").as[String].collect().toSeq == Seq("121"))
    } finally q.stop()
  }

  test("ST2/ST4: watermarked daily agg drops late data beyond the delay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[StampedDelta]
    val q = DailyAgg.statewiseDailyStreaming(ms.toDS(), "1 day")
      .writeStream.format("memory").queryName("daily_wm")
      .outputMode("update").start()
    def delta(t: String, dc: Long) = StampedDelta(ts(t),
      StatewiseDelta(0, 0, dc, 0, 0, 100, "", "Assam"))
    try {
      ms.addData(delta("2020-04-01 10:00:00", 5))
      q.processAllAvailable()
      // advance event time (and thus the watermark) far past day 1
      ms.addData(delta("2020-04-10 10:00:00", 7))
      q.processAllAvailable()
      // late arrival for day 1, 9 days late with a 1-day delay: dropped
      ms.addData(delta("2020-04-01 12:00:00", 100))
      q.processAllAvailable()
      val day1 = spark.table("daily_wm")
        .filter(col("date") === "01/04/2020")
        .select("deltaConfirmed").as[Long].collect().toSet
      assert(day1 == Set(5L), s"late row leaked into day-1 state: $day1")
    } finally q.stop()
  }

  test("stateful topologies run on the RocksDB state store (large-key-space knob)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[StampedStats]
    val q = DeltaTracker.statewise(ms.toDS())
      .writeStream.format("memory").queryName("deltas_rocksdb")
      .outputMode("append").start()
    try {
      ms.addData(StampedStats(t1, snap1))
      q.processAllAvailable()
      ms.addData(StampedStats(t2, snap2))
      q.processAllAvailable()
      val rows = spark.table("deltas_rocksdb").as[StampedDelta]
        .collect().sortBy(_.eventTime.getTime)
      assert(rows.length == 2)
      assert(rows(1).delta.deltaConfirmed == 31L) // state persisted in RocksDB
      // rocksdb-prefixed custom metrics prove the session default
      // provider (GraftSession names RocksDB) actually ran
      import scala.jdk.CollectionConverters._
      val metricKeys = q.lastProgress.stateOperators.head
        .customMetrics.keySet.asScala
      assert(metricKeys.exists(_.toLowerCase.contains("rocksdb")),
        s"no rocksdb metrics — provider not active: $metricKeys")
    } finally q.stop()
  }

  test("streaming boilerplate monitor: sentence explode composes into windowed heavy hitters") {
    // q158's continuous twin: a document stream exploded to sentence
    // digests (the q149 projection — text never reaches the stateful
    // operator's key) feeding the salted Misra-Gries top-k. The
    // template sentence planted across documents must surface as the
    // window's top key.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[(Timestamp, String)]
    val sents = ms.toDS().toDF("ts", "text")
      .select(col("ts"), explode(split(col("text"), "[.!?]+")).as("s0"))
      .select(col("ts"), trim(col("s0")).as("sent"))
      .filter(length(col("sent")) > 0)
      .select(col("ts"), md5(col("sent")).as("d"))
    val q = graft.streaming.HeavyHitters.windowedTopK(
        sents, "ts", "d", windowMillis = 3600000L, graceMillis = 3600000L,
        capacity = 8, k = 2, nSalts = 2)
      .writeStream.format("memory").queryName("bp_t")
      .outputMode("append").start()
    try {
      val base = ts("2024-01-01 10:00:00").getTime
      val template = "subscribe to our newsletter"
      val docs = (0 until 30).map { i =>
        (new Timestamp(base + i), s"unique sentence number $i. $template! more text $i.")
      } ++ (0 until 5).map { i =>
        (new Timestamp(base + 100 + i), s"other doc $i. nothing shared here $i?")
      }
      ms.addData(docs: _*)
      q.processAllAvailable()
      // close the window so append mode emits
      ms.addData((new Timestamp(base + 2 * 3600000L + 3600000L), "flush."))
      q.processAllAvailable()
      val rows = spark.table("bp_t")
        .filter(col("windowStart") === new Timestamp(base - base % 3600000L))
        .collect().map(r => (r.getString(1), r.getLong(2), r.getInt(4)))
        .sortBy(_._3)
      assert(rows.nonEmpty, "window never emitted")
      val md5Template = java.security.MessageDigest.getInstance("MD5")
        .digest(template.getBytes("UTF-8")).map("%02x".format(_)).mkString
      assert(rows.head._1 == md5Template,
        s"top boilerplate key wrong: ${rows.toSeq} (want $md5Template)")
      assert(rows.head._2 >= 25, s"template count underestimated: ${rows.head}")
    } finally q.stop()
  }

  test("windowedTopK fails fast (plan time, clear fix) without the RocksDB provider") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.unset(key) // the default HDFS provider
    try {
      val ms = MemoryStream[(Timestamp, String)]
      val e = intercept[IllegalArgumentException] {
        graft.streaming.HeavyHitters.windowedTopK(
          ms.toDS().toDF("ts", "etype"), "ts", "etype",
          windowMillis = 3600000L, graceMillis = 3600000L,
          capacity = 4, k = 2)
      }
      assert(e.getMessage.contains("RocksDBStateStoreProvider"),
        s"error must name the fix: ${e.getMessage}")
      assert(e.getMessage.contains("APPEND"),
        "error must call out the append output mode")
    } finally prev.foreach(spark.conf.set(key, _))
  }

  test("streaming windowed heavy hitters: bounded counters, true top-k, eviction") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[(Timestamp, String)]
    val q = graft.streaming.HeavyHitters.windowedTopK(
        ms.toDS().toDF("ts", "etype"),
        "ts", "etype", windowMillis = 3600000L, graceMillis = 3600000L,
        capacity = 4, k = 2, nSalts = 2)
      .writeStream.format("memory").queryName("hh_t")
      .outputMode("append").start()
    try {
      val base = ts("2024-01-01 10:00:00").getTime
      // skewed stream: a×50, b×30, 20 singleton keys — ~11 distinct
      // keys per salt shard against 4 counters forces MG decrements
      val data = (0 until 50).map(i => (new Timestamp(base + i), "a")) ++
        (0 until 30).map(i => (new Timestamp(base + 1000 + i), "b")) ++
        (0 until 20).map(i => (new Timestamp(base + 2000 + i), s"z$i"))
      ms.addData(data: _*)
      q.processAllAvailable()
      val rows = spark.table("hh_t").collect()
        .map(r => (r.getInt(4), r.getString(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1)
      assert(rows.map(_._2).toSeq == Seq("a", "b"), s"top-2 wrong: ${rows.toSeq}")
      // MG bound: est ≤ true ≤ est + the key's own shard decrements
      val byKey = rows.map(r => r._2 -> (r._3, r._4)).toMap
      assert(byKey("a")._1 <= 50 && byKey("a")._1 + byKey("a")._2 >= 50)
      assert(byKey("b")._1 <= 30 && byKey("b")._1 + byKey("b")._2 >= 30)
      // two-level plan: salted summaries feed a merge stage — two
      // stateful operators, and the raw event volume never groups on
      // the bare window key (stage 1's key carries the salt)
      assert(q.lastProgress.stateOperators.length == 2,
        "expected salted-summary + merge state operators")
      val plan = {
        val out = new java.io.ByteArrayOutputStream()
        Console.withOut(new java.io.PrintStream(out))(q.explain())
        out.toString
      }
      assert("TransformWithState".r.findAllIn(plan).size >= 2, plan)
      assert(plan.contains("salt"), "stage-1 grouping key lost its salt")
      // state stays bounded: ≤ nSalts summary shards + 1 merge row
      val totalState = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(totalState <= 4, s"state rows $totalState exceed shard bound")
      // a rank whose holder falls out of the summary is tombstoned,
      // not left stale: the batch always emits exactly k rows per
      // touched window (null key past the live counter set)
      val win2 = new Timestamp(base + 2 * 3600000L)
      ms.addData((win2, "p"))
      q.processAllAvailable()
      val w2rows = spark.table("hh_t")
        .filter(col("windowStart") === win2).collect()
        .map(r => r.getInt(4) -> (if (r.isNullAt(1)) null else r.getString(1)))
        .toMap
      assert(w2rows == Map(1 -> "p", 2 -> null), s"tombstone missing: $w2rows")
      // advance the watermark beyond window end + grace → eviction
      ms.addData((new Timestamp(base + 4 * 3600000L), "late"))
      q.processAllAvailable()
      ms.addData((new Timestamp(base + 6 * 3600000L), "later"))
      q.processAllAvailable()
      assert(spark.table("hh_t").select("windowStart").distinct().count() >= 2)
      val totals = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(totals <= 6, s"evicted windows still in state: $totals rows")
    } finally q.stop()
  }

  test("heavy hitters: merged error bound ≤ Σ per-salt n/capacity") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val nSalts = 2
    val capacity = 4
    val ms = MemoryStream[(Timestamp, String)]
    val q = graft.streaming.HeavyHitters.windowedTopK(
        ms.toDS().toDF("ts", "etype"),
        "ts", "etype", windowMillis = 3600000L, graceMillis = 3600000L,
        capacity = capacity, k = 6, nSalts = nSalts)
      .writeStream.format("memory").queryName("hh_bound_t")
      .outputMode("append").start()
    try {
      val base = ts("2024-02-01 08:00:00").getTime
      // hot key + 40 singletons: decrements are certain in both shards
      val data = (0 until 60).map(i => (new Timestamp(base + i), "hot")) ++
        (0 until 40).map(i => (new Timestamp(base + 1000 + i), s"s$i"))
      ms.addData(data: _*)
      q.processAllAvailable()
      // the bound, computed from the data with the SAME salt function
      // the operator uses (Murmur3 hash pmod nSalts)
      val perSaltN = data.map(_._2).toDF("k")
        .select(pmod(hash(col("k")), lit(nSalts)).as("salt"))
        .groupBy("salt").count().collect()
        .map(r => r.getLong(1)).toSeq
      val bound = perSaltN.map(_ / capacity).sum
      val rows = spark.table("hh_bound_t").collect()
        .map(r => (if (r.isNullAt(1)) null else r.getString(1),
          r.getLong(2), r.getLong(3)))
      assert(rows.nonEmpty)
      // every emitted maxErr respects the summed per-shard bound
      rows.foreach { case (k, _, maxErr) =>
        assert(maxErr <= bound, s"key $k maxErr $maxErr > bound $bound")
      }
      // and the estimate brackets the true count for the hot key
      val hot = rows.find(_._1 == "hot").get
      assert(hot._2 <= 60 && hot._2 + hot._3 >= 60,
        s"hot estimate ${hot._2} + err ${hot._3} misses true 60")
    } finally q.stop()
  }

  test("UserPrefs JSON round-trip (serde fidelity)") {
    import spark.implicits._
    val prefs = Seq(UserPrefs("u1", Seq("Assam", "Delhi"), subscribed = true))
    val json = prefs.toDS().select(to_json(struct(col("*"))).as("j"))
      .as[String].collect().head
    val back = spark.read.json(spark.createDataset(Seq(json)))
      .select(col("userId"), col("myStates"), col("subscribed"))
      .as[UserPrefs].collect().head
    assert(back == prefs.head)
  }
}
