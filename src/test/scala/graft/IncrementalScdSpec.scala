package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.Scd
import graft.streaming.{IncrementalScd, Streams}

/** Incremental SCD2 maintenance: batch-split equivalence against the
  * batch rebuild, replay idempotency through the prev_* snapshot, and
  * the streaming wrapper end-to-end over a restart.
  */
class IncrementalScdSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  // (user, state, ts, id) — three keys with no-op runs, a tie, and a
  // single-run key; per-key ts order
  private val events = Seq(
    (1L, "a", 10L, 100L), (1L, "a", 20L, 101L), (1L, "b", 30L, 102L),
    (1L, "a", 40L, 103L), (1L, "a", 50L, 104L), (1L, "c", 60L, 105L),
    (2L, "x", 5L, 200L), (2L, "x", 6L, 201L), (2L, "y", 90L, 202L),
    (3L, "p", 7L, 301L), (3L, "q", 7L, 300L))

  private def df(rows: Seq[(Long, String, Long, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("user_id", "state", "ts_us", "event_id")
  }

  private type Run = (Long, String, Long, Long, Option[Long])

  private def runKey(r: org.apache.spark.sql.Row): Run =
    (r.getAs[Long]("user_id"), r.getAs[String]("state"),
      r.getAs[Long]("version"), r.getAs[Long]("valid_from"),
      Option(r.getAs[Any]("valid_to")).map(_.asInstanceOf[Long]))

  private def batchRebuild(rows: Seq[(Long, String, Long, Long)]): Set[Run] =
    Scd.buildHistory(df(rows), "user_id", "state", "ts_us", "event_id")
      .collect().map(runKey).toSet

  test("any per-key-ordered batch split reproduces the batch rebuild exactly") {
    // three different split shapes incl. splits INSIDE a run and a
    // batch containing a whole run
    val splits = Seq(Seq(4, 7, 11), Seq(2, 3, 6, 9, 11), Seq(11))
    splits.foreach { cuts =>
      val store = tmp("incscd")
      var closed = Set.empty[Run]
      var from = 0
      cuts.zipWithIndex.foreach { case (to, bid) =>
        val out = IncrementalScd.scdBatch(df(events.slice(from, to)),
          "user_id", "state", "ts_us", "event_id", store, bid.toLong)
        closed ++= out.collect().map(runKey).toSet
        from = to
      }
      val open = IncrementalScd.openRuns(spark, store, "user_id", "state")
        .collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("state"),
          r.getAs[Long]("version"), r.getAs[Long]("valid_from"),
          None: Option[Long])).toSet
      assert(closed ++ open === batchRebuild(events), s"split $cuts diverged")
      assert(closed.forall(_._5.nonEmpty), "emitted an unclosed interval")
    }
  }

  test("replaying a batch re-emits identical closed intervals and converges the store") {
    val store = tmp("incscd-replay")
    val b0 = events.slice(0, 4)
    val b1 = events.slice(4, 11)
    IncrementalScd.scdBatch(df(b0), "user_id", "state", "ts_us", "event_id",
      store, 0L).collect()
    val first = IncrementalScd.scdBatch(df(b1), "user_id", "state", "ts_us",
      "event_id", store, 1L).collect().map(runKey).toSet
    val storeAfter = graft.state.KeyedStore.read(spark, store)
      .collect().map(_.toString).sorted
    // crash between upsert and downstream commit: the batch replays
    // against the ALREADY-advanced store
    val replay = IncrementalScd.scdBatch(df(b1), "user_id", "state", "ts_us",
      "event_id", store, 1L).collect().map(runKey).toSet
    assert(replay === first, "replay must re-emit the original intervals")
    val storeReplayed = graft.state.KeyedStore.read(spark, store)
      .collect().map(_.toString).sorted
    assert(storeReplayed === storeAfter, "replay must leave the store unchanged")
    assert(first.nonEmpty)
  }

  test("cross-batch late event (before the open run) is dropped deterministically") {
    val store = tmp("incscd-late")
    IncrementalScd.scdBatch(df(Seq((9L, "a", 100L, 1L))),
      "user_id", "state", "ts_us", "event_id", store, 0L)
    val out = IncrementalScd.scdBatch(df(Seq((9L, "z", 50L, 2L))),
      "user_id", "state", "ts_us", "event_id", store, 1L).collect()
    assert(out.isEmpty, "a late state change must not rewrite history")
    val open = IncrementalScd.openRuns(spark, store, "user_id", "state")
      .filter(col("user_id") === 9L).collect()
    assert(open.length === 1 && open.head.getAs[String]("state") === "a")
  }

  test("buildHistory equals brute-force collapse on random streams (property)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val evGen = Gen.listOfN(30, for {
      k <- Gen.chooseNum(1L, 4L)
      st <- Gen.oneOf("a", "b", "c")
      ts <- Gen.chooseNum(0L, 20L) // small domain forces ts ties
    } yield (k, st, ts)).map(_.zipWithIndex
      .map { case ((k, st, ts), i) => (k, st, ts, i.toLong) })
    val prop = Prop.forAll(evGen) { evs =>
      val expect = evs.groupBy(_._1).flatMap { case (k, rows) =>
        val sorted = rows.sortBy(r => (r._3, r._4))
        val runs = sorted.foldLeft(Vector.empty[(String, Long)]) {
          case (acc, (_, st, ts, _)) =>
            if (acc.nonEmpty && acc.last._1 == st) acc
            else acc :+ (st, ts)
        }
        runs.zipWithIndex.map { case ((st, from), i) =>
          (k, st, i + 1L, from,
            if (i + 1 < runs.length) Some(runs(i + 1)._2) else None)
        }
      }.toSet
      val got = Scd.buildHistory(df(evs), "user_id", "state", "ts_us",
        "event_id").collect().map(runKey).toSet
      got == expect
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("random batch splits reproduce the batch rebuild (property)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // per-key-ordered stream (the fixture), random cut points.
    // Cut 10 is excluded: it falls between key 3's two same-timestamp
    // events whose LIST order (p id=301, q id=300) inverts their
    // (ts, tie) order — splitting there violates the operator's
    // documented per-key (ts, tie) batch-order precondition (the
    // committed-boundary semantics of that case are pinned by the
    // Long.MinValue test below)
    val cutsGen = Gen.listOf(Gen.chooseNum(1, 9)).map(cs =>
      (cs.distinct.sorted :+ 11).distinct)
    val prop = Prop.forAll(cutsGen) { cuts =>
      val store = tmp("incscd-prop")
      var closed = Set.empty[Run]
      var from = 0
      cuts.zipWithIndex.foreach { case (to, bid) =>
        closed ++= IncrementalScd.scdBatch(df(events.slice(from, to)),
          "user_id", "state", "ts_us", "event_id", store, bid.toLong)
          .collect().map(runKey).toSet
        from = to
      }
      val open = IncrementalScd.openRuns(spark, store, "user_id", "state")
        .collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("state"),
          r.getAs[Long]("version"), r.getAs[Long]("valid_from"),
          None: Option[Long])).toSet
      (closed ++ open) == batchRebuild(events)
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(6), prop)
    assert(res.passed, res.status.toString)
  }

  test("equal-ts event with tie == Long.MinValue orders after the open run, deterministically") {
    // the code-review scenario: a sentinel-valued real tie at the open
    // run's start timestamp must NOT race the pseudo-event; the struct
    // (is_real, tie) key commits the open run first, so the outcome is
    // a deterministic zero-length close of 'a' and a new open 'z' run
    val store = tmp("incscd-sentinel")
    IncrementalScd.scdBatch(df(Seq((5L, "a", 100L, 10L))),
      "user_id", "state", "ts_us", "event_id", store, 0L)
    val closed = IncrementalScd.scdBatch(
      df(Seq((5L, "z", 100L, Long.MinValue))),
      "user_id", "state", "ts_us", "event_id", store, 1L)
      .collect().map(runKey).toSet
    assert(closed === Set((5L, "a", 1L, 100L, Some(100L))))
    val open = IncrementalScd.openRuns(spark, store, "user_id", "state")
      .filter(col("user_id") === 5L).collect()
    assert(open.length === 1 && open.head.getAs[String]("state") === "z" &&
      open.head.getAs[Long]("version") === 2L)
  }

  test("streaming wrapper: closed intervals accrue across batches and a restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val store = tmp("incscd-stream")
    val ckpt = tmp("incscd-stream-ckpt")
    val byBatch = scala.collection.mutable.Map[Long, Set[Run]]()
    val ms = MemoryStream[(Long, String, Long, Long)]
    def start() = Streams.foreachBatch(
      ms.toDS().toDF("user_id", "state", "ts_us", "event_id"),
      Streams.DataSized, "append", Some(ckpt)) { (batch, bid) =>
      val closed = IncrementalScd.scdBatch(batch, "user_id", "state", "ts_us",
        "event_id", store, bid)
      byBatch(bid) = closed.collect().map(runKey).toSet
    }
    val q1 = start()
    try {
      ms.addData(events.slice(0, 4): _*)
      q1.processAllAvailable()
    } finally q1.stop()
    val q2 = start()
    try {
      ms.addData(events.slice(4, 11): _*)
      q2.processAllAvailable()
    } finally q2.stop()
    val closed = byBatch.values.flatten.toSet
    val open = IncrementalScd.openRuns(spark, store, "user_id", "state")
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("state"),
        r.getAs[Long]("version"), r.getAs[Long]("valid_from"),
        None: Option[Long])).toSet
    assert(closed ++ open === batchRebuild(events))
  }
}
