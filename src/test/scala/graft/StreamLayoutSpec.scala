package graft

import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.state.{MaterializedViews, ViewCatalog}

/** The state layout `Streams.foreachBatch` picks once per stream:
  * serving-sized streams (the views, the view catalog's store) run on
  * one in-memory state partition, data-sized ones start on the caller's
  * session with its width and RocksDB, the caller's session conf is
  * never set, the caller's streaming listeners see the stream, and a
  * checkpoint keeps the layout it was written with. */
class StreamLayoutSpec extends SparkSpec {

  private val widthKey = "spark.sql.shuffle.partitions"
  private val providerKey = "spark.sql.streaming.stateStore.providerClass"
  private val d1 = Timestamp.valueOf("2024-03-01 10:00:00")

  /** The state operators of `q`'s latest progress that saw input. */
  private def stateOps(q: StreamingQuery) = {
    val deadline = System.currentTimeMillis() + 30000
    def latest = q.recentProgress.reverse
      .find(p => p.numInputRows > 0 && p.stateOperators.nonEmpty)
    while (latest.isEmpty && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    assert(latest.isDefined, s"no progress with input and state from ${q.id}")
    latest.get.stateOperators.toSeq
  }

  private def rocksdbMetrics(op: org.apache.spark.sql.streaming.StateOperatorProgress) =
    op.customMetrics.keySet.asScala.filter(_.startsWith("rocksdb"))

  private def dailyFrame(ms: MemoryStream[(Timestamp, String, Double)]): DataFrame =
    ms.toDF().toDF("ts", "state", "value")

  test("serving view and store run on one in-memory partition, a " +
      "data-sized stream keeps the session width and RocksDB, and the " +
      "caller's conf is untouched") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val before = (spark.conf.get(widthKey), spark.conf.get(providerKey))
    val viewIn = MemoryStream[(Timestamp, String, Double)]
    val storeIn = MemoryStream[(String, Timestamp, String)]
    val dataIn = MemoryStream[(String, Timestamp, String)]
    val root = java.nio.file.Files.createTempDirectory("layout-store")
      .toFile.getAbsolutePath
    val view = MaterializedViews.serveDailyTotalsAsView(dailyFrame(viewIn),
      "state", "ts", "value", "layout_daily_spec")
    val store = ViewCatalog.serve(
      ViewCatalog.ViewSpec("layout_store_spec", "layout-store", Seq("state")),
      storeIn.toDF().toDF("state", "eventTime", "v"), root)
    val dataRows = new java.util.concurrent.atomic.AtomicLong()
    val data = graft.streaming.Streams.foreachBatch(
      MaterializedViews.latestPerKey(
        dataIn.toDF().toDF("state", "eventTime", "v"), Seq("state"),
        "eventTime"),
      graft.streaming.Streams.DataSized, "update", None) { (b, _) =>
      dataRows.addAndGet(b.count()); ()
    }
    val all = Seq(view, store, data)
    try {
      viewIn.addData((d1, "alpha", 10.0), (d1, "beta", 7.0))
      storeIn.addData(("alpha", d1, "v1"), ("beta", d1, "v2"))
      dataIn.addData(("alpha", d1, "v1"), ("beta", d1, "v2"))
      all.foreach(_.processAllAvailable())

      for (q <- Seq(view, store)) {
        val ops = stateOps(q)
        assert(ops.forall(_.numShufflePartitions == 1),
          ops.map(_.numShufflePartitions))
        assert(ops.forall(op => rocksdbMetrics(op).isEmpty),
          ops.map(rocksdbMetrics))
        // a serving stream runs in a clone of the caller's session
        assert(q.sparkSession ne spark)
      }

      val width = before._1.toLong
      val dataOps = stateOps(data)
      assert(dataOps.forall(_.numShufflePartitions == width),
        dataOps.map(_.numShufflePartitions))
      assert(dataOps.forall(op => rocksdbMetrics(op).nonEmpty),
        dataOps.map(rocksdbMetrics))
      // a data-sized stream starts on the caller's session itself
      assert(data.sparkSession eq spark)

      assert(spark.table("global_temp.layout_daily_spec").count() == 2)
      assert(spark.table("global_temp.layout_store_spec").count() == 2)
      assert(dataRows.get == 2)
    } finally all.foreach(_.stop())
    assert((spark.conf.get(widthKey), spark.conf.get(providerKey)) == before)
  }

  test("a listener on the caller's session sees the serving stream start " +
      "and then make progress with input rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = new ConcurrentLinkedQueue[StreamingQueryListener.Event]()
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        events.add(e)
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        events.add(e)
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    val in = MemoryStream[(Timestamp, String, Double)]
    val q = MaterializedViews.serveDailyTotalsAsView(dailyFrame(in),
      "state", "ts", "value", "layout_listener_spec")
    try {
      in.addData((d1, "alpha", 1.0))
      q.processAllAvailable()
      def mine = events.asScala.toSeq.filter {
        case e: StreamingQueryListener.QueryStartedEvent => e.id == q.id
        case e: StreamingQueryListener.QueryProgressEvent => e.progress.id == q.id
        case _ => false
      }
      def progressed = mine.exists {
        case e: StreamingQueryListener.QueryProgressEvent =>
          e.progress.numInputRows > 0
        case _ => false
      }
      val deadline = System.currentTimeMillis() + 30000
      while (!progressed && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(mine.headOption.exists(
        _.isInstanceOf[StreamingQueryListener.QueryStartedEvent]), mine)
      assert(progressed, mine)
    } finally {
      q.stop()
      spark.streams.removeListener(listener)
    }
  }

  test("a checkpoint written at the session layout restarts through " +
      "serveDailyTotalsAsView with its width, provider and totals") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("layout-ckpt")
      .toFile.getAbsolutePath
    val in = MemoryStream[(Timestamp, String, Double)]
    // the same aggregation serveDailyTotalsAsView runs, started plainly
    // in the caller's session
    val daily = dailyFrame(in)
      .groupBy(window(col("ts"), "1 day").as("w"), col("state"))
      .agg(sum(col("value")).as("total"))
      .select(col("state"), to_date(col("w.start")).as("day"), col("total"))
    val plain = daily.writeStream.outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch((b: DataFrame, _: Long) => { b.collect(); () })
      .start()
    try {
      in.addData((d1, "alpha", 10.0), (d1, "beta", 7.0))
      plain.processAllAvailable()
    } finally plain.stop()

    val width = spark.conf.get(widthKey).toLong
    val resumed = MaterializedViews.serveDailyTotalsAsView(dailyFrame(in),
      "state", "ts", "value", "layout_resume_spec", Some(ckpt))
    try {
      in.addData((d1, "alpha", 5.0))
      resumed.processAllAvailable()
      val ops = stateOps(resumed)
      assert(ops.forall(_.numShufflePartitions == width),
        ops.map(_.numShufflePartitions))
      assert(ops.forall(op => rocksdbMetrics(op).nonEmpty),
        ops.map(rocksdbMetrics))
      val alpha = spark.table("global_temp.layout_resume_spec")
        .filter(col("state") === "alpha").select("total").as[Double].collect()
      assert(alpha.toSeq == Seq(15.0))
    } finally resumed.stop()
  }
}
