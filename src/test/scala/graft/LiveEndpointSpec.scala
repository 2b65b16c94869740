package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.serve.{LiveEndpoint, LiveServing}
import graft.state.MaterializedViews

/** The reference's interactive-query loop END TO END AS ONE SYSTEM —
  * the r10 verdict's top task: ingest (MemoryStream) → stateful
  * streaming aggregation (1-day tumbling sum, update mode) →
  * continuously-maintained view (global_temp upsert) → HTTP point
  * query over the RUNNING stream (StateStoresManager.java:121-186 +
  * UserRequestConsumer.java:87-142). The load-bearing assertion: the
  * HTTP body CHANGES between micro-batches to reflect the latest one.
  *
  * The body's semantics are pinned in batch by the ORACLED
  * q251_state_serving — both paths run the same
  * [[LiveServing.servingRows]]; the last test asserts that parity on
  * the driver's own parquet. */
class LiveEndpointSpec extends SparkSpec {

  private val view = "live_daily_spec"
  private lazy val client = HttpClient.newHttpClient()

  private def get(handle: LiveEndpoint.Handle, path: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${handle.port}$path"))
        .GET().build(),
      HttpResponse.BodyHandlers.ofString())

  test("HTTP body over a RUNNING stream reflects the latest micro-batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[(Timestamp, String, Double)]
    val q = MaterializedViews.serveDailyTotalsAsView(
      ms.toDF().toDF("ts", "event_type", "value"),
      "event_type", "ts", "value", view)
    val handle = LiveEndpoint.start(spark, view)
    try {
      // before the first micro-batch there is no view: retryable 503,
      // but a path no route matches is still a 404
      assert(get(handle, "/state/alpha").statusCode() == 503)
      assert(get(handle, "/summaryfoo").statusCode() == 404)
      assert(get(handle, "/state/a/b").statusCode() == 404)

      // batch 1: alpha day-1 total 15 (10+5), beta day-1 total 7.
      // First-day delta measures against the zero-initialized aggregate
      // (the reference adder): alpha delta 15, doubling round(70·15/1500)=1
      val d1 = Timestamp.valueOf("2024-03-01 10:00:00")
      ms.addData((d1, "alpha", 10.0), (d1, "alpha", 5.0), (d1, "beta", 7.0))
      q.processAllAvailable()
      val r1 = get(handle, "/state/alpha")
      assert(r1.statusCode() == 200)
      assert(r1.body() ==
        """{"event_type":"alpha","day":"2024-03-01","total":15.0,""" +
          """"delta":15.0,"doubling_rate":1}""",
        r1.body())

      // batch 2: alpha day-2 total 20 → the SAME route's body CHANGES:
      // latest day 2024-03-02, delta 20−15=5, doubling round(70·20/500)=3
      val d2 = Timestamp.valueOf("2024-03-02 09:00:00")
      ms.addData((d2, "alpha", 20.0))
      q.processAllAvailable()
      val r2 = get(handle, "/state/alpha")
      assert(r2.statusCode() == 200)
      assert(r2.body() ==
        """{"event_type":"alpha","day":"2024-03-02","total":20.0,""" +
          """"delta":5.0,"doubling_rate":3}""",
        r2.body())
      assert(r1.body() != r2.body(), "body did not change across batches")

      // beta saw no day-2 data: its serving row still answers (day 1)
      val rb = get(handle, "/summary")
      assert(rb.statusCode() == 200)
      assert(rb.body() ==
        """[{"event_type":"alpha","day":"2024-03-02","total":20.0,""" +
          """"delta":5.0,"doubling_rate":3},""" +
          """{"event_type":"beta","day":"2024-03-01","total":7.0,""" +
          """"delta":7.0,"doubling_rate":1}]""",
        rb.body())

      // point-query discipline: unknown key 404, malformed paths 404,
      // non-GET 405 (exact-path rules, ADVICE r10)
      assert(get(handle, "/state/ghost").statusCode() == 404)
      assert(get(handle, "/state/").statusCode() == 404)
      assert(get(handle, "/state/a/b").statusCode() == 404)
      assert(get(handle, "/summaryfoo").statusCode() == 404)
      assert(get(handle, "/nope").statusCode() == 404)
      val post = client.send(
        HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${handle.port}/state/alpha"))
          .POST(HttpRequest.BodyPublishers.noBody()).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(post.statusCode() == 405)
    } finally {
      handle.stop()
      q.stop()
      spark.catalog.dropGlobalTempView(view)
    }
  }

  test("live serving rows equal the ORACLED q251 batch query on the same data") {
    // both paths call LiveServing.servingRows; this pins that the live
    // endpoint's day-grain input (streamed daily sums) composes to the
    // same rows the driver hash-verifies in batch. Doubles here: the
    // live view sums doubles, q251 sums DECIMAL — on sf0.001's values
    // both land on identical nearest-doubles for these totals.
    val daily = graft.sources.Tables.load(spark, sf, "events")
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(sum(col("value").cast("decimal(18,2)")).cast("decimal(18,2)").as("total"))
    val served = LiveServing.servingRows(daily, "event_type")
      .select(col("event_type"), col("day"),
        col("total").cast("double").as("total"),
        col("delta").cast("double").as("delta"),
        col("doubling_rate"))
    val q251 = graft.queries.Registry.byName("q251_state_serving").fn(spark, sf)
    val a = served.orderBy("event_type").collect().map(_.toString).toSeq
    val b = q251.orderBy("event_type").collect().map(_.toString).toSeq
    assert(a == b, s"live/batch serving drift:\n$a\n$b")
    assert(a.nonEmpty)
  }
}
