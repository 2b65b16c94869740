package graft

import java.io.ByteArrayInputStream
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import javax.imageio.ImageIO

import graft.serve.HttpEndpoint

/** S7 through a REAL HTTP round-trip: the endpoint serves the
  * byte-exact chart JSON of the registered queries, rasterizes it to
  * PNG in-engine, recomputes on /refresh, and speaks correct status
  * codes — the reference controller's surface plus verifiable
  * bodies. */
class HttpEndpointSpec extends SparkSpec {

  private lazy val handle = HttpEndpoint.start(spark, sf, port = 0)
  private lazy val client = HttpClient.newHttpClient()

  private def get(path: String): HttpResponse[Array[Byte]] =
    client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${handle.port}$path"))
        .GET().build(),
      HttpResponse.BodyHandlers.ofByteArray())

  test("/today serves exactly the registered q42 chart JSON") {
    val r = get("/today")
    assert(r.statusCode() == 200)
    assert(r.headers().firstValue("Content-Type").orElse("") == "application/json")
    val expected = graft.queries.Registry.byName("q42_chart_json")
      .fn(spark, sf).collect().head.getString(0)
    assert(new String(r.body(), "UTF-8") == expected)
  }

  test("/sla serves exactly the registered q289 ship-SLA chart JSON") {
    val r = get("/sla")
    assert(r.statusCode() == 200)
    assert(r.headers().firstValue("Content-Type").orElse("") == "application/json")
    val expected = graft.queries.Registry.byName("q289_sla_chart")
      .fn(spark, sf).collect().head.getString(0)
    assert(new String(r.body(), "UTF-8") == expected)
    // the body is the grouped-bar profile with both series present
    assert(expected.contains("\"label\":\"P50 Ship Days\"") &&
      expected.contains("\"label\":\"P90 Ship Days\""))
  }

  test("/calibration serves the registered q303 triptych chart JSON") {
    val r = get("/calibration")
    assert(r.statusCode() == 200)
    assert(r.headers().firstValue("Content-Type").orElse("") == "application/json")
    val body = new String(r.body(), "UTF-8")
    val expected = graft.queries.Registry.byName("q303_calibration_chart")
      .fn(spark, sf).collect().head.getString(0)
    assert(body == expected)
    // parity with the three registered queries the face is pinned to:
    // q296's Brier and q297's AUC are stamped in the title, q254's
    // per-bin mean predictions are the first data series
    val brier = graft.queries.CurationQueries.brierDecomposition
      .fn(spark, sf).collect().head
    val auc = graft.queries.CurationQueries.rocAuc
      .fn(spark, sf).collect().head
    assert(body.contains(s"Brier ${brier.getAs[Long]("brier_u9")} u9"),
      s"title lost q296's Brier: ${body.takeRight(220)}")
    assert(body.contains(s"AUC ${auc.getAs[Long]("auc_ppm")} ppm"),
      s"title lost q297's AUC: ${body.takeRight(220)}")
    val means = graft.queries.CurationQueries.calibrationBins.fn(spark, sf)
      .orderBy("bin").collect().map(_.getAs[Long]("mean_pred_ppm"))
    val series = means.map(_.toString + ".0").mkString(",")
    assert(body.contains(s""""data":[$series]"""),
      "first series is not q254's per-bin mean predictions")
    assert(body.contains("\"label\":\"Mean Predicted ppm\"") &&
      body.contains("\"label\":\"Observed Rate ppm\""))
  }

  test("/forecast serves the registered q317 Holt-Winters chart JSON") {
    val r = get("/forecast")
    assert(r.statusCode() == 200)
    assert(r.headers().firstValue("Content-Type").orElse("") == "application/json")
    val body = new String(r.body(), "UTF-8")
    val expected = graft.queries.Registry.byName("q317_forecast_chart")
      .fn(spark, sf).collect().head.getString(0)
    assert(body == expected)
    // parity with the registered q316 recurrence the face is pinned
    // to: the level series IS q316's level_milli for the first type,
    // day-ordered, and the title's next-day forecast is l + b + s_next
    // computed from the same rows
    val hw = graft.queries.CurationQueries.holtWinters.fn(spark, sf)
      .collect()
    val ty = hw.map(_.getAs[String]("event_type")).min
    val rows = hw.filter(_.getAs[String]("event_type") == ty)
      .sortBy(_.getAs[java.sql.Date]("day").toString)
    val lev = rows.map(_.getAs[Long]("level_milli").toString + ".0")
      .mkString(",")
    assert(body.contains(s""""data":[$lev]"""),
      "level series is not q316's level_milli")
    val m = rows.length
    val sNext = if (m >= 7) rows(m - 7).getAs[Long]("seasonal_milli") else 0L
    val fNext = rows.last.getAs[Long]("level_milli") +
      rows.last.getAs[Long]("trend_milli") + sNext
    assert(body.contains(s"HW $ty | next $fNext milli"),
      s"title lost the next-day forecast: ${body.takeRight(120)}")
    // day 1 has no honest forecast: the forecast series leads with a
    // JSON null gap
    assert(body.contains(s""""label":"Forecast milli","data":[null,"""),
      "forecast series must lead with the day-1 null gap")
  }

  test("every chart route returns a parseable ChartRequest body") {
    Seq("/today", "/yesterday", "/testing", "/history", "/sla",
      "/calibration", "/forecast").foreach { p =>
      val r = get(p)
      assert(r.statusCode() == 200, s"$p -> ${r.statusCode()}")
      val body = new String(r.body(), "UTF-8")
      assert(body.startsWith("""{"backgroundColor":"transparent""""),
        s"$p body is not a ChartRequest: ${body.take(60)}")
    }
  }

  test("/charts/<route>.png rasterizes the JSON at its declared size") {
    val r = get("/charts/today.png")
    assert(r.statusCode() == 200)
    assert(r.headers().firstValue("Content-Type").orElse("") == "image/png")
    val img = ImageIO.read(new ByteArrayInputStream(r.body()))
    assert(img != null, "endpoint served an undecodable PNG")
    // q42's request declares 750x450
    assert(img.getWidth == 750 && img.getHeight == 450)
  }

  test("/refresh recomputes every chart family and reports the count") {
    val r = get("/refresh")
    assert(r.statusCode() == 200)
    assert(new String(r.body(), "UTF-8") == """{"recomputed":7}""")
  }

  test("unknown paths 404, non-GET 405") {
    assert(get("/nope").statusCode() == 404)
    assert(get("/todayfoo").statusCode() == 404)
    assert(get("/today/anything").statusCode() == 404)
    assert(get("/charts/today.pngx").statusCode() == 404)
    def post(path: String) = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${handle.port}$path"))
        .POST(HttpRequest.BodyPublishers.noBody()).build(),
      HttpResponse.BodyHandlers.ofByteArray())
    assert(post("/today").statusCode() == 405)
    // an unknown path is a 404 whatever the method
    assert(post("/nope").statusCode() == 404)
    // a failing query answers 500 text/plain
    val broken = HttpEndpoint.start(spark, "/nonexistent/sf_dir")
    try {
      val r = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${broken.port}/today"))
          .GET().build(),
        HttpResponse.BodyHandlers.ofByteArray())
      assert(r.statusCode() == 500)
      assert(r.headers().firstValue("Content-Type").orElse("") == "text/plain")
    } finally broken.stop()
  }

  test("handle stops cleanly (runs last — relies on suite order)") {
    handle.stop()
    intercept[Exception] { get("/today") }
  }
}
