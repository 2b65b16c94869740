package graft.serve

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.serve.Routes.{Reply, Route}
import graft.sources.Tables

/** Engine-side HTTP query endpoints — SURVEY §2.1's S7, the
  * reference's `VisualizationController` surface
  * (`covid19-visualizer/.../VisualizationController.java:20-55`:
  * GET /refresh, /today, /yesterday, /testing) re-expressed over the
  * engine's own chart queries on the JDK's built-in
  * `com.sun.net.httpserver` — no web framework, zero new
  * dependencies. Three upgrades over the reference's layer:
  *
  *  - the reference returns 200 with an EMPTY body and side-effects
  *    the chart toward an external REST renderer; these endpoints
  *    return the byte-exact ChartRequest JSON directly
  *    (`application/json`), so the HTTP surface is itself verifiable;
  *  - `/charts/<route>.png` additionally serves the in-engine
  *    [[graft.render.ChartPng]] rasterization (`image/png`) — S6 + S7
  *    closed end to end with zero egress;
  *  - `/refresh` recomputes every chart family back to back with no
  *    `Thread.sleep(1000)` pacing (the reference sleeps because its
  *    external renderer rate-limits; there is no external renderer
  *    here to pace).
  *
  * Each route's body IS a registered, ORACLED query's output — the
  * HTTP layer is a thin adapter over the exact fns the driver
  * verifies, so there is no second implementation to drift. Scale
  * posture: each GET triggers one Spark job with the oracled query's
  * plan; the server thread only collects the chart-sized final rows
  * (a few hundred bytes of JSON). A production deployment would put
  * the usual serving tier in front; the engine-side contract —
  * recompute on demand, bytes out — is what is implemented and spec'd
  * with real HTTP round-trips (HttpEndpointSpec). */
object HttpEndpoint {

  /** The testing-trend daily input (q55's synthesis rules, plus the
    * chart label) — shared so the HTTP body and the spec build the
    * identical frame. */
  private def testingDaily(spark: SparkSession, dir: String) =
    Tables.load(spark, dir, "events")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("t_raw"),
        count(when(col("value") >= 0.8, 1)).as("p_raw"))
      .select(col("day"), date_format(col("day"), "MMM dd").as("label"),
        when(dayofmonth(col("day")) % 7 === 0, lit(null)).otherwise(col("t_raw"))
          .as("tested"),
        when(dayofmonth(col("day")) % 5 === 0, lit(null)).otherwise(col("p_raw"))
          .as("positive"))

  /** Route → chart-request JSON. Kept package-visible so the spec can
    * assert each HTTP body equals the engine-side value byte for
    * byte. */
  private[serve] def chartRoutes(spark: SparkSession,
      dir: String): Map[String, () => String] = {
    def q(name: String) = graft.queries.Registry.byName(name).fn(spark, dir)
    Map(
      // the daily line chart (the reference's dailyAndTotalCharts half)
      "today" -> (() => q("q42_chart_json").collect().head.getString(0)),
      // the per-key stacked-bar fanout; first key in order — the
      // reference's statewiseTotal family
      "yesterday" -> (() =>
        q("q51_chart_fanout").orderBy("key").collect().head.getString(1)),
      // the conditional-moving-positivity testing trend
      "testing" -> (() => ChartPipeline
        .testingTrendChart(testingDaily(spark, dir), "testing")
        .collect().head.getString(1)),
      // the since-origin cumulative history trend
      "history" -> (() => q("q53_history_chart").collect().head.getString(1)),
      // the ship-SLA p50/p90 profile (r12: the inference wave's chart
      // face — q287's machinery through the oracled q289 assembly)
      "sla" -> (() => q("q289_sla_chart").collect().head.getString(0)),
      // the classifier-evaluation triptych (r13: q254 reliability bars
      // + q296 Brier/Murphy + q297 AUC in the title, via oracled q303)
      "calibration" -> (() =>
        q("q303_calibration_chart").collect().head.getString(0)),
      // the Holt-Winters forecast face (r14: q316's level/forecast
      // series + next-day forecast in the title, via oracled q317 —
      // the reference Visualizer's scheduled daily-vs-smoothed combo,
      // Visualizer.java:288-319)
      "forecast" -> (() =>
        q("q317_forecast_chart").collect().head.getString(0)))
  }

  /** Start the endpoint on `port` (0 = ephemeral); stop with
    * `Handle.stop()`. Request order: [[Routes]]. */
  def start(spark: SparkSession, dir: String, port: Int = 0): Handle = {
    val charts = chartRoutes(spark, dir)
    Routes.serve(port, charts.toSeq.flatMap { case (name, body) =>
      Seq(Route(s"/$name")(_ => Reply.json(body())),
        Route(s"/charts/$name.png")(_ =>
          Reply(200, "image/png", graft.render.ChartPng.render(body()))))
    } :+ Route("/refresh") { _ =>
      charts.values.foreach(_.apply())
      Reply.json(s"""{"recomputed":${charts.size}}""")
    })
  }
}
