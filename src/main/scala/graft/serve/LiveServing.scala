package graft.serve

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.serve.Routes.{Reply, Route}
import graft.state.MaterializedViews

/** The serving-row computation shared by the ORACLED batch query
  * (q251) and the LIVE endpoint — one implementation, so the HTTP body
  * served over a running stream cannot drift from what the driver
  * verifies in batch. This is the reference bot's per-state response
  * shape: current total, delta vs the previous day, doubling rate
  * (UserRequestConsumer.java:87-142 assembles exactly these three from
  * the state stores; the formula is Covid19Stats.java:164-167 via
  * q05). */
object LiveServing {

  /** From a day-grain frame `(keyCol, day, total)` — any numeric
    * `total` — to ONE serving row per key: the LATEST day's
    * `(keyCol, day, total, delta, doubling_rate)`, where `delta` is
    * the change vs the previous day's total (zero-initialized, the
    * reference's adder semantics) and `doubling_rate` is
    * round(70·total / (100·delta)) with zero guards.
    *
    * Plan shape: the lag window and the latest-per-key aggregate both
    * key on `keyCol`, so the window's hash partitioning is reused by
    * the aggregate — one shuffle at key grain (day-grain input is
    * serving-sized: keys × days). */
  def servingRows(daily: DataFrame, keyCol: String): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy("day")
    val dd = daily
      .withColumn("delta",
        col("total") - coalesce(lag(col("total"), 1).over(w),
          lit(0).cast(daily.schema("total").dataType)))
      .withColumn("doubling_rate",
        when(col("delta") === 0 || col("total") === 0, lit(0L))
          .otherwise(round(lit(70.0) * col("total").cast("double")
            / (lit(100.0) * col("delta").cast("double"))).cast(LongType)))
    MaterializedViews.latestPerKey(dd, Seq(keyCol), "day")
  }

  /** The COMPOSITE-KEY (district) serving reduction: from a day-grain
    * counts frame `(keyCols…, day, n)` to ONE row per composite key —
    * the LATEST day's `(keyCols…, day, n)` plus the LIFETIME `total_n`
    * (the reference's district response pairs today's count with the
    * running total: DistrictAlertConsumer.java:96-101). Batch parity
    * target: the ORACLED q08's rows reduced to their latest day per
    * key — same daily/total machinery, one implementation serving
    * both, so the live body cannot drift from what the driver
    * verifies.
    *
    * Plan shape: ONE hash aggregate at composite-key grain (`max_by`
    * picks the latest day's struct while `sum` folds the lifetime
    * total in the same pass) — one shuffle over the serving-sized
    * view, no window, no second scan. */
  def districtRows(daily: DataFrame, keyCols: Seq[String]): DataFrame =
    daily
      .groupBy(keyCols.map(col): _*)
      .agg(max_by(struct(col("day"), col("n")), col("day")).as("latest"),
        sum(col("n")).as("total_n"))
      .select(keyCols.map(col) ++ Seq(col("latest.day").as("day"),
        col("latest.n").as("n"), col("total_n")): _*)
}

/** S7 over LIVE streaming state — the last composed reference loop:
  * ingest → stateful aggregation → continuously-maintained view → HTTP
  * point query, the bot's interactive-query face
  * (StateStoresManager.java:121-186 serving continuously-updated
  * KTables, UserRequestConsumer.java:87-142 answering per-state
  * requests). [[HttpEndpoint]] serves oracled chart queries recomputed
  * from parquet per GET; THIS endpoint serves
  * [[MaterializedViews.serveDailyTotalsAsView]]'s global temp view
  * while the stream that maintains it is RUNNING, so a GET after a
  * micro-batch reflects that batch. Every server here answers 503
  * until the stream has materialized its first micro-batch (request
  * order: [[Routes]]).
  *
  * Routes of [[start]]:
  *  - `GET /state/<key>` — the one serving row for `<key>`
  *    ([[LiveServing.servingRows]] over the live view, filtered to the
  *    key): 404 for an unknown key;
  *  - `GET /summary` — every key's serving row, sorted by total
  *    descending (the reference's W1 ranking sort).
  *
  * Scale posture: the view is day-grain (keys × days — serving-sized
  * by construction) and held on the driver; a GET runs 2.1 Spark jobs
  * on average over it (traced live-loop) and collects only final
  * serving rows. The per-request window+aggregate is over that view,
  * never over the event stream. */
object LiveEndpoint {

  type Handle = graft.serve.Handle

  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  private def rowJson(keyCol: String, r: Row): String =
    s"""{"$keyCol":"${esc(r.getString(0))}","day":"${r.getDate(1)}",""" +
      s""""total":${r.getDouble(2)},"delta":${r.getDouble(3)},""" +
      s""""doubling_rate":${r.getLong(4)}}"""

  /** Serving rows of the live view, doubles out (the view's streaming
    * sum is double-typed; the cast pins the JSON rendering). */
  private def liveRows(spark: SparkSession, viewName: String,
      keyCol: String): DataFrame =
    LiveServing.servingRows(spark.table(s"global_temp.$viewName"), keyCol)
      .select(col(keyCol), col("day"),
        col("total").cast("double").as("total"),
        col("delta").cast("double").as("delta"),
        col("doubling_rate"))

  /** The live servers' readiness: the maintaining stream has created
    * `global_temp.<viewName>`. */
  private def viewReady(spark: SparkSession, viewName: String): () => Boolean =
    () => spark.catalog.tableExists(s"global_temp.$viewName")

  /** The first row as a JSON body; 404 when there is none. */
  private def first(rows: Array[Row])(json: Row => String): Reply =
    rows.headOption.fold(Reply.notFound)(r => Reply.json(json(r)))

  /** Start serving `global_temp.<viewName>` (maintained by a running
    * [[MaterializedViews.serveDailyTotalsAsView]] stream) on `port`
    * (0 = ephemeral). */
  def start(spark: SparkSession, viewName: String,
      keyCol: String = "event_type", port: Int = 0): Handle = {
    def rows = liveRows(spark, viewName, keyCol)
    Routes.serve(port, Seq(
      Route("/state/*") { req =>
        first(rows.filter(col(keyCol) === req.args.head).collect())(
          rowJson(keyCol, _))
      },
      Route("/summary") { _ =>
        Reply.jsonArray(rows.orderBy(col("total").desc, col(keyCol))
          .collect().map(rowJson(keyCol, _)))
      }), viewReady(spark, viewName))
  }

  private def districtJson(r: Row): String =
    s"""{"user_id":${r.getLong(0)},"event_type":"${esc(r.getString(1))}",""" +
      s""""day":"${r.getDate(2)}","n":${r.getLong(3)},""" +
      s""""total_n":${r.getLong(4)}}"""

  /** Live COMPOSITE-KEY (district) point queries over a view
    * maintained by [[MaterializedViews.serveDailyCountsAsView]] on
    * (user_id, event_type) — the reference bot's district face
    * (StateStoresManager.java:125-127 keyed district stores,
    * DistrictAlertConsumer.java:96-101 probing (state, district)),
    * closing the one reference query face the batch-oracled q08
    * covered but nothing served live:
    *  - `GET /district/<user_id>/<event_type>` — that key's serving
    *    row ([[LiveServing.districtRows]]: latest day's count +
    *    lifetime total), 404 unknown key or malformed id;
    *  - `GET /district/<user_id>` — all of the key-1 group's rows,
    *    event_type-ascending (the bot's per-state district listing).
    * Same scale posture as [[start]]: the view is (keys × days) —
    * serving-sized — and each GET runs ONE aggregate over it,
    * collecting only final serving rows. */
  def startDistrict(spark: SparkSession, viewName: String,
      port: Int = 0): Handle = {
    // the request's user id's serving rows; None for a malformed id
    def userRows(req: Routes.Request): Option[DataFrame] =
      req.args.head.toLongOption.map(uid =>
        LiveServing.districtRows(spark.table(s"global_temp.$viewName"),
          Seq("user_id", "event_type"))
          .select(col("user_id").cast("long"), col("event_type"),
            col("day"), col("n").cast("long"), col("total_n").cast("long"))
          .filter(col("user_id") === uid))
    Routes.serve(port, Seq(
      Route("/district/*/*") { req =>
        userRows(req).fold(Reply.notFound)(df => first(
          df.filter(col("event_type") === req.args(1)).collect())(districtJson))
      },
      Route("/district/*") { req =>
        userRows(req).map(_.orderBy("event_type").collect())
          .filter(_.nonEmpty)
          .fold(Reply.notFound)(got => Reply.jsonArray(got.map(districtJson)))
      }), viewReady(spark, viewName))
  }

  private def sketchJson(r: Row): String =
    s"""{"key":"${esc(r.getString(0))}","n_sk":${r.getInt(1)},""" +
      s""""est":${r.getLong(2)}}"""

  /** Live distinct-count dashboard over a view maintained by
    * [[graft.state.MaterializedViews.serveKmvAsView]]:
    *  - `GET /distinct/<key>` — the key's latest KMV reading
    *    (saturation size + cardinality estimate), 404 unknown key;
    *  - `GET /distinct` — every key by estimate descending.
    * The view holds one ≤(k+3)-field row per key, so a GET collects
    * kilobytes regardless of how many billions of rows the stream has
    * folded — the sketch IS the serving artifact. */
  def startDistinct(spark: SparkSession, viewName: String,
      port: Int = 0): Handle = {
    def rows: DataFrame = spark.table(s"global_temp.$viewName")
      .select(col("key"), col("nSk"), col("est"))
    Routes.serve(port, Seq(
      Route("/distinct") { _ =>
        Reply.jsonArray(rows.orderBy(col("est").desc, col("key")).collect()
          .map(sketchJson))
      },
      Route("/distinct/*") { req =>
        first(rows.filter(col("key") === req.args.head).collect())(sketchJson)
      }), viewReady(spark, viewName))
  }
}
