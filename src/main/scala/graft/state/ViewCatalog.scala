package graft.state

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** The reference bot's interactive-query state-store catalog as named,
  * declaratively-keyed views — the eleven KTables of
  * covid19-telegram-bot KafkaStreamsConfig.java:68-162, each a
  * latest-per-key view of its topic, materialized here through
  * [[MaterializedViews]] (engine-side incremental state, global-temp
  * serving views). `StateStoresManager` point-gets become
  * `spark.table("global_temp.<view>")` lookups/joins against these.
  *
  * Key columns mirror the reference's key serdes: plain String keys,
  * StateAndDistrict (state, district), StateAndDate (date, state).
  * `eventTime` orders upserts the way Kafka log order does for the
  * reference (latest write wins).
  */
object ViewCatalog {

  /** One KTable analog: serving-view name, source topic it mirrors,
    * and the key columns of the flattened record frame. */
  final case class ViewSpec(
      view: String,
      topic: String,
      keyCols: Seq[String],
      tsCol: String = "eventTime")

  /** news-sources: state -> freshest news source URL. */
  val newsSources = ViewSpec("news_sources", "news-sources", Seq("state"))

  /** statewise-daily-stats: state -> today's windowed daily delta. */
  val statewiseDailyStats =
    ViewSpec("statewise_daily_stats", "statewise-daily-stats", Seq("state"))

  /** statewise-delta-stats: state -> latest running delta. */
  val statewiseDeltaStats =
    ViewSpec("statewise_delta_stats", "statewise-delta-stats", Seq("state"))

  /** districtwise-daily: (state, district) -> today's district daily. */
  val districtwiseDaily = ViewSpec("districtwise_daily",
    "districtwise-daily", Seq("state", "district"))

  /** districtwise-delta: (state, district) -> latest district delta. */
  val districtwiseDelta = ViewSpec("districtwise_delta",
    "districtwise-delta", Seq("state", "district"))

  /** zones: (state, district) -> red/orange/green zone string. */
  val zones = ViewSpec("zones", "zones", Seq("state", "district"))

  /** user-preferences: userId -> subscription prefs. */
  val userPreferences =
    ViewSpec("user_preferences", "user-preferences", Seq("userId"))

  /** doubling-rate: (date, state) -> rendered doubling-rate string. */
  val doublingRate =
    ViewSpec("doubling_rate", "doubling-rate", Seq("date", "state"))

  /** daily-states-count: (date, state) -> that day's StatewiseDelta. */
  val dailyStatesCount = ViewSpec("daily_states_count",
    "daily-states-count", Seq("date", "state"))

  /** statewise-test-data: (date, state) -> testing metrics. */
  val statewiseTestData = ViewSpec("statewise_test_data",
    "statewise-test-data", Seq("date", "state"))

  /** visualizations: chart key -> rendered chart PNG bytes. */
  val visualizations =
    ViewSpec("visualizations", "visualizations", Seq("chart"))

  val all: Seq[ViewSpec] = Seq(newsSources, statewiseDailyStats,
    statewiseDeltaStats, districtwiseDaily, districtwiseDelta, zones,
    userPreferences, doublingRate, dailyStatesCount, statewiseTestData,
    visualizations)

  /** Maintain `global_temp.<spec.view>` continuously from a streaming
    * frame carrying the spec's key columns + `tsCol` — DURABLY: the
    * catalog default is the [[KeyedStore]] path (restart-recoverable
    * bucketed parquet, per-batch cost independent of unchanged-key
    * cardinality), with the global-temp name served as a lazy alias
    * over the table. The store lives at `catalogRoot/<view>` and, when
    * `checkpointed`, the engine state at `catalogRoot/_ckpt/<view>` —
    * one root recovers the whole catalog. (Which state belongs here
    * and which in a driver-held view is stated on
    * [[MaterializedViews]].) */
  def serve(spec: ViewSpec, stream: DataFrame, catalogRoot: String,
      checkpointed: Boolean = false): StreamingQuery =
    serveDurable(spec, stream, s"$catalogRoot/${spec.view}",
      if (checkpointed) Some(s"$catalogRoot/_ckpt/${spec.view}") else None)

  /** Batch (table-duality) snapshot of the same view. */
  def snapshot(spec: ViewSpec, df: DataFrame): DataFrame =
    MaterializedViews.latestPerKey(df, spec.keyCols, spec.tsCol)

  /** Durable form with an explicit store path: maintain the view as a
    * [[KeyedStore]] bucketed parquet table — restart-recoverable like
    * the reference's changelog-backed stores — AND serve it under the
    * `global_temp.<view>` name as a lazy alias over the table
    * (interactive queries keep working unchanged; nothing snapshots
    * per batch). */
  def serveDurable(spec: ViewSpec, stream: DataFrame, basePath: String,
      checkpointLocation: Option[String] = None): StreamingQuery =
    KeyedStore.serveToStore(stream, spec.keyCols, spec.tsCol, basePath,
      checkpointLocation, viewName = Some(spec.view))
}
