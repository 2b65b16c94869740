package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.core.{StampedDelta, StampedDistrict}

/** A3/A4/A5/P4 — the reference's 1-day tumbling-window daily topology
  * (Covid19Stats.java:137-167,244-270): sum the deltas per window, carry
  * the latest currents, re-key by (state, window-start dd/MM/yyyy), and
  * derive the doubling rate.
  *
  * Declarative Spark form: `window($"eventTime","1 day")` + built-in
  * aggregates (map-side partial aggregation for free; the reference's
  * per-partition single-phase aggregate can't do that). `max_by` carries
  * the newest currents — the typed UDAF the reference hand-writes.
  * Works for batch and (update-mode) streaming alike.
  */
object DailyAgg {

  /** Daily windowed aggregate over statewise deltas. */
  def statewiseDaily(in: Dataset[StampedDelta]): DataFrame =
    in.toDF()
      .groupBy(window(col("eventTime"), "1 day").as("w"), col("delta.state").as("state"))
      .agg(
        sum(col("delta.deltaConfirmed")).as("deltaConfirmed"),
        sum(col("delta.deltaRecovered")).as("deltaRecovered"),
        sum(col("delta.deltaDeaths")).as("deltaDeaths"),
        max_by(col("delta.currentConfirmed"), col("eventTime")).as("currentConfirmed"),
        max_by(col("delta.currentRecovered"), col("eventTime")).as("currentRecovered"),
        max_by(col("delta.currentDeaths"), col("eventTime")).as("currentDeaths"),
        max_by(col("delta.lastUpdatedTime"), col("eventTime")).as("lastUpdatedTime"))
      // A5: windowed key → (state, dd/MM/yyyy date) composite
      .select(col("state"),
        date_format(col("w.start"), "dd/MM/yyyy").as("date"),
        col("deltaConfirmed"), col("deltaRecovered"), col("deltaDeaths"),
        col("currentConfirmed"), col("currentRecovered"), col("currentDeaths"),
        col("lastUpdatedTime"))

  /** Streaming form (ST2/ST4): the batch aggregate behind a watermark. The
    * reference retains windows 365 days and accepts late data up to
    * retention (Covid19Stats.java:123,147); the watermark delay is the
    * explicit knob here — late rows beyond it are dropped and their
    * window state evicted. Run in update mode to reproduce the
    * caching-disabled emit-per-update cadence at trigger granularity
    * (SURVEY.md §7.4.2). */
  def statewiseDailyStreaming(in: Dataset[StampedDelta], watermark: String): DataFrame =
    statewiseDaily(in.withWatermark("eventTime", watermark))

  /** A4 — districtwise daily: the same 1-day tumbling window over the
    * COMPOSITE (state, district) key (Covid19Stats.java:114-123,
    * calculateDistrictDaily at 244-256): delta fields sum, cumulative
    * fields carry the newest snapshot. The reference keeps numerics as
    * strings — deltas are parsed for the sum and re-emitted as longs;
    * cumulative fields stay strings like the reference's records. */
  def districtwiseDaily(in: Dataset[StampedDistrict]): DataFrame =
    in.toDF()
      .groupBy(window(col("eventTime"), "1 day").as("w"),
        col("data.state").as("state"), col("data.district").as("district"))
      .agg(
        // coalesce: a malformed delta string casts to null; the sum
        // must still come out 0 (the reference's records default "0"),
        // not null — null would surface as a JSON null in chart data.
        coalesce(sum(col("data.deltaConfirmed").cast("long")), lit(0L))
          .as("deltaConfirmed"),
        coalesce(sum(col("data.deltaRecovered").cast("long")), lit(0L))
          .as("deltaRecovered"),
        coalesce(sum(col("data.deltaDeceased").cast("long")), lit(0L))
          .as("deltaDeceased"),
        max_by(col("data.confirmed"), col("eventTime")).as("confirmed"),
        max_by(col("data.recovered"), col("eventTime")).as("recovered"),
        max_by(col("data.deceased"), col("eventTime")).as("deceased"))
      // the daily-district-count re-key: (date, state, district)
      .select(date_format(col("w.start"), "dd/MM/yyyy").as("date"),
        col("state"), col("district"),
        col("deltaConfirmed"), col("deltaRecovered"), col("deltaDeceased"),
        col("confirmed"), col("recovered"), col("deceased"))

  /** Streaming districtwise daily (ST2/ST4 composite-key form), update
    * mode: the batch aggregate behind a watermark — the streaming
    * analog of the batch q04/q08 composite-key aggregates. */
  def districtwiseDailyStreaming(in: Dataset[StampedDistrict],
      watermark: String): DataFrame =
    districtwiseDaily(in.withWatermark("eventTime", watermark))

  /** P4 — doubling-rate projection (Covid19Stats.java:196-203):
    * "0" when delta or current is 0, else
    * DecimalFormat("0").format(Math.round(70.0 / growthPercent)).
    * Math.round(x) = floor(x + 0.5) — replicated exactly. */
  def doublingRate(deltaConfirmed: Column, currentConfirmed: Column): Column =
    when(deltaConfirmed === 0L || currentConfirmed === 0L, lit("0"))
      .otherwise(
        floor(lit(70.0) / (lit(100.0) * deltaConfirmed / currentConfirmed) + lit(0.5))
          .cast("string"))

  /** The `doubling-rate` topic analog: (state, date) → rate string. */
  def doublingRates(daily: DataFrame): DataFrame =
    daily.select(col("state"), col("date"),
      doublingRate(col("deltaConfirmed"), col("currentConfirmed")).as("doublingRate"))
}
