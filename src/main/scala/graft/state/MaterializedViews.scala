package graft.state

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** S1 / §1.1 — the "KTable" layer: latest-value-per-key views of a
  * record stream, the load-bearing piece that lets interactive queries
  * run over materialized state (SURVEY.md §7.4.3).
  *
  * Batch form: one `max_by(struct(*), ts)` aggregation — a single
  * shuffle on the key, no per-key point-get loops. Streaming form: the
  * same expression in update mode, materialized per micro-batch via
  * `foreachBatch` into a queryable view.
  */
object MaterializedViews {

  /** Latest row per key, ordered by `tsCol`; equal-`tsCol` ties break
    * DETERMINISTICALLY by the remaining columns' values (largest wins),
    * making the result independent of scan/partition order. The
    * reference's same-timestamp semantics are Kafka-log-order
    * latest-write-wins — when that order matters, pass the log offset
    * (or a monotone sequence) as `tsCol`. All non-key columns must be
    * orderable (no map columns). */
  def latestPerKey(df: DataFrame, keyCols: Seq[String], tsCol: String): DataFrame = {
    val others = df.columns.filterNot(keyCols.contains)
    val ties = others.filterNot(_ == tsCol)
    df.groupBy(keyCols.map(col): _*)
      .agg(max_by(struct(others.map(col): _*),
        struct((col(tsCol) +: ties.map(col)): _*)).as("r"))
      .select(keyCols.map(col) ++ others.map(c => col(s"r.$c")): _*)
  }

  /** J6 — as-of view: latest row per key at or before `cutoff`, looking
    * back at most `lookbackDays` (StateStoresManager.java:212-229 probes
    * day-by-day; this is one ranked scan). */
  def asOf(df: DataFrame, keyCols: Seq[String], tsCol: String,
      cutoff: java.sql.Timestamp, lookbackDays: Int): DataFrame = {
    val lo = new java.sql.Timestamp(
      cutoff.getTime - lookbackDays * 86400000L)
    latestPerKey(
      df.filter(col(tsCol) <= lit(cutoff) && col(tsCol) >= lit(lo)),
      keyCols, tsCol)
  }

  /** Register a (streaming) DataFrame as a continuously-maintained
    * queryable view: the latest-per-key aggregation runs INSIDE the
    * streaming engine (update mode, state-store-backed — per-batch cost
    * proportional to the batch, not to history), so each micro-batch
    * hands `foreachBatch` only the keys whose latest value CHANGED.
    * Those are upserted into a GLOBAL temp view via anti-join + union
    * (`global_temp.<viewName>`; foreachBatch runs in a cloned session,
    * so a plain temp view would be invisible to the serving session) —
    * the Structured-Streaming analog of the reference's interactive-
    * query state stores (bot StateStoresManager.java).
    *
    * TEST CONVENIENCE ONLY. The production path — and the
    * [[ViewCatalog]] default — is [[KeyedStore.serveToStore]]: same
    * changed-rows contract, consumed by a partition-pruned
    * changed-bucket upsert into durable parquet, restart-recoverable.
    * This leg rewrites the |keys|-row snapshot per batch and loses the
    * view on session exit; it stays because a zero-IO in-memory view
    * is convenient in specs, not because anything in the engine
    * should route here. */
  def serveAsView(streaming: DataFrame, keyCols: Seq[String], tsCol: String,
      viewName: String): StreamingQuery =
    upsertStream(latestPerKey(streaming, keyCols, tsCol), "update", keyCols,
      viewName)

  /** Start the stream that keeps `global_temp.<viewName>` current:
    * every micro-batch of `changed` rows (one per key) is upserted by
    * [[upsertIntoGlobalView]]. */
  private def upsertStream(changed: DataFrame, outputMode: String,
      keyCols: Seq[String], viewName: String,
      checkpointLocation: Option[String] = None): StreamingQuery = {
    val w = changed.writeStream.outputMode(outputMode)
    checkpointLocation.foreach(c => w.option("checkpointLocation", c))
    w.foreachBatch { (batch: DataFrame, _: Long) =>
      upsertIntoGlobalView(batch, keyCols, viewName)
    }.start()
  }

  /** The foreachBatch body shared by the view-maintaining streams:
    * upsert `changed` (one row per key) into `global_temp.<viewName>`
    * via anti-join + union. Same snapshot-rewrite caveat as
    * [[serveAsView]] — test convenience; production routes through
    * [[KeyedStore.serveToStore]]. */
  private[graft] def upsertIntoGlobalView(changed: DataFrame,
      keyCols: Seq[String], viewName: String): Unit = {
    val spark = changed.sparkSession
    val qualified = s"global_temp.$viewName"
    val next =
      if (spark.catalog.tableExists(qualified)) {
        val prev = spark.table(qualified)
        // null-safe key equality: a null-keyed group (e.g. from a
        // malformed frame decoded to null fields) must UPSERT like
        // any other key, not accumulate a duplicate per batch
        // (plain left_anti never matches NULL = NULL).
        val cond = keyCols.map(k => prev(k) <=> changed(k)).reduce(_ && _)
        prev.join(changed, cond, "left_anti").unionByName(changed)
      } else changed
    next.localCheckpoint(eager = true) // cut lineage across batches
      .createOrReplaceGlobalTempView(viewName)
    ()
  }

  /** Continuously-maintained DISTINCT-COUNT SKETCH view — the KMV
    * member of the serving family: [[graft.streaming.KmvTracker]]
    * folds each micro-batch's (key, hash) rows into ≤ k longs of
    * per-key state and re-emits one [[graft.streaming.KmvPoint]] per
    * TOUCHED key (append mode), which upserts here by key — so the
    * view always holds every key's latest sketch reading, and the
    * reading is BIT-identical to the batch `KmvMins` aggregate over
    * everything fed (the tracker's duality contract). Served live by
    * [[graft.serve.LiveEndpoint.startDistinct]]. Same test-convenience
    * caveat as [[serveAsView]]; production routes through
    * [[KeyedStore.serveToStore]]. */
  def serveKmvAsView(hashes: org.apache.spark.sql.Dataset[graft.streaming.KeyedHash],
      k: Int, viewName: String): StreamingQuery =
    upsertStream(graft.streaming.KmvTracker.track(hashes, k).toDF()
      .select("key", "nSk", "hK", "est"), "append", Seq("key"), viewName)

  /** Continuously-maintained DAILY TOTALS view — the reference bot's
    * per-day stats KTables (StateStoresManager.java:121-186 keeps
    * daily/delta/doubling stores the request consumer probes), the
    * aggregation analog of [[serveAsView]]'s latest-per-key: the 1-day
    * tumbling `sum(value)` per (key, day) runs INSIDE the streaming
    * engine (update mode, state-store-backed), so each micro-batch
    * hands foreachBatch only the (key, day) rows whose total changed,
    * and those upsert into `global_temp.<viewName>` with composite key
    * (keyCol, day). [[graft.serve.LiveEndpoint]] serves point queries
    * over the result while the stream runs.
    *
    * Unwatermarked by design here: the serving view must answer for ALL
    * days (the reference's history endpoint), so day-grain state is
    * kept indefinitely — at (keys × days) cardinality, which is
    * serving-sized, not event-sized. A deployment that can bound
    * re-statement lag would add `withWatermark` upstream to cap state.
    * Checkpointed restart works exactly as [[serveAsView]]: pass the
    * writeStream checkpoint via `checkpointLocation`. */
  def serveDailyTotalsAsView(streaming: DataFrame, keyCol: String,
      tsCol: String, valueCol: String, viewName: String,
      checkpointLocation: Option[String] = None): StreamingQuery = {
    val daily = streaming
      .groupBy(window(col(tsCol), "1 day").as("w"), col(keyCol))
      .agg(sum(col(valueCol)).as("total"))
      .select(col(keyCol), to_date(col("w.start")).as("day"), col("total"))
    upsertStream(daily, "update", Seq(keyCol, "day"), viewName,
      checkpointLocation)
  }

  /** Continuously-maintained COMPOSITE-KEY daily counts view — the
    * reference's district face (the bot's district stores key on
    * (state, district): StateStoresManager.java:125-127,
    * district/DistrictAlertConsumer.java:96-101): a 1-day tumbling
    * `count(*)` per (keyCols…, day) in update mode, upserting into
    * `global_temp.<viewName>` with composite key (keyCols…, day).
    * [[graft.serve.LiveEndpoint.startDistrict]] serves point queries
    * over it while the stream runs; the serving-row reduction over the
    * view is [[graft.serve.LiveServing.districtRows]], whose batch
    * parity target is the ORACLED q08 (same daily/total machinery).
    * State-size posture is [[serveDailyTotalsAsView]]'s: (keys × days)
    * is serving-sized, unwatermarked by design for full history. */
  def serveDailyCountsAsView(streaming: DataFrame, keyCols: Seq[String],
      tsCol: String, viewName: String,
      checkpointLocation: Option[String] = None): StreamingQuery = {
    val daily = streaming
      .groupBy(window(col(tsCol), "1 day").as("w") +: keyCols.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .select(keyCols.map(col) ++
        Seq(to_date(col("w.start")).as("day"), col("n")): _*)
    upsertStream(daily, "update", keyCols :+ "day", viewName,
      checkpointLocation)
  }
}
