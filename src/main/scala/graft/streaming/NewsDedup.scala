package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.core.{PatientInfo, StampedPatient}

/** The patient-analyzer topology (Covid19PatientAnalyzer.java:55-89):
  * clean → windowed dedup with TTL refresh → recency filter → re-key by
  * state → best news source.
  *
  * ST3 nuance (DeduplicationTransformer.java:62-86): a duplicate is
  * DROPPED and also REFRESHES the remembered timestamp, so a steady
  * trickle of duplicates keeps suppressing forever; the store window is
  * ±TTL/2 around the event time. `dropDuplicates` can't express the
  * refresh, hence the typed stateful function.
  */
object NewsDedup {

  /** P1 — drop records with no current status. */
  def clean(p: PatientInfo): Boolean =
    p.currentstatus != null && p.currentstatus.nonEmpty

  /** P5 — best news source: first non-empty of source3→source2→source1
    * (Covid19PatientAnalyzer.java:112-123); null when none. */
  def bestNewsSource(p: PatientInfo): String =
    if (p.source3 != null && p.source3.nonEmpty) p.source3
    else if (p.source2 != null && p.source2.nonEmpty) p.source2
    else if (p.source1 != null && p.source1.nonEmpty) p.source1
    else null

  /** P2 — dateannounced (dd/MM/yyyy) within (today−7d, today]. `today`
    * is a parameter — the reference reads the wall clock
    * (SURVEY.md §7.4.6). */
  def isWithinPastWeek(date: String, today: java.time.LocalDate): Boolean = {
    if (date == null || date.isEmpty) false
    else {
      val d = java.time.LocalDate.parse(
        date, java.time.format.DateTimeFormatter.ofPattern("dd/MM/yyyy"))
      d.compareTo(today) <= 0 && d.compareTo(today.minusWeeks(1L)) > 0
    }
  }

  /** ST3 — dedup on an extracted id with TTL refresh. Records whose id
    * is null bypass the dedup (reference behavior).
    *
    * State retention mirrors the reference's bounded window store
    * (Covid19PatientAnalyzer.java:66-71 retains 7 days): each key's
    * state carries an event-time timeout at lastSeen + ttl, and when the
    * watermark passes it the key is evicted (`gs.remove()`), so state
    * size tracks the live-key set instead of growing forever. The
    * watermark also bounds how late a refresh can arrive
    * (`watermarkDelay`); in batch mode timeouts never fire and the
    * state is discarded with the job.
    */
  def dedupWithTtl(
      in: Dataset[StampedPatient],
      ttlMs: Long,
      watermarkDelay: String = "1 day"): Dataset[StampedPatient] = {
    val spark = in.sparkSession
    import spark.implicits._
    val streaming = in.isStreaming
    val marked = in.withWatermark("eventTime", watermarkDelay)
    val keyed = marked.filter((r: StampedPatient) => bestNewsSource(r.patient) != null)
    val passthrough = marked.filter((r: StampedPatient) => bestNewsSource(r.patient) == null)
    val deduped = keyed
      .groupByKey(r => bestNewsSource(r.patient))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: String, rows: Iterator[StampedPatient], gs: GroupState[Long]) =>
          if (gs.hasTimedOut) {
            // watermark passed lastSeen + ttl with no refresh: evict
            gs.remove()
            Iterator.empty
          } else {
            var lastSeen = gs.getOption.getOrElse(Long.MinValue)
            val out = rows.toSeq.sortBy(_.eventTime.getTime).flatMap { r =>
              val ts = r.eventTime.getTime
              val dup = lastSeen != Long.MinValue && math.abs(ts - lastSeen) <= ttlMs / 2
              // seen-or-duplicate both refresh the remembered timestamp
              lastSeen = ts
              if (dup) None else Some(r)
            }
            gs.update(lastSeen)
            if (streaming) {
              // a very late row may put lastSeen+ttl behind the watermark;
              // clamp so the eviction lands on the next batch instead of
              // throwing
              gs.setTimeoutTimestamp(
                math.max(lastSeen + ttlMs, gs.getCurrentWatermarkMs() + 1))
            }
            out.iterator
          }
      }
    deduped.union(passthrough)
  }

  /** Full pipeline → (state, newsSource) rows, the `news-sources` topic. */
  def newsSources(
      in: Dataset[StampedPatient],
      ttlMs: Long,
      today: java.time.LocalDate): Dataset[(String, String)] = {
    val spark = in.sparkSession
    import spark.implicits._
    dedupWithTtl(in.filter((r: StampedPatient) => clean(r.patient)), ttlMs)
      .filter((r: StampedPatient) => isWithinPastWeek(r.patient.dateannounced, today))
      .map(r => (r.patient.detectedstate, bestNewsSource(r.patient)))
      .filter((kv: (String, String)) => kv._2 != null)
  }
}
