package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.state.KeyedStore

/** The incremental near-dup family's durable store and its ONE batch
  * step ([[dedupBatch]]), shared by [[IncrementalNearDedup]] (text) and
  * [[IncrementalEmbeddingNearDedup]] (vectors). A tracker supplies only
  * its payload rows, its (doc_id, band, key) rows and its similarity
  * predicate; everything below is the same for every payload type.
  *
  * Layout: TWO bucket-pruned [[KeyedStore]]s under one root,
  *
  *   - `<root>/bands` — keyed (band, key): the LSH bucket identity,
  *     whose row carries ONLY the bucket's member doc ids (capped at
  *     `maxBucket`, lowest ids kept). No payloads ride the postings.
  *   - `<root>/docs`  — keyed doc_id: each admitted document's verify
  *     payload, stored exactly ONCE.
  *
  * Splitting postings from payloads makes store bytes scale ~1× the
  * admitted data (a payload on every band row would be nBands copies);
  * the price is one extra bucket-pruned probe per batch (fetch the
  * collided members' payloads by id) — O(|collided ids|), never a
  * store scan. Per-batch cost is O(|batch| × bands + collided members)
  * against a store of any size.
  *
  * A bucket's member list is capped at `maxBucket` (kept = the lowest
  * doc_ids). A saturated bucket still verifies candidates against its
  * kept members; what it gives up is detecting dups of members it
  * evicted — the same recall-for-boundedness trade as `maxDf` in
  * [[graft.operators.Dedup.jaccardPairs]], and a pair missing in one
  * saturated bucket still collides in any other shared band. (An
  * evicted member's doc row lingers in `docs/` unreferenced —
  * storage-idempotent, never probed.)
  *
  * The shared contract:
  *
  *   - Replay idempotency (at-least-once foreachBatch): a stored member
  *     with the batch doc's own id is skipped as a self-match, so a
  *     replayed batch re-emits exactly its original novel rows; the
  *     member merge dedups by id and the doc upsert replaces by key, so
  *     the re-upsert converges to the identical store. Duplicate ids
  *     within a batch collapse to the minimum (ts, id) row first, so
  *     duplicated delivery upstream cannot double-admit.
  *   - In-batch first-wins: a doc similar to ANY earlier (ts, id) doc of
  *     its batch is dropped, even if that earlier doc was itself dropped
  *     (transitive chains over-drop, like every keep-min resolution).
  *   - Docs without payload rows (too short to shingle, null or
  *     wrong-width vectors) cannot near-dup: they pass through
  *     unexamined and never enter the store.
  *   - Write order is `docs/` before `bands/`; see [[isInitialized]].
  */
private[streaming] object NearDupStore {

  /** One side of a candidate pair: payload column name → that side's
    * column, for the tracker's similarity predicate. */
  type Side = String => Column

  def bandsPath(root: String): String = root + "/bands"
  def docsPath(root: String): String = root + "/docs"

  /** The store "exists" when its band table does. The band table is
    * the COMMIT POINT: [[admit]] writes `docs/` strictly before
    * `bands/`, so a crash between the two leaves either a fully
    * consistent store or an uninitialized one plus some unreferenced
    * payload rows (harmless, never probed) — never a band member whose
    * payload is missing. (The reverse order would wedge the stream
    * permanently: a replayed batch probes `docs/` for collided members
    * before it ever reaches [[admit]], so the missing table could not
    * self-heal.) */
  def isInitialized(spark: SparkSession, root: String): Boolean =
    KeyedStore.isInitialized(spark, bandsPath(root))

  /** (doc_id, band, key) rows: band `b`'s key is `keys(b)`, evaluated
    * over `rows`. */
  def bandRows(rows: DataFrame, keys: Seq[Column]): DataFrame = {
    val bands = keys.zipWithIndex.map { case (k, b) =>
      struct(lit(b).as("band"), k.as("key"))
    }
    rows.select(col("doc_id"), explode(array(bands: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** One batch step (the foreachBatch body, callable in batch jobs
    * too): returns the novel rows of `batch` and admits them to the
    * store at `root`. `prepare` maps the batch's first-wins rows to the
    * tracker's PINNED payload rows (doc_id, payload…) and its band rows
    * (doc_id, band, key); `similar` is the exact keep/drop predicate
    * over two payload sides. */
  def dedupBatch(batch: DataFrame, idCol: String, tsCol: String,
      root: String, maxBucket: Int)(
      prepare: DataFrame => (DataFrame, DataFrame))(
      similar: (Side, Side) => Column): DataFrame = {
    val spark = batch.sparkSession
    // at-least-once upstream can duplicate ids WITHIN a batch: exact
    // first-wins per id before any similarity work
    val docs = batch
      .groupBy(col(idCol))
      .agg(min_by(struct(batch.columns.map(col): _*),
        struct(col(tsCol), col(idCol))).as("r"))
      .select(col("r.*"))
      .localCheckpoint(eager = true)
    val (payload, unpinnedBands) = prepare(docs)
    // band rows feed the probe, both candidate joins and the admit: pin
    val bands = unpinnedBands.localCheckpoint(eager = true)

    // ONE bucket-pruned probe of the band store per batch, shared by
    // history detection and the admit member-merge
    val hasStore = isInitialized(spark, root)
    val bandHits =
      if (!hasStore)
        bands.select("band", "key").limit(0)
          .withColumn("members", array().cast("array<long>"))
      else KeyedStore.probe(bands.select("band", "key").distinct(),
          Seq("band", "key"), bandsPath(root))
        .localCheckpoint(eager = true)

    // near-dups of history: collide on a stored bucket (self-pairs are
    // the replayed-batch case), fetch ONLY the collided members'
    // payloads by id, then the exact predicate
    val histDups =
      if (!hasStore) bands.select(col("doc_id").as("x")).limit(0)
      else {
        val cand = bands.join(bandHits, Seq("band", "key"))
          .select(col("doc_id").as("x"), explode(col("members")).as("y"))
          .filter(col("y") =!= col("x"))
          .dropDuplicates("x", "y")
          .localCheckpoint(eager = true)
        val stored = KeyedStore.probe(cand.select(col("y").as("doc_id")).distinct(),
          Seq("doc_id"), docsPath(root))
        verifiedLosers(cand, payload, stored, similar)
      }

    // in-batch near-dups: X drops iff it shares a band with, and is
    // similar to, an earlier (ts, id) doc Y
    val ranked = bands.join(
      docs.select(col(idCol).as("doc_id"), struct(col(tsCol), col(idCol)).as("o")),
      Seq("doc_id"))
    val later = ranked.as("a")
      .join(ranked.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("b.o") < col("a.o"))
      .select(col("a.doc_id").as("x"), col("b.doc_id").as("y"))
      .dropDuplicates("x", "y")
    val losers = verifiedLosers(later, payload, payload, similar)

    val dropIds = histDups.unionAll(losers).distinct()
      .withColumnRenamed("x", idCol)
    val novel = docs.join(dropIds, Seq(idCol), "left_anti")
      .localCheckpoint(eager = true)

    val admittedIds = novel.select(col(idCol).as("doc_id"))
    admit(bands.join(admittedIds, Seq("doc_id"), "left_semi"),
      payload.join(admittedIds, Seq("doc_id"), "left_semi"),
      bandHits, root, maxBucket)
    novel
  }

  /** Distinct `x` of the candidate pairs (x, y) whose payloads — `x`'s
    * from `xs`, `y`'s from `ys` — satisfy `similar`. Payloads join only
    * on these verify-sized id sets. */
  private def verifiedLosers(pairs: DataFrame, xs: DataFrame, ys: DataFrame,
      similar: (Side, Side) => Column): DataFrame = {
    def side(payload: DataFrame, s: String): DataFrame =
      payload.select(payload.columns.map(c =>
        col(c).as(if (c == "doc_id") s else s"${s}_$c")): _*)
    pairs.join(side(xs, "x"), Seq("x")).join(side(ys, "y"), Seq("y"))
      .filter(similar(c => col(s"x_$c"), c => col(s"y_$c")))
      .select("x").distinct()
  }

  /** Admit a batch's novel docs: upsert their payload rows into the
    * doc store (one row per doc), then merge their band rows (ids
    * only) into the band store — union with the PRE-PROBED existing
    * members (`bandHits` — no second store read), dedup by id (replay),
    * keep the lowest `maxBucket` ids. Write order is docs-then-bands on
    * purpose: see [[isInitialized]]. */
  private def admit(bandRows: DataFrame, docRows: DataFrame,
      bandHits: DataFrame, root: String, maxBucket: Int): Unit = {
    val newRows = bandRows.select("band", "key", "doc_id")
    // only buckets an admitted doc actually touches get rewritten
    val existingRows = bandHits
      .join(newRows.select("band", "key").distinct(), Seq("band", "key"),
        "left_semi")
      .select(col("band"), col("key"), explode(col("members")).as("doc_id"))
    val merged = existingRows.unionByName(newRows)
      .dropDuplicates("band", "key", "doc_id")
      .groupBy("band", "key")
      .agg(slice(array_sort(collect_list(col("doc_id"))), 1, maxBucket)
        .as("members"))
    if (!docRows.isEmpty)
      KeyedStore.upsert(docRows, Seq("doc_id"), docsPath(root))
    if (!merged.isEmpty)
      KeyedStore.upsert(merged, Seq("band", "key"), bandsPath(root))
  }
}
