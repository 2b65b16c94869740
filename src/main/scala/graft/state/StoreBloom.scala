package graft.state

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.operators.BloomGate

/** Superset Bloom sketch over a [[KeyedStore]]'s key set — the one
  * gate and sketch lifecycle behind the bloom-gated exact-dedup stores
  * (document fingerprints, chunk digests), both reached through
  * [[graft.streaming.IncrementalDedup.admit]].
  *
  * INVARIANT: the persisted sketch always over-approximates the
  * store's key set, so a bloom-negative key is provably absent and
  * may skip the store probe; a false positive merely probes. The
  * invariant is held by ordering, not transactions:
  *
  *  - on an already-gated store, the merged sketch is written BEFORE
  *    the upsert ([[StoreBloom.recordBefore]]) — a crash between the
  *    two leaves extra sketch keys, never missing ones;
  *  - the INITIALIZING upsert rewrites the whole store directory, so
  *    the first sketch can only be written after it
  *    ([[StoreBloom.recordAfter]]) — a crash there leaves NO sketch,
  *    and a missing sketch disables gating, which is always correct;
  *  - a sketch is never SEEDED against a store that predates gating
  *    (it would miss the older keys); [[StoreBloom.rebuild]] backfills
  *    such stores from a full scan.
  *
  * Callers place `recordBefore` immediately before and `recordAfter`
  * immediately after their upsert — each internally no-ops in the
  * regime where the other applies, so the ordering contract lives
  * here, once. */
final class StoreBloom private[state] (spark: SparkSession, storePath: String,
    expectedItems: Long, val existing: Option[Array[Byte]],
    storeWasInit: Boolean) {

  /** The keys that MIGHT be in the store — probe only these. Without a
    * sketch, all of them. */
  def prune(keys: DataFrame, keyCol: String): DataFrame =
    existing.fold(keys)(b =>
      keys.filter(BloomGate.mightContain(b, col(keyCol))))

  /** Merge this batch's admitted keys into the sketch — call
    * immediately BEFORE the store upsert. No-op on an uninitialized
    * store (the initializing upsert would wipe the file) and on a
    * pre-gating store without a sketch (seeding would break the
    * superset invariant). */
  def recordBefore(admitted: DataFrame, keyCol: String): Unit =
    if (storeWasInit && existing.isDefined) write(admitted, keyCol)

  /** First-sketch write — call immediately AFTER the upsert; no-op
    * unless this batch initialized the store. */
  def recordAfter(admitted: DataFrame, keyCol: String): Unit =
    if (!storeWasInit) write(admitted, keyCol)

  private def write(admitted: DataFrame, keyCol: String): Unit = {
    val sketch = BloomGate.build(admitted, keyCol, expectedItems)
    BloomGate.writeFile(spark, StoreBloom.path(storePath),
      existing.map(BloomGate.merge(_, sketch)).getOrElse(sketch))
  }
}

object StoreBloom {

  def path(storePath: String): String = s"$storePath/_bloom/filter.bin"

  /** Gating handle for one batch; None when gating is not requested.
    * MUST be created before the batch's upsert (it captures whether
    * the store pre-existed). */
  def of(spark: SparkSession, storePath: String,
      expectedItems: Option[Long]): Option[StoreBloom] =
    expectedItems.map { items =>
      new StoreBloom(spark, storePath, items,
        BloomGate.readFile(spark, path(storePath)),
        KeyedStore.isInitialized(spark, storePath))
    }

  /** Backfill the sketch from a full store scan — the one-time path
    * that turns gating on for a store created before gating existed
    * (or whose sketch file was lost). Safe at any time: the store is
    * the source of truth and the result is a superset by
    * construction. */
  def rebuild(spark: SparkSession, storePath: String, keyCol: String,
      expectedItems: Long): Unit =
    BloomGate.writeFile(spark, path(storePath),
      BloomGate.build(KeyedStore.read(spark, storePath), keyCol,
        expectedItems))
}
