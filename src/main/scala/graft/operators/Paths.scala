package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bounded-hop breadth-first distances over an edge table — the graph
  * DISTANCE companion of [[Centrality]] (how central) and
  * [[Dedup.resolve]] (which component): how FAR is every node from a
  * seed set. On a corpus graph this answers crawl-frontier questions
  * (how many hops from the seed domains), on a co-purchase graph
  * recommendation-reach ones (what fraction of the catalog sits
  * within k hops of the hub items), and on a dedup cluster graph
  * containment-chain depth.
  *
  * Reference analogue: none — the reference has no graph operators;
  * part of the LLM-pipeline extension surface
  * (`/root/reference` is a Kafka Streams app, see SURVEY.md §2).
  */
object Paths {

  /** Multi-source unweighted BFS, bounded at `maxHops`: returns
    * (id, dist) for every node whose shortest-path distance from the
    * nearest seed is ≤ maxHops, dist exact (0 for the seeds).
    * Unreachable-within-bound nodes are absent, not NULL — callers
    * that need the complement left-anti-join the node set.
    *
    * Frontier discipline: layer h expands ONLY the nodes first
    * discovered at layer h−1 (a BFS invariant: in an unweighted graph
    * the frontier at hop h−1 is exactly the distance-(h−1) set, so
    * frontier-only expansion finds every distance-h node and nothing
    * it finds twice survives the anti-join). That keeps each
    * iteration's join proportional to the NEW layer, not the
    * accumulated reach — on a 100 TB graph whose BFS saturates in a
    * few hops, the alternative (re-expanding the full reached set,
    * which is how the unrolled SQL oracle states it) re-joins the
    * whole reach every round. Both forms compute the identical
    * distance map, which is what lets q214/q215 hash-oracle this
    * loop against DuckDB's unrolled form.
    *
    * Scale shape: the edge list pins once as the [[Pins.loopFrame]]
    * (keyed on src), so every per-hop join exchanges ONLY the
    * layer-sized frontier; every layer is eagerly checkpointed, so the
    * returned distance table holds no lazy reference to the released
    * cache. Each iteration is that frontier⋈edges equi-join, one
    * map-side-combining DISTINCT on dst, and one left-anti against the
    * accumulated distance table keyed on id.
    * A mega-hub in the frontier replicates its one row across the
    * edge partitions — the AQE skew-join shape, never a crossJoin.
    * The distance table `localCheckpoint`s per layer (lineage cut;
    * also what makes the anti-join read a materialized table instead
    * of recomputing h−1 layers). The honest residual: the anti-join's
    * right side is the accumulated reach, re-exchanged (or
    * re-broadcast) each hop — required for DIRECTED edge tables,
    * where a fresh candidate may have been discovered at ANY earlier
    * layer. Callers with symmetric (undirected) edges could anti-join
    * against layers h−1 and h−2 only (a neighbor of a distance-(h−1)
    * node has distance ≥ h−2), shrinking that term to two layers —
    * not done here because q214/q215 pass direction-explicit edge
    * tables and the reach term measured ~MB-scale against the
    * edge-side term's hundreds.
    *
    * The loop stops early once a layer comes back empty: BFS
    * frontiers shrink to nothing exactly once, so every later layer
    * is empty too and the result is identical to running all
    * `maxHops` rounds — a saturated or shallow graph skips the dead
    * layers' join + distinct + anti-join + two pins. The emptiness
    * probe is an `isEmpty` on the layer ALREADY materialized by its
    * eager checkpoint — one cached-partition read, not a recompute —
    * so the loop stays effectively action-free beyond the pins it was
    * paying anyway, and the output stays deterministic. */
  def boundedDistances(edges: DataFrame, seeds: DataFrame,
      maxHops: Int): DataFrame = {
    require(maxHops >= 1 && maxHops <= 64,
      s"maxHops must be in [1, 64], got $maxHops")
    val e0 = edges.select(col("src"), col("dst"))
    // one cheap count sizes the loop frame (callers pin the upstream
    // pair table)
    Pins.loopFrame(e0, "src", e0.count()) { (e, sessWidth) =>
      var dist = seeds.select(col("id")).distinct()
        .withColumn("dist", lit(0L))
        .localCheckpoint(true)
      var frontier = dist.select("id")
      var h = 1
      var exhausted = false
      while (h <= maxHops && !exhausted) {
        val fresh = e
          .join(frontier.withColumnRenamed("id", "src"), Seq("src"))
          .select(col("dst").as("id"))
          .distinct()
          .join(dist.select("id"), Seq("id"), "left_anti")
          .withColumn("dist", lit(h.toLong))
          .localCheckpoint(true)
        if (fresh.isEmpty) exhausted = true
        else {
          dist = dist.unionByName(fresh).localCheckpoint(true)
          frontier = fresh.select("id")
        }
        h += 1
      }
      dist.repartition(sessWidth, col("id"))
    }
  }
}
