package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph centrality over an edge table — the weighted
  * companion of [[Dedup.resolve]]'s min-label propagation: resolve
  * answers "which component", this answers "how central inside the
  * whole graph" (seed-document selection, crawl prioritization,
  * source authority weighting for a mixture).
  *
  * Reference analogue: none — the reference has no graph operators;
  * this is part of the LLM-pipeline extension surface.
  */
object Centrality {

  /** PageRank in EXACT integer arithmetic: ranks are integers in
    * `scaleUnit` millionths, each propagation step credits
    * `floor(dampBp · pr / (10000 · outdeg))` to every out-neighbor
    * and every node restarts with the exact teleport share
    * `scaleUnit · (10000 − dampBp) / 10000`. Floating-point PageRank
    * is shuffle-order-dependent (FP addition does not associate), so
    * two runs of the same corpus can rank differently; the integer
    * form is bit-reproducible on any layout AND portable — any SQL
    * engine computes the identical fixed point, which is what lets
    * q123 hash-oracle a 3-iteration run against DuckDB. Quantization
    * loses < outdeg·10⁻⁶ of a unit per node per step — noise at
    * ranking granularity.
    *
    * Scale shape: `edges` (src, dst) materializes once with outdegree
    * attached (one groupBy + self-join, both keyed on src, then
    * pinned — every iteration reuses it without re-execution). Each
    * iteration is one join of the weighted edge list against the
    * current rank table on src (both sides hash-partitioned on the
    * same key) and one map-side-combining sum on dst — integer sums
    * combine partially, so a hub with 10⁸ in-edges ships one partial
    * per task, not 10⁸ rows. Ranks `localCheckpoint` per iteration
    * (lineage cut, same discipline as [[Dedup.resolveWithStats]]).
    * Hot-dst skew (a mega-hub) is partial-aggregation-bounded; the
    * join side's hot SRC (a node with huge fanout) replicates its one
    * rank row — exactly the AQE skew-join shape. Iteration count is
    * caller-fixed: centrality ranking stabilizes in a handful of
    * rounds, and a fixed count keeps the result deterministic and
    * oracle-able (no FP convergence test). */
  def integerPageRank(edges: DataFrame, iters: Int = 3,
      scaleUnit: Long = 1000000L, dampBp: Int = 8500): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(dampBp > 0 && dampBp < 10000, s"dampBp out of range: $dampBp")
    require(scaleUnit * (10000 - dampBp) % 10000 == 0,
      s"teleport share scaleUnit*(10000-dampBp)/10000 must be exact; " +
        s"got scaleUnit=$scaleUnit dampBp=$dampBp")
    val teleport = scaleUnit * (10000 - dampBp) / 10000
    // NOT pinned (r15, measured): four pre-iteration consumers scan
    // this projection (sizing count, outdegree rollup, weighted-edge
    // join, node set), but every registered caller already pins the
    // pair table one level up, so each scan is a cheap checkpoint read
    // — an explicit localCheckpoint here re-materialized ~1.5M rows as
    // deserialized blocks and measured a 0.3-0.4 s LOSS on q124.
    val e = edges.select(col("src"), col("dst"))
    // SIZE-DERIVED loop width (guide §2; the r14 Dedup.resolve pattern,
    // ported per the r14 verdict): the weighted edge cache pinned at
    // the session's shuffle.partitions made every iteration scan 32
    // near-empty cache partitions — q124 measured 3.2 s at 32 cores vs
    // 1.9 s at 8 on the r14 driver box (ratio 0.59). One cheap count
    // (callers pin the upstream pair table) sizes the cache at
    // ceil(edge_bytes / 64 MB) partitions capped at the session width.
    // Per-frame repartition, never a session-conf flip, so concurrent
    // queries on the shared session are unaffected.
    val sessWidth = e.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt
    val nEdges = e.count()
    val loopParts = math.max(1L, math.min(sessWidth.toLong,
      nEdges * 48L / (64L << 20) + 1L)).toInt
    // weighted edge list, built once: (src, dst, outdeg) — pinned
    // repartition(src) + sorted + CACHED, not localCheckpoint'ed: an
    // InMemoryRelation preserves outputPartitioning/outputOrdering
    // into every iteration's join, so only the rank side exchanges; a
    // LogicalRDD reports UnknownPartitioning and the r14 BFS Stress
    // curve measured the consequence — the FULL pinned table
    // re-exchanges every round once past the broadcast threshold
    // (Paths.boundedDistances, same fix; ARCHITECTURE §4). Released
    // before return: pr is eagerly checkpointed per iteration.
    val ew = e.join(e.groupBy("src").agg(count(lit(1)).as("outdeg")), Seq("src"))
      .repartition(loopParts, col("src")).sortWithinPartitions("src")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pr = try {
      // ONE explode pass instead of a two-leg union (r15, guide §2.3):
      // the union form scanned the caller's edge frame once per leg;
      // identical distinct-endpoint set either way
      val nodes = e.select(explode(array(col("src"), col("dst"))).as("id"))
        .distinct()
        .localCheckpoint(true)
      var pr = nodes.withColumn("pr", lit(scaleUnit))
      for (_ <- 1 to iters) {
        val inflow = ew
          .join(pr.withColumnRenamed("id", "src"), Seq("src"))
          .select(col("dst").as("id"),
            expr(s"($dampBp * pr) div (10000 * outdeg)").as("c"))
          .groupBy("id")
          .agg(sum(col("c")).as("inflow"))
        pr = nodes.join(inflow, Seq("id"), "left")
          .select(col("id"),
            (lit(teleport) + coalesce(col("inflow"), lit(0L))).as("pr"))
          .localCheckpoint(true)
      }
      pr
    } finally ew.unpersist(false)
    // re-spread the rank table for consumers (q124's kind/key
    // projection, q266's top-k) — same discipline as
    // Dedup.resolveWithStats' returned label table; the exchange is
    // (id, pr)-grain and only planned when a consumer executes.
    pr.repartition(sessWidth, col("id"))
  }

  /** Per-node TRIANGLE counts of an undirected graph, by degree-ordered
    * orientation (Suri & Vassilvitskii WWW'11; Schank's thesis): each
    * edge points from its (degree, id)-lower endpoint to the higher —
    * a TOTAL order, so exactly one direction exists per edge — wedges
    * form only among each vertex's OUT-neighbors, and a wedge closes
    * iff its canonical (v, w) pair appears in the oriented list. Under
    * this orientation out-degree is O(√|E|) regardless of the raw
    * degree distribution, so a hub with a million neighbors never fans
    * out degree² wedge rows — the difference between "works on a mesh"
    * and "works on a power-law co-purchase graph at 100 TB". The
    * enumeration is two equi-joins (wedge build on src, close probe as
    * a left-semi on the pair); the naive a<b<c three-way self-join —
    * which a SQL oracle can express — produces the identical triangle
    * set, which is what lets q199 hash-oracle this plan.
    *
    * `edges`: distinct undirected edges as (item_a, item_b) with
    * item_a < item_b, no self-loops (the [[CoOccurrence.pairs]]
    * contract). Returns (item, n_triangles) for nodes in ≥1 triangle. */
  def triangleCounts(edges: DataFrame): DataFrame =
    triangleCountsWithDegrees(edges)
      .filter(col("n_triangles") > 0)
      .select("item", "n_triangles")

  /** [[triangleCounts]] for EVERY node, with its degree attached:
    * (item, deg, n_triangles) where zero-triangle nodes carry 0 — the
    * frame clustering-coefficient reports read directly (q206), the
    * edge set pinned and the degree rollup computed ONCE for both the
    * orientation and the report. */
  def triangleCountsWithDegrees(edges: DataFrame): DataFrame = {
    val e = edges.select("item_a", "item_b").localCheckpoint(true)
    val deg = e.select(col("item_a").as("v"))
      .unionByName(e.select(col("item_b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
      .localCheckpoint(true) // reused by the orientation joins + output
    val aLower = col("da") < col("db") ||
      (col("da") === col("db") && col("item_a") < col("item_b"))
    val or = e
      .join(deg.select(col("v").as("item_a"), col("d").as("da")), "item_a")
      .join(deg.select(col("v").as("item_b"), col("d").as("db")), "item_b")
      .select(
        when(aLower, col("item_a")).otherwise(col("item_b")).as("src"),
        when(aLower, col("item_b")).otherwise(col("item_a")).as("dst"),
        when(aLower, col("db")).otherwise(col("da")).as("ddeg"))
      .localCheckpoint(true) // feeds the wedge join twice + the close probe
    // wedges at u: unordered out-neighbor pairs {v, w}, canonicalized
    // v before w in the SAME total order the orientation used — the
    // closing edge, if present, can then only be v -> w
    val wedges = or.as("e1").join(or.as("e2"),
        col("e1.src") === col("e2.src") &&
          (col("e1.ddeg") < col("e2.ddeg") ||
            (col("e1.ddeg") === col("e2.ddeg") &&
              col("e1.dst") < col("e2.dst"))))
      .select(col("e1.src").as("u"), col("e1.dst").as("v"),
        col("e2.dst").as("w"))
    val tri = wedges.join(or.select(col("src").as("v"), col("dst").as("w")),
      Seq("v", "w"), "left_semi")
    val counts = tri
      .select(explode(array(col("u"), col("v"), col("w"))).as("item"))
      .groupBy("item").agg(count(lit(1)).as("tri"))
    deg.select(col("v").as("item"), col("d").as("deg"))
      .join(counts, Seq("item"), "left")
      .select(col("item"), col("deg"),
        coalesce(col("tri"), lit(0L)).as("n_triangles"))
  }
}
