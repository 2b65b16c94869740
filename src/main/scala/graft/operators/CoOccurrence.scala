package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Item–item co-occurrence mining — the "frequently bought/viewed
  * together" operator (item-based collaborative filtering, Sarwar et
  * al. WWW'01; also the co-citation / co-click shape): pairs of items
  * sharing at least `minShared` distinct basket keys, scored by
  * support and lift. On a corpus this same operator mines document
  * co-occurrence within user sessions or citation baskets.
  *
  * Reference analogue: none — part of the analytics extension
  * surface; the nearest reference shape is its per-key top-N serving
  * views, which consume exactly this kind of precomputed pair table.
  */
object CoOccurrence {

  /** Co-occurring item pairs from a (basketCol, itemCol) interaction
    * table. Returns (item_a, item_b, n_shared, n_a, n_b, lift_ppm)
    * with item_a < item_b; `lift_ppm` is the exact integer-rational
    * rendering floor(10⁶·N·shared / (n_a·n_b)) of lift = P(a,b) /
    * (P(a)P(b)) — engine-portable, no FP division in the
    * aggregation path.
    *
    * Scale shape: the input reduces to DISTINCT (basket, item) —
    * one digest-thin aggregation with map-side combine — then
    * self-joins on the basket key, so only baskets shared by two
    * items ever pair. A hot basket with d items contributes d²
    * pairs, the same quadratic hazard as [[Dedup.jaccardPairs]]'s
    * shared shingles; `maxBasket` drops baskets above the cap via a
    * broadcast left-anti join BEFORE the self-join (hot-basket list
    * is rows/maxBasket entries — broadcastable by construction), and
    * per-item totals count the SURVIVING interactions so lift stays
    * exact over the capped table. Item totals are |items|-sized and
    * join the aggregated PAIRS (orders of magnitude fewer than
    * interactions) — AQE broadcasts them when runtime size allows. */
  /** The distinct, hot-capped (bk, item) interaction table [[pairs]]
    * builds on — public so the cap's join shape (broadcast left-anti)
    * stays plan-assertable upstream of the pin. */
  def cappedInteractions(interactions: DataFrame, basketCol: String,
      itemCol: String, maxBasket: Int): DataFrame = {
    val base = interactions
      .select(col(basketCol).as("bk"), col(itemCol).as("item"))
      .distinct()
    if (maxBasket <= 0) base
    else {
      val hot = base.groupBy("bk").agg(count(lit(1)).as("__d"))
        .filter(col("__d") > maxBasket)
        .select("bk")
      base.join(broadcast(hot), Seq("bk"), "left_anti")
    }
  }

  /** The pair self-join over a pinned survivor table — the core both
    * [[pairs]] and [[pairCounts]] wrap.
    *
    * Join strategy (r15 optimization, guide §3.1): a `shuffle_hash`
    * hint on the build side. What it replaces depends on scale — at
    * test scale the planner picked BROADCAST of the ~1M-row survivor
    * table (plans/r15/q126_..._before.txt node (6)): a driver collect
    * plus a full hash-relation rebuild PER PLAN COPY, and consumers
    * that union the pair table duplicate the subtree, so the same
    * relation was broadcast-built twice per action; past the broadcast
    * ceiling it degrades to sort-merge with two corpus-wide sorts. SHJ
    * partitions the build side instead and the duplicated subtrees
    * share one exchange. Measured at sf0.1/32c across the rider
    * family: q214 2.63→2.06, q199 2.51→1.91, q206 2.27→1.88,
    * q126 2.25→1.86, q215 2.76→2.54 s. 100 TB posture: the build side
    * is one hash partition of the distinct (basket, item) survivor
    * table — 16-byte rows whose per-key fanout is basket-sized
    * (callers with pathological baskets cap via maxBasket, the same
    * guard the quadratic pair fanout already requires), and partition
    * count scales with the cluster's shuffle parallelism. */
  private def pairCountsOf(surv: DataFrame, minShared: Int): DataFrame =
    surv.as("a")
      .join(surv.as("b").hint("shuffle_hash"),
        col("a.bk") === col("b.bk") && col("a.item") < col("b.item"))
      .groupBy(col("a.item").as("item_a"), col("b.item").as("item_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)

  /** Co-occurring pairs WITHOUT the lift scoring: (item_a, item_b,
    * n_shared) only. The graph consumers (triangle counting,
    * clustering coefficients) want just the edge set — [[pairs]]' lift
    * columns cost an eager basket-count action plus two item-totals
    * joins they would immediately discard. */
  def pairCounts(interactions: DataFrame, basketCol: String,
      itemCol: String, minShared: Int = 2, maxBasket: Int = 0): DataFrame =
    pairCountsOf(
      cappedInteractions(interactions, basketCol, itemCol, maxBasket)
        .localCheckpoint(true),
      minShared)

  def pairs(interactions: DataFrame, basketCol: String, itemCol: String,
      minShared: Int = 2, maxBasket: Int = 0): DataFrame = {
    // the capped interaction table feeds the self-join (both sides)
    // and the item totals: pin once, like jaccardPairs' survivors
    val surv = cappedInteractions(interactions, basketCol, itemCol, maxBasket)
      .localCheckpoint(true)
    val nBaskets = surv.select(col("bk")).distinct().count()
    val totals = surv.groupBy("item").agg(count(lit(1)).as("n"))
    val p = pairCountsOf(surv, minShared)
    p.join(totals.select(col("item").as("item_a"), col("n").as("n_a")), "item_a")
      .join(totals.select(col("item").as("item_b"), col("n").as("n_b")), "item_b")
      .withColumn("lift_ppm",
        expr(s"(1000000 * ${nBaskets}L * n_shared) div (n_a * n_b)"))
      .select("item_a", "item_b", "n_shared", "n_a", "n_b", "lift_ppm")
  }

  /** Directed ASSOCIATION RULES from the undirected pair table
    * (Agrawal/Srikant VLDB'94's support-confidence frame over the
    * already-capped pairs): each pair emits both directions with
    * confidence(a→b) = P(b|a) = n_shared/n_antecedent in exact ppm
    * (integral floor division — engine-portable like lift_ppm), gated
    * at `minConfPpm`. Pair-table-sized: a projection + union + one
    * integer division over [[pairs]]' output, no new pass over the
    * interactions. */
  def rules(pairsDf: DataFrame, minConfPpm: Long = 0L): DataFrame = {
    // deliberately NOT pinned: both union branches reference the pair
    // table, but within ONE plan AQE reuses the identical shuffle
    // stages at runtime, so the upstream pair build executes once
    // anyway — an r14 optimization A/B measured an eager pin here as a
    // 1.3× LOSS (materialization cost + lost runtime stats). Pins pay
    // only across separate ACTIONS (iterative loops, eager counts).
    val pairsP = pairsDf
    val fwd = pairsP.select(col("item_a").as("antecedent"),
      col("item_b").as("consequent"), col("n_shared"),
      col("n_a").as("n_ant"), col("lift_ppm"))
    val bwd = pairsP.select(col("item_b").as("antecedent"),
      col("item_a").as("consequent"), col("n_shared"),
      col("n_b").as("n_ant"), col("lift_ppm"))
    fwd.unionByName(bwd)
      .withColumn("conf_ppm", expr("(1000000 * n_shared) div n_ant"))
      .filter(col("conf_ppm") >= minConfPpm)
  }

  /** Top-k co-occurring neighbors per item by (n_shared desc, partner
    * asc) — the serving-table form an item-to-item recommender reads.
    * Symmetrizes [[pairs]] output and ranks on the bounded heap
    * aggregate: k rows per item per task cross the shuffle. */
  def topNeighbors(pairsDf: DataFrame, k: Int): DataFrame = {
    // not pinned — same single-plan AQE stage-reuse reasoning as
    // [[rules]] (measured)
    val pairsP = pairsDf
    val sym = pairsP
      .select(col("item_a").as("item"), col("item_b").as("partner"),
        col("n_shared"))
      .unionByName(pairsP.select(col("item_b").as("item"),
        col("item_a").as("partner"), col("n_shared")))
    Sampling.quotaPerGroup(sym, Seq("item"),
      col("n_shared").cast("double"), col("partner"), k)
      .select(col("item"), col("id").as("partner"),
        col("score").cast("long").as("n_shared"), col("rn"))
  }
}
