package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{VectorFunctions => V}
import graft.functions.expressions.GraftExpressions.dotQFast

/** Embedding similarity-search operators (north-star surface). All
  * cosine math runs on integer-quantized vectors (VectorFunctions) via
  * the codegen DotProductL — bit-deterministic and whole-stage-compiled.
  *
  * Scale shape: the query side is broadcast; the corpus side streams
  * through one pass (brute force) or an LSH-bucketed fraction (ANN).
  * At 100 TB the corpus stays partitioned; nothing here shuffles it.
  */
object Similarity {

  /** Add quantized vector + exact squared norm columns. */
  def quantize(df: DataFrame, vecCol: String, idCol: String): DataFrame =
    df.select(col(idCol).as("vec_id"), V.quantize(col(vecCol)).as("qv"))
      .withColumn("nsq", dotQFast(col("qv"), col("qv")))

  /** Exact all-pairs near-dup pairs (cosine ≥ threshold) — ORACLE/TEST
    * DUTY ONLY. The non-equi self-join is a BroadcastNestedLoopJoin
    * doing O(n²) comparisons: correct as ground truth at test scale,
    * a cartesian scale-killer as a product operator (100× the data does
    * 10,000× the work). The row-count guard makes the misuse loud;
    * [[neardupPairsLsh]] is the operator to ship. */
  def exactNeardupPairs(corpus: DataFrame, threshold: Double,
      maxRows: Long = 200000L): DataFrame = {
    val n = corpus.count()
    require(n <= maxRows,
      s"exactNeardupPairs is the O(n^2) oracle path ($n rows > $maxRows cap); " +
        "use neardupPairsLsh for production near-dup detection")
    corpus.as("a")
      .join(corpus.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        V.cosineFrom(dotQFast(col("a.qv"), col("b.qv")), col("a.nsq"), col("b.nsq"))
          .as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** The sign-LSH near-dup pipeline on the engine-portable hyperplane
    * family (q64) — [[neardupPairsLsh]]'s exactly-checkable twin, the
    * q63/q61 technique extended to embeddings. `nBands` banded keys of
    * `bandBits` sign bits each (banding, not multi-probe: band-key
    * equality is a plain deterministic predicate) generate candidates
    * through the same bucket equi-join shape as production, then exact
    * integer-cosine verify keeps pairs ≥ threshold. Every stage is a
    * pure function of the data and the literal plane matrix, so the
    * whole candidate+verify path oracles hash-exact against DuckDB;
    * what stays probabilistic about sign-LSH is only RECALL vs all
    * true pairs (q43's planted-dup spec bounds that). Production keeps
    * XXH-derived planes and multi-probe (better recall per scan);
    * parameters here are sized for the test corpus — at 100 TB the
    * band width grows with log2(n) exactly like production's. */
  /** Projection of the `qv` column onto portable plane `p`: exact
    * integer sum of ±components — shared by both portable sign-LSH
    * twins so the projection (and its committed oracle literals) has
    * one definition. */
  private def planeProj(planes: Array[Array[Long]])(p: Int): Column =
    aggregate(
      zip_with(col("qv"), typedLit(planes(p)), (x, c) => x * c),
      lit(0L), (acc, x) => acc + x)

  /** Sign bits of `n` consecutive planes starting at `base`, packed
    * little-endian (bit r set iff the projection is ≥ 0). */
  private def signBits(planes: Array[Array[Long]], base: Int, n: Int): Column =
    (0 until n)
      .map(r => when(planeProj(planes)(base + r) >= 0, lit(1L << r))
        .otherwise(lit(0L)))
      .reduce(_ + _)

  def portableSignLshPairs(corpus: DataFrame, threshold: Double,
      nBands: Int = 4, bandBits: Int = 4, dims: Int = 64): DataFrame = {
    val planes = V.portablePlanes(nBands * bandBits, dims)
    def bandKey(b: Int) = signBits(planes, b * bandBits, bandBits)
    val bandCols = (0 until nBands).map(b =>
      struct(lit(b).as("band"), bandKey(b).as("key")))
    val bk = corpus
      .select(col("vec_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("vec_id"), col("bk.band").as("band"), col("bk.key").as("key"))
    // candidates dedup BEFORE the verify stage (a pair colliding in all
    // nBands bands would otherwise pay the 64-element dot product once
    // per band), on BARE id pairs — carrying qv/nsq through the dedup
    // shuffle costs ~1 KB/row and measured 3× slower; the vectors join
    // back afterwards (minhashLshPairs' verify-with-fetch shape — the
    // quantize scan is a cheap native pass, recomputed not cached).
    // The r6 bench's apparent 2× step (q64 1.10→2.27 s) did not
    // reproduce: r7 median-of-3 measured 0.85 s in-suite and 0.86 s
    // isolated with this exact shape (q63 likewise 0.59 s) — the r6
    // number was box contention, and dedup-early stands as measured.
    val cand = bk.as("a")
      .join(bk.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .dropDuplicates("vec_a", "vec_b")
    cand
      .join(corpus.select(col("vec_id").as("vec_a"),
        col("qv").as("qv_a"), col("nsq").as("nsq_a")), "vec_a")
      .join(corpus.select(col("vec_id").as("vec_b"),
        col("qv").as("qv_b"), col("nsq").as("nsq_b")), "vec_b")
      .select(col("vec_a"), col("vec_b"),
        V.cosineFrom(dotQFast(col("qv_a"), col("qv_b")),
          col("nsq_a"), col("nsq_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** ANN top-k on the engine-portable hyperplane family — [[annTopK]]'s
    * exactly-checkable twin: one `nBits`-bit sign bucket per vector,
    * queries multi-probe their bucket plus every Hamming-1 neighbor
    * (deterministic XOR flips), exact integer-cosine re-rank of the
    * probed candidates. The whole probe + re-rank machinery oracles
    * hash-exact against DuckDB (row_number ⇔ the bounded top-k
    * aggregate, ties cosine-desc/neighbor-asc on bit-identical
    * cosines); only RECALL stays probabilistic and stays spec'd on
    * q32's production path. */
  def portableSignLshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nBits: Int = 8, dims: Int = 64): DataFrame = {
    val planes = V.portablePlanes(nBits, dims)
    val bucketOf = signBits(planes, 0, nBits)
    val bucketed = corpus.withColumn("bucket", bucketOf)
    val probes = array((lit(0L) +: (0 until nBits).map(b => lit(1L << b))): _*)
    val q = queries.withColumn("bucket", bucketOf)
      .select(col("vec_id").as("query_id"), col("qv").as("qqv"),
        col("nsq").as("qnsq"),
        explode(transform(probes, m => col("bucket").bitwiseXOR(m))).as("bucket"))
    topKFinish(
      bucketed.join(broadcast(q), Seq("bucket"))
        .filter(col("query_id") =!= col("vec_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          V.cosineFrom(dotQFast(col("qqv"), col("qv")), col("qnsq"), col("nsq"))
            .as("cosine")),
      k)
  }

  /** Near-dup pairs at scale: sign-bit LSH bucket candidates
    * (multi-probe — each vector also probes every bucket one bit-flip
    * away, so pairs within Hamming distance 1 collide), exact cosine
    * verify on candidates only. The candidate join is a shuffled
    * equi-join on the bucket key — no cross product anywhere. Recall is
    * governed by P[bit flip] = θ/π per bit: near-duplicates (cos ≈ 1)
    * collide with ≈99% probability; size nBits ≈ log2(n) to hold bucket
    * occupancy (and thus per-bucket pair count) constant as the corpus
    * grows. */
  def neardupPairsLsh(corpus: DataFrame, threshold: Double,
      nBits: Int = 8, dims: Int = 64): DataFrame = {
    val bucketed = corpus.withColumn("bucket",
      V.lshBucket(col("qv"), nBits = nBits, dims = dims))
    val probes = array((lit(0L) +: (0 until nBits).map(b => lit(1L << b))): _*)
    val probing = bucketed.select(col("vec_id").as("vec_a"),
      col("qv").as("qva"), col("nsq").as("nsqa"),
      explode(transform(probes, m => col("bucket").bitwiseXOR(m))).as("bucket"))
    probing.join(bucketed, Seq("bucket"))
      .filter(col("vec_a") < col("vec_id"))
      .select(col("vec_a"), col("vec_id").as("vec_b"),
        V.cosineFrom(dotQFast(col("qva"), col("qv")), col("nsqa"), col("nsq"))
          .as("cosine"))
      .filter(col("cosine") >= threshold)
      .dropDuplicates("vec_a", "vec_b")
  }

  /** Finish a scored (query_id, neighbor_id, cosine) frame into ranked
    * top-k rows via the bounded TopKByScore aggregate: map-side partial
    * aggregation ships ≤k pairs per query per task, where the previous
    * `row_number` window shuffled EVERY scored row into query partitions
    * to rank them (n×q rows — the residual shuffle flagged in round 3).
    * Order semantics identical: cosine desc, neighbor_id asc. */
  private def topKFinish(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy("query_id")
      .agg(graft.functions.expressions.GraftExpressions
        .topKByScore(col("cosine"), col("neighbor_id"), k).as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("pos", "p")))
      .select(col("query_id"), col("p.id").as("neighbor_id"),
        col("p.score").as("cosine"), (col("pos") + 1).as("rn"))

  /** Exact brute-force top-k: one corpus pass per query batch. */
  def knnTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"), col("qv").as("qqv"),
      col("nsq").as("qnsq"))
    topKFinish(
      corpus.join(broadcast(q), col("query_id") =!= col("vec_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          V.cosineFrom(dotQFast(col("qqv"), col("qv")), col("qnsq"), col("nsq"))
            .as("cosine")),
      k)
  }

  /** Maximal-marginal-relevance re-ranking (Carbonell & Goldstein,
    * SIGIR'98 — the standard diversified top-k): greedily select k
    * items per query maximizing λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s),
    * ties broken by ascending id. Returns (query_id, doc_id, ord) with
    * ord = selection order 1..k.
    *
    * Inputs: `cands` = (query_id, doc_id, rel) — a prior retrieval's
    * top-N per query; `sims` = (query_id, a, b, sim) pairwise
    * similarities BETWEEN candidates of the same query, both
    * directions present (a missing pair scores 0 — disjoint items).
    *
    * Scale shape: the loop runs k rounds, NOT k×|queries| — all
    * queries advance together, so each round is one per-query argmax
    * (a row_number over the ≤N remaining candidates of each query —
    * partition-parallel, nothing global) plus one equi-join updating
    * each survivor's RUNNING max-similarity against only the newly
    * picked item (the standard incremental form: max over S grows one
    * element per round, so maxsim folds with `greatest`). Rounds are
    * localCheckpoint-pinned like [[graft.operators.Dedup.resolve]]'s
    * pointer doubling — the lineage stays O(1) per round. Candidate
    * sets ride a (query_id)-keyed shuffle once per round; the corpus
    * itself is never touched. */
  def mmrSelect(cands: DataFrame, sims: DataFrame, k: Int,
      lambda: Double = 0.5): DataFrame = {
    require(k >= 1 && lambda > 0.0 && lambda <= 1.0,
      s"need k >= 1 and 0 < lambda <= 1, got k=$k lambda=$lambda")
    import org.apache.spark.sql.expressions.Window
    val byScore = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("doc_id"))
    // pinned once, LAZILY: every update round joins sims, and without
    // the pin each round's eager checkpoint re-runs the caller's
    // ENTIRE sims lineage (in q174: embeddings load + kNN + pairwise
    // cosines, k−1 extra times); lazy because k == 1 runs zero update
    // rounds and must not pay the materialization at all
    lazy val simsP = sims.select(col("query_id"), col("a"), col("b"), col("sim"))
      .localCheckpoint(true)
    // maxsim starts NULL, not 0: similarities can be NEGATIVE, and a
    // zero floor would silently clamp max_{s∈S} sim(d,s) upward. The
    // empty-set round scores on relevance alone (coalesce to 0 is
    // order-neutral there); `greatest` skips nulls on first update.
    var remaining = cands.select(col("query_id"), col("doc_id"),
        col("rel").cast("double").as("rel"))
      .withColumn("maxsim", lit(null).cast("double"))
      .localCheckpoint(true)
    var selected: DataFrame = null
    (1 to k).foreach { r =>
      val pick = remaining
        .withColumn("score",
          col("rel") * lambda - coalesce(col("maxsim"), lit(0.0)) * (1.0 - lambda))
        .withColumn("rn", row_number().over(byScore))
        .filter(col("rn") === 1)
        .select(col("query_id"), col("doc_id"), lit(r.toLong).as("ord"))
        .localCheckpoint(true)
      selected = if (selected == null) pick else selected.unionByName(pick)
      if (r < k) {
        remaining = remaining
          .join(pick.select(col("query_id"), col("doc_id").as("picked")),
            Seq("query_id"))
          .filter(col("doc_id") =!= col("picked"))
          .join(simsP.select(col("query_id"), col("a").as("doc_id"),
            col("b").as("picked"), col("sim")),
            Seq("query_id", "doc_id", "picked"), "left")
          .withColumn("maxsim",
            // a pair absent from `sims` counts as similarity 0
            // (disjoint items); greatest skips the initial null
            greatest(col("maxsim"), coalesce(col("sim"), lit(0.0))))
          .select("query_id", "doc_id", "rel", "maxsim")
          .localCheckpoint(true)
      }
    }
    selected
  }

  /** Hard-negative mining for contrastive training: per query, the k
    * highest-cosine OTHER-LABEL vectors inside the band [lo, hi) —
    * close enough to be informative negatives, capped below `hi` so
    * probable mislabeled positives/near-dups are excluded (the
    * standard false-negative guard in contrastive batch construction).
    *
    * Inputs carry (vec_id, qv, nsq, label). Scale shape is [[knnTopK]]'s:
    * the query batch is broadcast, the corpus streams through ONE scan
    * and is never shuffled; the label filter runs before the dot
    * product so wrong-label rows never pay the O(dims) math; the final
    * top-k is the bounded [[graft.functions.expressions.GraftExpressions.topKByScore]]
    * heap (map-side partial aggregation — k rows per query per
    * partition cross the exchange, not the band's full candidate set).
    * For query batches too large to broadcast, mine per shard of the
    * query set — negatives are per-query, so sharding is trivially
    * correct. */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int,
      lo: Double, hi: Double): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"),
      col("label").as("qlabel"), col("qv").as("qqv"), col("nsq").as("qnsq"))
    val scored = corpus.join(broadcast(q), col("query_id") =!= col("vec_id"))
      .filter(col("label") =!= col("qlabel"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        V.cosineFrom(dotQFast(col("qqv"), col("qv")), col("qnsq"), col("nsq"))
          .as("cosine"))
      .filter(col("cosine") >= lo && col("cosine") < hi)
    topKFinish(scored, k)
  }

  /** [[hardNegatives]]' scale path: BANDED sign-LSH candidate
    * generation instead of the full corpus scan — for query batches too
    * large for a per-query corpus pass to amortize. Banding (OR across
    * `nBands` bands of `bandBits` sign bits each) is the construction
    * that works at MID-cosine: a single wide bucket's collision
    * probability p^bits collapses for cosθ ≈ 0.3-0.7 (p = 1 − θ/π ≈
    * 0.6 ⇒ p^8 ≈ 2%), while 1 − (1 − p^4)^8 ≈ 67% — and it rises with
    * cosine, so the misses concentrate where the top-k heap would have
    * discarded anyway. The corpus is scanned once with a nBands-way
    * band-key explode against the broadcast query bands — never
    * shuffled; the only exchange carries scored candidates. A pair can
    * collide in several bands, so candidates dedup on
    * (query, neighbor) before the heap (duplicate rows carry identical
    * exact cosines — LSH prunes candidates, never changes scores).
    * Every emitted row satisfies the same band/label contract as the
    * exact miner; recall floor vs [[hardNegatives]] asserted on this
    * deterministic corpus in LlmOperatorsSpec. */
  def hardNegativesAnn(corpus: DataFrame, queries: DataFrame, k: Int,
      lo: Double, hi: Double, nBands: Int = 8, bandBits: Int = 4,
      dims: Int = 64): DataFrame = {
    def withBands(df: DataFrame): DataFrame =
      // band b's key draws planes [b*bandBits, (b+1)*bandBits) of the
      // shared hyperplane family; all keys computed in one projection,
      // then exploded to nBands (band, bkey) rows per vector
      df.withColumn("bk", explode(array((0 until nBands).map(b =>
          struct(lit(b).as("band"),
            V.lshBandKey(col("qv"), b, bandBits, dims).as("bkey"))): _*)))
        .withColumn("band", col("bk.band"))
        .withColumn("bkey", col("bk.bkey"))
    val q = withBands(queries)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
        col("qv").as("qqv"), col("nsq").as("qnsq"), col("band"), col("bkey"))
    topKFinish(
      withBands(corpus).join(broadcast(q), Seq("band", "bkey"))
        .filter(col("query_id") =!= col("vec_id") &&
          col("label") =!= col("qlabel"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          V.cosineFrom(dotQFast(col("qqv"), col("qv")), col("qnsq"), col("nsq"))
            .as("cosine"))
        .filter(col("cosine") >= lo && col("cosine") < hi)
        .dropDuplicates("query_id", "neighbor_id"),
      k)
  }

  /** Centroid model of an assigned index: per-cluster mean, re-quantized
    * so downstream scoring reuses the codegen DotProductL. */
  private def centroidsOf(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cluster"), posexplode(col("qv")).as(Seq("pos", "v")))
      .groupBy("cluster", "pos").agg(avg(col("v")).as("m"))
      .groupBy("cluster")
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("cluster"),
        expr("transform(pm, x -> CAST(round(x.m) AS BIGINT))").as("cqv"))
      .withColumn("cnsq", dotQFast(col("cqv"), col("cqv")))

  /** Centroids are model-sized (k rows), so each Lloyd's round collects
    * them to the driver and restarts the next round from a local
    * relation — the per-iteration lineage chain is cut (no re-execution
    * of earlier rounds downstream) exactly the way MLlib keeps k-means
    * centroids driver-side. */
  private def materializeCentroids(c: DataFrame): DataFrame = {
    val spark = c.sparkSession
    val rows = java.util.Arrays.asList(c.collect(): _*)
    spark.createDataFrame(rows, c.schema)
  }

  /** Assign every corpus vector to its nearest centroid (cosine) in a
    * FIXED centroid model — the pass each of [[kmeansIndex]]'s Lloyd
    * rounds runs.
    * Argmax as an AGGREGATE, not a window: max_by gets a map-side
    * partial phase, so the shuffle moves n assigned rows instead of all
    * n×k scored rows (round-3 finding). Tie-break: highest sim, then
    * LOWEST cluster id (the window's `orderBy(sim desc, cluster)`),
    * encoded as max over struct(sim, -cluster). */
  private def assignToCentroids(corpus: DataFrame, cents: DataFrame): DataFrame =
    corpus.crossJoin(broadcast(cents))
      .withColumn("sim",
        V.cosineFrom(dotQFast(col("qv"), col("cqv")), col("nsq"), col("cnsq")))
      .groupBy("vec_id")
      .agg(max_by(struct(col("qv"), col("nsq"), col("cluster")),
        struct(col("sim"), -col("cluster"))).as("b"))
      .select(col("vec_id"), col("b.qv").as("qv"), col("b.nsq").as("nsq"),
        col("b.cluster").as("cluster"))

  /** Deterministic k-means (Lloyd's) over quantized vectors: init =
    * first k vectors by id, `iters` assign/update rounds. Returns
    * (inverted index: vec_id, qv, nsq, cluster; centroid model:
    * cluster, cqv, cnsq). The centroid set is broadcast at every use;
    * the corpus is never shuffled, only scanned (iters+1 passes). */
  def kmeansIndex(corpus: DataFrame, k: Int, iters: Int): (DataFrame, DataFrame) = {
    val spark = corpus.sparkSession
    def assign(c: DataFrame): DataFrame = assignToCentroids(corpus, c)
    // init: first k vectors by id, cluster ids assigned driver-side (the
    // frame is k rows by construction — no global-window ranking needed)
    val initRows = corpus.orderBy("vec_id").limit(k)
      .select(col("qv"), col("nsq")).collect()
    val initCents = initRows.zipWithIndex.map { case (r, i) =>
      org.apache.spark.sql.Row(i, r.get(0), r.getLong(1))
    }
    val centSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("cluster",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("cqv",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType, containsNull = false)),
      org.apache.spark.sql.types.StructField("cnsq",
        org.apache.spark.sql.types.LongType, nullable = false)))
    var cents = spark.createDataFrame(
      java.util.Arrays.asList(initCents: _*), centSchema)
    for (_ <- 1 to iters)
      cents = materializeCentroids(centroidsOf(assign(cents)))
    (assign(cents), cents)
  }

  /** SemDedup (the Abbas et al. 2023 shape) over a PRE-ASSIGNED
    * clustered corpus (vec_id, qv, nsq, cluster), e.g. [[kmeansIndex]]'s
    * inverted file: within-cluster exact cosine, then connected-
    * component resolution so each near-dup group keeps exactly one
    * representative (its minimum vec_id). Returns one row per vector:
    * (vec_id, cluster, canonical_id, keep).
    *
    * Scale shape: the pair join is an EQUI-join on the cluster id —
    * vectors in different clusters never meet, which is precisely the
    * algorithm's approximation (cross-cluster near-dups are missed;
    * recall is a spec property, not an oracle one). Per-cluster cost is
    * |cluster|², so k grows ∝ n to hold the expected cluster size — and
    * with it the per-key join fan-out — constant as the corpus scales;
    * the resolve pass is the same distributed label propagation as
    * q44's. The k-means passes are index-build cost paid once. */
  def semdedupAssigned(indexed: DataFrame, threshold: Double): DataFrame = {
    val pairs = indexed.as("a")
      .join(indexed.as("b"),
        col("a.cluster") === col("b.cluster") &&
          col("a.vec_id") < col("b.vec_id"))
      .filter(V.cosineFrom(dotQFast(col("a.qv"), col("b.qv")),
        col("a.nsq"), col("b.nsq")) >= threshold)
      .select(col("a.vec_id").as("doc_a"), col("b.vec_id").as("doc_b"))
    val comp = Dedup.resolve(pairs)
    indexed.select("vec_id", "cluster")
      .join(comp.withColumnRenamed("doc_id", "vec_id"), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        coalesce(col("canonical_id"), col("vec_id")).as("canonical_id"))
      .withColumn("keep", col("canonical_id") === col("vec_id"))
  }

  /** IVF approximate top-k: score queries against the centroid model
    * (broadcast), probe the nProbe nearest inverted lists, exact re-rank
    * within them. Complements the LSH path — better recall when the
    * corpus is clusterable; ~nProbe/k of the corpus scanned. Takes the
    * centroid model from [[kmeansIndex]] — no re-derivation from the
    * index (which would cost an extra corpus-wide posexplode + two
    * aggregations). */
  /** nProbe nearest inverted lists per query (cosine to the broadcast
    * centroid model) via the bounded top-k aggregate — the shared probe
    * stage of [[annIvfTopK]] and [[annIvfPqTopK]]. qqv/qnsq ride along
    * with first() — constant per query_id. */
  private def ivfProbes(cents: DataFrame, queries: DataFrame,
      nProbe: Int): DataFrame =
    queries
      .select(col("vec_id").as("query_id"), col("qv").as("qqv"), col("nsq").as("qnsq"))
      .crossJoin(broadcast(cents))
      .withColumn("csim",
        V.cosineFrom(dotQFast(col("qqv"), col("cqv")), col("qnsq"), col("cnsq")))
      .groupBy("query_id")
      .agg(first(col("qqv")).as("qqv"), first(col("qnsq")).as("qnsq"),
        graft.functions.expressions.GraftExpressions
          .topKByScore(col("csim"), col("cluster").cast("long"), nProbe).as("pc"))
      .select(col("query_id"), col("qqv"), col("qnsq"),
        explode(col("pc.id")).as("clusterL"))
      .select(col("query_id"), col("qqv"), col("qnsq"),
        col("clusterL").cast("int").as("cluster"))

  def annIvfTopK(indexed: DataFrame, cents: DataFrame, queries: DataFrame,
      k: Int, nProbe: Int): DataFrame = {
    val probes = ivfProbes(cents, queries, nProbe)
    topKFinish(
      indexed.join(broadcast(probes), Seq("cluster"))
        .filter(col("query_id") =!= col("vec_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          V.cosineFrom(dotQFast(col("qqv"), col("qv")), col("qnsq"), col("nsq"))
            .as("cosine")),
      k)
  }

  /** Product-quantization codebooks (Jégou/Douze/Schmid 2011), trained
    * driver-side on a corpus sample — the FAISS practice: the model is
    * M×K×(dims/M) numbers regardless of corpus size, so sample-train +
    * broadcast is the 100 TB shape (like [[kmeansIndex]]'s centroid
    * collect, the model is the only thing that ever leaves the
    * executors). Lloyd's over exact integer subvectors with L2 cost:
    * deterministic init (first K distinct subvectors in vec_id order),
    * ties to the lowest centroid index, integer-mean updates, empty
    * clusters keep their centroid. Returns codebook(m)(c) = centroid c
    * of subspace m. */
  def pqTrain(corpus: DataFrame, m: Int = 8, k: Int = 16, iters: Int = 5,
      sample: Int = 2048): Array[Array[Array[Long]]] = {
    val rows = corpus.orderBy("vec_id").limit(sample)
      .select("qv").collect().map(_.getSeq[Long](0).toArray)
    require(rows.nonEmpty, "pqTrain: empty corpus")
    val dims = rows.head.length
    require(dims % m == 0, s"pqTrain: $dims dims not divisible into $m subspaces")
    val dsub = dims / m
    Array.tabulate(m) { mm =>
      val subs = rows.map(v => v.slice(mm * dsub, (mm + 1) * dsub))
      // Array equality is referential — dedup by content via Seq views
      val distinct = subs.map(_.toSeq).distinct
      // a degenerate sample (fewer distinct subvectors than k) shrinks
      // the quantizer's resolution — make that visible, never silent
      if (distinct.length < k)
        System.err.println(s"[graft] pqTrain: subspace $mm has only " +
          s"${distinct.length} distinct subvectors < k=$k — codebook " +
          s"shrunk to ${distinct.length} centroids")
      var cents = distinct.take(k).map(_.toArray).toArray
      for (_ <- 1 to iters) {
        def nearest(s: Array[Long]): Int =
          cents.indices.minBy(c => cents(c).indices
            .map(j => { val d = s(j) - cents(c)(j); d * d }).sum)
        val assigned = subs.groupBy(nearest)
        cents = cents.indices.toArray.map { c =>
          assigned.get(c) match {
            case Some(members) =>
              Array.tabulate(dsub)(j => members.map(_(j)).sum / members.length)
            case None => cents(c)
          }
        }
      }
      cents
    }
  }

  /** Per-subspace query-to-centroid L2 table for ADC: K exact integer
    * distances from `qv`'s mm-th subvector to every centroid. */
  private def pqDistTable(qv: Column, codebook: Array[Array[Array[Long]]],
      mm: Int): Column = {
    val dsub = codebook(0)(0).length
    val sub = slice(qv, mm * dsub + 1, dsub)
    array(codebook(mm).map(cent =>
      aggregate(zip_with(sub, typedLit(cent), (x, y) => (x - y) * (x - y)),
        lit(0L), (acc, x) => acc + x)): _*)
  }

  /** PQ code column: per-subspace index of the L2-nearest codebook
    * centroid (first-minimum tie-break via array_position). The
    * codebook rides as literals — no join, pure projection over the
    * corpus scan. */
  private def pqCodes(qv: Column, codebook: Array[Array[Array[Long]]]): Column =
    array(codebook.indices.map { mm =>
      val dists = pqDistTable(qv, codebook, mm)
      (array_position(dists, array_min(dists)) - 1).cast("int")
    }: _*)

  /** ADC score: sum of the M per-subspace table lookups for a code. */
  private def adcOf(m: Int): Column = (0 until m)
    .map(mm => element_at(col(s"t$mm"), col("code").getItem(mm) + 1))
    .reduce(_ + _)

  /** PQ approximate top-k via asymmetric distance computation: the
    * corpus is one-pass encoded to M small codes; each query
    * precomputes its M×K subspace distance table (broadcast with the
    * query — K·M exact integer entries), and scoring a candidate is M
    * table lookups summed — no per-pair vector math at all. This is
    * the compressed-domain scale path: at 100 TB the encoded corpus is
    * ~dims/M·8× smaller than the vectors and the scan never touches
    * the original embedding column. Distances are exact integers
    * (components < 2²¹ ⇒ per-subspace squares < 2⁴⁵ ⇒ sums fit a
    * long), so results are bit-deterministic; approximation comes only
    * from quantizing the CORPUS side of each distance. Ranked
    * ascending by ADC distance via the bounded top-k aggregate
    * (map-side partial, ≤k rows per query per task). */
  def annPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      codebook: Array[Array[Array[Long]]]): DataFrame =
    annPqTopKEncoded(
      corpus.select(col("vec_id"), pqCodes(col("qv"), codebook).as("code")),
      queries, k, codebook)

  /** [[annPqTopK]]'s probe-only half over a PRE-ENCODED corpus
    * (vec_id, code) — the production repeated-query path: the index
    * build ([[pqEncode]], persisted via `AnnIndex`) is paid once, and
    * each query batch costs only the compressed-domain scan. */
  def annPqTopKEncoded(encoded: DataFrame, queries: DataFrame, k: Int,
      codebook: Array[Array[Array[Long]]]): DataFrame = {
    val m = codebook.length
    val q = queries.select(
      (col("vec_id").as("query_id") +:
        (0 until m).map(mm => pqDistTable(col("qv"), codebook, mm).as(s"t$mm"))): _*)
    topKFinish(
      encoded.select("vec_id", "code")
        .join(broadcast(q), col("query_id") =!= col("vec_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          (-adcOf(m)).cast("double").as("cosine")),
      k)
      .select(col("query_id"), col("neighbor_id"),
        (-col("cosine")).cast("long").as("adc_dist"), col("rn"))
  }

  /** PQ-encode a quantized corpus: every row gains its M-byte `code`.
    * This is the build-time half of the ADC path — persist the result
    * (it is ~dims/M·8× smaller than the vectors) and query it with
    * [[annPqTopKEncoded]]/[[annIvfPqTopKEncoded]]. */
  def pqEncode(corpus: DataFrame,
      codebook: Array[Array[Array[Long]]]): DataFrame =
    corpus.withColumn("code", pqCodes(col("qv"), codebook))

  /** IVF-PQ (the FAISS IVFPQ configuration): probe the nProbe nearest
    * inverted lists, then ADC-score ONLY the probed lists' codes — the
    * two approximations compose, so per query the scan touches
    * ~nProbe/k of the corpus and each candidate costs M table lookups
    * instead of a vector dot. The probe join keys on the cluster id
    * (broadcast query side); the original vectors are never read past
    * encoding time. */
  def annIvfPqTopK(indexed: DataFrame, cents: DataFrame, queries: DataFrame,
      k: Int, nProbe: Int, codebook: Array[Array[Array[Long]]]): DataFrame =
    annIvfPqTopKEncoded(
      indexed.select(col("vec_id"), col("cluster"),
        pqCodes(col("qv"), codebook).as("code")),
      cents, queries, k, nProbe, codebook)

  /** [[annIvfPqTopK]]'s probe-only half over a PRE-ENCODED clustered
    * corpus (vec_id, cluster, code). When the encoded table is
    * persisted partitioned by cluster, the probe's equi-join key is
    * the partition column — an nProbe-list query reads nProbe
    * directories, never the corpus. */
  def annIvfPqTopKEncoded(encoded: DataFrame, cents: DataFrame,
      queries: DataFrame, k: Int, nProbe: Int,
      codebook: Array[Array[Array[Long]]]): DataFrame = {
    val m = codebook.length
    val q = ivfProbes(cents, queries, nProbe).select(
      (col("query_id") +: col("cluster") +:
        (0 until m).map(mm => pqDistTable(col("qqv"), codebook, mm).as(s"t$mm"))): _*)
    topKFinish(
      encoded.join(broadcast(q), Seq("cluster"))
        .filter(col("query_id") =!= col("vec_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          (-adcOf(m)).cast("double").as("cosine")),
      k)
      .select(col("query_id"), col("neighbor_id"),
        (-col("cosine")).cast("long").as("adc_dist"), col("rn"))
  }

  /** Approximate top-k: sign-bit LSH buckets, multi-probe (all buckets
    * within Hamming distance 1 of the query's bucket), exact re-rank.
    * Scans ~(nBits+1)/2^nBits of the corpus per query. Recall depends on
    * true neighbor closeness (P[bit flip] = θ/π): near-duplicates
    * (cos≈1) are found with ≈99% probability; uniform-random "nearest"
    * points (cos≈0.4) are not meaningfully near and recall is
    * correspondingly low — asserted on planted dupes in tests. */
  def annTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nBits: Int = 8, dims: Int = 64): DataFrame = {
    val bucketed = corpus.withColumn("bucket",
      V.lshBucket(col("qv"), nBits = nBits, dims = dims))
    val probes = array((lit(0L) +: (0 until nBits).map(b => lit(1L << b))): _*)
    val q = queries
      .withColumn("bucket", V.lshBucket(col("qv"), nBits = nBits, dims = dims))
      .select(col("vec_id").as("query_id"), col("qv").as("qqv"), col("nsq").as("qnsq"),
        explode(transform(probes, m => col("bucket").bitwiseXOR(m))).as("bucket"))
    topKFinish(
      bucketed.join(broadcast(q), Seq("bucket"))
        .filter(col("query_id") =!= col("vec_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          V.cosineFrom(dotQFast(col("qqv"), col("qv")), col("qnsq"), col("nsq"))
            .as("cosine"))
        .dropDuplicates("query_id", "neighbor_id"),
      k)
  }
}
