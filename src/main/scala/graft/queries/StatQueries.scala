package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.functions.{TextFunctions => T}
import graft.operators.LangModel
import graft.sources.Tables

/** Round-9 wave: the STATISTICAL-INFERENCE layer over the corpus and
  * event tables — the tests an analyst runs BEFORE trusting the
  * aggregates the rest of the engine serves: is source independent of
  * language (chi-square / Cramér's V), do two quality gates agree
  * beyond chance (Cohen's kappa), is the daily series autocorrelated
  * (ACF), where did its level shift (CUSUM changepoint) — plus the
  * warehouse hygiene pair: the full FK-orphan audit and winsorized
  * robust means. The reference stops at descriptive aggregates
  * (Covid19Stats.java's daily sums); these are the inferential
  * follow-ups on the same tables.
  *
  * Exactness discipline (the q112 pattern): every moment/count
  * accumulates as exact integers (BIGINT or DECIMAL(38,0)); doubles
  * appear only in FINAL per-row expressions computed from identical
  * integer inputs with identical expression trees on both engines —
  * so hash oracles hold despite the float math. Where a SUM of
  * doubles is unavoidable (chi-square's per-cell contributions), each
  * cell quantizes to integer micro-units FIRST (the q179 bm25Micros
  * argument) and the sum is an order-immune BIGINT.
  */
object StatQueries {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  private val stopWords = Seq("the", "a", "of", "and", "to")
  private val d38 = "decimal(38,0)"

  /** q194: chi-square test of independence between `source` and
    * `lang`, with Cramér's V — "is the language mix a property of the
    * source?", the first question a mixture designer asks before
    * per-source language quotas. The full r×c grid (CROSS JOIN of the
    * margins, zero-observed cells included — dropping them understates
    * chi²) gets expected counts e = r·c/N; each cell's (o−e)²/e
    * quantizes to integer micros before the one order-immune BIGINT
    * sum. Everything upstream is three grouped counts over one scan;
    * the grid is |sources|×|langs| — dimension-sized, broadcast. */
  val chiSquare: Q = Q(
    "q194_chi_square",
    """WITH d AS (SELECT source, lang FROM documents),
      |o AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS o
      |      FROM d GROUP BY 1, 2),
      |r AS (SELECT source, CAST(count(*) AS BIGINT) AS rtot
      |      FROM d GROUP BY 1),
      |c AS (SELECT lang, CAST(count(*) AS BIGINT) AS ctot
      |      FROM d GROUP BY 1),
      |tt AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |              CAST(count(DISTINCT source) AS BIGINT) AS n_src,
      |              CAST(count(DISTINCT lang) AS BIGINT) AS n_lang
      |       FROM d),
      |g AS (SELECT r.source, c.lang, r.rtot, c.ctot,
      |             coalesce(o.o, 0) AS o
      |      FROM r CROSS JOIN c
      |      LEFT JOIN o ON o.source = r.source AND o.lang = c.lang),
      |x AS (SELECT CAST(round((g.o - CAST(g.rtot * g.ctot AS DOUBLE) / tt.n)
      |               * (g.o - CAST(g.rtot * g.ctot AS DOUBLE) / tt.n)
      |               / (CAST(g.rtot * g.ctot AS DOUBLE) / tt.n)
      |               * 1000000) AS BIGINT) AS contrib_u6,
      |             tt.n, tt.n_src, tt.n_lang
      |      FROM g CROSS JOIN tt),
      |s AS (SELECT CAST(sum(contrib_u6) AS BIGINT) AS chi2_u6,
      |             max(n) AS n_docs, max(n_src) AS n_src,
      |             max(n_lang) AS n_lang
      |      FROM x)
      |SELECT n_docs, n_src, n_lang,
      |       (n_src - 1) * (n_lang - 1) AS dof, chi2_u6,
      |       CASE WHEN least(n_src - 1, n_lang - 1) = 0
      |            THEN CAST(NULL AS BIGINT)
      |            ELSE CAST(round(sqrt((chi2_u6 / 1000000.0)
      |              / (n_docs * least(n_src - 1, n_lang - 1))) * 1000000)
      |              AS BIGINT) END AS cramers_v_ppm
      |FROM s""".stripMargin
  ) { (s, dir) =>
    chiSquareReport(t(s, dir, "documents").select("source", "lang"),
      "source", "lang", "n_docs", "n_src", "n_lang")
  }

  /** The chi-square core shared by q194 and q207: `d` is the long-form
    * (aCol, bCol) observation table; returns the one-row report with
    * caller-named count columns. See q194's scaladoc for the grid +
    * micro-quantization exactness argument. */
  private[graft] def chiSquareReport(d: DataFrame, aCol: String, bCol: String,
      nName: String, naName: String, nbName: String): DataFrame = {
    val o = d.groupBy(aCol, bCol).agg(count(lit(1)).as("o"))
    val r = d.groupBy(aCol).agg(count(lit(1)).as("rtot"))
    val c = d.groupBy(bCol).agg(count(lit(1)).as("ctot"))
    val tt = d.agg(count(lit(1)).as("n"),
      countDistinct(col(aCol)).as("na"),
      countDistinct(col(bCol)).as("nb"))
    val e = (col("rtot") * col("ctot")).cast("double") / col("n")
    val g = broadcast(r).crossJoin(broadcast(c))
      .join(o, Seq(aCol, bCol), "left")
      .select(col("rtot"), col("ctot"), coalesce(col("o"), lit(0L)).as("o"))
      .crossJoin(broadcast(tt))
    g.select(
        round((col("o") - e) * (col("o") - e) / e * 1000000)
          .cast(LongType).as("contrib_u6"),
        col("n"), col("na"), col("nb"))
      .agg(sum(col("contrib_u6")).as("chi2_u6"),
        max(col("n")).as("n"), max(col("na")).as("na"),
        max(col("nb")).as("nb"))
      .select(col("n").as(nName), col("na").as(naName),
        col("nb").as(nbName),
        ((col("na") - 1) * (col("nb") - 1)).as("dof"),
        col("chi2_u6"),
        // a one-category dimension makes V's denominator 0 (and chi²
        // 0): sqrt(0/0) is NaN, which Spark's cast and DuckDB's cast
        // treat differently — the degenerate table reports NULL V on
        // both engines instead
        when(least(col("na") - 1, col("nb") - 1) === 0,
          lit(null).cast(LongType))
          .otherwise(round(sqrt((col("chi2_u6") / 1000000.0)
              / (col("n") * least(col("na") - 1, col("nb") - 1)))
            * 1000000).cast(LongType)).as("cramers_v_ppm"))
  }

  /** q195: Cohen's kappa between two INDEPENDENT quality gates — the
    * hash-feature linear classifier (q119's keep flag) and the
    * stopword-ratio rule (q112's quality proxy at a 10% threshold).
    * Raw agreement po flatters any pair of skewed gates; kappa
    * subtracts chance agreement pe, the standard inter-annotator
    * number. One scan, one global aggregate; the 2×2 cells are exact
    * BIGINTs, the chance products promote to DECIMAL(38,0) (corpus-
    * scale N² overflows BIGINT), and kappa is one final double
    * expression from identical exact inputs. */
  val cohensKappa: Q = Q(
    "q195_cohens_kappa",
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |h AS (SELECT doc_id, len(ws) AS nw, list_transform(ws, s -> list_reduce(
      |        list_prepend(CAST(7 AS BIGINT),
      |          list_transform(range(1, length(s) + 1),
      |            i -> CAST(unicode(substr(s, i, 1)) AS BIGINT))),
      |        (acc, c) -> (acc * 131 + c) % 35184372088777)) AS hs,
      |      len(list_filter(ws, x -> x IN ('the', 'a', 'of', 'and', 'to')))
      |        AS stp
      |      FROM w),
      |f AS (SELECT doc_id,
      |        CAST(coalesce(list_sum(list_transform(hs,
      |          x -> (x % 4096) * 2654435761 % 2001 - 1000)), 0) AS BIGINT)
      |          >= 0 AS a,
      |        CAST(round(CAST(stp AS DOUBLE) / nw * 1000000) AS BIGINT)
      |          >= 100000 AS b
      |      FROM h),
      |cc AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n_tt,
      |         CAST(sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n_tf,
      |         CAST(sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n_ft,
      |         CAST(sum(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n_ff
      |       FROM f)
      |SELECT n_tt, n_tf, n_ft, n_ff,
      |       CAST(round(CAST(CAST(n AS DECIMAL(38,0)) * (n_tt + n_ff)
      |              - (CAST(n_tt + n_tf AS DECIMAL(38,0)) * (n_tt + n_ft)
      |                 + CAST(n_ft + n_ff AS DECIMAL(38,0)) * (n_tf + n_ff))
      |              AS DOUBLE)
      |            / CAST(CAST(n AS DECIMAL(38,0)) * n
      |              - (CAST(n_tt + n_tf AS DECIMAL(38,0)) * (n_tt + n_ft)
      |                 + CAST(n_ft + n_ff AS DECIMAL(38,0)) * (n_tf + n_ff))
      |              AS DOUBLE)
      |            * 1000000) AS BIGINT) AS kappa_ppm
      |FROM cc""".stripMargin
  ) { (s, dir) =>
    val docs = t(s, dir, "documents")
    val ws = T.words(col("text"))
    val cls = LangModel.hashClassifierScore(docs)
      .select(col("doc_id"), col("keep").as("a"))
    val rule = docs.select(col("doc_id"),
      (round(T.markerCount(ws, stopWords).cast("double") / size(ws) * 1000000)
        .cast(LongType) >= 100000L).as("b"))
    def cell(c: org.apache.spark.sql.Column) =
      sum(when(c, 1L).otherwise(0L))
    val pe = (col("n_tt") + col("n_tf")).cast(d38) * (col("n_tt") + col("n_ft")) +
      (col("n_ft") + col("n_ff")).cast(d38) * (col("n_tf") + col("n_ff"))
    cls.join(rule, "doc_id")
      .agg(count(lit(1)).as("n"),
        cell(col("a") && col("b")).as("n_tt"),
        cell(col("a") && !col("b")).as("n_tf"),
        cell(!col("a") && col("b")).as("n_ft"),
        cell(!col("a") && !col("b")).as("n_ff"))
      .select(col("n_tt"), col("n_tf"), col("n_ft"), col("n_ff"),
        round((col("n").cast(d38) * (col("n_tt") + col("n_ff")) - pe)
            .cast("double")
          / (col("n").cast(d38) * col("n") - pe).cast("double")
          * 1000000).cast(LongType).as("kappa_ppm"))
  }

  /** q196: autocorrelation function of the daily event-count series
    * per event type, lags 1..7 — the seasonality probe (a weekly cycle
    * shows as an ACF spike at lag 7) that decides whether q141's EWMA
    * band needs a seasonal term. The series is the DAY-grain aggregate
    * (calendar-bounded: its size is days×types regardless of corpus
    * scale, so everything after the first aggregation is free); lag
    * pairs come from ONE equi-join of the ranked series against itself
    * on (type, rn+lag) — no per-lag window pass; moments accumulate in
    * DECIMAL(38,0) exactly as q112's correlation does. Degenerate
    * (zero-variance) series are filtered on the exact integer moments,
    * identically on both engines.
    *
    * GRAIN BOUND (this is the template sub-day-grain series will copy):
    * the `localCheckpoint(true)` pin + the two-sided reuse of `rk` are
    * justified ONLY while the ranked series is calendar-bounded (days ×
    * types — a few thousand rows at any corpus scale). At second/minute
    * grain the series grows with the time span: drop the eager pin
    * (let both sides re-derive from the day aggregate) and keep the
    * event_type-leading hash equi-join, which then shuffles PER SERIES
    * — the lag fan-out stays 7× and the ranking window stays
    * key-partitioned, so nothing goes quadratic or global. PlanSpec
    * asserts the join keys keep event_type first and the only
    * nested-loop join is the 7-row lag spine broadcast. */
  /** The daily-ACF CTE chain shared by q196's oracle and the q323
    * Ljung-Box oracle (one definition — the
    * [[CurationQueries.predictorCte]] no-drift rule): ends in `acf`
    * carrying (event_type, lag_k, n_pairs, acf_ppm) for lags 1..7
    * with degenerate (zero-variance) lags filtered. */
  private[graft] val acfCtes: String =
    """WITH dc AS (SELECT event_type,
      |                   CAST(date_trunc('day', ts) AS DATE) AS day,
      |                   CAST(count(*) AS BIGINT) AS x
      |            FROM events GROUP BY 1, 2),
      |rk AS (SELECT event_type, x,
      |              CAST(row_number() OVER (PARTITION BY event_type
      |                ORDER BY day) AS BIGINT) AS rn
      |       FROM dc),
      |l AS (SELECT unnest(range(1, 8)) AS lag_k),
      |p AS (SELECT a.event_type, l.lag_k, a.x AS x, b.x AS y
      |      FROM rk a CROSS JOIN l
      |      JOIN rk b ON b.event_type = a.event_type
      |        AND b.rn = a.rn + l.lag_k),
      |m AS (SELECT event_type, lag_k,
      |        CAST(count(*) AS DECIMAL(38,0)) AS n,
      |        sum(CAST(x AS DECIMAL(38,0))) AS sx,
      |        sum(CAST(y AS DECIMAL(38,0))) AS sy,
      |        sum(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))) AS sxx,
      |        sum(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS syy,
      |        sum(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS sxy
      |      FROM p GROUP BY 1, 2),
      |acf AS (SELECT event_type, CAST(lag_k AS BIGINT) AS lag_k,
      |          CAST(n AS BIGINT) AS n_pairs,
      |          CAST(round(CAST(n * sxy - sx * sy AS DOUBLE)
      |               / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
      |                  * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
      |               * 1000000) AS BIGINT) AS acf_ppm
      |        FROM m
      |        WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0)""".stripMargin

  /** The ACF frame behind q196 (and q323's portmanteau sum): per
    * (event_type, lag 1..7), the exact-moment Pearson autocorrelation
    * of the daily count series in ppm. See q196's scaladoc. */
  private def acfFrame(s: SparkSession, dir: String): DataFrame = {
    val dc = t(s, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
    val rk = dc.select(col("event_type"), col("x"),
      row_number().over(
        Window.partitionBy("event_type").orderBy("day")).cast(LongType)
        .as("rn"))
      .localCheckpoint(true) // tiny (days × types); reused on both join sides
    val lags = s.range(1, 8).select(col("id").as("lag_k"))
    val p = rk.crossJoin(broadcast(lags))
      .withColumn("rn_b", col("rn") + col("lag_k"))
      .join(rk.select(col("event_type"), col("rn").as("rn_b"),
        col("x").as("y")), Seq("event_type", "rn_b"))
    // operands cast to decimal BEFORE the multiply: counts at the
    // 10^12-events/day scale square past BIGINT, and a wrapped product
    // inside the cast would sum silently wrong ((19,0)×(19,0) widens
    // to an exact (38,0) product on both engines)
    val d19 = "decimal(19,0)"
    val m = p.groupBy("event_type", "lag_k")
      .agg(count(lit(1)).cast(d38).as("n"),
        sum(col("x").cast(d38)).as("sx"), sum(col("y").cast(d38)).as("sy"),
        sum(col("x").cast(d19) * col("x").cast(d19)).as("sxx"),
        sum(col("y").cast(d19) * col("y").cast(d19)).as("syy"),
        sum(col("x").cast(d19) * col("y").cast(d19)).as("sxy"))
    m.filter(col("n") * col("sxx") - col("sx") * col("sx") > 0 &&
        col("n") * col("syy") - col("sy") * col("sy") > 0)
      .select(col("event_type"), col("lag_k"), col("n").cast(LongType).as("n_pairs"),
        round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
            / (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
               * sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double")))
            * 1000000).cast(LongType).as("acf_ppm"))
  }

  val acfDaily: Q = Q(
    "q196_acf_daily",
    acfCtes + """
      |SELECT event_type, lag_k, n_pairs, acf_ppm FROM acf""".stripMargin
  ) { (s, dir) => acfFrame(s, dir) }

  /** q197: CUSUM changepoint per event type — the day where the
    * cumulative deviation from the series mean peaks, i.e. where the
    * level most plausibly shifted (Page 1954's cumulative-sum test in
    * its scan-statistic form). Kept EXACT by scaling out the mean's
    * division: S_k = prefix_k − k·mean peaks where |n·prefix_k −
    * k·total| does — an exact-integer argmax with the products run in
    * DECIMAL(19,0)× (a decade of 10^12-events/day days pushes them
    * past BIGINT; ties break to the earliest
    * day, both engines). Windows partition by event type over the
    * calendar-bounded daily series — nothing global, nothing float. */
  val cusumChangepoint: Q = Q(
    "q197_cusum_changepoint",
    """WITH dc AS (SELECT event_type,
      |                   CAST(date_trunc('day', ts) AS DATE) AS day,
      |                   CAST(count(*) AS BIGINT) AS x
      |            FROM events GROUP BY 1, 2),
      |w AS (SELECT event_type, day,
      |             CAST(sum(x) OVER (PARTITION BY event_type ORDER BY day)
      |                  AS BIGINT) AS pre,
      |             CAST(row_number() OVER (PARTITION BY event_type
      |               ORDER BY day) AS BIGINT) AS k
      |      FROM dc),
      |t AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |             CAST(sum(x) AS BIGINT) AS tot
      |      FROM dc GROUP BY 1),
      |sc AS (SELECT w.event_type, w.day,
      |              abs(CAST(t.n AS DECIMAL(19,0)) * w.pre
      |                  - CAST(w.k AS DECIMAL(19,0)) * t.tot) AS dev
      |       FROM w JOIN t USING (event_type)),
      |mx AS (SELECT event_type, max(dev) AS max_dev FROM sc GROUP BY 1)
      |SELECT sc.event_type, min(sc.day) AS cp_day,
      |       CAST(mx.max_dev AS BIGINT) AS dev_scaled, t.n AS n_days
      |FROM sc
      |JOIN mx ON mx.event_type = sc.event_type AND sc.dev = mx.max_dev
      |JOIN t ON t.event_type = sc.event_type
      |GROUP BY 1, 3, 4""".stripMargin
  ) { (s, dir) =>
    val dc = t(s, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
      .localCheckpoint(true) // tiny (days × types); feeds windows + totals
    val win = Window.partitionBy("event_type").orderBy("day")
    val w = dc.select(col("event_type"), col("day"),
      sum(col("x")).over(win).as("pre"),
      row_number().over(win).cast(LongType).as("k"))
    val tot = dc.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("tot"))
    // the n·prefix and k·total products run in decimal: a decade of
    // 10^12-events/day days pushes them past BIGINT, and a silent wrap
    // would elect the wrong argmax (the reported dev_scaled column
    // stays BIGINT — it overflows only when the products exceed
    // 9.2·10^18, where the cast fails LOUDLY instead of wrapping)
    val d19 = "decimal(19,0)"
    val sc = w.join(broadcast(tot), Seq("event_type"))
      .select(col("event_type"), col("day"),
        abs(col("n").cast(d19) * col("pre")
          - col("k").cast(d19) * col("tot")).as("dev"),
        col("n"))
    val mx = sc.groupBy("event_type").agg(max(col("dev")).as("max_dev"))
    sc.join(broadcast(mx), Seq("event_type"))
      .filter(col("dev") === col("max_dev"))
      .groupBy(col("event_type"), col("max_dev").as("dev_scaled"),
        col("n").as("n_days"))
      .agg(min(col("day")).as("cp_day"))
      .select(col("event_type"), col("cp_day"),
        col("dev_scaled").cast(LongType).as("dev_scaled"), col("n_days"))
  }

  /** q200: full referential-integrity audit — orphan rows AND distinct
    * orphan keys for every FK edge of the star (lineitem→orders/part/
    * supplier, orders→customer); q139's single orphan check widened to
    * the whole FK graph with per-key granularity, the first report a
    * warehouse loader runs after ingest. Each edge is one anti-join on
    * its key — shuffle-partitioned on both sides (dimension tables are
    * NOT broadcast here by hint: at 100 TB part/orders are fact-sized;
    * AQE broadcasts the ones that measure small). Zero rows violating
    * is the EXPECTED answer on clean data — the audit's value is the
    * loud nonzero. */
  val fkOrphans: Q = Q(
    "q200_fk_orphans",
    """SELECT 'lineitem->orders' AS rel,
      |       CAST(count(*) AS BIGINT) AS n_orphan_rows,
      |       CAST(count(DISTINCT l.l_orderkey) AS BIGINT) AS n_orphan_keys
      |FROM lineitem l
      |WHERE NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_orderkey = l.l_orderkey)
      |UNION ALL
      |SELECT 'lineitem->part',
      |       CAST(count(*) AS BIGINT),
      |       CAST(count(DISTINCT l.l_partkey) AS BIGINT)
      |FROM lineitem l
      |WHERE NOT EXISTS (SELECT 1 FROM part p
      |                  WHERE p.p_partkey = l.l_partkey)
      |UNION ALL
      |SELECT 'lineitem->supplier',
      |       CAST(count(*) AS BIGINT),
      |       CAST(count(DISTINCT l.l_suppkey) AS BIGINT)
      |FROM lineitem l
      |WHERE NOT EXISTS (SELECT 1 FROM supplier s
      |                  WHERE s.s_suppkey = l.l_suppkey)
      |UNION ALL
      |SELECT 'orders->customer',
      |       CAST(count(*) AS BIGINT),
      |       CAST(count(DISTINCT o.o_custkey) AS BIGINT)
      |FROM orders o
      |WHERE NOT EXISTS (SELECT 1 FROM customer c
      |                  WHERE c.c_custkey = o.o_custkey)""".stripMargin
  ) { (s, dir) =>
    def edge(child: DataFrame, key: String, parent: DataFrame,
        pkey: String, name: String): DataFrame =
      child.select(col(key).as("k"))
        .join(parent.select(col(pkey).as("k")), Seq("k"), "left_anti")
        .agg(count(lit(1)).as("n_orphan_rows"),
          countDistinct(col("k")).as("n_orphan_keys"))
        .select(lit(name).as("rel"),
          col("n_orphan_rows"), col("n_orphan_keys"))
    val li = t(s, dir, "lineitem")
    edge(li, "l_orderkey", t(s, dir, "orders"), "o_orderkey",
        "lineitem->orders")
      .unionByName(edge(li, "l_partkey", t(s, dir, "part"), "p_partkey",
        "lineitem->part"))
      .unionByName(edge(li, "l_suppkey", t(s, dir, "supplier"), "s_suppkey",
        "lineitem->supplier"))
      .unionByName(edge(t(s, dir, "orders"), "o_custkey",
        t(s, dir, "customer"), "c_custkey", "orders->customer"))
  }

  /** q201: winsorized mean document length per source — the robust
    * location estimate a curation dashboard shows next to q183's
    * median: clamp lengths to the exact [p05, p95] rank thresholds and
    * average. Thresholds read off the (source, n_tok) HISTOGRAM's
    * cumulative counts (q190's quantile machinery: the window runs
    * over distinct lengths, not rows), the clamped sum is exact
    * integer arithmetic over the same histogram, and the mean ships as
    * floor-div micros — no double ever forms. */
  val winsorizedMean: Q = Q(
    "q201_winsorized_mean",
    """WITH d AS (SELECT source,
      |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      |           FROM documents),
      |h AS (SELECT source, n_tok, CAST(count(*) AS BIGINT) AS c
      |      FROM d GROUP BY 1, 2),
      |n AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM h GROUP BY 1),
      |cum AS (SELECT source, n_tok,
      |               CAST(sum(c) OVER (PARTITION BY source ORDER BY n_tok)
      |                    AS BIGINT) AS cm
      |        FROM h),
      |lo AS (SELECT cum.source, min(cum.n_tok) AS lo_tok
      |       FROM cum JOIN n USING (source)
      |       WHERE cum.cm >= (5 * n.n + 99) // 100 GROUP BY 1),
      |hi AS (SELECT cum.source, min(cum.n_tok) AS hi_tok
      |       FROM cum JOIN n USING (source)
      |       WHERE cum.cm >= (95 * n.n + 99) // 100 GROUP BY 1),
      |w AS (SELECT h.source,
      |             CAST(sum(greatest(least(h.n_tok, hi.hi_tok), lo.lo_tok)
      |                      * h.c) AS BIGINT) AS wsum
      |      FROM h JOIN lo USING (source) JOIN hi USING (source)
      |      GROUP BY 1)
      |SELECT w.source, lo.lo_tok, hi.hi_tok, n.n AS n_docs,
      |       (1000000 * w.wsum) // n.n AS wins_mean_u6
      |FROM w JOIN lo USING (source) JOIN hi USING (source)
      |JOIN n USING (source)""".stripMargin
  ) { (s, dir) =>
    val d = t(s, dir, "documents").select(col("source"),
      size(split(col("text"), " ")).cast(LongType).as("n_tok"))
    val h = d.groupBy("source", "n_tok").agg(count(lit(1)).as("c"))
      .localCheckpoint(true) // histogram feeds cum, clamp sum, totals
    val n = h.groupBy("source").agg(sum(col("c")).as("n"))
    val cum = h.select(col("source"), col("n_tok"),
      sum(col("c")).over(
        Window.partitionBy("source").orderBy("n_tok")).as("cm"))
    val ranked = cum.join(broadcast(n), Seq("source"))
    val lo = ranked.filter(col("cm") >= expr("(5 * n + 99) div 100"))
      .groupBy("source").agg(min(col("n_tok")).as("lo_tok"))
    val hi = ranked.filter(col("cm") >= expr("(95 * n + 99) div 100"))
      .groupBy("source").agg(min(col("n_tok")).as("hi_tok"))
    h.join(broadcast(lo), Seq("source")).join(broadcast(hi), Seq("source"))
      .groupBy(col("source"), col("lo_tok"), col("hi_tok"))
      .agg(sum(greatest(least(col("n_tok"), col("hi_tok")), col("lo_tok"))
        * col("c")).as("wsum"))
      .join(broadcast(n), Seq("source"))
      .select(col("source"), col("lo_tok"), col("hi_tok"),
        col("n").as("n_docs"),
        expr("(1000000 * wsum) div n").as("wins_mean_u6"))
  }

  /** q207: SOURCE-DRIFT significance between the two q121 snapshot
    * versions — the inferential upgrade of q122's drift report: is the
    * new crawl's source mix a chance fluctuation or a real shift?
    * Chi-square over the (version × source) table via the q194 core.
    * The engine builds the version column in ONE documents scan (each
    * doc explodes into the ≤2 version tags its id qualifies for — no
    * union of two filtered scans of the same relation); the oracle's
    * UNION ALL is the same multiset. */
  val sourceDriftChi2: Q = Q(
    "q207_source_drift_chi2",
    """WITH d AS (
      |  SELECT 'old' AS version, source FROM documents
      |  WHERE doc_id % 10 <> 3
      |  UNION ALL
      |  SELECT 'new' AS version, source FROM documents
      |  WHERE doc_id % 7 <> 2),
      |o AS (SELECT version, source, CAST(count(*) AS BIGINT) AS o
      |      FROM d GROUP BY 1, 2),
      |r AS (SELECT version, CAST(count(*) AS BIGINT) AS rtot
      |      FROM d GROUP BY 1),
      |c AS (SELECT source, CAST(count(*) AS BIGINT) AS ctot
      |      FROM d GROUP BY 1),
      |tt AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |              CAST(count(DISTINCT version) AS BIGINT) AS na,
      |              CAST(count(DISTINCT source) AS BIGINT) AS nb
      |       FROM d),
      |g AS (SELECT r.version, c.source, r.rtot, c.ctot,
      |             coalesce(o.o, 0) AS o
      |      FROM r CROSS JOIN c
      |      LEFT JOIN o ON o.version = r.version AND o.source = c.source),
      |x AS (SELECT CAST(round((g.o - CAST(g.rtot * g.ctot AS DOUBLE) / tt.n)
      |               * (g.o - CAST(g.rtot * g.ctot AS DOUBLE) / tt.n)
      |               / (CAST(g.rtot * g.ctot AS DOUBLE) / tt.n)
      |               * 1000000) AS BIGINT) AS contrib_u6,
      |             tt.n, tt.na, tt.nb
      |      FROM g CROSS JOIN tt),
      |s AS (SELECT CAST(sum(contrib_u6) AS BIGINT) AS chi2_u6,
      |             max(n) AS n_obs, max(na) AS n_versions,
      |             max(nb) AS n_sources
      |      FROM x)
      |SELECT n_obs, n_versions, n_sources,
      |       (n_versions - 1) * (n_sources - 1) AS dof, chi2_u6,
      |       CASE WHEN least(n_versions - 1, n_sources - 1) = 0
      |            THEN CAST(NULL AS BIGINT)
      |            ELSE CAST(round(sqrt((chi2_u6 / 1000000.0)
      |              / (n_obs * least(n_versions - 1, n_sources - 1)))
      |              * 1000000) AS BIGINT) END AS cramers_v_ppm
      |FROM s""".stripMargin
  ) { (s, dir) =>
    val emptyS = array().cast("array<string>")
    val d = t(s, dir, "documents")
      .select(col("source"), explode(concat(
        when(pmod(col("doc_id"), lit(10)) =!= 3, array(lit("old")))
          .otherwise(emptyS),
        when(pmod(col("doc_id"), lit(7)) =!= 2, array(lit("new")))
          .otherwise(emptyS))).as("version"))
    chiSquareReport(d.select("version", "source"),
      "version", "source", "n_obs", "n_versions", "n_sources")
  }

  /** q222: MANN-WHITNEY U (one-vs-rest, per source) on document char
    * length — the nonparametric "is this source's length distribution
    * shifted against the rest of the corpus?" drift test, the
    * rank-based companion of q207's categorical chi². The key scale
    * property: all 20 one-vs-rest tests share ONE global ranking —
    * U_k = R_k − n_k(n_k+1)/2 needs only source k's rank-sum in the
    * combined sample, and the combined sample is the whole corpus for
    * every k. So the plan is one ranking + one per-source aggregate,
    * not 20 pairwise re-rankings. Tied values take average ranks kept
    * exact as DOUBLED integers (the q221 discipline); the tie
    * correction Σ(t³−t) accumulates in DECIMAL(38,0) (t³ overflows
    * BIGINT once a tie group passes 2×10⁶ rows; DuckDB's HUGEINT sum
    * is exact the same way). z is ONE final double expression —
    * normal approximation with tie-corrected variance — from
    * identical exact integers on both engines.
    *
    * The one global ordering runs at DISTINCT-VALUE grain through the
    * two-phase range-partitioned prefix sum (see
    * [[mannWhitneyReport]]) — never a partition-less window over
    * rows; the oracle states the same ranking with window functions
    * because DuckDB may single-thread its 500-row grid freely. */
  val mannWhitney: Q = Q(
    "q222_mann_whitney",
    """WITH f AS (SELECT source, CAST(n_chars AS BIGINT) AS x FROM documents),
      |r AS (SELECT source,
      |        2 * rank() OVER (ORDER BY x)
      |          + count(*) OVER (PARTITION BY x) - 1 AS r2
      |      FROM f),
      |tt AS (SELECT CAST(sum(t) AS BIGINT) AS n,
      |              CAST(sum(CAST(t*t*t - t AS HUGEINT)) AS DOUBLE) AS tie3
      |       FROM (SELECT count(*) AS t FROM f GROUP BY x)),
      |g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_k,
      |             CAST(sum(r2) AS BIGINT) AS r2sum
      |      FROM r GROUP BY source)
      |SELECT source, n_k, r2sum,
      |       CAST(round((
      |         (CAST(r2sum AS DOUBLE) / 2 - CAST(n_k AS DOUBLE) * (n_k + 1) / 2
      |            - CAST(n_k AS DOUBLE) * (tt.n - n_k) / 2)
      |         / sqrt(CAST(n_k AS DOUBLE) * (tt.n - n_k) / 12.0
      |             * ((tt.n + 1) - tt.tie3 / (CAST(tt.n AS DOUBLE) * (tt.n - 1))))
      |       ) * 1000) AS BIGINT) AS z_milli
      |FROM g CROSS JOIN tt""".stripMargin
  ) { (s, dir) =>
    mannWhitneyReport(t(s, dir, "documents")
      .select(col("source"), col("n_chars").cast(LongType).as("x")))
  }

  /** The one-vs-rest Mann-Whitney core behind q222: `f` is the long
    * (source, x) observation table; returns (source, n_k, r2sum,
    * z_milli). See q222's scaladoc for the shared-ranking and
    * exactness arguments.
    *
    * The tie-averaged rank of a row depends only on its VALUE —
    * doubled, r2(x) = 2·cum(x) − t(x) + 1 where cum is the inclusive
    * count prefix over the value order — so ranking runs at
    * DISTINCT-VALUE grain: one grouped count, one two-phase
    * range-partitioned prefix sum over the value table
    * ([[graft.operators.Ranks.globalRunningSum]] — never a
    * partition-less window over rows), and one hash join of
    * (source, value) counts back onto the value grid. Rows are never
    * globally sorted; only distinct values are. */
  private[graft] def mannWhitneyReport(f: DataFrame): DataFrame = {
    val byVal = f.groupBy("x").agg(count(lit(1)).as("t"))
    val withCum = graft.operators.Ranks.globalRunningSum(
      byVal, Seq(col("x")), col("t"), "cum")
    val r2tab = withCum.select(col("x"),
      (lit(2) * col("cum") - col("t") + 1).cast(LongType).as("r2"))
      .localCheckpoint(true)
    val tt = byVal
      .agg(sum(col("t")).cast(LongType).as("n"),
        sum((col("t") * col("t") * col("t") - col("t"))
          .cast(d38)).cast("double").as("tie3"))
    val nD = col("n_k").cast("double")
    f.groupBy("source", "x").agg(count(lit(1)).as("c"))
      .join(r2tab, Seq("x"))
      .groupBy("source")
      .agg(sum(col("c")).as("n_k"), sum(col("c") * col("r2")).as("r2sum"))
      .crossJoin(broadcast(tt))
      .select(col("source"), col("n_k"), col("r2sum"),
        round((
          (col("r2sum").cast("double") / 2 - nD * (col("n_k") + 1) / 2
            - nD * (col("n") - col("n_k")) / 2)
          / sqrt(nD * (col("n") - col("n_k")) / 12.0
            * ((col("n") + 1) - col("tie3")
              / (col("n").cast("double") * (col("n") - 1))))
        ) * 1000).cast(LongType).as("z_milli"))
  }

  /** q223: WELCH'S T (one-vs-rest, per source) on the same signal —
    * the parametric twin of q222 for mean shift under unequal
    * variances, plus the Satterthwaite effective df. Same one-pass
    * shape: per-source exact moment sums (Σx, Σx² in DECIMAL(38,0) —
    * corpus-scale Σx² overflows BIGINT) and the rest-of-corpus
    * moments by subtraction from the broadcast global row; t and df
    * are single final double expressions from identical exact
    * integers. No window at all — two grouped aggregates and a
    * broadcast. */
  val welchT: Q = Q(
    "q223_welch_t",
    """WITH f AS (SELECT source, CAST(n_chars AS BIGINT) AS x FROM documents),
      |g AS (SELECT source, CAST(count(*) AS BIGINT) AS n1,
      |             CAST(sum(x) AS DOUBLE) AS s1,
      |             CAST(sum(CAST(x*x AS HUGEINT)) AS DOUBLE) AS q1
      |      FROM f GROUP BY source),
      |tt AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |              CAST(sum(x) AS DOUBLE) AS s,
      |              CAST(sum(CAST(x*x AS HUGEINT)) AS DOUBLE) AS q
      |       FROM f),
      |w AS (SELECT source, n1, CAST(tt.n - n1 AS BIGINT) AS n2,
      |             s1 / n1 AS m1, (tt.s - s1) / (tt.n - n1) AS m2,
      |             (q1 - s1 * s1 / n1) / (n1 - 1) AS v1,
      |             ((tt.q - q1) - (tt.s - s1) * (tt.s - s1) / (tt.n - n1))
      |               / (tt.n - n1 - 1) AS v2
      |      FROM g CROSS JOIN tt)
      |SELECT source, n1, n2,
      |       CAST(round((m1 - m2) / sqrt(v1 / n1 + v2 / n2) * 1000)
      |         AS BIGINT) AS t_milli,
      |       CAST(round((v1 / n1 + v2 / n2) * (v1 / n1 + v2 / n2)
      |           / ((v1 / n1) * (v1 / n1) / (n1 - 1)
      |              + (v2 / n2) * (v2 / n2) / (n2 - 1)) * 1000)
      |         AS BIGINT) AS df_milli
      |FROM w""".stripMargin
  ) { (s, dir) =>
    welchReport(t(s, dir, "documents")
      .select(col("source"), col("n_chars").cast(LongType).as("x")))
  }

  /** The one-vs-rest Welch core behind q223: `f` is the long
    * (source, x) observation table; returns (source, n1, n2, t_milli,
    * df_milli). See q223's scaladoc. */
  private[graft] def welchReport(f: DataFrame): DataFrame = {
    val g = f.groupBy("source").agg(count(lit(1)).as("n1"),
      sum(col("x").cast(d38)).cast("double").as("s1"),
      sum((col("x") * col("x")).cast(d38)).cast("double").as("q1"))
    val tt = f.agg(count(lit(1)).as("n"),
      sum(col("x").cast(d38)).cast("double").as("s"),
      sum((col("x") * col("x")).cast(d38)).cast("double").as("q"))
    val w = g.crossJoin(broadcast(tt))
      .select(col("source"), col("n1"),
        (col("n") - col("n1")).cast(LongType).as("n2"),
        (col("s1") / col("n1")).as("m1"),
        ((col("s") - col("s1")) / (col("n") - col("n1"))).as("m2"),
        ((col("q1") - col("s1") * col("s1") / col("n1")) / (col("n1") - 1))
          .as("v1"),
        (((col("q") - col("q1")) - (col("s") - col("s1"))
          * (col("s") - col("s1")) / (col("n") - col("n1")))
          / (col("n") - col("n1") - 1)).as("v2"))
    val se2 = col("v1") / col("n1") + col("v2") / col("n2")
    w.select(col("source"), col("n1"), col("n2"),
      round((col("m1") - col("m2")) / sqrt(se2) * 1000)
        .cast(LongType).as("t_milli"),
      round(se2 * se2
          / ((col("v1") / col("n1")) * (col("v1") / col("n1")) / (col("n1") - 1)
            + (col("v2") / col("n2")) * (col("v2") / col("n2")) / (col("n2") - 1))
        * 1000).cast(LongType).as("df_milli"))
  }

  /** q228: KAPLAN-MEIER survival of signup→first-purchase conversion,
    * cohorted by signup weekday with ADMINISTRATIVE censoring at a
    * 3-day horizon — the survival-analysis member of the inference
    * family: "how fast do cohorts convert, counting the users who
    * haven't yet?" (a plain conversion rate silently drops them).
    * Durations are exact epoch-nanos day floors; each cohort's
    * day-grain (dur, deaths, censored) grid is horizon-bounded
    * (≤ horizon+1 rows — the q208 calendar-bounded-fold discipline),
    * so the KM product folds per cohort inside one `aggregate` HOF:
    * s ← ⌊s·(n−d)/n⌋ in exact ppm integer arithmetic (the division is
    * a DECIMAL(38,0) exact floor, never a 2⁵³-lossy double), with the
    * risk set carried as n ← n−d−c. Censor-only days multiply by
    * n/n = 1 exactly, so gaps and event-free days cannot drift the
    * curve. The oracle states the identical recurrence as a recursive
    * CTE over the same grid.
    *
    * Shape: two user-grain aggregates (first signup, first purchase
    * after it) joined on user_id, one grouped grid, one fold over
    * ≤ 4 rows per cohort — no window wider than a cohort, nothing
    * collected beyond the 7×4 grid. */
  /** The cohorted KM CTE chain shared by q228's oracle and the q314
    * RMST oracle (one definition — the [[CurationQueries.predictorCte]]
    * no-drift rule): the recursive product-limit fold ends in `r`
    * carrying (cohort, rn, dur, d, c, n_at_risk, s_ppm). */
  private[graft] val kmCtes: String =
    """WITH RECURSIVE s AS (SELECT user_id, min(ts) AS t0 FROM events
      |           WHERE event_type = 'signup' GROUP BY user_id),
      |wend AS (SELECT max(ts) AS tmax FROM events),
      |p AS (SELECT e.user_id, min(e.ts) AS tp
      |      FROM events e JOIN s ON e.user_id = s.user_id
      |      WHERE e.event_type = 'purchase' AND e.ts > s.t0
      |      GROUP BY e.user_id),
      |raw AS (SELECT s.user_id, CAST(dayofweek(s.t0) AS BIGINT) AS cohort,
      |             CASE WHEN p.tp IS NULL THEN 0 ELSE 1 END AS ev0,
      |             CAST((epoch_ns(coalesce(p.tp, wend.tmax)) - epoch_ns(s.t0))
      |                  // 86400000000000 AS BIGINT) AS dur0
      |      FROM s LEFT JOIN p USING (user_id) CROSS JOIN wend),
      |h AS (SELECT cohort,
      |             CASE WHEN ev0 = 1 AND dur0 <= 3 THEN 1 ELSE 0 END AS ev,
      |             least(dur0, 3) AS dur
      |      FROM raw),
      |grid AS (SELECT cohort, dur, CAST(sum(ev) AS BIGINT) AS d,
      |                CAST(sum(1 - ev) AS BIGINT) AS c,
      |                row_number() OVER (PARTITION BY cohort ORDER BY dur)
      |                  AS rn
      |         FROM h GROUP BY cohort, dur),
      |tot AS (SELECT cohort, CAST(count(*) AS BIGINT) AS n0
      |        FROM h GROUP BY cohort),
      |r AS (
      |  SELECT grid.cohort, grid.rn, grid.dur, grid.d, grid.c,
      |         tot.n0 AS n_at_risk,
      |         (1000000 * (tot.n0 - grid.d)) // tot.n0 AS s_ppm
      |  FROM grid JOIN tot USING (cohort) WHERE grid.rn = 1
      |  UNION ALL
      |  SELECT grid.cohort, grid.rn, grid.dur, grid.d, grid.c,
      |         r.n_at_risk - r.d - r.c AS n_at_risk,
      |         (r.s_ppm * ((r.n_at_risk - r.d - r.c) - grid.d))
      |            // (r.n_at_risk - r.d - r.c) AS s_ppm
      |  FROM r JOIN grid ON grid.cohort = r.cohort AND grid.rn = r.rn + 1)""".stripMargin

  val kaplanMeier: Q = Q(
    "q228_kaplan_meier",
    kmCtes + """
      |SELECT cohort, dur, d, c, n_at_risk, CAST(s_ppm AS BIGINT) AS s_ppm
      |FROM r""".stripMargin
  ) { (s, dir) =>
    kaplanMeierReport(t(s, dir, "events"), horizonDays = 3)
  }

  /** Shared survival-duration builder (q228 KM + q229 log-rank):
    * per signup user, the signup weekday (0=Sunday), whether the
    * first subsequent purchase landed within `horizonDays` (ev), and
    * the horizon-censored duration in exact day floors. */
  private def survivalDurations(events: DataFrame,
      horizonDays: Int): DataFrame = {
    require(horizonDays >= 1, s"horizon must be >= 1, got $horizonDays")
    val s0 = events.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min(col("ts")).as("t0"),
        min(col("ts_ns")).as("t0_ns"))
    val wend = events.agg(max(col("ts_ns")).as("tmax_ns"))
    val p = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_ns"))
      .join(s0.select("user_id", "t0_ns"), Seq("user_id"))
      .filter(col("ts_ns") > col("t0_ns"))
      .groupBy("user_id").agg(min(col("ts_ns")).as("tp_ns"))
    s0.join(p, Seq("user_id"), "left")
      .crossJoin(broadcast(wend))
      .select(
        (dayofweek(col("t0")) - 1).cast(LongType).as("dow"),
        when(col("tp_ns").isNull, 0L).otherwise(1L).as("ev0"),
        expr("(coalesce(tp_ns, tmax_ns) - t0_ns) div 86400000000000")
          .cast(LongType).as("dur0"))
      .select(col("dow"),
        when(col("ev0") === 1 && col("dur0") <= horizonDays, 1L)
          .otherwise(0L).as("ev"),
        least(col("dur0"), lit(horizonDays.toLong)).as("dur"))
  }

  /** The KM core behind q228 (also the spec's hand-case entry):
    * cohorted administrative-censoring KM over an events table with
    * (user_id, ts/ts_ns, event_type). See q228's scaladoc. */
  private[graft] def kaplanMeierReport(events: DataFrame,
      horizonDays: Int): DataFrame = {
    val h = survivalDurations(events, horizonDays)
      .select(col("dow").as("cohort"), col("ev"), col("dur"))
    val grid = h.groupBy("cohort", "dur")
      .agg(sum(col("ev")).as("d"), sum(lit(1L) - col("ev")).as("c"))
    // exact ppm floor-div inside the fold: longs wrap past 2^63 and
    // doubles lose bits past 2^53, so the quotient computes in
    // DECIMAL(38,0) — exact for cohorts up to 10^31 users
    def divQ(a: Column, b: Column): Column =
      ((a - pmod(a, b)).cast(d38) / b.cast(d38)).cast(LongType)
    val stepT = "array<struct<dur:bigint,d:bigint,c:bigint," +
      "n_at_risk:bigint,s_ppm:bigint,n_next:bigint>>"
    grid.groupBy("cohort")
      .agg(sort_array(collect_list(struct(col("dur"), col("d"), col("c"))))
          .as("sd"),
        sum(col("d") + col("c")).as("n0"))
      .withColumn("ks", aggregate(col("sd"), array().cast(stepT),
        (acc, x) => {
          val prev = element_at(acc, -1)
          val n = when(size(acc) === 0, col("n0"))
            .otherwise(prev.getField("n_next"))
          val sPrev = when(size(acc) === 0, lit(1000000L))
            .otherwise(prev.getField("s_ppm"))
          val sNew = divQ(sPrev * (n - x.getField("d")), n)
          concat(acc, array(struct(
            x.getField("dur").as("dur"), x.getField("d").as("d"),
            x.getField("c").as("c"), n.as("n_at_risk"),
            sNew.as("s_ppm"),
            (n - x.getField("d") - x.getField("c")).as("n_next"))))
        }))
      .select(col("cohort"), explode(col("ks")).as("k"))
      .select(col("cohort"), col("k.dur").as("dur"), col("k.d").as("d"),
        col("k.c").as("c"), col("k.n_at_risk").as("n_at_risk"),
        col("k.s_ppm").as("s_ppm"))
  }

  /** The pooled-risk-set CTE chain shared by q229's oracle and the
    * q321 Gehan-Breslow oracle (one definition — the
    * [[CurationQueries.predictorCte]] no-drift rule): ends in `ns`
    * carrying (dur, d1, d, n1, n) — per event day, group-1 deaths,
    * pooled deaths, and the two suffix-sum risk sets. */
  private[graft] val logRankCtes: String =
    """WITH s AS (SELECT user_id, min(ts) AS t0 FROM events
      |           WHERE event_type = 'signup' GROUP BY user_id),
      |wend AS (SELECT max(ts) AS tmax FROM events),
      |p AS (SELECT e.user_id, min(e.ts) AS tp
      |      FROM events e JOIN s ON e.user_id = s.user_id
      |      WHERE e.event_type = 'purchase' AND e.ts > s.t0
      |      GROUP BY e.user_id),
      |raw AS (SELECT s.user_id,
      |             CASE WHEN dayofweek(s.t0) IN (0, 6) THEN 1 ELSE 0 END
      |               AS grp,
      |             CASE WHEN p.tp IS NULL THEN 0 ELSE 1 END AS ev0,
      |             CAST((epoch_ns(coalesce(p.tp, wend.tmax))
      |                   - epoch_ns(s.t0)) // 86400000000000 AS BIGINT)
      |               AS dur0
      |      FROM s LEFT JOIN p USING (user_id) CROSS JOIN wend),
      |h AS (SELECT grp,
      |             CASE WHEN ev0 = 1 AND dur0 <= 7 THEN 1 ELSE 0 END AS ev,
      |             least(dur0, 7) AS dur FROM raw),
      |g AS (SELECT dur,
      |        CAST(sum(CASE WHEN grp = 1 THEN ev ELSE 0 END) AS BIGINT) AS d1,
      |        CAST(sum(ev) AS BIGINT) AS d,
      |        CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS r1,
      |        CAST(count(*) AS BIGINT) AS r
      |      FROM h GROUP BY dur),
      |ns AS (SELECT dur, d1, d,
      |         CAST(sum(r1) OVER (ORDER BY dur DESC ROWS BETWEEN UNBOUNDED
      |              PRECEDING AND CURRENT ROW) AS BIGINT) AS n1,
      |         CAST(sum(r) OVER (ORDER BY dur DESC ROWS BETWEEN UNBOUNDED
      |              PRECEDING AND CURRENT ROW) AS BIGINT) AS n
      |       FROM g)""".stripMargin

  /** q229: LOG-RANK test between the weekend-signup and
    * weekday-signup survival curves (7-day horizon) — the hypothesis
    * test that belongs with q228's estimate: "are those two KM curves
    * actually different?" At each event day, group 1's observed
    * deaths compare against the hypergeometric expectation
    * d·n₁/n given the pooled risk set, with variance
    * d·(n₁/n)·(1−n₁/n)·(n−d)/(n−1); z = Σ(O−E)/√ΣV. The day grid is
    * horizon-bounded, so the risk-set suffix sums ride the SAME
    * aggregate-HOF fold as q228 — ascending with n(t) = N − prefix of
    * removals, never a window (the oracle may window its 8-row grid
    * freely). Per-day O−E and V micro-quantize from exact integers;
    * the two sums are order-immune BIGINTs; z is one final double. */
  val logRank: Q = Q(
    "q229_logrank_test",
    logRankCtes + """,
      |x AS (SELECT dur, d1, d, n1, n,
      |        d1 - CAST(d AS DOUBLE) * n1 / n AS ome,
      |        CASE WHEN n <= 1 THEN 0.0
      |             ELSE CAST(d AS DOUBLE) * n1 / n * (n - n1) / n
      |                  * (n - d) / (n - 1) END AS v
      |      FROM ns WHERE d > 0),
      |agg AS (SELECT
      |          CAST(sum(CAST(round(ome * 1000000) AS BIGINT)) AS BIGINT)
      |            AS ome_u6,
      |          CAST(sum(CAST(round(v * 1000000) AS BIGINT)) AS BIGINT)
      |            AS var_u6,
      |          CAST(sum(d) AS BIGINT) AS n_events
      |        FROM x)
      |SELECT n_events, ome_u6, var_u6,
      |       CAST(round(ome_u6 / sqrt(CAST(var_u6 AS DOUBLE) * 1000000)
      |           * 1000) AS BIGINT) AS z_milli
      |FROM agg""".stripMargin
  ) { (s, dir) =>
    logRankReport(survivalDurations(t(s, dir, "events"), horizonDays = 7)
      .select(when(col("dow").isin(0L, 6L), 1L).otherwise(0L).as("grp"),
        col("ev"), col("dur")))
  }

  /** The log-rank core behind q229 (also the spec's hand-case entry):
    * `h` is the per-subject (grp ∈ {0,1}, ev ∈ {0,1}, dur) table.
    * See q229's scaladoc. */
  private[graft] def logRankReport(h: DataFrame,
      gehan: Boolean = false): DataFrame = {
    val g = h.groupBy("dur").agg(
      sum(when(col("grp") === 1, col("ev")).otherwise(0L)).as("d1"),
      sum(col("ev")).as("d"),
      sum(when(col("grp") === 1, 1L).otherwise(0L)).as("r1"),
      count(lit(1)).as("r"))
    // horizon-bounded grid -> one global fold carrying the ASCENDING
    // removal prefix: n(t) = N - prefix_{<t}(r), n1(t) likewise
    val stepT = "array<struct<ome_u6:bigint,v_u6:bigint,d:bigint," +
      "cum_r1:bigint,cum_r:bigint>>"
    g.groupBy()
      .agg(sort_array(collect_list(
          struct(col("dur"), col("d1"), col("d"), col("r1"), col("r"))))
          .as("sd"),
        sum(col("r1")).as("tot1"), sum(col("r")).as("tot"))
      .withColumn("ks", aggregate(col("sd"), array().cast(stepT),
        (acc, x) => {
          val prev = element_at(acc, -1)
          val cumR1 = when(size(acc) === 0, lit(0L))
            .otherwise(prev.getField("cum_r1"))
          val cumR = when(size(acc) === 0, lit(0L))
            .otherwise(prev.getField("cum_r"))
          val n1 = col("tot1") - cumR1
          val n = col("tot") - cumR
          val d = x.getField("d")
          val d1 = x.getField("d1")
          // Gehan-Breslow weights each day by the NORMALIZED pooled
          // risk set n/N (the N-divide keeps the micro-quantized sums
          // at q229's int64 headroom; z is invariant to it)
          val wgt = if (gehan) n.cast("double") / col("tot") else lit(1.0)
          val ome = (d1 - d.cast("double") * n1 / n) * wgt
          val v = when(n <= 1, lit(0.0))
            .otherwise(d.cast("double") * n1 / n * (n - n1) / n
              * (n - d) / (n - 1)) * wgt * wgt
          concat(acc, array(struct(
            when(d > 0, round(ome * 1000000).cast(LongType))
              .otherwise(0L).as("ome_u6"),
            when(d > 0, round(v * 1000000).cast(LongType))
              .otherwise(0L).as("v_u6"),
            d.as("d"),
            (cumR1 + x.getField("r1")).as("cum_r1"),
            (cumR + x.getField("r")).as("cum_r"))))
        }))
      .select(
        aggregate(col("ks"), lit(0L), (a, x) => a + x.getField("d"))
          .as("n_events"),
        aggregate(col("ks"), lit(0L), (a, x) => a + x.getField("ome_u6"))
          .as("ome_u6"),
        aggregate(col("ks"), lit(0L), (a, x) => a + x.getField("v_u6"))
          .as("var_u6"))
      .select(col("n_events"), col("ome_u6"), col("var_u6"),
        round(col("ome_u6") / sqrt(col("var_u6").cast("double") * 1000000)
          * 1000).cast(LongType).as("z_milli"))
  }

  /** q262: ORDINARY LEAST SQUARES trend per event type over the daily
    * count series — the regr_slope/regr_intercept/regr_r2 surface the
    * smoothing family (EWMA q141, Holt q208) and the robust estimators
    * (Sen q247, Mann-Kendall q246) sit beside: the parametric fit with
    * its variance-explained number. All five moment sums (Σx, Σy, Σxy,
    * Σx², Σy²) accumulate as exact BIGINTs (x = epoch day ≈ 2·10⁴,
    * worst products ~10¹⁶, far inside int64), so slope, the fitted
    * value AT the series' first day (reported instead of the silly
    * epoch-0 intercept; still one closed form over the same sums:
    * (ΣyΣx² − ΣxΣxy + num·x₀)/den), and R² = num²/(denₓ·den_y) are
    * each ONE fixed-shape double expression over identical exact
    * integers — the q112 discipline, so the ppm outputs hash-oracle.
    *
    * Scale shape: one map-side-combinable aggregation to day grain,
    * one to type grain; no window, no sort, no join. The moment sums
    * are the classic distributive-aggregate trick — this is how a
    * 100 TB regression runs in one pass. */
  val olsTrend: Q = Q(
    "q262_ols_trend",
    """WITH c AS (SELECT event_type,
      |             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
      |               AS x,
      |             CAST(count(*) AS BIGINT) AS y
      |           FROM events GROUP BY 1, 2),
      |s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |        CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |        CAST(sum(x * y) AS BIGINT) AS sxy,
      |        CAST(sum(x * x) AS BIGINT) AS sxx,
      |        CAST(sum(y * y) AS BIGINT) AS syy,
      |        CAST(min(x) AS BIGINT) AS x0
      |      FROM c GROUP BY 1)
      |SELECT event_type, n,
      |  CAST(round(1000000.0 * (n*sxy - sx*sy) / (n*sxx - sx*sx))
      |    AS BIGINT) AS slope_ppm,
      |  CAST(round(1000000.0 * ((sy*sxx - sx*sxy) + (n*sxy - sx*sy) * x0)
      |    / (n*sxx - sx*sx)) AS BIGINT) AS fit0_ppm,
      |  CAST(round(1000000.0
      |    * (CAST(n*sxy - sx*sy AS DOUBLE) * (n*sxy - sx*sy))
      |    / (CAST(n*sxx - sx*sx AS DOUBLE) * (n*syy - sy*sy)))
      |    AS BIGINT) AS r2_ppm
      |FROM s WHERE n >= 2""".stripMargin
  ) { (s, dir) =>
    val c = t(s, dir, "events")
      .select(col("event_type"),
        datediff(to_date(timestamp_millis(expr("ts_ns div 1000000"))),
          lit(java.sql.Date.valueOf("1970-01-01"))).cast(LongType).as("x"))
      .groupBy("event_type", "x").agg(count(lit(1)).as("y"))
    olsReport(c)
  }

  /** The moment-sum → (slope, fit-at-x₀, R²) closed forms of q262 over
    * any (event_type, x, y) frame of exact integers — factored for the
    * hand-case spec. */
  def olsReport(c: DataFrame): DataFrame =
    c.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        min(col("x")).as("x0"))
      .filter(col("n") >= 2)
      .select(col("event_type"), col("n"),
        expr("CAST(round(1000000.0 * (n*sxy - sx*sy) / (n*sxx - sx*sx)) " +
          "AS BIGINT)").as("slope_ppm"),
        expr("CAST(round(1000000.0 * ((sy*sxx - sx*sxy) " +
          "+ (n*sxy - sx*sy) * x0) / (n*sxx - sx*sx)) AS BIGINT)")
          .as("fit0_ppm"),
        expr("CAST(round(1000000.0 " +
          "* (CAST(n*sxy - sx*sy AS DOUBLE) * (n*sxy - sx*sy)) " +
          "/ (CAST(n*sxx - sx*sx AS DOUBLE) * (n*syy - sy*sy))) AS BIGINT)")
          .as("r2_ppm"))

  /** q271: CLIFF'S DELTA — the nonparametric effect size the q222
    * Mann-Whitney TEST needs as its companion (a p-value says "the
    * weekend/weekday order-value distributions differ"; δ says by how
    * much, robustly): δ = (#{a>b} − #{a<b}) / (n_a·n_b) over all
    * cross-group pairs. Pairs count at DISTINCT-VALUE grain (the q222/
    * q231 discipline): with per-value histograms, #{a>b} = Σ_v
    * a(v)·cumB(<v) off ONE range-partitioned prefix sum — never a
    * pair join, never a global window; ties close the count exactly
    * (lt = n_a·n_b − gt − ties). δ can be NEGATIVE, so it quantizes
    * via one fixed-shape round(x/y) of exact integers, not a floor
    * division (the q263 Spark-div-vs-DuckDB-floor trap). */
  val cliffsDelta: Q = Q(
    "q271_cliffs_delta",
    """WITH o AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
      |             CASE WHEN dayofweek(o_orderdate) IN (0, 6)
      |               THEN 1 ELSE 0 END AS wk
      |           FROM orders),
      |h AS (SELECT v, CAST(sum(wk) AS BIGINT) AS b_cnt,
      |        CAST(sum(1 - wk) AS BIGINT) AS a_cnt
      |      FROM o GROUP BY v),
      |c AS (SELECT v, a_cnt, b_cnt,
      |        CAST(sum(b_cnt) OVER (ORDER BY v) AS BIGINT) AS cum_b
      |      FROM h),
      |t AS (SELECT CAST(sum(a_cnt) AS BIGINT) AS n_a,
      |             CAST(sum(b_cnt) AS BIGINT) AS n_b FROM h),
      |agg AS (SELECT
      |    CAST(sum(a_cnt * (cum_b - b_cnt)) AS BIGINT) AS gt,
      |    CAST(sum(a_cnt * b_cnt) AS BIGINT) AS ties
      |  FROM c)
      |SELECT t.n_a, t.n_b, agg.gt,
      |       t.n_a * t.n_b - agg.gt - agg.ties AS lt, agg.ties,
      |       CAST(round(1000000.0
      |         * (agg.gt - (t.n_a * t.n_b - agg.gt - agg.ties))
      |         / (t.n_a * t.n_b)) AS BIGINT) AS cliffs_delta_ppm
      |FROM agg CROSS JOIN t""".stripMargin
  ) { (s, dir) =>
    import graft.operators.Ranks
    val o = t(s, dir, "orders")
      .select(expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("v"),
        when(dayofweek(col("o_orderdate")).isin(1, 7), 1L)
          .otherwise(0L).as("wk"))
    val h = o.groupBy("v")
      .agg(sum(col("wk")).as("b_cnt"),
        sum(lit(1L) - col("wk")).as("a_cnt"))
    val c = Ranks.globalRunningSums(h, Seq(col("v").asc),
      Seq(col("b_cnt") -> "cum_b"))
    val tot = h.agg(sum(col("a_cnt")).as("n_a"), sum(col("b_cnt")).as("n_b"))
    c.agg(sum(col("a_cnt") * (col("cum_b") - col("b_cnt"))).as("gt"),
        sum(col("a_cnt") * col("b_cnt")).as("ties"))
      .crossJoin(broadcast(tot))
      .select(col("n_a"), col("n_b"), col("gt"),
        expr("n_a * n_b - gt - ties").as("lt"), col("ties"),
        expr("CAST(round(1000000.0 * (gt - (n_a * n_b - gt - ties)) " +
          "/ (n_a * n_b)) AS BIGINT)").as("cliffs_delta_ppm"))
  }

  /** q272: NELSON-AALEN cumulative hazard — q228's estimator twin
    * from the other direction (KM multiplies survival, NA sums
    * hazard; −ln(KM) ≈ NA, and NA is the one that decomposes into
    * per-day increments a dashboard plots): H(t) = Σ_{dur ≤ t} d/n
    * over the SAME cohorted, horizon-censored duration frame
    * (`survivalDurations`). Every increment is one exact integral
    * floor division (10⁶·d // n — nonneg, so Spark div == DuckDB //)
    * and the cumulative sum is exact integer addition inside the same
    * ordered fold q228 uses, with the risk set decremented by d + c
    * per step. Oracle = the identical recursive-CTE recurrence. */
  val nelsonAalen: Q = Q(
    "q272_nelson_aalen",
    """WITH RECURSIVE s AS (SELECT user_id, min(ts) AS t0 FROM events
      |           WHERE event_type = 'signup' GROUP BY user_id),
      |wend AS (SELECT max(ts) AS tmax FROM events),
      |p AS (SELECT e.user_id, min(e.ts) AS tp
      |      FROM events e JOIN s ON e.user_id = s.user_id
      |      WHERE e.event_type = 'purchase' AND e.ts > s.t0
      |      GROUP BY e.user_id),
      |raw AS (SELECT s.user_id, CAST(dayofweek(s.t0) AS BIGINT) AS cohort,
      |             CASE WHEN p.tp IS NULL THEN 0 ELSE 1 END AS ev0,
      |             CAST((epoch_ns(coalesce(p.tp, wend.tmax)) - epoch_ns(s.t0))
      |                  // 86400000000000 AS BIGINT) AS dur0
      |      FROM s LEFT JOIN p USING (user_id) CROSS JOIN wend),
      |h AS (SELECT cohort,
      |             CASE WHEN ev0 = 1 AND dur0 <= 3 THEN 1 ELSE 0 END AS ev,
      |             least(dur0, 3) AS dur
      |      FROM raw),
      |grid AS (SELECT cohort, dur, CAST(sum(ev) AS BIGINT) AS d,
      |                CAST(sum(1 - ev) AS BIGINT) AS c,
      |                row_number() OVER (PARTITION BY cohort ORDER BY dur)
      |                  AS rn
      |         FROM h GROUP BY cohort, dur),
      |tot AS (SELECT cohort, CAST(count(*) AS BIGINT) AS n0
      |        FROM h GROUP BY cohort),
      |r AS (
      |  SELECT grid.cohort, grid.rn, grid.dur, grid.d,
      |         tot.n0 AS n_at_risk,
      |         (1000000 * grid.d) // tot.n0 AS h_u6,
      |         tot.n0 - grid.d - grid.c AS n_next
      |  FROM grid JOIN tot USING (cohort) WHERE grid.rn = 1
      |  UNION ALL
      |  SELECT grid.cohort, grid.rn, grid.dur, grid.d,
      |         r.n_next AS n_at_risk,
      |         r.h_u6 + (1000000 * grid.d) // r.n_next AS h_u6,
      |         r.n_next - grid.d - grid.c AS n_next
      |  FROM r JOIN grid ON grid.cohort = r.cohort AND grid.rn = r.rn + 1)
      |SELECT cohort, dur, d, n_at_risk, CAST(h_u6 AS BIGINT) AS h_u6
      |FROM r""".stripMargin
  ) { (s, dir) =>
    nelsonAalenReport(t(s, dir, "events"), horizonDays = 3)
  }

  /** The NA core behind q272 (spec hand-case entry): cumulative
    * hazard over the same frame as [[kaplanMeierReport]]. */
  private[graft] def nelsonAalenReport(events: DataFrame,
      horizonDays: Int): DataFrame = {
    val h = survivalDurations(events, horizonDays)
      .select(col("dow").as("cohort"), col("ev"), col("dur"))
    val grid = h.groupBy("cohort", "dur")
      .agg(sum(col("ev")).as("d"), sum(lit(1L) - col("ev")).as("c"))
    val stepT = "array<struct<dur:bigint,d:bigint," +
      "n_at_risk:bigint,h_u6:bigint,n_next:bigint>>"
    grid.groupBy("cohort")
      .agg(sort_array(collect_list(struct(col("dur"), col("d"), col("c"))))
          .as("sd"),
        sum(col("d") + col("c")).as("n0"))
      .withColumn("ks", aggregate(col("sd"), array().cast(stepT),
        (acc, x) => {
          val prev = element_at(acc, -1)
          val n = when(size(acc) === 0, col("n0"))
            .otherwise(prev.getField("n_next"))
          val hPrev = when(size(acc) === 0, lit(0L))
            .otherwise(prev.getField("h_u6"))
          // exact integral quotient: subtract the remainder first, then
          // the double division of exactly-divisible longs (quotient
          // ≤ 10^6 ≪ 2^53) is exact — Column./ alone would round-to-
          // nearest and a truncating cast could land one off the floor
          val q = lit(1000000L) * x.getField("d")
          val hNew = hPrev + ((q - pmod(q, n)) / n).cast(LongType)
          concat(acc, array(struct(
            x.getField("dur").as("dur"), x.getField("d").as("d"),
            n.as("n_at_risk"),
            hNew.cast(LongType).as("h_u6"),
            (n - x.getField("d") - x.getField("c")).as("n_next"))))
        }))
      .select(col("cohort"), explode(col("ks")).as("k"))
      .select(col("cohort"), col("k.dur").as("dur"), col("k.d").as("d"),
        col("k.n_at_risk").as("n_at_risk"), col("k.h_u6").as("h_u6"))
  }

  /** q274: CUPED variance reduction (Deng et al. 2013) — the
    * experimentation-analytics staple the test family (q222/q223)
    * leads into: adjust each user's post-period metric y by their
    * PRE-period covariate x, ŷ = y − θ(x − x̄) with θ = cov(x,y)/var(x),
    * so the group-mean comparison sheds the variance x explains. The
    * harness: pre/post = the corpus' first/second half by time
    * (mid = mn + (mx−mn)/2 in exact epoch-nanos — written that way
    * because mn+mx overflows int64), "assignment" = user_id parity (a
    * synthetic A/B split exercising the METHOD — the scaladoc makes no
    * causal claim). All five moments are exact BIGINTs off one
    * user-grain aggregation; θ and the adjusted means are fixed-shape
    * doubles over identical integers on both engines (the q262
    * discipline), reported in milli.
    *
    * Scale shape: one events scan → user grain (map-side combine),
    * then a 2-row group frame × a 1-row moment frame — nothing after
    * the first aggregation scales with events. */
  val cuped: Q = Q(
    "q274_cuped",
    """WITH bnd AS (SELECT min(epoch_ns(ts)) AS mn, max(epoch_ns(ts)) AS mx
      |             FROM events),
      |u AS (SELECT user_id, user_id % 2 AS grp,
      |        CAST(sum(CASE WHEN epoch_ns(ts) <
      |              bnd.mn + (bnd.mx - bnd.mn) // 2
      |            THEN 1 ELSE 0 END) AS BIGINT) AS x,
      |        CAST(sum(CASE WHEN epoch_ns(ts) >=
      |              bnd.mn + (bnd.mx - bnd.mn) // 2
      |            THEN 1 ELSE 0 END) AS BIGINT) AS y
      |      FROM events CROSS JOIN bnd GROUP BY 1, 2),
      |g AS (SELECT grp, CAST(count(*) AS BIGINT) AS ng,
      |        CAST(sum(x) AS BIGINT) AS sxg, CAST(sum(y) AS BIGINT) AS syg
      |      FROM u GROUP BY 1),
      |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |        CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |        CAST(sum(x * y) AS BIGINT) AS sxy,
      |        CAST(sum(x * x) AS BIGINT) AS sxx
      |      FROM u)
      |SELECT g.grp, g.ng,
      |  CAST(round(1000.0 * CAST(g.syg AS DOUBLE) / g.ng) AS BIGINT)
      |    AS raw_mean_milli,
      |  CAST(round(1000.0 * (CAST(g.syg AS DOUBLE) / g.ng
      |    - (CAST(m.n*m.sxy - m.sx*m.sy AS DOUBLE) / (m.n*m.sxx - m.sx*m.sx))
      |      * (CAST(g.sxg AS DOUBLE) / g.ng - CAST(m.sx AS DOUBLE) / m.n)))
      |    AS BIGINT) AS cuped_mean_milli,
      |  CAST(round(1000.0 * CAST(m.n*m.sxy - m.sx*m.sy AS DOUBLE)
      |    / (m.n*m.sxx - m.sx*m.sx)) AS BIGINT) AS theta_milli
      |FROM g CROSS JOIN m""".stripMargin
  ) { (s, dir) =>
    val u = t(s, dir, "events")
      .select(col("user_id"), col("ts_ns"))
      .crossJoin(broadcast(t(s, dir, "events")
        .agg(min(col("ts_ns")).as("mn"), max(col("ts_ns")).as("mx"))))
      .groupBy(col("user_id"), expr("user_id % 2").as("grp"))
      .agg(
        sum(when(col("ts_ns") < expr("mn + (mx - mn) div 2"), 1L)
          .otherwise(0L)).as("x"),
        sum(when(col("ts_ns") >= expr("mn + (mx - mn) div 2"), 1L)
          .otherwise(0L)).as("y"))
    val g = u.groupBy("grp").agg(count(lit(1)).as("ng"),
      sum(col("x")).as("sxg"), sum(col("y")).as("syg"))
    val m = u.agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"))
    g.crossJoin(broadcast(m))
      .select(col("grp"), col("ng"),
        expr("CAST(round(1000.0 * CAST(syg AS DOUBLE) / ng) AS BIGINT)")
          .as("raw_mean_milli"),
        expr("CAST(round(1000.0 * (CAST(syg AS DOUBLE) / ng " +
          "- (CAST(n*sxy - sx*sy AS DOUBLE) / (n*sxx - sx*sx)) " +
          "* (CAST(sxg AS DOUBLE) / ng - CAST(sx AS DOUBLE) / n))) " +
          "AS BIGINT)").as("cuped_mean_milli"),
        expr("CAST(round(1000.0 * CAST(n*sxy - sx*sy AS DOUBLE) " +
          "/ (n*sxx - sx*sx)) AS BIGINT)").as("theta_milli"))
  }

  /** q277: DIFFERENCE-IN-DIFFERENCES on q274's frame — the other
    * workhorse of observational experiment analytics: the treatment
    * effect as (post − pre) in the treated group MINUS (post − pre) in
    * the control, so any level difference between groups and any
    * common time trend both cancel. Same synthetic-parity assignment
    * and exact-nanos midpoint split as q274 (method harness, no causal
    * claim); the estimate is one fixed-shape double over four exact
    * BIGINT sums and two counts. Output also carries each group's own
    * (post − pre) in milli — the two "trend" legs a DiD reader checks
    * before trusting the difference. */
  val diffInDiff: Q = Q(
    "q277_diff_in_diff",
    """WITH bnd AS (SELECT min(epoch_ns(ts)) AS mn, max(epoch_ns(ts)) AS mx
      |             FROM events),
      |u AS (SELECT user_id, user_id % 2 AS grp,
      |        CAST(sum(CASE WHEN epoch_ns(ts) <
      |              bnd.mn + (bnd.mx - bnd.mn) // 2
      |            THEN 1 ELSE 0 END) AS BIGINT) AS x,
      |        CAST(sum(CASE WHEN epoch_ns(ts) >=
      |              bnd.mn + (bnd.mx - bnd.mn) // 2
      |            THEN 1 ELSE 0 END) AS BIGINT) AS y
      |      FROM events CROSS JOIN bnd GROUP BY 1, 2),
      |g AS (SELECT grp, CAST(count(*) AS BIGINT) AS ng,
      |        CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy
      |      FROM u GROUP BY 1),
      |w AS (SELECT
      |        max(CASE WHEN grp = 1 THEN ng END) AS nt,
      |        max(CASE WHEN grp = 1 THEN sx END) AS sxt,
      |        max(CASE WHEN grp = 1 THEN sy END) AS syt,
      |        max(CASE WHEN grp = 0 THEN ng END) AS nc,
      |        max(CASE WHEN grp = 0 THEN sx END) AS sxc,
      |        max(CASE WHEN grp = 0 THEN sy END) AS syc
      |      FROM g)
      |SELECT nt, nc,
      |  CAST(round(1000.0 * (CAST(syt AS DOUBLE) - sxt) / nt) AS BIGINT)
      |    AS trend_t_milli,
      |  CAST(round(1000.0 * (CAST(syc AS DOUBLE) - sxc) / nc) AS BIGINT)
      |    AS trend_c_milli,
      |  CAST(round(1000.0 * ((CAST(syt AS DOUBLE) - sxt) / nt
      |    - (CAST(syc AS DOUBLE) - sxc) / nc)) AS BIGINT) AS did_milli
      |FROM w""".stripMargin
  ) { (s, dir) =>
    val u = t(s, dir, "events")
      .select(col("user_id"), col("ts_ns"))
      .crossJoin(broadcast(t(s, dir, "events")
        .agg(min(col("ts_ns")).as("mn"), max(col("ts_ns")).as("mx"))))
      .groupBy(col("user_id"), expr("user_id % 2").as("grp"))
      .agg(
        sum(when(col("ts_ns") < expr("mn + (mx - mn) div 2"), 1L)
          .otherwise(0L)).as("x"),
        sum(when(col("ts_ns") >= expr("mn + (mx - mn) div 2"), 1L)
          .otherwise(0L)).as("y"))
    u.groupBy("grp").agg(count(lit(1)).as("ng"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"))
      .agg(
        max(when(col("grp") === 1, col("ng"))).as("nt"),
        max(when(col("grp") === 1, col("sx"))).as("sxt"),
        max(when(col("grp") === 1, col("sy"))).as("syt"),
        max(when(col("grp") === 0, col("ng"))).as("nc"),
        max(when(col("grp") === 0, col("sx"))).as("sxc"),
        max(when(col("grp") === 0, col("sy"))).as("syc"))
      .select(col("nt"), col("nc"),
        expr("CAST(round(1000.0 * (CAST(syt AS DOUBLE) - sxt) / nt) " +
          "AS BIGINT)").as("trend_t_milli"),
        expr("CAST(round(1000.0 * (CAST(syc AS DOUBLE) - sxc) / nc) " +
          "AS BIGINT)").as("trend_c_milli"),
        expr("CAST(round(1000.0 * ((CAST(syt AS DOUBLE) - sxt) / nt " +
          "- (CAST(syc AS DOUBLE) - sxc) / nc)) AS BIGINT)").as("did_milli"))
  }

  /** q278: MEDIAN TIME-TO-CONVERT from the q228 KM curve — the single
    * number a dashboard quotes from the whole curve: the first day the
    * cohort's survival drops to ≤ 50% (exact ppm compare, so "median"
    * is the standard KM-median read-off). Cohorts that never cross
    * within the horizon drop out (their median is right-censored —
    * reporting a number would be wrong, and the absence IS the
    * answer). A 4-line composition over the registered KM machinery —
    * the curve itself is already hash-oracled; this pins the read-off
    * rule on both engines. */
  val medianSurvival: Q = Q(
    "q278_median_survival",
    """WITH RECURSIVE s AS (SELECT user_id, min(ts) AS t0 FROM events
      |           WHERE event_type = 'signup' GROUP BY user_id),
      |wend AS (SELECT max(ts) AS tmax FROM events),
      |p AS (SELECT e.user_id, min(e.ts) AS tp
      |      FROM events e JOIN s ON e.user_id = s.user_id
      |      WHERE e.event_type = 'purchase' AND e.ts > s.t0
      |      GROUP BY e.user_id),
      |raw AS (SELECT s.user_id, CAST(dayofweek(s.t0) AS BIGINT) AS cohort,
      |             CASE WHEN p.tp IS NULL THEN 0 ELSE 1 END AS ev0,
      |             CAST((epoch_ns(coalesce(p.tp, wend.tmax)) - epoch_ns(s.t0))
      |                  // 86400000000000 AS BIGINT) AS dur0
      |      FROM s LEFT JOIN p USING (user_id) CROSS JOIN wend),
      |h AS (SELECT cohort,
      |             CASE WHEN ev0 = 1 AND dur0 <= 3 THEN 1 ELSE 0 END AS ev,
      |             least(dur0, 3) AS dur
      |      FROM raw),
      |grid AS (SELECT cohort, dur, CAST(sum(ev) AS BIGINT) AS d,
      |                CAST(sum(1 - ev) AS BIGINT) AS c,
      |                row_number() OVER (PARTITION BY cohort ORDER BY dur)
      |                  AS rn
      |         FROM h GROUP BY cohort, dur),
      |tot AS (SELECT cohort, CAST(count(*) AS BIGINT) AS n0
      |        FROM h GROUP BY cohort),
      |r AS (
      |  SELECT grid.cohort, grid.rn, grid.dur, grid.d, grid.c,
      |         tot.n0 AS n_at_risk,
      |         (1000000 * (tot.n0 - grid.d)) // tot.n0 AS s_ppm
      |  FROM grid JOIN tot USING (cohort) WHERE grid.rn = 1
      |  UNION ALL
      |  SELECT grid.cohort, grid.rn, grid.dur, grid.d, grid.c,
      |         r.n_at_risk - r.d - r.c AS n_at_risk,
      |         (r.s_ppm * ((r.n_at_risk - r.d - r.c) - grid.d))
      |            // (r.n_at_risk - r.d - r.c) AS s_ppm
      |  FROM r JOIN grid ON grid.cohort = r.cohort AND grid.rn = r.rn + 1)
      |SELECT cohort,
      |       CAST(min(CASE WHEN s_ppm <= 500000 THEN dur END) AS BIGINT)
      |         AS median_dur
      |FROM r GROUP BY cohort
      |HAVING min(CASE WHEN s_ppm <= 500000 THEN dur END) IS NOT NULL"""
      .stripMargin
  ) { (s, dir) =>
    kaplanMeierReport(t(s, dir, "events"), horizonDays = 3)
      .filter(col("s_ppm") <= 500000L)
      .groupBy("cohort").agg(min(col("dur")).as("median_dur"))
  }

  /** q283: BRADLEY-TERRY strength ranking from pairwise comparisons —
    * the preference-learning primitive (RLHF reward modeling ranks
    * completions from exactly this model) run as 8 unrolled
    * minorization-maximization iterations, the q261 integer-iteration
    * technique on a FIXED-POINT system instead of a linear one:
    * wᵢ ← Wᵢ / Σⱼ nᵢⱼ/(wᵢ+wⱼ), renormalized to 10⁶ each step. The
    * games: within an order, the higher-quantity lineitem's brand
    * beats the other's (ties and same-brand pairs skipped); players
    * restricted to brands with ≥1 win AND ≥1 loss (the standard BT
    * support condition). Every step is integer floor division with
    * matched magnitudes (pair terms scale by 10¹², denominators stay
    * ≥ 5·10⁵ because weights floor at 1 ppm via greatest — which also
    * keeps zero-win players from zeroing a later denominator), so 8
    * iterations are bit-reproducible on both engines.
    *
    * Overflow bound (ADVICE r11): the 10¹²-scaled products need their
    * count factors inside int64 — 2⁶³/10¹² ≈ 9.2·10⁶ for the wins and
    * per-pair products, and per-brand TOTAL comparisons ≤ 4 611 686
    * (2⁶²/10¹²·2) so the iteration's summed denominator stays inside
    * int64 even at the weight floor w = 1. Spark wraps int64 silently
    * where DuckDB errors, so the bound is ENFORCED (a loud require on
    * the per-brand comparison total, which dominates both flagged
    * products) — at a scale factor that exceeds it the query dies
    * loudly on BOTH engines instead of silently diverging.
    *
    * Scale shape (reworked for the r11 adjudication): the EXPENSIVE
    * part — per-order comparisons — reduces to unfiltered brand-pair
    * grain (≤ 25·24 rows) in ONE distributed job, and the fixed-point
    * solve runs over that collected kilobyte table on the driver,
    * exactly reproducing the oracle's unrolled integer chain (Long
    * division on positives IS the SQL floor `//`; the membership
    * checks replicate its inner joins). The r10-r11 form iterated via
    * per-step localCheckpoint + broadcast joins and paid ~20
    * eagerly-scheduled jobs of pure overhead — 4.3-7.6 s — for
    * arithmetic on ≤ 625 rows; a 25-unknown solve is driver-sized by
    * construction (the gram-matrix pattern from distributed GLM:
    * reduce to the model grain in-cluster, solve the tiny system
    * locally). At 100 TB only the comparison join grows; the
    * collected grain is still ≤ |brands|². */
  val bradleyTerry: Q = {
    // AS MATERIALIZED everywhere a CTE is referenced twice: DuckDB
    // inlines plain CTEs per reference, so the doubly-referencing
    // iteration chain would otherwise expand ~4^8 plan copies (and
    // re-open the parquet leaves each time) — the same blowup the
    // Spark side's per-iteration localCheckpoint cuts
    val unrolled = (1 to 8).map { k =>
      s"""d$k AS MATERIALIZED (SELECT pr.i AS t,
         |  CAST(sum((1000000000000 * pr.n) // (wi.w + wj.w)) AS BIGINT)
         |    AS den
         |  FROM pr JOIN w${k - 1} wi ON pr.i = wi.t
         |          JOIN w${k - 1} wj ON pr.j = wj.t
         |  GROUP BY 1),
         |r$k AS MATERIALIZED (SELECT d.t, (1000000000000 * wnp.wins) // d.den AS r
         |        FROM d$k d JOIN wnp ON d.t = wnp.t),
         |w$k AS MATERIALIZED (SELECT r.t,
         |  greatest(CAST((1000000 * r.r) // (SELECT sum(r) FROM r$k)
         |    AS BIGINT), 1) AS w
         |  FROM r$k r)""".stripMargin
    }.mkString(",\n")
    Q(
      "q283_bradley_terry",
      s"""WITH li AS (SELECT l_orderkey AS ok, p.p_brand AS b, l_quantity AS q
         |            FROM lineitem JOIN part p ON l_partkey = p_partkey),
         |cmp AS MATERIALIZED (SELECT a.b AS wi, c.b AS lo FROM li a JOIN li c
         |        ON a.ok = c.ok AND a.q > c.q AND a.b <> c.b),
         |wn AS (SELECT wi AS t FROM cmp GROUP BY 1),
         |ls AS (SELECT lo AS t FROM cmp GROUP BY 1),
         |pl AS MATERIALIZED (SELECT wn.t FROM wn JOIN ls USING (t)),
         |prd AS MATERIALIZED (SELECT cmp.wi AS i, cmp.lo AS j,
         |          CAST(count(*) AS BIGINT) AS n
         |        FROM cmp JOIN pl pi ON cmp.wi = pi.t
         |                 JOIN pl pj ON cmp.lo = pj.t
         |        GROUP BY 1, 2),
         |wnp AS MATERIALIZED (SELECT i AS t, CAST(sum(n) AS BIGINT) AS wins
         |        FROM prd GROUP BY 1),
         |pr AS MATERIALIZED (SELECT i, j, CAST(sum(n) AS BIGINT) AS n FROM
         |       (SELECT i, j, n FROM prd
         |        UNION ALL SELECT j AS i, i AS j, n FROM prd) u
         |       GROUP BY 1, 2),
         |w0 AS MATERIALIZED (SELECT t,
         |         CAST(1000000 AS BIGINT) // (SELECT count(*) FROM pl) AS w
         |       FROM pl),
         |$unrolled
         |SELECT w8.t AS brand, coalesce(wnp.wins, 0) AS wins,
         |       w8.w AS strength_ppm
         |FROM w8 LEFT JOIN wnp ON w8.t = wnp.t""".stripMargin
    ) { (s, dir) =>
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey"),
          col("l_quantity").as("q"))
        .join(t(s, dir, "part").select(col("p_partkey"),
          col("p_brand").as("b")), col("l_partkey") === col("p_partkey"))
        .select("ok", "b", "q")
      val cmp = li.as("a")
        .join(li.as("c"),
          col("a.ok") === col("c.ok") && col("a.q") > col("c.q") &&
            col("a.b") =!= col("c.b"))
        .select(col("a.b").as("wi"), col("c.b").as("lo"))
      // ONE distributed job: comparisons reduced to UNFILTERED
      // brand-pair grain (≤ 25·24 rows) and collected. Everything the
      // SQL derives from `cmp` (pl, prd, wnp, pr, the 8 iterations)
      // is exact integer arithmetic over this tiny table, computed in
      // one driver pass below — the r11 adjudication found the
      // broadcast-join iteration paid ~20 eagerly-scheduled jobs of
      // pure overhead for kilobyte frames. The collect is bounded by
      // CONSTRUCTION (brand-pair grain), the same contract as the
      // engine's other serving-sized collects.
      val base = cmp.groupBy(col("wi").as("i"), col("lo").as("j"))
        .agg(count(lit(1)).as("n"))
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      // pl: brands with ≥1 win AND ≥1 loss (the BT support condition)
      val players =
        (base.map(_._1).toSet & base.map(_._2).toSet).toSeq.sorted
      val inPl = players.toSet
      // prd restricted to pl on both sides; wnp and the symmetrized pr
      val prd = base.filter { case (i, j, _) => inPl(i) && inPl(j) }
      val wins = prd.groupBy(_._1).map { case (i, xs) =>
        i -> xs.map(_._3).sum
      }
      val pr = (prd ++ prd.map { case (i, j, n) => (j, i, n) })
        .groupBy { case (i, j, _) => (i, j) }
        .map { case ((i, j), xs) => (i, j, xs.map(_._3).sum) }.toSeq
      val byI = pr.groupBy(_._1)
      // overflow guard (scaladoc): per-brand total comparisons must
      // stay ≤ 2^62/1e12 so every 10¹²-scaled product below fits
      // int64 even at the weight floor w = 1 — enforced loudly, the
      // analog of DuckDB's native BIGINT-overflow error
      byI.foreach { case (i, xs) =>
        val ct = xs.map(_._3).sum
        require(ct <= 4611686L, s"q283: brand $i has $ct comparisons — " +
          "overflows the 1e12 iteration scaling")
      }
      // 8 MM iterations, bit-identical to the SQL's unrolled chain:
      // Long `/` on positives IS the SQL's integer floor `//`, and the
      // membership checks replicate the SQL's inner joins exactly — a
      // player with no in-support pair rows or no in-support wins
      // drops out of d/r/w just as the join chain drops it, and its
      // pair rows stop feeding opponents' denominators once it leaves
      // the weight table
      var w: Map[String, Long] =
        players.map(_ -> 1000000L / math.max(players.size, 1)).toMap
      for (_ <- 1 to 8) {
        val den = byI.flatMap { case (i, xs) =>
          if (!w.contains(i)) None
          else {
            val terms = xs.collect { case (_, j, n) if w.contains(j) =>
              1000000000000L * n / (w(i) + w(j))
            }
            if (terms.isEmpty) None else Some(i -> terms.sum)
          }
        }
        val r = den.flatMap { case (tt, d) =>
          wins.get(tt).map(win => tt -> 1000000000000L * win / d)
        }
        val sr = r.values.sum
        // sr = 0 (possible only if every scaled win floors to zero)
        // would be a division-by-zero error in DuckDB too — loud on
        // both engines, never silent
        w = r.map { case (tt, v) => tt -> math.max(1000000L * v / sr, 1L) }
      }
      val out = w.keys.toSeq.sorted.map(tt => (tt, wins.getOrElse(tt, 0L), w(tt)))
      import s.implicits._
      s.createDataset(out)
        .toDF("brand", "wins", "strength_ppm")
    }
  }

  /** q293: KRUSKAL-WALLIS H across ALL sources at once — the k-group
    * completion of q222's one-vs-rest pairs: twenty separate MW tests
    * answer "is source k shifted against the rest" with twenty
    * uncorrected p-values; KW asks the single omnibus question "do
    * these k length distributions share a location AT ALL", which is
    * the first gate an analyst needs before drilling into per-source
    * contrasts. Same machinery as q222 (ONE global tie-averaged
    * ranking at distinct-value grain — doubled ranks, two-phase
    * range-partitioned prefix sum, never a partition-less row
    * window), then per-group rank sums. With doubled rank sums R2ₖ,
    * H = 3·Σ R2ₖ²/nₖ / (N(N+1)) − 3(N+1) in milli; each group's term
    * floors from exact integers BEFORE the order-immune sum (products
    * in DECIMAL(38,0)/HUGEINT — R2ₖ² tops ~10¹⁷ at sf0.1), so h_milli
    * is DEFINED as that sum of per-group milli floors, identical on
    * both engines by construction (bias < k milli, documented, not
    * drift). Tie-corrected H/C scales by (N³−N)/(N³−N−Σ(t³−t)) with
    * the nonneg guard (greatest(h,0): the floors can graze −k milli
    * at H ≈ 0, and int floor-vs-truncate semantics diverge on
    * negatives between the engines). */
  val kruskalWallis: Q = Q(
    "q293_kruskal_wallis",
    """WITH f AS (SELECT source AS g, CAST(n_chars AS BIGINT) AS x
      |           FROM documents),
      |rk AS (SELECT g,
      |         2 * rank() OVER (ORDER BY x)
      |           + count(*) OVER (PARTITION BY x) - 1 AS r2
      |       FROM f),
      |tt AS (SELECT CAST(sum(t) AS BIGINT) AS n,
      |              sum(CAST(t*t*t - t AS HUGEINT)) AS tie3
      |       FROM (SELECT count(*) AS t FROM f GROUP BY x)),
      |gg AS (SELECT g, CAST(count(*) AS BIGINT) AS n_k,
      |              CAST(sum(r2) AS BIGINT) AS r2sum
      |       FROM rk GROUP BY g),
      |agg AS (SELECT tt.n AS n, tt.tie3 AS tie3,
      |          CAST(count(*) AS BIGINT) AS k_groups,
      |          CAST(sum(CAST((3000 * CAST(r2sum AS HUGEINT) * r2sum)
      |            // (CAST(n_k AS HUGEINT) * tt.n * (tt.n + 1))
      |            AS BIGINT)) AS BIGINT) AS s_terms
      |        FROM gg CROSS JOIN tt GROUP BY 1, 2)
      |SELECT n, k_groups,
      |       CAST(s_terms - 3000 * (n + 1) AS BIGINT) AS h_milli,
      |       CAST(CASE WHEN CAST(n AS HUGEINT)*n*n - n - tie3 <= 0
      |            THEN NULL
      |            ELSE (greatest(CAST(s_terms - 3000 * (n + 1) AS HUGEINT),
      |                           CAST(0 AS HUGEINT))
      |                  * (CAST(n AS HUGEINT)*n*n - n))
      |                 // (CAST(n AS HUGEINT)*n*n - n - tie3) END
      |         AS BIGINT) AS hc_milli
      |FROM agg""".stripMargin
  ) { (s, dir) =>
    val f = t(s, dir, "documents")
      .select(col("source").as("g"), col("n_chars").cast(LongType).as("x"))
    val byVal = f.groupBy("x").agg(count(lit(1)).as("tc"))
    val withCum = graft.operators.Ranks.globalRunningSum(
      byVal, Seq(col("x")), col("tc"), "cum")
    val r2tab = withCum.select(col("x"),
      (lit(2) * col("cum") - col("tc") + 1).cast(LongType).as("r2"))
      .localCheckpoint(true)
    val tt = byVal.agg(sum(col("tc")).cast(LongType).as("n"),
      sum((col("tc") * col("tc") * col("tc") - col("tc")).cast(d38))
        .as("tie3"))
    f.groupBy("g", "x").agg(count(lit(1)).as("c"))
      .join(r2tab, Seq("x"))
      .groupBy("g")
      .agg(sum(col("c")).as("n_k"), sum(col("c") * col("r2")).as("r2sum"))
      .crossJoin(broadcast(tt))
      .select(col("n"), col("tie3"),
        expr("CAST((CAST(3000 AS DECIMAL(38,0)) * r2sum * r2sum) div " +
          "(CAST(n_k AS DECIMAL(38,0)) * n * (n + 1)) AS BIGINT)")
          .as("tm"))
      .groupBy("n", "tie3")
      .agg(count(lit(1)).as("k_groups"), sum(col("tm")).as("s_terms"))
      .select(col("n"), col("k_groups"),
        expr("CAST(s_terms - 3000 * (n + 1) AS BIGINT)").as("h_milli"),
        expr("CAST(CASE WHEN CAST(n AS DECIMAL(38,0))*n*n - n - tie3 <= 0 " +
          "THEN NULL ELSE " +
          "(greatest(CAST(s_terms - 3000 * (n + 1) AS DECIMAL(38,0)), " +
          "CAST(0 AS DECIMAL(38,0))) * (CAST(n AS DECIMAL(38,0))*n*n - n)) " +
          "div (CAST(n AS DECIMAL(38,0))*n*n - n - tie3) END AS BIGINT)")
          .as("hc_milli"))
  }

  /** q294: McNEMAR'S TEST on paired halves — did individual USERS
    * change their high-value behavior between the calendar's first
    * and second half? The chi²/kappa family sees only the two margins
    * ("12% high-value then, 14% now" — which a complete turnover of
    * WHO is high-value leaves unchanged); McNemar pairs each user
    * with themself and tests only the DISCORDANT cells:
    * χ² = (b−c)²/(b+c) on switched-on b vs switched-off c, with the
    * continuity-corrected (|b−c|−1)² variant alongside (the small-
    * sample standard). Pairing key = user, outcome = any value ≥ 250
    * event in the half, split = the q292 integer-midpoint day cut.
    * Everything is exact BIGINT cell counts and two milli floors —
    * full hash oracle, no transcendental at all. ONE user-grain
    * aggregate (two conditional counts per user), then a 4-cell
    * reduce. */
  val mcnemar: Q = Q(
    "q294_mcnemar",
    """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS day,
      |             CASE WHEN value >= 250 THEN 1 ELSE 0 END AS hi
      |           FROM events),
      |cut AS (SELECT min(day)
      |          + CAST(date_diff('day', min(day), max(day)) // 2 AS INTEGER)
      |          AS cutday FROM e),
      |u AS (SELECT user_id,
      |        max(CASE WHEN day <= cutday THEN hi ELSE 0 END) AS a,
      |        max(CASE WHEN day > cutday THEN hi ELSE 0 END) AS b
      |      FROM e CROSS JOIN cut GROUP BY 1),
      |cells AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
      |            CAST(sum(a * b) AS BIGINT) AS n11,
      |            CAST(sum(a * (1 - b)) AS BIGINT) AS n10,
      |            CAST(sum((1 - a) * b) AS BIGINT) AS n01,
      |            CAST(sum((1 - a) * (1 - b)) AS BIGINT) AS n00
      |          FROM u)
      |SELECT n_pairs, n11, n10, n01, n00,
      |       CAST(CASE WHEN n10 + n01 = 0 THEN NULL
      |            ELSE (1000 * (n10 - n01) * (n10 - n01)) // (n10 + n01)
      |            END AS BIGINT) AS chi2_milli,
      |       CAST(CASE WHEN n10 + n01 = 0 THEN NULL
      |            ELSE (1000 * greatest(abs(n10 - n01) - 1, 0)
      |                       * greatest(abs(n10 - n01) - 1, 0))
      |                 // (n10 + n01) END AS BIGINT) AS chi2_cc_milli
      |FROM cells""".stripMargin
  ) { (s, dir) =>
    val e = t(s, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("day"),
        when(col("value") >= 250, 1L).otherwise(0L).as("hi"))
    val cut = e.agg(min(col("day")).as("dmin"), max(col("day")).as("dmax"))
      .select(expr("date_add(dmin, CAST(datediff(dmax, dmin) div 2 AS INT))")
        .as("cutday"))
    e.crossJoin(broadcast(cut))
      .groupBy("user_id")
      .agg(max(when(col("day") <= col("cutday"), col("hi")).otherwise(0L))
          .as("a"),
        max(when(col("day") > col("cutday"), col("hi")).otherwise(0L))
          .as("b"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("a") * col("b")).as("n11"),
        sum(col("a") * (lit(1L) - col("b"))).as("n10"),
        sum((lit(1L) - col("a")) * col("b")).as("n01"),
        sum((lit(1L) - col("a")) * (lit(1L) - col("b"))).as("n00"))
      .select(col("n_pairs"), col("n11"), col("n10"), col("n01"),
        col("n00"),
        expr("CAST(CASE WHEN n10 + n01 = 0 THEN NULL ELSE " +
          "(1000 * (n10 - n01) * (n10 - n01)) div (n10 + n01) END " +
          "AS BIGINT)").as("chi2_milli"),
        expr("CAST(CASE WHEN n10 + n01 = 0 THEN NULL ELSE " +
          "(1000 * greatest(abs(n10 - n01) - 1, 0) " +
          "* greatest(abs(n10 - n01) - 1, 0)) div (n10 + n01) END " +
          "AS BIGINT)").as("chi2_cc_milli"))
  }

  /** q298: WALD-WOLFOWITZ RUNS TEST on each type's daily series — the
    * nonparametric randomness check the correlation family can't
    * substitute for: q196's ACF measures LINEAR lag dependence, the
    * runs test catches ANY tendency to cluster above/below the median
    * (regime-switching, slow drift, alternation), sign-only. Split:
    * above the type's exact integer median daily count (the q190
    * rank-threshold discipline: smallest count whose cumulative day
    * tally clears ⌈n/2⌉) — equals-median days count as "below" (a
    * DEFINED dichotomy, identical on both engines, stated rather than
    * the drop-ties variant so day counts stay exact). R = 1 + number
    * of sign changes along the day order (a keyed lag); z is the one
    * final double from exact (R, n₁, n₀) — NULL when either side is
    * empty (σ = 0). Day-grain everything: histogram, cumulative
    * window, lag — all keyed by type. */
  val runsTest: Q = Q(
    "q298_runs_test",
    """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
      |             CAST(count(*) AS BIGINT) AS c
      |           FROM events GROUP BY 1, 2),
      |h AS (SELECT event_type, c, CAST(count(*) AS BIGINT) AS dc
      |      FROM d GROUP BY 1, 2),
      |cum AS (SELECT event_type, c, dc,
      |          CAST(sum(dc) OVER (PARTITION BY event_type ORDER BY c)
      |            AS BIGINT) AS cc,
      |          CAST(sum(dc) OVER (PARTITION BY event_type)
      |            AS BIGINT) AS nd
      |        FROM h),
      |med AS (SELECT event_type,
      |          CAST(min(CASE WHEN 2 * cc >= nd THEN c END) AS BIGINT)
      |            AS med
      |        FROM cum GROUP BY 1),
      |sgn AS (SELECT d.event_type, d.day,
      |          CASE WHEN d.c > med.med THEN 1 ELSE 0 END AS s
      |        FROM d JOIN med USING (event_type)),
      |tr AS (SELECT event_type, s,
      |         lag(s) OVER (PARTITION BY event_type ORDER BY day) AS ps
      |       FROM sgn),
      |m AS (SELECT event_type,
      |        CAST(count(*) AS BIGINT) AS n,
      |        CAST(sum(s) AS BIGINT) AS n1,
      |        CAST(1 + sum(CASE WHEN ps IS NOT NULL AND s <> ps
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS runs
      |      FROM tr GROUP BY 1)
      |SELECT event_type, n, n1, n - n1 AS n0, runs,
      |       CAST(CASE WHEN n1 = 0 OR n1 = n THEN NULL ELSE
      |         round((runs - (2.0 * n1 * (n - n1) / n + 1))
      |           / sqrt(2.0 * n1 * (n - n1)
      |               * (2.0 * n1 * (n - n1) - n)
      |               / (CAST(n AS DOUBLE) * n * (n - 1))) * 1000) END
      |         AS BIGINT) AS z_milli
      |FROM m""".stripMargin
  ) { (s, dir) =>
    val d = t(s, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c"))
    val h = d.groupBy("event_type", "c").agg(count(lit(1)).as("dc"))
    val wc = Window.partitionBy("event_type").orderBy("c")
    val cum = h
      .withColumn("cc", sum(col("dc")).over(wc))
      .withColumn("nd",
        sum(col("dc")).over(Window.partitionBy("event_type")))
    val med = cum.groupBy("event_type")
      .agg(min(when(lit(2) * col("cc") >= col("nd"), col("c"))).as("med"))
    val wd = Window.partitionBy("event_type").orderBy("day")
    val m = d.join(med, Seq("event_type"))
      .select(col("event_type"), col("day"),
        when(col("c") > col("med"), 1L).otherwise(0L).as("s"))
      .withColumn("ps", lag(col("s"), 1).over(wd))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("s")).as("n1"),
        (lit(1L) + sum(when(col("ps").isNotNull && col("s") =!= col("ps"),
          1L).otherwise(0L))).as("runs"))
    val nD = col("n").cast("double")
    val p = col("n1").cast("double") * (col("n") - col("n1"))
    m.select(col("event_type"), col("n"), col("n1"),
      (col("n") - col("n1")).as("n0"), col("runs"),
      when(col("n1") === 0 || col("n1") === col("n"),
        lit(null).cast("long"))
        .otherwise(round((col("runs") - (lit(2.0) * p / nD + 1))
          / sqrt(lit(2.0) * p * (lit(2.0) * p - col("n"))
            / (nD * col("n") * (col("n") - 1))) * 1000).cast("long"))
        .as("z_milli"))
  }

  /** q299: COCHRAN-ARMITAGE TREND TEST — does the high-value share
    * TREND monotonically across ordered time-of-day bands? q194's
    * chi² treats the 8 bands as unordered categories (8 − 1 df spent
    * on any pattern); CA spends ONE df on the linear-in-score
    * alternative, which is what "later shifts skew high-value" means
    * — the standard dose-response test with integer scores w = hour
    * div 3. Fully integer: T = Σ wᵢ(yᵢN − nᵢY) and the variance
    * denominator Y(N−Y)(NΣw²n − (Σwn)²) clear every fraction, so
    * chi2_milli is ONE floor of exact DECIMAL(38,0)/HUGEINT products
    * (T² tops ~10²¹ at sf0.1) — no transcendental, full hash oracle.
    * One band-grain aggregate (8 rows), one 1-row reduce. */
  val cochranArmitage: Q = Q(
    "q299_cochran_armitage",
    """WITH e AS (SELECT CAST(hour(ts) // 3 AS BIGINT) AS w,
      |             CASE WHEN value >= 250 THEN 1 ELSE 0 END AS y
      |           FROM events),
      |g AS (SELECT w, CAST(count(*) AS BIGINT) AS n_i,
      |        CAST(sum(y) AS BIGINT) AS y_i
      |      FROM e GROUP BY 1),
      |tot AS (SELECT CAST(sum(n_i) AS BIGINT) AS n,
      |               CAST(sum(y_i) AS BIGINT) AS yy,
      |               CAST(sum(w * n_i) AS BIGINT) AS swn,
      |               CAST(sum(w * w * n_i) AS BIGINT) AS sw2n
      |        FROM g),
      |tstat AS (SELECT tot.n, tot.yy, tot.swn, tot.sw2n,
      |            CAST(sum(w * (y_i * tot.n - n_i * tot.yy)) AS BIGINT)
      |              AS t_stat
      |          FROM g CROSS JOIN tot GROUP BY 1, 2, 3, 4)
      |SELECT n, yy AS y_total, t_stat,
      |       CAST(CASE WHEN yy = 0 OR yy = n
      |                   OR n * sw2n - swn * swn = 0 THEN NULL
      |            ELSE (CAST(1000 AS HUGEINT) * n * t_stat * t_stat)
      |                 // (CAST(yy AS HUGEINT) * (n - yy)
      |                     * (n * sw2n - swn * swn)) END
      |         AS BIGINT) AS chi2_milli
      |FROM tstat""".stripMargin
  ) { (s, dir) =>
    val d38c = "DECIMAL(38,0)"
    val g = t(s, dir, "events")
      .select(expr("CAST(hour(ts) div 3 AS BIGINT)").as("w"),
        when(col("value") >= 250, 1L).otherwise(0L).as("y"))
      .groupBy("w")
      .agg(count(lit(1)).as("n_i"), sum(col("y")).as("y_i"))
    val tot = g.agg(sum(col("n_i")).as("n"), sum(col("y_i")).as("yy"),
      sum(col("w") * col("n_i")).as("swn"),
      sum(col("w") * col("w") * col("n_i")).as("sw2n"))
    g.crossJoin(broadcast(tot))
      .groupBy("n", "yy", "swn", "sw2n")
      .agg(sum(col("w") * (col("y_i") * col("n") - col("n_i") * col("yy")))
        .as("t_stat"))
      .select(col("n"), col("yy").as("y_total"), col("t_stat"),
        expr(s"CAST(CASE WHEN yy = 0 OR yy = n " +
          s"OR n * sw2n - swn * swn = 0 THEN NULL ELSE " +
          s"(CAST(1000 AS $d38c) * n * t_stat * t_stat) " +
          s"div (CAST(yy AS $d38c) * (n - yy) " +
          s"* (n * sw2n - swn * swn)) END AS BIGINT)").as("chi2_milli"))
  }

  /** q302: LAG-2 PARTIAL AUTOCORRELATION per type — the AR-order
    * identification number q196's ACF can't give by itself: an AR(1)
    * series shows geometric ACF decay at EVERY lag (r₂ ≈ r₁²), so a
    * large r₂ alone says nothing new; PACF(2) = (r₂ − r₁²)/(1 − r₁²)
    * (Durbin-Levinson at order 2) isolates what lag 2 adds BEYOND the
    * lag-1 propagation — near 0 ⇒ AR(1) is enough, materially nonzero
    * ⇒ the series carries genuine second-order memory. Defined over
    * q196's registered per-lag readings (the same lagged-pair Pearson
    * machinery at lags 1-2, verbatim), so the inputs are the already-
    * quantized exact ppm integers and the PACF is ONE final rounded
    * double of them — no new transcendental, and integer `div` is
    * deliberately NOT used here: the numerator is signed, and floor
    * (DuckDB) vs truncate (Spark) diverge on negatives. */
  val pacfLag2: Q = Q(
    "q302_pacf_lag2",
    """WITH dc AS (SELECT event_type,
      |                   CAST(date_trunc('day', ts) AS DATE) AS day,
      |                   CAST(count(*) AS BIGINT) AS x
      |            FROM events GROUP BY 1, 2),
      |rk AS (SELECT event_type, x,
      |              CAST(row_number() OVER (PARTITION BY event_type
      |                ORDER BY day) AS BIGINT) AS rn
      |       FROM dc),
      |l AS (SELECT unnest(range(1, 3)) AS lag_k),
      |p AS (SELECT a.event_type, l.lag_k, a.x AS x, b.x AS y
      |      FROM rk a CROSS JOIN l
      |      JOIN rk b ON b.event_type = a.event_type
      |        AND b.rn = a.rn + l.lag_k),
      |m AS (SELECT event_type, lag_k,
      |        CAST(count(*) AS DECIMAL(38,0)) AS n,
      |        sum(CAST(x AS DECIMAL(38,0))) AS sx,
      |        sum(CAST(y AS DECIMAL(38,0))) AS sy,
      |        sum(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))) AS sxx,
      |        sum(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS syy,
      |        sum(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS sxy
      |      FROM p GROUP BY 1, 2),
      |acf AS (SELECT event_type, lag_k,
      |          CAST(round(CAST(n * sxy - sx * sy AS DOUBLE)
      |               / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
      |                  * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
      |               * 1000000) AS BIGINT) AS r
      |        FROM m
      |        WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0),
      |pv AS (SELECT event_type,
      |         max(CASE WHEN lag_k = 1 THEN r END) AS r1,
      |         max(CASE WHEN lag_k = 2 THEN r END) AS r2
      |       FROM acf GROUP BY 1)
      |SELECT event_type, r1 AS r1_ppm, r2 AS r2_ppm,
      |       CAST(CASE WHEN r1 IS NULL OR r2 IS NULL
      |                   OR 1000000000000 - r1 * r1 <= 0 THEN NULL
      |            ELSE round(1000000.0 * (1000000 * r2 - r1 * r1)
      |                 / (1000000000000 - r1 * r1)) END
      |         AS BIGINT) AS pacf2_ppm
      |FROM pv""".stripMargin
  ) { (s, dir) =>
    val dc = t(s, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
    val rk = dc.select(col("event_type"), col("x"),
      row_number().over(
        Window.partitionBy("event_type").orderBy("day")).cast(LongType)
        .as("rn"))
      .localCheckpoint(true) // tiny (days × types); reused on both sides
    val lags = s.range(1, 3).select(col("id").as("lag_k"))
    val d19 = "decimal(19,0)"
    val m = rk.crossJoin(broadcast(lags))
      .withColumn("rn_b", col("rn") + col("lag_k"))
      .join(rk.select(col("event_type"), col("rn").as("rn_b"),
        col("x").as("y")), Seq("event_type", "rn_b"))
      .groupBy("event_type", "lag_k")
      .agg(count(lit(1)).cast(d38).as("n"),
        sum(col("x").cast(d38)).as("sx"), sum(col("y").cast(d38)).as("sy"),
        sum(col("x").cast(d19) * col("x").cast(d19)).as("sxx"),
        sum(col("y").cast(d19) * col("y").cast(d19)).as("syy"),
        sum(col("x").cast(d19) * col("y").cast(d19)).as("sxy"))
    val acf = m
      .filter(col("n") * col("sxx") - col("sx") * col("sx") > 0 &&
        col("n") * col("syy") - col("sy") * col("sy") > 0)
      .select(col("event_type"), col("lag_k"),
        round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
            / (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
               * sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double")))
            * 1000000).cast(LongType).as("r"))
    acf.groupBy("event_type")
      .agg(max(when(col("lag_k") === 1, col("r"))).as("r1"),
        max(when(col("lag_k") === 2, col("r"))).as("r2"))
      .select(col("event_type"), col("r1").as("r1_ppm"),
        col("r2").as("r2_ppm"),
        when(col("r1").isNull || col("r2").isNull ||
          lit(1000000000000L) - col("r1") * col("r1") <= 0,
          lit(null).cast(LongType))
          .otherwise(round(lit(1000000.0)
            * (lit(1000000L) * col("r2") - col("r1") * col("r1"))
            / (lit(1000000000000L) - col("r1") * col("r1")))
            .cast(LongType))
          .as("pacf2_ppm"))
  }

  /** q306: MANTEL-HAENSZEL pooled odds ratio across strata — the
    * confounder-adjusted association test q207's chi² can't give:
    * does document LENGTH (the saturated length prior, n_tok ≥ 200 ⇔
    * p = 10⁶) associate with the stopword-quality outcome y AFTER
    * stratifying by source? A raw 2×2 over the pooled corpus is
    * Simpson's-paradox bait when sources differ in both length mix
    * and quality base rate; MH pools the per-stratum 2×2s:
    * OR_MH = Σᵢ(aᵢdᵢ/nᵢ) / Σᵢ(bᵢcᵢ/nᵢ). Exposure and outcome are the
    * REGISTERED shared predictor frame's columns
    * ([[CurationQueries.predictor]] — no fifth definition, the ADVICE
    * r12 rule).
    *
    * Exactness: each stratum's ad/n and bc/n micro-quantize (×10⁶) by
    * one integral floor of exact WIDE products — 10⁶·a·d computed in
    * DECIMAL(38,0) on the Spark side and HUGEINT on the oracle (the
    * q311/q304 pattern; ADVICE r13: raw int64 wraps silently past
    * ~6M-row strata where DuckDB would error loudly), so the product
    * is exact to ~10¹⁶ rows per stratum — beyond any single stratum a
    * cluster materializes. The per-stratum QUOTIENT ≤ 10⁶·n/4 stays
    * int64 to n ≈ 3.7·10¹³, and `div` on decimals returns LONG on
    * both engines. The pooled ratio is one more integral floor. One
    * source-grain aggregate (20 rows) → one 1-row reduce. */
  val mantelHaenszel: Q = Q(
    "q306_mantel_haenszel",
    CurationQueries.predictorCte + """,
      |s AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
      |        CAST(sum(CASE WHEN p = 1000000 AND y = 1 THEN 1 ELSE 0 END)
      |          AS BIGINT) AS a,
      |        CAST(sum(CASE WHEN p = 1000000 AND y = 0 THEN 1 ELSE 0 END)
      |          AS BIGINT) AS bb,
      |        CAST(sum(CASE WHEN p < 1000000 AND y = 1 THEN 1 ELSE 0 END)
      |          AS BIGINT) AS c
      |      FROM b GROUP BY source),
      |t AS (SELECT CAST(count(*) AS BIGINT) AS n_strata,
      |        CAST(sum((1000000::HUGEINT * a * (n - a - bb - c)) // n)
      |          AS BIGINT) AS num_u6,
      |        CAST(sum((1000000::HUGEINT * bb * c) // n) AS BIGINT) AS den_u6
      |      FROM s)
      |SELECT n_strata, num_u6, den_u6,
      |       CAST(CASE WHEN den_u6 = 0 THEN NULL
      |            ELSE (1000 * num_u6) // den_u6 END AS BIGINT) AS or_milli
      |FROM t""".stripMargin
  ) { (s, dir) =>
    CurationQueries.predictor(s, dir)
      .groupBy("source")
      .agg(count(lit(1)).as("n"),
        sum(when(col("p") === 1000000L && col("y") === 1L, 1L).otherwise(0L))
          .as("a"),
        sum(when(col("p") === 1000000L && col("y") === 0L, 1L).otherwise(0L))
          .as("bb"),
        sum(when(col("p") < 1000000L && col("y") === 1L, 1L).otherwise(0L))
          .as("c"))
      .agg(count(lit(1)).as("n_strata"),
        sum(expr("(CAST(1000000 AS DECIMAL(38,0)) * a * (n - a - bb - c)) div n"))
          .as("num_u6"),
        sum(expr("(CAST(1000000 AS DECIMAL(38,0)) * bb * c) div n")).as("den_u6"))
      .select(col("n_strata"), col("num_u6"), col("den_u6"),
        expr("CAST(CASE WHEN den_u6 = 0 THEN NULL " +
          "ELSE (1000 * num_u6) div den_u6 END AS BIGINT)").as("or_milli"))
  }

  /** q307: FRIEDMAN test across event types blocked by day — the
    * repeated-measures companion of q293's Kruskal-Wallis: KW asks
    * whether the types' DAILY-COUNT distributions differ treating
    * every (day, type) cell as independent; Friedman blocks by DAY
    * (each day ranks its own k type counts), so day-level traffic
    * swings — the dominant nuisance in event streams — cancel instead
    * of inflating the between-group spread. Blocks are gap-filled
    * (absent (day, type) = 0 count) so every block is complete.
    *
    * Exactness: within-day tie-averaged ranks kept exact as DOUBLED
    * integers (the q221/q222 discipline — keyed windows only, k rows
    * per day); with u = 2r the tie-general statistic clears to pure
    * integers: χ² = (k−1)(ΣⱼR'ⱼ² − n²k(k+1)²)/(Σu² − nk(k+1)²), both
    * parenthesized terms ≥ 0 (Cauchy-Schwarz), one integral milli
    * floor in DECIMAL(38,0)/HUGEINT. All-tied degenerate data → NULL
    * on both engines. The day×type grid is calendar-bounded (the
    * q131 argument), so every window is structurally tiny. */
  val friedman: Q = Q(
    "q307_friedman",
    """WITH dc AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
      |                   event_type, CAST(count(*) AS BIGINT) AS x
      |            FROM events GROUP BY 1, 2),
      |days AS (SELECT DISTINCT day FROM dc),
      |types AS (SELECT DISTINCT event_type FROM dc),
      |grid AS (SELECT d.day, t.event_type, COALESCE(dc.x, 0) AS x
      |         FROM days d CROSS JOIN types t
      |         LEFT JOIN dc ON dc.day = d.day AND dc.event_type = t.event_type),
      |r AS (SELECT day, event_type,
      |        2 * rank() OVER (PARTITION BY day ORDER BY x)
      |          + count(*) OVER (PARTITION BY day, x) - 1 AS u
      |      FROM grid),
      |rj AS (SELECT event_type, CAST(sum(u) AS BIGINT) AS rsum
      |       FROM r GROUP BY 1),
      |m AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM days) AS n,
      |             (SELECT CAST(count(*) AS BIGINT) FROM types) AS k,
      |             (SELECT sum(CAST(rsum AS HUGEINT) * rsum) FROM rj) AS a,
      |             (SELECT sum(CAST(u AS HUGEINT) * u) FROM r) AS bq)
      |SELECT n AS n_blocks, k AS k_treatments,
      |       CAST(CASE WHEN bq - CAST(n AS HUGEINT) * k * (k+1) * (k+1) <= 0
      |            THEN NULL
      |            ELSE (CAST(1000 AS HUGEINT) * (k - 1)
      |                  * (a - CAST(n AS HUGEINT) * n * k * (k+1) * (k+1)))
      |                 // (bq - CAST(n AS HUGEINT) * k * (k+1) * (k+1)) END
      |         AS BIGINT) AS chi2_milli
      |FROM m""".stripMargin
  ) { (s, dir) =>
    val d38c = "DECIMAL(38,0)"
    // tiny (days × types ≤ calendar × type-count); three consumers
    val dc = t(s, dir, "events")
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("x"))
      .localCheckpoint(true)
    val days = dc.select("day").distinct()
    val types = dc.select("event_type").distinct()
    val grid = days.crossJoin(broadcast(types))
      .join(dc, Seq("day", "event_type"), "left")
      .select(col("day"), col("event_type"),
        coalesce(col("x"), lit(0L)).as("x"))
    val u = (lit(2) * rank().over(Window.partitionBy("day").orderBy("x"))
      + count(lit(1)).over(Window.partitionBy("day", "x")) - 1)
      .cast(LongType)
    val r = grid.select(col("event_type"), u.as("u")).localCheckpoint(true)
    val a = r.groupBy("event_type")
      .agg(sum(col("u")).as("rsum"))
      .agg(sum(expr(s"CAST(rsum AS $d38c) * rsum")).as("a"))
    val bq = r.agg(sum(expr(s"CAST(u AS $d38c) * u")).as("bq"))
    val nk = days.agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(types.agg(count(lit(1)).as("k"))))
    nk.crossJoin(broadcast(a)).crossJoin(broadcast(bq))
      .select(col("n").as("n_blocks"), col("k").as("k_treatments"),
        expr(s"CAST(CASE WHEN bq - CAST(n AS $d38c) * k * (k+1) * (k+1) <= 0 " +
          "THEN NULL " +
          s"ELSE (CAST(1000 AS $d38c) * (k - 1) " +
          s"* (a - CAST(n AS $d38c) * n * k * (k+1) * (k+1))) " +
          s"div (bq - CAST(n AS $d38c) * k * (k+1) * (k+1)) END AS BIGINT)")
          .as("chi2_milli"))
  }

  /** q308: JONCKHEERE-TERPSTRA ordered trend across order priorities —
    * the question q289's SLA chart eyeballs, tested: do shipping days
    * TREND with priority (URGENT < HIGH < … < LOW is a meaningful
    * ordering, so the ordered alternative beats KW's any-difference)?
    * J = Σᵢ<ⱼ U(Gᵢ, Gⱼ) over priority-ordered group pairs.
    *
    * Scale shape: runs entirely at the (priority × distinct ship-day)
    * HISTOGRAM grain — the q287 machinery's first reduce — then a
    * ≤ (5 × days)² self-join of the 650-row grid; rows are never
    * pairwise-joined. Exactness: doubled U (2U = Σ_d c_j(d)·(2·cumlt_i(d)
    * + c_i(d)) — ties counted once each way) keeps everything integer;
    * the null expectation E[2J] = (N² − Σnᵢ²)/2 and the trend ratio
    * 10⁶·2J/E[2J] are integral floors of exact int64 values (N² at
    * sf-scale ≤ 10¹², stated bound; DECIMAL(38,0)/HUGEINT above).
    * Significance under ties belongs to q293's machinery; this query
    * reports the exact statistic and its null center. */
  val jonckheere: Q = Q(
    "q308_jonckheere_trend",
    """WITH j AS (SELECT o.o_orderpriority AS pri,
      |             date_diff('day', CAST(o.o_orderdate AS DATE),
      |                       CAST(l.l_shipdate AS DATE)) AS d
      |           FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
      |h AS (SELECT pri, d, CAST(count(*) AS BIGINT) AS c FROM j GROUP BY 1, 2),
      |ds AS (SELECT DISTINCT d FROM h),
      |ps AS (SELECT DISTINCT pri FROM h),
      |grid AS (SELECT p.pri, ds.d, COALESCE(h.c, 0) AS c
      |         FROM ps p CROSS JOIN ds
      |         LEFT JOIN h ON h.pri = p.pri AND h.d = ds.d),
      |g AS (SELECT pri, d, c,
      |        CAST(sum(c) OVER (PARTITION BY pri ORDER BY d) - c AS BIGINT)
      |          AS cumlt
      |      FROM grid),
      |pj AS (SELECT CAST(sum(gj.c * (2 * gi.cumlt + gi.c)) AS BIGINT) AS j2
      |       FROM g gi JOIN g gj ON gi.d = gj.d AND gi.pri < gj.pri),
      |nn AS (SELECT CAST(sum(cnt) AS BIGINT) AS n,
      |              CAST(sum(cnt * cnt) AS BIGINT) AS sn2
      |       FROM (SELECT CAST(sum(c) AS BIGINT) AS cnt FROM h GROUP BY pri))
      |SELECT nn.n, pj.j2,
      |       (nn.n * nn.n - nn.sn2) // 2 AS ej2,
      |       CAST(CASE WHEN nn.n * nn.n - nn.sn2 = 0 THEN NULL
      |            ELSE (CAST(1000000 AS HUGEINT) * 2 * pj.j2)
      |                 // (nn.n * nn.n - nn.sn2) END AS BIGINT) AS jt_ppm
      |FROM pj CROSS JOIN nn""".stripMargin
  ) { (s, dir) =>
    val d38c = "DECIMAL(38,0)"
    val h = t(s, dir, "lineitem")
      .join(t(s, dir, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority").as("pri"),
        datediff(col("l_shipdate").cast("date"),
          col("o_orderdate").cast("date")).cast(LongType).as("d"))
      .groupBy("pri", "d").agg(count(lit(1)).as("c"))
      .localCheckpoint(true) // ≤ priorities × distinct days, 3 consumers
    val grid = h.select("d").distinct()
      .crossJoin(broadcast(h.select("pri").distinct()))
      .join(h, Seq("pri", "d"), "left")
      .select(col("pri"), col("d"), coalesce(col("c"), lit(0L)).as("c"))
    val g = grid.withColumn("cumlt",
      sum(col("c")).over(Window.partitionBy("pri").orderBy("d")) - col("c"))
      .localCheckpoint(true)
    val j2 = g.as("gi")
      .join(g.as("gj"),
        col("gi.d") === col("gj.d") && col("gi.pri") < col("gj.pri"))
      .agg(sum(col("gj.c") * (lit(2) * col("gi.cumlt") + col("gi.c")))
        .as("j2"))
    val nn = h.groupBy("pri").agg(sum(col("c")).as("cnt"))
      .agg(sum(col("cnt")).as("n"), sum(col("cnt") * col("cnt")).as("sn2"))
    j2.crossJoin(broadcast(nn))
      .select(col("n"), col("j2"),
        expr("(n * n - sn2) div 2").as("ej2"),
        expr(s"CAST(CASE WHEN n * n - sn2 = 0 THEN NULL " +
          s"ELSE (CAST(1000000 AS $d38c) * 2 * j2) div (n * n - sn2) END " +
          "AS BIGINT)").as("jt_ppm"))
  }

  /** q309: WILCOXON SIGNED-RANK per type on week-over-week daily
    * counts — the PAIRED location test the MW/Welch family can't do:
    * each day pairs with the same weekday one week back (q285's
    * seasonal-naive lag), differences d = x_t − x_{t−7}, zero
    * differences dropped (the standard convention), |d| ranked WITHIN
    * type, W⁺ = rank-sum of the positive side. Detects a sustained
    * weekly drift direction that day-level noise hides.
    *
    * Exactness: tie-averaged ranks as DOUBLED integers over keyed
    * windows (per type × |d| value — calendar-bounded). With
    * W₂⁺ = 2W⁺: E[W₂⁺] = n(n+1)/2 and Var[W₂⁺] =
    * (2n(n+1)(2n+1) − Σ(t³−t))/12, so doubling the z-numerator clears
    * every fraction: z = (2W₂⁺ − n(n+1)) / √((2n(n+1)(2n+1) −
    * Σ(t³−t))/3) — ONE final rounded double of the exact integers
    * (W₂⁺, n, Σ(t³−t), all < 2⁵³ at any per-type calendar scale, so
    * the double conversions are exact). The variance expression is
    * strictly positive for n ≥ 1 (at full ties it is 3n³+6n²+3n), so
    * no guard beyond nonzero pairs, which the group's existence
    * implies. The signed numerator never meets integer `div` (the
    * q302 floor-vs-truncate rule). */
  val wilcoxonSignedRank: Q = Q(
    "q309_wilcoxon_signed_rank",
    """WITH dc AS (SELECT event_type,
      |                   CAST(date_trunc('day', ts) AS DATE) AS day,
      |                   CAST(count(*) AS BIGINT) AS x
      |            FROM events GROUP BY 1, 2),
      |p AS (SELECT a.event_type, a.x - b.x AS d
      |      FROM dc a JOIN dc b ON b.event_type = a.event_type
      |        AND b.day = a.day - 7
      |      WHERE a.x <> b.x),
      |r AS (SELECT event_type, d, abs(d) AS ad,
      |        2 * rank() OVER (PARTITION BY event_type ORDER BY abs(d))
      |          + count(*) OVER (PARTITION BY event_type, abs(d)) - 1 AS u
      |      FROM p),
      |tc AS (SELECT event_type,
      |         CAST(sum(CAST(t AS HUGEINT) * t * t - t) AS DOUBLE) AS t3
      |       FROM (SELECT event_type, abs(d) AS ad, count(*) AS t
      |             FROM p GROUP BY 1, 2) GROUP BY 1),
      |w AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |        CAST(sum(CASE WHEN d > 0 THEN u ELSE 0 END) AS BIGINT) AS w2pos
      |      FROM r GROUP BY 1)
      |SELECT w.event_type, w.n AS n_pairs, w.w2pos,
      |       CAST(round(1000.0
      |            * (2.0 * w.w2pos - CAST(w.n AS DOUBLE) * (w.n + 1))
      |            / sqrt((2.0 * w.n * (w.n + 1) * (2 * w.n + 1) - tc.t3) / 3.0))
      |         AS BIGINT) AS z_milli
      |FROM w JOIN tc ON tc.event_type = w.event_type""".stripMargin
  ) { (s, dir) =>
    val dc = t(s, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
      .localCheckpoint(true) // calendar-bounded; self-joined
    val p = dc.as("a")
      .join(dc.as("b"),
        col("b.event_type") === col("a.event_type") &&
          col("b.day") === date_sub(col("a.day"), 7))
      .select(col("a.event_type").as("event_type"),
        (col("a.x") - col("b.x")).as("d"))
      .filter(col("d") =!= 0L)
      .localCheckpoint(true) // two consumers (ranks + tie groups)
    val u = (lit(2) * rank().over(
      Window.partitionBy("event_type").orderBy(abs(col("d"))))
      + count(lit(1)).over(Window.partitionBy(col("event_type"), abs(col("d"))))
      - 1).cast(LongType)
    val w = p.select(col("event_type"), col("d"), u.as("u"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(when(col("d") > 0, col("u")).otherwise(0L)).as("w2pos"))
    val tc = p.groupBy(col("event_type"), abs(col("d")).as("ad"))
      .agg(count(lit(1)).as("t"))
      .groupBy("event_type")
      .agg(sum(expr(s"CAST(t AS $d38) * t * t - t")).cast("double").as("t3"))
    w.join(tc, Seq("event_type"))
      .select(col("event_type"), col("n").as("n_pairs"), col("w2pos"),
        round(lit(1000.0)
          * (lit(2.0) * col("w2pos") - col("n").cast("double") * (col("n") + 1))
          / sqrt((lit(2.0) * col("n") * (col("n") + 1) * (lit(2) * col("n") + 1)
            - col("t3")) / 3.0))
          .cast(LongType).as("z_milli"))
  }

  /** q310: DURBIN-WATSON serial-correlation statistic per type — the
    * residual-autocorrelation diagnostic behind every daily-series
    * model this registry fits (q211 Holt, q243 seasonal, q247 Sen):
    * DW = Σ(eₜ−eₜ₋₁)²/Σeₜ² over mean residuals, ≈2 when residuals are
    * independent, →0 under positive serial correlation (the common
    * failure: un-modeled weekly cycle), →4 under negative. Mean
    * residuals clear denominators exactly: eₜ = k·xₜ − S (k = days,
    * S = Σx) scales both sums by k², which cancels in the ratio.
    *
    * Exactness: pure integers end to end — one keyed lag window over
    * the calendar-bounded per-type series, squared sums in
    * DECIMAL(38,0)/HUGEINT (e² ≈ (k·x)² passes int64 only at small
    * scale; the cast is the stated guard), one integral milli floor
    * (both terms ≥ 0). Constant series (all e = 0) → NULL. */
  val durbinWatson: Q = Q(
    "q310_durbin_watson",
    """WITH dc AS (SELECT event_type,
      |                   CAST(date_trunc('day', ts) AS DATE) AS day,
      |                   CAST(count(*) AS BIGINT) AS x
      |            FROM events GROUP BY 1, 2),
      |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS k,
      |             CAST(sum(x) AS BIGINT) AS sx
      |      FROM dc GROUP BY 1),
      |e AS (SELECT dc.event_type, dc.day, m.k * dc.x - m.sx AS e
      |      FROM dc JOIN m USING (event_type)),
      |l AS (SELECT event_type, e,
      |        lag(e) OVER (PARTITION BY event_type ORDER BY day) AS pe
      |      FROM e),
      |f AS (SELECT event_type,
      |        sum(CAST(e AS HUGEINT) * e) AS den,
      |        sum(CASE WHEN pe IS NULL THEN 0
      |            ELSE CAST(e - pe AS HUGEINT) * (e - pe) END) AS num
      |      FROM l GROUP BY 1)
      |SELECT f.event_type, m.k AS n_days,
      |       CAST(CASE WHEN f.den = 0 THEN NULL
      |            ELSE (1000 * f.num) // f.den END AS BIGINT) AS dw_milli
      |FROM f JOIN m ON m.event_type = f.event_type""".stripMargin
  ) { (s, dir) =>
    val dc = t(s, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
    val m = dc.groupBy("event_type")
      .agg(count(lit(1)).as("k"), sum(col("x")).as("sx"))
    val e = dc.join(m, Seq("event_type"))
      .select(col("event_type"), col("day"),
        (col("k") * col("x") - col("sx")).as("e"))
    val l = e.withColumn("pe",
      lag(col("e"), 1).over(Window.partitionBy("event_type").orderBy("day")))
    val f = l.groupBy("event_type")
      .agg(sum(expr(s"CAST(e AS $d38) * e")).as("den"),
        sum(expr(s"CASE WHEN pe IS NULL THEN 0 " +
          s"ELSE CAST(e - pe AS $d38) * (e - pe) END")).as("num"))
    f.join(m.select("event_type", "k"), Seq("event_type"))
      .select(col("event_type"), col("k").as("n_days"),
        expr("CAST(CASE WHEN den = 0 THEN NULL " +
          "ELSE (1000 * num) div den END AS BIGINT)").as("dw_milli"))
  }

  /** q311: BROWN-FORSYTHE spread test across sources — the VARIANCE
    * counterpart of q222/q223's location tests: do sources differ in
    * length DISPERSION (a homogenizing scraper shows as collapsed
    * spread long before the mean moves)? One-way ANOVA F on
    * zᵢ = |xᵢ − median(group)| — the median-centered Levene variant,
    * robust to the heavy right tail document lengths always have.
    *
    * Scale shape: group medians come from the (source, value)
    * HISTOGRAM via keyed cumulative counts (the q287 p50 pattern —
    * distinct-value grain, never a row sort); z joins back by
    * (source, value) histogram row, so the row-grain work is two
    * grouped aggregates. Exactness: A = Σz and Q = Σz² are exact
    * integers (Q in DECIMAL(38,0)/HUGEINT); SSB/SSW micro-quantize
    * per group by one integral floor each — SSB term
    * (N·A_g − n_g·A)²/(n_g·N²), SSW term (n_g·Q_g − A_g²)/n_g, both
    * numerators ≥ 0 (Cauchy-Schwarz) — before order-immune sums; F is
    * one final integral milli floor. Degenerate spread (SSW = 0) →
    * NULL. */
  val brownForsythe: Q = Q(
    "q311_brown_forsythe",
    """WITH f AS (SELECT source, CAST(n_chars AS BIGINT) AS x FROM documents),
      |h AS (SELECT source, x, CAST(count(*) AS BIGINT) AS c
      |      FROM f GROUP BY 1, 2),
      |cum AS (SELECT source, x, c,
      |          CAST(sum(c) OVER (PARTITION BY source ORDER BY x) AS BIGINT)
      |            AS cc,
      |          CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS ng
      |        FROM h),
      |med AS (SELECT source, CAST(min(CASE WHEN 2 * cc >= ng THEN x END)
      |                 AS BIGINT) AS med
      |        FROM cum GROUP BY 1),
      |g AS (SELECT h.source,
      |        CAST(sum(h.c) AS BIGINT) AS ng,
      |        CAST(sum(h.c * abs(h.x - med.med)) AS BIGINT) AS a,
      |        sum(CAST(h.c AS HUGEINT) * abs(h.x - med.med)
      |            * abs(h.x - med.med)) AS q
      |      FROM h JOIN med ON med.source = h.source GROUP BY 1),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS k,
      |               CAST(sum(ng) AS BIGINT) AS n,
      |               CAST(sum(a) AS BIGINT) AS asum
      |        FROM g),
      |terms AS (SELECT tot.k AS k, tot.n AS n,
      |            CAST(sum((CAST(1000000 AS HUGEINT)
      |                      * (tot.n * g.a - g.ng * tot.asum)
      |                      * (tot.n * g.a - g.ng * tot.asum))
      |                 // (CAST(g.ng AS HUGEINT) * tot.n * tot.n))
      |              AS HUGEINT) AS ssb_u6,
      |            CAST(sum((CAST(1000000 AS HUGEINT)
      |                      * (g.ng * g.q - CAST(g.a AS HUGEINT) * g.a))
      |                 // g.ng) AS HUGEINT) AS ssw_u6
      |          FROM g CROSS JOIN tot GROUP BY 1, 2)
      |SELECT n, k,
      |       CAST(CASE WHEN ssw_u6 = 0 OR k < 2 THEN NULL
      |            ELSE (CAST(1000 AS HUGEINT) * (n - k) * ssb_u6)
      |                 // ((k - 1) * ssw_u6) END AS BIGINT) AS f_milli
      |FROM terms""".stripMargin
  ) { (s, dir) =>
    val d38c = "DECIMAL(38,0)"
    val h = t(s, dir, "documents")
      .select(col("source"), col("n_chars").cast(LongType).as("x"))
      .groupBy("source", "x").agg(count(lit(1)).as("c"))
      .localCheckpoint(true) // (source × distinct length), 2 consumers
    val cum = h.withColumn("cc",
        sum(col("c")).over(Window.partitionBy("source").orderBy("x")))
      .withColumn("ng", sum(col("c")).over(Window.partitionBy("source")))
    val med = cum.groupBy("source")
      .agg(min(when(lit(2) * col("cc") >= col("ng"), col("x")))
        .cast(LongType).as("med"))
    val g = h.join(med, Seq("source"))
      .groupBy("source")
      .agg(sum(col("c")).as("ng"),
        sum(col("c") * abs(col("x") - col("med"))).as("a"),
        sum(expr(s"CAST(c AS $d38c) * abs(x - med) * abs(x - med)")).as("q"))
    val tot = g.agg(count(lit(1)).as("k"), sum(col("ng")).as("n"),
      sum(col("a")).as("asum"))
    g.crossJoin(broadcast(tot))
      .groupBy("k", "n")
      .agg(sum(expr(s"(CAST(1000000 AS $d38c) " +
          "* (n * a - ng * asum) * (n * a - ng * asum)) " +
          s"div (CAST(ng AS $d38c) * n * n)")).as("ssb_u6"),
        sum(expr(s"(CAST(1000000 AS $d38c) " +
          s"* (ng * q - CAST(a AS $d38c) * a)) div ng")).as("ssw_u6"))
      .select(col("n"), col("k"),
        expr(s"CAST(CASE WHEN ssw_u6 = 0 OR k < 2 THEN NULL " +
          s"ELSE (CAST(1000 AS $d38c) * (n - k) * ssb_u6) " +
          s"div ((k - 1) * ssw_u6) END AS BIGINT)").as("f_milli"))
  }

  /** q314: RESTRICTED MEAN SURVIVAL TIME per signup cohort — the
    * survival family's missing summary: q228 emits the KM curve, q246
    * its median, q229 the log-rank comparison; RMST(τ) = ∫₀^τ S(t)dt
    * is the expected conversion-FREE days within the q228 horizon
    * (τ = 3), the number an experimenter quotes when medians are
    * undefined (fast-converting cohorts never reach S = ½ the other
    * way). Integrates the REGISTERED q228 step curve exactly: the KM
    * estimate is piecewise constant, so the integral is
    * 10⁶·d₁ + Σᵢ s_ppmᵢ·(dᵢ₊₁ − dᵢ) + s_ppm_k·(τ − d_k) — pure
    * integer sums over the ≤ (τ+1)-row-per-cohort step table (one
    * keyed lead window on a calendar-bounded frame). The oracle rides
    * [[kmCtes]] verbatim — no second KM to drift. Unit: ppm·days. */
  val rmst: Q = Q(
    "q314_rmst",
    kmCtes + """,
      |st AS (SELECT cohort, dur, CAST(s_ppm AS BIGINT) AS s_ppm,
      |         lead(dur) OVER (PARTITION BY cohort ORDER BY dur) AS nxt,
      |         row_number() OVER (PARTITION BY cohort ORDER BY dur) AS rn2
      |       FROM r)
      |SELECT cohort,
      |       CAST(sum(CASE WHEN rn2 = 1 THEN 1000000 * dur ELSE 0 END)
      |            + sum(s_ppm * (COALESCE(nxt, 3) - dur)) AS BIGINT)
      |         AS rmst_ppm_days
      |FROM st GROUP BY cohort""".stripMargin
  ) { (s, dir) =>
    val horizon = 3L
    val km = kaplanMeierReport(t(s, dir, "events"), horizonDays = 3)
    val w = Window.partitionBy("cohort").orderBy("dur")
    km.select(col("cohort"), col("dur"), col("s_ppm"),
        lead(col("dur"), 1).over(w).as("nxt"),
        row_number().over(w).as("rn2"))
      .groupBy("cohort")
      .agg((sum(when(col("rn2") === 1, lit(1000000L) * col("dur"))
          .otherwise(0L))
        + sum(col("s_ppm") * (coalesce(col("nxt"), lit(horizon)) - col("dur"))))
        .cast(LongType).as("rmst_ppm_days"))
  }

  /** q321: GEHAN-BRESLOW-WILCOXON test — q229's log-rank with each
    * event day weighted by its pooled risk set n(t), the standard
    * EARLY-difference-sensitive alternative (log-rank weights all
    * days equally, so late-horizon noise can drown a first-day gap;
    * Gehan's weight decays with the risk set, which is what "did the
    * weekend cohort convert differently UP FRONT" asks). Same
    * weekend-vs-weekday grouping, horizon, and pooled-risk-set fold
    * as q229 — the weight is NORMALIZED to n(t)/N so the
    * micro-quantized sums keep q229's int64 headroom (z is invariant
    * to the normalization: it cancels between numerator and √var).
    * Per-day weighted O−E and V micro-quantize from the same exact
    * integers; oracle rides [[logRankCtes]] verbatim. */
  val gehanBreslow: Q = Q(
    "q321_gehan_breslow",
    logRankCtes + """,
      |nt AS (SELECT max(n) AS ntot FROM ns),
      |x AS (SELECT dur, d1, d, n1, n, nt.ntot,
      |        (d1 - CAST(d AS DOUBLE) * n1 / n)
      |          * (CAST(n AS DOUBLE) / nt.ntot) AS ome,
      |        CASE WHEN n <= 1 THEN 0.0
      |             ELSE CAST(d AS DOUBLE) * n1 / n * (n - n1) / n
      |                  * (n - d) / (n - 1) END
      |          * (CAST(n AS DOUBLE) / nt.ntot)
      |          * (CAST(n AS DOUBLE) / nt.ntot) AS v
      |      FROM ns CROSS JOIN nt WHERE d > 0),
      |agg AS (SELECT
      |          CAST(sum(CAST(round(ome * 1000000) AS BIGINT)) AS BIGINT)
      |            AS ome_u6,
      |          CAST(sum(CAST(round(v * 1000000) AS BIGINT)) AS BIGINT)
      |            AS var_u6,
      |          CAST(sum(d) AS BIGINT) AS n_events
      |        FROM x)
      |SELECT n_events, ome_u6, var_u6,
      |       CAST(round(ome_u6 / sqrt(CAST(var_u6 AS DOUBLE) * 1000000)
      |           * 1000) AS BIGINT) AS z_milli
      |FROM agg""".stripMargin
  ) { (s, dir) =>
    logRankReport(survivalDurations(t(s, dir, "events"), horizonDays = 7)
      .select(when(col("dow").isin(0L, 6L), 1L).otherwise(0L).as("grp"),
        col("ev"), col("dur")), gehan = true)
  }

  /** q323: LJUNG-BOX portmanteau test per event type — "is this
    * daily series white noise AT ALL", the one-number gate an analyst
    * runs before reading q196's per-lag ACF bars (a single lag-7
    * spike and seven mild correlations can carry the same story; Q
    * pools them): Q = n(n+2)·Σ_{k≤7} r_k²/(n−k). Rides [[acfCtes]] /
    * [[acfFrame]] verbatim — no second ACF definition to drift. The
    * per-lag ratio r_k²/(n−k) uses n−k = n_pairs EXACTLY (rn is a
    * dense row_number, so the lag-k join has n−k pairs), taken from
    * the acf frame itself; degenerate (zero-variance) lags are absent
    * there and contribute nothing — stated so the statistic is
    * reproducible. Exactness: acf_ppm is already an exact BIGINT on
    * both engines; term_k = acf_ppm² div n_pairs and the final
    * q_milli = n(n+2)·Σterm div 10⁹ are nonneg integer floors in
    * DECIMAL(38,0)/HUGEINT. One calendar-bounded aggregate beyond
    * q196's plan. */
  val ljungBox: Q = Q(
    "q323_ljung_box",
    acfCtes + """,
      |nd AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
      |       FROM dc GROUP BY 1),
      |tm AS (SELECT a.event_type,
      |         CAST(count(*) AS BIGINT) AS n_lags,
      |         CAST(sum((CAST(acf_ppm AS HUGEINT) * acf_ppm) // n_pairs)
      |           AS BIGINT) AS s
      |       FROM acf a GROUP BY 1)
      |SELECT nd.event_type, nd.n AS n_days, tm.n_lags,
      |       CAST((CAST(nd.n AS HUGEINT) * (nd.n + 2) * tm.s)
      |            // 1000000000 AS BIGINT) AS q_milli
      |FROM nd JOIN tm ON tm.event_type = nd.event_type""".stripMargin
  ) { (s, dir) =>
    val nd = t(s, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
      .groupBy("event_type").agg(count(lit(1)).as("n"))
    val tm = acfFrame(s, dir).groupBy("event_type")
      .agg(count(lit(1)).as("n_lags"),
        sum(expr(s"(CAST(acf_ppm AS $d38) * acf_ppm) div n_pairs")).as("s"))
    nd.join(tm, Seq("event_type"))
      .select(col("event_type"), col("n").as("n_days"), col("n_lags"),
        expr(s"CAST((CAST(n AS $d38) * (n + 2) * s)" +
          " div 1000000000 AS BIGINT)").as("q_milli"))
  }

  /** q324: CRAMÉR-VON MISES two-sample criterion, weekend vs weekday
    * event values — the whole-distribution companion of q226's KS:
    * KS reads only the single largest CDF gap (one crossing point
    * decides it); CvM integrates the SQUARED gap over the pooled
    * distribution, T = nm/N² · Σ_z (w_z/N)(F_n(z) − G_m(z))², so a
    * broad mild shift that never produces one big gap still
    * registers. Stated in the tie-ready pooled-histogram form (the
    * grid is distinct VALUES, weighted by pooled counts).
    *
    * Scale shape: one cents-grain histogram, then the two cumulative
    * counts ride [[graft.operators.Ranks.globalRunningSum]] over the
    * distinct-value table — the q313 machinery, never a global window
    * on the Spark side — and one value-grain reduce.
    *
    * Exactness: per grid value, the CDF gap d = (m·CA − n·CB)/(nm)
    * and its weighted square quantize to nano units in ONE double
    * expression from exact BIGINTs (the q229 per-term pattern;
    * m·CA ≤ nm stays double-exact to 2⁵³ and beyond that both engines
    * round identically), then an order-immune BIGINT sum. */
  val cramerVonMises: Q = Q(
    "q324_cramer_von_mises",
    """WITH f AS (SELECT CAST(round(value * 100) AS BIGINT) AS x,
      |             CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END AS g
      |           FROM events),
      |h AS (SELECT x, CAST(sum(g) AS BIGINT) AS a,
      |             CAST(sum(1 - g) AS BIGINT) AS b
      |      FROM f GROUP BY 1),
      |cum AS (SELECT x, a + b AS w,
      |          CAST(sum(a) OVER (ORDER BY x) AS BIGINT) AS ca,
      |          CAST(sum(b) OVER (ORDER BY x) AS BIGINT) AS cb
      |        FROM h),
      |tot AS (SELECT CAST(sum(a) AS BIGINT) AS n,
      |               CAST(sum(b) AS BIGINT) AS m FROM h)
      |SELECT tot.n AS n_a, tot.m AS n_b,
      |       CAST(sum(CAST(round(1000000000.0 * w
      |           * ((CAST(tot.m AS DOUBLE) * ca - CAST(tot.n AS DOUBLE) * cb)
      |              / (CAST(tot.n AS DOUBLE) * tot.m))
      |           * ((CAST(tot.m AS DOUBLE) * ca - CAST(tot.n AS DOUBLE) * cb)
      |              / (CAST(tot.n AS DOUBLE) * tot.m))
      |           * tot.n * tot.m
      |           / (CAST(tot.n + tot.m AS DOUBLE) * (tot.n + tot.m)
      |              * (tot.n + tot.m))) AS BIGINT)) AS BIGINT) AS t_u9
      |FROM cum CROSS JOIN tot GROUP BY 1, 2""".stripMargin
  ) { (s, dir) =>
    val f = t(s, dir, "events")
      .select(round(col("value") * 100).cast(LongType).as("x"),
        when((dayofweek(col("ts")) - 1).isin(0, 6), 1L).otherwise(0L)
          .as("g"))
    val h = f.groupBy("x")
      .agg(sum(col("g")).as("a"), sum(lit(1L) - col("g")).as("b"))
    val cum = graft.operators.Ranks.globalRunningSums(h, Seq(col("x")),
        Seq(col("a") -> "ca", col("b") -> "cb"))
      .select(col("x"), (col("a") + col("b")).as("w"), col("ca"), col("cb"))
    val tot = h.agg(sum(col("a")).as("n"), sum(col("b")).as("m"))
    val gap = ((col("m").cast("double") * col("ca")
      - col("n").cast("double") * col("cb"))
      / (col("n").cast("double") * col("m")))
    cum.crossJoin(broadcast(tot))
      .groupBy(col("n").as("n_a"), col("m").as("n_b"))
      .agg(sum(round(lit(1000000000.0) * col("w") * gap * gap
          * col("n") * col("m")
          / ((col("n") + col("m")).cast("double") * (col("n") + col("m"))
            * (col("n") + col("m")))).cast(LongType)).as("t_u9"))
  }

  /** q328: PAGE'S L TREND TEST — the ordered-alternative sibling of
    * q307's Friedman on the (day × hour-band) activity grid: Friedman
    * spends k−1 df asking "do the 8 three-hour bands differ AT ALL";
    * Page's L spends one df on the MONOTONE alternative "activity
    * ranks rise across the day" (the within-day analogue of q299's
    * Cochran-Armitage move on the same 8 bands). L = Σ_j c_j·R_j with
    * c_j = band order 1..8 over per-day ranks of the band counts.
    *
    * Exactness: the grid is days × EXACTLY 8 fixed bands (hour div 3,
    * zero-filled — no data-dependent band set), doubled midranks make
    * Ld = Σ(j+1)·Rd_j an exact BIGINT with E[Ld] = m·k(k+1)²/2 an
    * exact integer (k(k+1)² is always even); z uses the standard
    * no-ties variance 4·Var[L] = m·k²(k+1)(k²−1)/36 — an
    * approximation under heavy ties, stated — as ONE final rounded
    * double from exact integers (signed numerator, the q302 rule).
    *
    * Scale shape: one map-side-combined (day, band) aggregate, then
    * calendar-bounded grid arithmetic with keyed rank windows. */
  val pageTrend: Q = Q(
    "q328_page_trend",
    """WITH dc AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
      |                   CAST(hour(ts) // 3 AS BIGINT) AS band,
      |                   CAST(count(*) AS BIGINT) AS x
      |            FROM events GROUP BY 1, 2),
      |days AS (SELECT DISTINCT day FROM dc),
      |bands AS (SELECT CAST(unnest(range(0, 8)) AS BIGINT) AS band),
      |grid AS (SELECT d.day, b.band, COALESCE(dc.x, 0) AS x
      |         FROM days d CROSS JOIN bands b
      |         LEFT JOIN dc ON dc.day = d.day AND dc.band = b.band),
      |r AS (SELECT day, band,
      |        2 * rank() OVER (PARTITION BY day ORDER BY x)
      |          + count(*) OVER (PARTITION BY day, x) - 1 AS u
      |      FROM grid),
      |rj AS (SELECT band, CAST(sum(u) AS BIGINT) AS rd FROM r GROUP BY 1),
      |m AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM days) AS n,
      |             CAST(8 AS BIGINT) AS k),
      |agg AS (SELECT m.n, m.k,
      |          (SELECT CAST(sum((band + 1) * rd) AS BIGINT) FROM rj)
      |            AS ld
      |        FROM m)
      |SELECT n AS n_blocks, k AS k_bands, ld AS l_doubled,
      |       CAST(round((ld - CAST(n AS DOUBLE) * k * (k + 1) * (k + 1) / 2)
      |            / sqrt(CAST(n AS DOUBLE) * k * k * (k + 1)
      |                   * (k * k - 1) / 36.0) * 1000) AS BIGINT)
      |         AS z_milli
      |FROM agg""".stripMargin
  ) { (s, dir) =>
    val dc = t(s, dir, "events")
      .groupBy(to_date(col("ts")).as("day"),
        expr("CAST(hour(ts) div 3 AS BIGINT)").as("band"))
      .agg(count(lit(1)).as("x"))
      .localCheckpoint(true) // calendar-bounded (days × 8)
    val days = dc.select("day").distinct()
    val bands = s.range(0, 8).select(col("id").as("band"))
    val grid = days.crossJoin(broadcast(bands))
      .join(dc, Seq("day", "band"), "left")
      .select(col("day"), col("band"), coalesce(col("x"), lit(0L)).as("x"))
    val u = (lit(2) * rank().over(Window.partitionBy("day").orderBy("x"))
      + count(lit(1)).over(Window.partitionBy("day", "x")) - 1)
      .cast(LongType)
    val ld = grid.select(col("band"), u.as("u"))
      .groupBy("band").agg(sum(col("u")).as("rd"))
      .agg(sum((col("band") + 1) * col("rd")).as("ld"))
    days.agg(count(lit(1)).as("n"))
      .select(col("n"), lit(8L).as("k"))
      .crossJoin(broadcast(ld))
      .select(col("n").as("n_blocks"), col("k").as("k_bands"),
        col("ld").as("l_doubled"),
        round((col("ld") - col("n").cast("double") * col("k")
            * (col("k") + 1) * (col("k") + 1) / 2)
          / sqrt(col("n").cast("double") * col("k") * col("k")
            * (col("k") + 1) * (col("k") * col("k") - 1) / 36.0) * 1000)
          .cast(LongType).as("z_milli"))
  }

  /** q330: KUIPER TWO-SAMPLE STATISTIC, weekend vs weekday event
    * values — V = D⁺ + D⁻ on the same pooled distinct-value grid as
    * q324's CvM: q226's KS reads the single largest |gap| and goes
    * blind when the two CDFs cross (a shift-up early and shift-down
    * late cancel to two half-sized gaps); Kuiper adds the largest
    * gap in EACH direction, the classic crossing-sensitive variant.
    *
    * Exactness: the directional gaps clear to integers — D⁺ scales
    * to max_z(m·CA − n·CB) and D⁻ to max_z(n·CB − m·CA), exact
    * DECIMAL(38,0)/HUGEINT products at grid grain (max is
    * order-immune, nothing to quantize), and v_u6 is one nonneg
    * floor of 10⁶(D⁺ + D⁻)/(nm). Same RunningSum cumulatives as
    * q324 — the grid builds once per engine, no new machinery. */
  val kuiperTest: Q = Q(
    "q330_kuiper_test",
    """WITH f AS (SELECT CAST(round(value * 100) AS BIGINT) AS x,
      |             CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END AS g
      |           FROM events),
      |h AS (SELECT x, CAST(sum(g) AS BIGINT) AS a,
      |             CAST(sum(1 - g) AS BIGINT) AS b
      |      FROM f GROUP BY 1),
      |cum AS (SELECT x,
      |          CAST(sum(a) OVER (ORDER BY x) AS BIGINT) AS ca,
      |          CAST(sum(b) OVER (ORDER BY x) AS BIGINT) AS cb
      |        FROM h),
      |tot AS (SELECT CAST(sum(a) AS BIGINT) AS n,
      |               CAST(sum(b) AS BIGINT) AS m FROM h),
      |d AS (SELECT greatest(max(CAST(tot.m AS HUGEINT) * ca
      |                          - CAST(tot.n AS HUGEINT) * cb), 0) AS dp,
      |             greatest(max(CAST(tot.n AS HUGEINT) * cb
      |                          - CAST(tot.m AS HUGEINT) * ca), 0) AS dm
      |      FROM cum CROSS JOIN tot)
      |SELECT tot.n AS n_a, tot.m AS n_b,
      |       CAST((1000000 * (d.dp + d.dm))
      |            // (CAST(tot.n AS HUGEINT) * tot.m) AS BIGINT) AS v_u6
      |FROM d CROSS JOIN tot""".stripMargin
  ) { (s, dir) =>
    val f = t(s, dir, "events")
      .select(round(col("value") * 100).cast(LongType).as("x"),
        when((dayofweek(col("ts")) - 1).isin(0, 6), 1L).otherwise(0L)
          .as("g"))
    val h = f.groupBy("x")
      .agg(sum(col("g")).as("a"), sum(lit(1L) - col("g")).as("b"))
      .localCheckpoint(true) // value grid; cumulatives + totals
    val cum = graft.operators.Ranks.globalRunningSums(h, Seq(col("x")),
      Seq(col("a") -> "ca", col("b") -> "cb"))
    val tot = h.agg(sum(col("a")).as("n"), sum(col("b")).as("m"))
    val d = cum.crossJoin(broadcast(tot))
      .agg(
        greatest(max(expr(s"CAST(m AS $d38) * ca - CAST(n AS $d38) * cb")),
          lit(0).cast(d38)).as("dp"),
        greatest(max(expr(s"CAST(n AS $d38) * cb - CAST(m AS $d38) * ca")),
          lit(0).cast(d38)).as("dm"))
    d.crossJoin(broadcast(tot))
      .select(col("n").as("n_a"), col("m").as("n_b"),
        expr(s"CAST((1000000 * (dp + dm)) div (CAST(n AS $d38) * m)" +
          " AS BIGINT)").as("v_u6"))
  }

  /** q331: TURNING-POINT TEST of the daily count series per event
    * type — the local-extremum randomness check that complements
    * q298's runs test: runs counts sign streaks around the median
    * (level-sensitive); turning points count STRICT local peaks and
    * troughs, which an i.i.d. series produces at a known exact rate
    * E[T] = 2(n−2)/3 regardless of distribution — autocorrelation
    * shows as too few, oscillation as too many. Strict inequalities
    * only (a tie with a neighbor is not an extremum — stated so the
    * count is reproducible); E and Var[T] = (16n−29)/90 are exact
    * rationals cleared to one final rounded double (signed numerator,
    * the q302 rule). One keyed lag/lead window over the
    * calendar-bounded daily series — the q196 grain. */
  val turningPoints: Q = Q(
    "q331_turning_points",
    """WITH dc AS (SELECT event_type,
      |                   CAST(date_trunc('day', ts) AS DATE) AS day,
      |                   CAST(count(*) AS BIGINT) AS x
      |            FROM events GROUP BY 1, 2),
      |w AS (SELECT event_type, x,
      |        lag(x) OVER (PARTITION BY event_type ORDER BY day) AS xp,
      |        lead(x) OVER (PARTITION BY event_type ORDER BY day) AS xn
      |      FROM dc),
      |a AS (SELECT event_type, CAST(count(*) AS BIGINT) + 2 AS n,
      |        CAST(sum(CASE WHEN (x > xp AND x > xn)
      |                        OR (x < xp AND x < xn) THEN 1 ELSE 0 END)
      |          AS BIGINT) AS tp
      |      FROM w WHERE xp IS NOT NULL AND xn IS NOT NULL
      |      GROUP BY 1)
      |SELECT event_type, n AS n_days, tp AS turning_points,
      |       CAST(round((tp - 2.0 * (n - 2) / 3)
      |            / sqrt((16.0 * n - 29) / 90) * 1000) AS BIGINT)
      |         AS z_milli
      |FROM a""".stripMargin
  ) { (s, dir) =>
    val dc = t(s, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
    val w = Window.partitionBy("event_type").orderBy("day")
    val a = dc.select(col("event_type"), col("x"),
        lag(col("x"), 1).over(w).as("xp"), lead(col("x"), 1).over(w).as("xn"))
      .filter(col("xp").isNotNull && col("xn").isNotNull)
      .groupBy("event_type")
      .agg((count(lit(1)) + 2).as("n"),
        sum(when((col("x") > col("xp") && col("x") > col("xn"))
          || (col("x") < col("xp") && col("x") < col("xn")), 1L)
          .otherwise(0L)).as("tp"))
    a.select(col("event_type"), col("n").as("n_days"),
      col("tp").as("turning_points"),
      round((col("tp") - lit(2.0) * (col("n") - 2) / 3)
        / sqrt((lit(16.0) * col("n") - 29) / 90) * 1000)
        .cast(LongType).as("z_milli"))
  }

  /** q332: ANSARI-BRADLEY SCALE TEST, weekend vs weekday event
    * values — the RANK-based dispersion test beside q311's
    * Brown-Forsythe: BF needs group medians and absolute deviations
    * (moment-ish); AB ranks the pooled sample from BOTH ENDS toward
    * the middle (score = min(rank, N+1−rank)), so a group whose
    * values crowd the extremes scores LOW and a tight group scores
    * HIGH — pure ordinal evidence of unequal spread, immune to any
    * monotone transform of value.
    *
    * Exactness: everything at the pooled distinct-value grid.
    * Doubled midranks come straight off the cumulative counts
    * (u2 = 2·cc − w + 1), doubled scores s2 = min(u2, 2(N+1) − u2),
    * the statistic T2 = Σ a_z·s2_z and the tie-conditional moment
    * sums S1 = Σ w·s2, S2 = Σ w·s2² are exact
    * DECIMAL(38,0)/HUGEINT; z = (T2 − n·S1/N)/√(nm(N·S2 − S1²)/
    * (N²(N−1))) is ONE final rounded double from those identical
    * exact sums (signed numerator, the q302 rule). Same RunningSum
    * grid as q324/q330 — no new machinery, plan-asserted family. */
  val ansariBradley: Q = Q(
    "q332_ansari_bradley",
    """WITH f AS (SELECT CAST(round(value * 100) AS BIGINT) AS x,
      |             CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END AS g
      |           FROM events),
      |h AS (SELECT x, CAST(sum(g) AS BIGINT) AS a,
      |             CAST(sum(1 - g) AS BIGINT) AS b
      |      FROM f GROUP BY 1),
      |cum AS (SELECT x, a, a + b AS w,
      |          CAST(sum(a + b) OVER (ORDER BY x) AS BIGINT) AS cc
      |        FROM h),
      |tot AS (SELECT CAST(sum(a) AS BIGINT) AS n,
      |               CAST(sum(b) AS BIGINT) AS m,
      |               CAST(sum(a) + sum(b) AS BIGINT) AS nn FROM h),
      |sc AS (SELECT c.a, c.w,
      |         least(2 * c.cc - c.w + 1,
      |               2 * (tot.nn + 1) - (2 * c.cc - c.w + 1)) AS s2
      |       FROM cum c CROSS JOIN tot),
      |agg AS (SELECT CAST(sum(CAST(a AS HUGEINT) * s2) AS HUGEINT) AS t2,
      |          CAST(sum(CAST(w AS HUGEINT) * s2) AS HUGEINT) AS s1,
      |          CAST(sum(CAST(w AS HUGEINT) * s2 * s2) AS HUGEINT) AS ss2
      |        FROM sc)
      |SELECT tot.n AS n_a, tot.m AS n_b, CAST(agg.t2 AS BIGINT) AS t_doubled,
      |       CAST(CASE WHEN tot.nn < 2
      |              OR CAST(tot.nn AS HUGEINT) * agg.ss2 - agg.s1 * agg.s1 <= 0
      |            THEN NULL
      |            ELSE round((CAST(agg.t2 AS DOUBLE)
      |                        - CAST(tot.n AS DOUBLE) * agg.s1 / tot.nn)
      |              / sqrt(CAST(tot.n AS DOUBLE) * tot.m
      |                     * CAST(CAST(tot.nn AS HUGEINT) * agg.ss2
      |                            - agg.s1 * agg.s1 AS DOUBLE)
      |                     / (CAST(tot.nn AS DOUBLE) * tot.nn * (tot.nn - 1)))
      |              * 1000) END AS BIGINT) AS z_milli
      |FROM agg CROSS JOIN tot""".stripMargin
  ) { (s, dir) =>
    val f = t(s, dir, "events")
      .select(round(col("value") * 100).cast(LongType).as("x"),
        when((dayofweek(col("ts")) - 1).isin(0, 6), 1L).otherwise(0L)
          .as("g"))
    val h = f.groupBy("x")
      .agg(sum(col("g")).as("a"), sum(lit(1L) - col("g")).as("b"))
      .localCheckpoint(true) // value grid; cumulative + totals
    val cum = graft.operators.Ranks.globalRunningSum(
      h.select(col("x"), col("a"), (col("a") + col("b")).as("w")),
      Seq(col("x")), col("w"), "cc")
    val tot = h.agg(sum(col("a")).as("n"), sum(col("b")).as("m"),
      (sum(col("a")) + sum(col("b"))).as("nn"))
    val sc = cum.crossJoin(broadcast(tot))
      .select(col("a"), col("w"),
        least(lit(2) * col("cc") - col("w") + 1,
          lit(2) * (col("nn") + 1) - (lit(2) * col("cc") - col("w") + 1))
          .as("s2"))
    val agg = sc.agg(
      sum(expr(s"CAST(a AS $d38) * s2")).as("t2"),
      sum(expr(s"CAST(w AS $d38) * s2")).as("s1"),
      sum(expr(s"CAST(w AS $d38) * s2 * s2")).as("ss2"))
    agg.crossJoin(broadcast(tot))
      .select(col("n").as("n_a"), col("m").as("n_b"),
        col("t2").cast(LongType).as("t_doubled"),
        expr(s"CAST(CASE WHEN nn < 2" +
          s" OR CAST(nn AS $d38) * ss2 - s1 * s1 <= 0 THEN NULL" +
          " ELSE round((CAST(t2 AS DOUBLE)" +
          " - CAST(n AS DOUBLE) * s1 / nn)" +
          " / sqrt(CAST(n AS DOUBLE) * m" +
          s" * CAST(CAST(nn AS $d38) * ss2 - s1 * s1 AS DOUBLE)" +
          " / (CAST(nn AS DOUBLE) * nn * (nn - 1)))" +
          " * 1000) END AS BIGINT)").as("z_milli"))
  }

  /** q333: QUADE TEST — q307's Friedman with blocks WEIGHTED by their
    * observed spread: Friedman gives every day one vote on the
    * revenue ranking of event types; Quade ranks the days by their
    * within-day RANGE and weights each day's centered ranks by that
    * range-rank, so high-swing days (where the ordering is actually
    * informative) dominate and near-flat days fade — the standard
    * higher-power alternative at small k.
    *
    * Exactness: doubled midranks within blocks (u2, centered at the
    * exact integer k+1), block-range ranks via the SAME
    * distinct-value machinery as the group tests — a (range-value)
    * histogram + RunningSum cumulative gives q2 = 2·cc − w + 1, NO
    * global window on the Spark side — then S = q2·(u2 − (k+1))
    * exact signed integers, A = ΣS², Bm = Σ_j(Σ_i S)², and
    * F = (m−1)·Bm/(m·A − Bm) one nonneg milli floor (denominator ≥ 0
    * by Cauchy-Schwarz, 0 → NULL). Calendar-bounded grid grain end
    * to end. */
  val quadeTest: Q = Q(
    "q333_quade_test",
    """WITH dc AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
      |                   event_type,
      |                   CAST(sum(CAST(round(value * 100) AS BIGINT))
      |                     AS BIGINT) AS x
      |            FROM events GROUP BY 1, 2),
      |days AS (SELECT DISTINCT day FROM dc),
      |types AS (SELECT DISTINCT event_type FROM dc),
      |grid AS (SELECT d.day, t.event_type, COALESCE(dc.x, 0) AS x
      |         FROM days d CROSS JOIN types t
      |         LEFT JOIN dc ON dc.day = d.day AND dc.event_type = t.event_type),
      |r AS (SELECT day, event_type,
      |        2 * rank() OVER (PARTITION BY day ORDER BY x)
      |          + count(*) OVER (PARTITION BY day, x) - 1 AS u2
      |      FROM grid),
      |rg AS (SELECT day, max(x) - min(x) AS d FROM grid GROUP BY 1),
      |hd AS (SELECT d, CAST(count(*) AS BIGINT) AS w FROM rg GROUP BY 1),
      |cd AS (SELECT d, w, CAST(sum(w) OVER (ORDER BY d) AS BIGINT) AS cc
      |       FROM hd),
      |q AS (SELECT rg.day, 2 * cd.cc - cd.w + 1 AS q2
      |      FROM rg JOIN cd ON cd.d = rg.d),
      |m AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM days) AS n,
      |             (SELECT CAST(count(*) AS BIGINT) FROM types) AS k),
      |sv AS (SELECT r.event_type,
      |         CAST(q.q2 AS HUGEINT) * (r.u2 - (m.k + 1)) AS sij
      |       FROM r JOIN q ON q.day = r.day CROSS JOIN m),
      |ag AS (SELECT (SELECT sum(sij * sij) FROM sv) AS a,
      |          (SELECT sum(CAST(sj AS HUGEINT) * sj) FROM
      |             (SELECT event_type, CAST(sum(sij) AS HUGEINT) AS sj
      |              FROM sv GROUP BY 1)) AS bm,
      |          m.n, m.k
      |        FROM m)
      |SELECT n AS n_blocks, k AS k_items,
      |       CAST(CASE WHEN CAST(n AS HUGEINT) * a - bm <= 0 THEN NULL
      |            ELSE (1000 * (n - 1) * bm)
      |                 // (CAST(n AS HUGEINT) * a - bm) END
      |         AS BIGINT) AS f_milli
      |FROM ag""".stripMargin
  ) { (s, dir) =>
    val dc = t(s, dir, "events")
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(sum(round(col("value") * 100).cast(LongType)).as("x"))
      .localCheckpoint(true) // calendar-bounded (days × types)
    val days = dc.select("day").distinct()
    val types = dc.select("event_type").distinct()
    val grid = days.crossJoin(broadcast(types))
      .join(dc, Seq("day", "event_type"), "left")
      .select(col("day"), col("event_type"),
        coalesce(col("x"), lit(0L)).as("x"))
      .localCheckpoint(true) // ranks + ranges
    val u2 = (lit(2) * rank().over(Window.partitionBy("day").orderBy("x"))
      + count(lit(1)).over(Window.partitionBy("day", "x")) - 1)
      .cast(LongType)
    val r = grid.select(col("day"), col("event_type"), u2.as("u2"))
    val rg = grid.groupBy("day").agg((max(col("x")) - min(col("x"))).as("d"))
    val hd = rg.groupBy("d").agg(count(lit(1)).as("w"))
    val cd = graft.operators.Ranks.globalRunningSum(
      hd, Seq(col("d")), col("w"), "cc")
    val q = rg.join(cd, Seq("d"))
      .select(col("day"), (lit(2) * col("cc") - col("w") + 1).as("q2"))
    val nk = days.agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(types.agg(count(lit(1)).as("k"))))
    val sv = r.join(q, Seq("day")).crossJoin(broadcast(nk))
      .select(col("event_type"),
        expr(s"CAST(q2 AS $d38) * (u2 - (k + 1))").as("sij"))
      .localCheckpoint(true) // grid-sized; two moment consumers
    val a = sv.agg(sum(col("sij") * col("sij")).as("a"))
    val bm = sv.groupBy("event_type").agg(sum(col("sij")).as("sj"))
      .agg(sum(col("sj") * col("sj")).as("bm"))
    nk.crossJoin(broadcast(a)).crossJoin(broadcast(bm))
      .select(col("n").as("n_blocks"), col("k").as("k_items"),
        expr(s"CAST(CASE WHEN CAST(n AS $d38) * a - bm <= 0 THEN NULL" +
          s" ELSE (1000 * (n - 1) * bm) div (CAST(n AS $d38) * a - bm) END" +
          " AS BIGINT)").as("f_milli"))
  }

  /** q326: MOOD'S MEDIAN TEST across event types — do the k types
    * differ in MEDIAN event value? The robust k-sample location test
    * that, unlike q293's Kruskal-Wallis, only asks about the median
    * crossing (immune to tail shape entirely) — the right test when
    * `value` is a heavy-tailed money-like column. The grand lower
    * median is EXACT: cents histogram →
    * [[graft.operators.Ranks.globalRunningSum]] cumulative over the
    * distinct-value table (the q313/q287 machinery — never a global
    * window on the Spark side) → min x with 2·cc ≥ N; each group's
    * above/at-or-below split then chi²s against the margins with the
    * q194 per-cell micro-quantization (round((O−E)²/E·10⁶) from
    * identical exact integers, order-immune BIGINT sum). Degenerate
    * splits (everything on one side) report NULL on both engines.
    * One cents-grain histogram + prefix sum, one k×2 aggregate. */
  val moodMedian: Q = Q(
    "q326_mood_median",
    """WITH f AS (SELECT event_type AS g,
      |                  CAST(round(value * 100) AS BIGINT) AS x
      |           FROM events),
      |h AS (SELECT x, CAST(count(*) AS BIGINT) AS c FROM f GROUP BY 1),
      |cum AS (SELECT x, CAST(sum(c) OVER (ORDER BY x) AS BIGINT) AS cc
      |        FROM h),
      |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM h),
      |med AS (SELECT min(x) AS m FROM cum, tot WHERE 2 * cc >= n),
      |cells AS (SELECT g,
      |            CAST(sum(CASE WHEN x <= med.m THEN 1 ELSE 0 END)
      |              AS BIGINT) AS a,
      |            CAST(sum(CASE WHEN x > med.m THEN 1 ELSE 0 END)
      |              AS BIGINT) AS b
      |          FROM f CROSS JOIN med GROUP BY 1),
      |tots AS (SELECT CAST(sum(a) AS BIGINT) AS ta,
      |                CAST(sum(b) AS BIGINT) AS tb,
      |                CAST(count(*) AS BIGINT) AS k FROM cells),
      |chi AS (SELECT sum(
      |          CAST(round((a - CAST(a + b AS DOUBLE) * ta / (ta + tb))
      |                     * (a - CAST(a + b AS DOUBLE) * ta / (ta + tb))
      |                     / (CAST(a + b AS DOUBLE) * ta / (ta + tb))
      |                     * 1000000) AS BIGINT)
      |          + CAST(round((b - CAST(a + b AS DOUBLE) * tb / (ta + tb))
      |                       * (b - CAST(a + b AS DOUBLE) * tb / (ta + tb))
      |                       / (CAST(a + b AS DOUBLE) * tb / (ta + tb))
      |                       * 1000000) AS BIGINT)) AS chi2raw
      |        FROM cells CROSS JOIN tots)
      |SELECT tots.k AS k_groups, med.m AS median_cents,
      |       tots.ta + tots.tb AS n,
      |       CAST(CASE WHEN tots.ta = 0 OR tots.tb = 0 THEN NULL
      |            ELSE chi.chi2raw END AS BIGINT) AS chi2_u6
      |FROM tots CROSS JOIN med CROSS JOIN chi""".stripMargin
  ) { (s, dir) =>
    val f = t(s, dir, "events")
      .select(col("event_type").as("g"),
        round(col("value") * 100).cast(LongType).as("x"))
      .localCheckpoint(true) // histogram + split read it twice
    val h = f.groupBy("x").agg(count(lit(1)).as("c"))
    val cum = graft.operators.Ranks.globalRunningSum(
      h, Seq(col("x")), col("c"), "cc")
    val tot = h.agg(sum(col("c")).as("n"))
    val med = cum.crossJoin(broadcast(tot))
      .filter(lit(2) * col("cc") >= col("n"))
      .agg(min(col("x")).as("m"))
    val cells = f.crossJoin(broadcast(med))
      .groupBy("g")
      .agg(sum(when(col("x") <= col("m"), 1L).otherwise(0L)).as("a"),
        sum(when(col("x") > col("m"), 1L).otherwise(0L)).as("b"))
      .localCheckpoint(true) // k rows; margins + cells
    val tots = cells.agg(sum(col("a")).as("ta"), sum(col("b")).as("tb"),
      count(lit(1)).as("k"))
    val ea = ((col("a") + col("b")).cast("double") * col("ta")
      / (col("ta") + col("tb")))
    val eb = ((col("a") + col("b")).cast("double") * col("tb")
      / (col("ta") + col("tb")))
    val chi = cells.crossJoin(broadcast(tots))
      .agg(sum(round((col("a") - ea) * (col("a") - ea) / ea * 1000000)
          .cast(LongType)
        + round((col("b") - eb) * (col("b") - eb) / eb * 1000000)
          .cast(LongType)).as("chi2raw"))
    tots.crossJoin(broadcast(med)).crossJoin(broadcast(chi))
      .select(col("k").as("k_groups"), col("m").as("median_cents"),
        (col("ta") + col("tb")).as("n"),
        when(col("ta") === 0 || col("tb") === 0,
          lit(null).cast(LongType))
          .otherwise(col("chi2raw")).as("chi2_u6"))
  }

  /** q329: WOOLF'S TEST of odds-ratio homogeneity across sources —
    * the companion q306's Mantel-Haenszel POOLED odds ratio needs
    * before anyone quotes it: pooling is only honest if the
    * per-stratum ORs agree, and Woolf's χ² = Σw(lnOR_i − lnŌR)² is
    * the standard heterogeneity check (with Haldane-Anscombe +½ in
    * every cell so empty cells stay finite). Same strata, same 2×2,
    * same shared predictor frame
    * ([[CurationQueries.predictor]]/predictorCte) — no second gate
    * definition to drift.
    *
    * Exactness: per stratum, lnOR and the inverse-variance weight are
    * each ONE double expression from exact integer cells, quantized
    * to BIGINT (u6 / milli) — the q241 discipline; the three moment
    * sums accumulate exactly (DECIMAL(38,0) for the signed products),
    * and χ² = (Σwx² − (Σwx)²/Σw)/10¹⁵·scale collapses to one final
    * rounded double from those identical exact sums (signed
    * numerator — the q302 rule, no integer div). */
  val woolfHomogeneity: Q = Q(
    "q329_woolf_homogeneity",
    CurationQueries.predictorCte + """,
      |s AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
      |        CAST(sum(CASE WHEN p = 1000000 AND y = 1 THEN 1 ELSE 0 END)
      |          AS BIGINT) AS a,
      |        CAST(sum(CASE WHEN p = 1000000 AND y = 0 THEN 1 ELSE 0 END)
      |          AS BIGINT) AS bb,
      |        CAST(sum(CASE WHEN p < 1000000 AND y = 1 THEN 1 ELSE 0 END)
      |          AS BIGINT) AS c
      |      FROM b GROUP BY source),
      |w AS (SELECT source,
      |        CAST(round(ln(CAST(2 * a + 1 AS DOUBLE)
      |                      * (2 * (n - a - bb - c) + 1)
      |                      / (CAST(2 * bb + 1 AS DOUBLE) * (2 * c + 1)))
      |             * 1000000) AS BIGINT) AS x_u6,
      |        CAST(round(1000.0 / (1.0 / (a + 0.5) + 1.0 / (bb + 0.5)
      |                   + 1.0 / (c + 0.5)
      |                   + 1.0 / ((n - a - bb - c) + 0.5)))
      |             AS BIGINT) AS w_m
      |      FROM s),
      |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_strata,
      |          CAST(sum(w_m) AS BIGINT) AS sw,
      |          sum(CAST(w_m AS HUGEINT) * x_u6) AS swx,
      |          sum(CAST(w_m AS HUGEINT) * x_u6 * x_u6) AS swx2
      |        FROM w)
      |SELECT n_strata,
      |       CAST(round(CAST(swx AS DOUBLE) / sw) AS BIGINT)
      |         AS lnor_pooled_u6,
      |       CAST(CASE WHEN n_strata < 2 THEN NULL
      |            ELSE round((CAST(swx2 AS DOUBLE)
      |                        - CAST(swx AS DOUBLE) * CAST(swx AS DOUBLE)
      |                          / sw) / 1000000000000.0) END AS BIGINT)
      |         AS chi2_milli
      |FROM agg""".stripMargin
  ) { (s, dir) =>
    val st = CurationQueries.predictor(s, dir)
      .groupBy("source")
      .agg(count(lit(1)).as("n"),
        sum(when(col("p") === 1000000L && col("y") === 1L, 1L).otherwise(0L))
          .as("a"),
        sum(when(col("p") === 1000000L && col("y") === 0L, 1L).otherwise(0L))
          .as("bb"),
        sum(when(col("p") < 1000000L && col("y") === 1L, 1L).otherwise(0L))
          .as("c"))
    val w = st.select(
      round(log((lit(2) * col("a") + 1).cast("double")
          * (lit(2) * (col("n") - col("a") - col("bb") - col("c")) + 1)
          / ((lit(2) * col("bb") + 1).cast("double")
            * (lit(2) * col("c") + 1)))
        * 1000000).cast(LongType).as("x_u6"),
      round(lit(1000.0) / (lit(1.0) / (col("a") + 0.5)
          + lit(1.0) / (col("bb") + 0.5) + lit(1.0) / (col("c") + 0.5)
          + lit(1.0) / ((col("n") - col("a") - col("bb") - col("c")) + 0.5)))
        .cast(LongType).as("w_m"))
    w.agg(count(lit(1)).as("n_strata"), sum(col("w_m")).as("sw"),
        sum(expr(s"CAST(w_m AS $d38) * x_u6")).as("swx"),
        sum(expr(s"CAST(w_m AS $d38) * x_u6 * x_u6")).as("swx2"))
      .select(col("n_strata"),
        round(col("swx").cast("double") / col("sw")).cast(LongType)
          .as("lnor_pooled_u6"),
        when(col("n_strata") < 2, lit(null).cast(LongType))
          .otherwise(round((col("swx2").cast("double")
            - col("swx").cast("double") * col("swx").cast("double")
              / col("sw")) / 1000000000000.0).cast(LongType))
          .as("chi2_milli"))
  }

  /** q318: KENDALL'S W coefficient of concordance — do the days agree
    * on how the event types rank by REVENUE? q307's Friedman asks the
    * same grid "do the types differ" on daily COUNTS; W answers the
    * complementary question on daily revenue (sum of exact cents) and
    * reports agreement strength on [0,1] rather than a chi² — the
    * number a reviewer quotes ("days concord at W=0.8"). W relates to
    * Friedman's chi² by W = χ²/(m(k−1)); it is computed here in its
    * own tie-corrected form with the per-block tie term Σ(t³−t)
    * explicit (and emitted — the term q307's denominator folds away),
    * over a DIFFERENT measurement, so neither query derives from the
    * other's output.
    *
    * Exactness: doubled midranks u = 2·rank + |ties| − 1 (the q222
    * discipline) make the doubled rank sums Rd_j exact BIGINTs with
    * Σ Rd_j = m·k(k+1), so the doubled mean m(k+1) is an exact
    * integer and SSd = Σ(Rd_j − m(k+1))² = 4·Σ(R_j − R̄)² needs no
    * fraction; W = 12·SS/denom = 3·SSd/denom with denom =
    * m²(k³−k) − m·Σ(t³−t), all products in DECIMAL(38,0)/HUGEINT,
    * one ppm floor (nonneg, so Spark div == DuckDB //). Fully-tied
    * grids (denom 0) report NULL on both engines.
    *
    * Scale shape: one map-side-combined (day × type) aggregate, then
    * everything at calendar-bounded grid grain — keyed rank windows
    * (never global), a (day, x)-grain tie count, three 1-row reduces
    * broadcast together. Reference analogue: none — inferential layer
    * over Covid19Stats.java's daily sums (SURVEY.md §2). */
  val kendallW: Q = Q(
    "q318_kendall_w",
    """WITH dc AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
      |                   event_type,
      |                   CAST(sum(CAST(round(value * 100) AS BIGINT))
      |                     AS BIGINT) AS x
      |            FROM events GROUP BY 1, 2),
      |days AS (SELECT DISTINCT day FROM dc),
      |types AS (SELECT DISTINCT event_type FROM dc),
      |grid AS (SELECT d.day, t.event_type, COALESCE(dc.x, 0) AS x
      |         FROM days d CROSS JOIN types t
      |         LEFT JOIN dc ON dc.day = d.day AND dc.event_type = t.event_type),
      |r AS (SELECT day, event_type,
      |        2 * rank() OVER (PARTITION BY day ORDER BY x)
      |          + count(*) OVER (PARTITION BY day, x) - 1 AS u
      |      FROM grid),
      |rj AS (SELECT event_type, CAST(sum(u) AS BIGINT) AS rd
      |       FROM r GROUP BY 1),
      |tie AS (SELECT CAST(sum(tc * tc * tc - tc) AS BIGINT) AS tt
      |        FROM (SELECT CAST(count(*) AS HUGEINT) AS tc
      |              FROM grid GROUP BY day, x)),
      |m AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM days) AS n,
      |             (SELECT CAST(count(*) AS BIGINT) FROM types) AS k),
      |agg AS (SELECT m.n, m.k, tie.tt,
      |          (SELECT sum((CAST(rd AS HUGEINT) - CAST(m.n AS HUGEINT) * (m.k + 1))
      |                      * (CAST(rd AS HUGEINT) - CAST(m.n AS HUGEINT) * (m.k + 1)))
      |           FROM rj) AS ssd
      |        FROM m CROSS JOIN tie)
      |SELECT n AS n_blocks, k AS k_items, tt AS tie_term,
      |       CAST(CASE WHEN CAST(n AS HUGEINT) * n * (k * k * k - k)
      |                      - CAST(n AS HUGEINT) * tt <= 0 THEN NULL
      |            ELSE (CAST(1000000 AS HUGEINT) * 3 * ssd)
      |                 // (CAST(n AS HUGEINT) * n * (k * k * k - k)
      |                     - CAST(n AS HUGEINT) * tt) END
      |         AS BIGINT) AS w_ppm
      |FROM agg""".stripMargin
  ) { (s, dir) =>
    val dc = t(s, dir, "events")
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(sum(round(col("value") * 100).cast(LongType)).as("x"))
      .localCheckpoint(true) // calendar-bounded (days × types)
    val days = dc.select("day").distinct()
    val types = dc.select("event_type").distinct()
    val grid = days.crossJoin(broadcast(types))
      .join(dc, Seq("day", "event_type"), "left")
      .select(col("day"), col("event_type"),
        coalesce(col("x"), lit(0L)).as("x"))
      .localCheckpoint(true) // two consumers: ranks + tie groups
    val u = (lit(2) * rank().over(Window.partitionBy("day").orderBy("x"))
      + count(lit(1)).over(Window.partitionBy("day", "x")) - 1)
      .cast(LongType)
    val rj = grid.select(col("event_type"), u.as("u"))
      .groupBy("event_type").agg(sum(col("u")).as("rd"))
    val tie = grid.groupBy("day", "x").agg(count(lit(1)).as("tc"))
      .agg(sum(expr(s"CAST(tc AS $d38) * tc * tc - tc")).as("tt"))
    val nk = days.agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(types.agg(count(lit(1)).as("k"))))
    val ssd = rj.crossJoin(broadcast(nk))
      .agg(sum(expr(s"(CAST(rd AS $d38) - CAST(n AS $d38) * (k + 1))" +
        s" * (CAST(rd AS $d38) - CAST(n AS $d38) * (k + 1))")).as("ssd"))
    nk.crossJoin(broadcast(tie)).crossJoin(broadcast(ssd))
      .select(col("n").as("n_blocks"), col("k").as("k_items"),
        col("tt").cast(LongType).as("tie_term"),
        expr(s"CAST(CASE WHEN CAST(n AS $d38) * n * (k * k * k - k)" +
          s" - CAST(n AS $d38) * tt <= 0 THEN NULL" +
          s" ELSE (CAST(1000000 AS $d38) * 3 * ssd)" +
          s" div (CAST(n AS $d38) * n * (k * k * k - k)" +
          s" - CAST(n AS $d38) * tt) END AS BIGINT)").as("w_ppm"))
  }

  /** q319: COCHRAN'S Q — binary repeated-measures companion of q307:
    * across users (blocks), do the k event types differ in how often
    * they appear in a user's FIRST-DAY session? The per-user binary
    * profile x_uj = "user u did type j on their first active day" is
    * the onboarding-mix question (which actions belong to day one),
    * and Q is McNemar's k-treatment generalization — q268's 2×2 test
    * widened to the full type set.
    *
    * Exactness: Q = (k−1)(k·ΣC_j² − N²) / (kN − ΣR_u²) clears every
    * fraction — column totals C_j, row totals R_u, N = ΣR exact
    * BIGINTs, squares in DECIMAL(38,0)/HUGEINT (user counts square
    * past int64 at cluster scale), numerator nonneg by
    * Cauchy-Schwarz, one milli floor. All-uniform profiles (every
    * R_u ∈ {0, k}, denominator 0) report NULL on both engines.
    * Non-informative rows are NOT dropped (the statsmodels/scipy
    * convention), stated here so the statistic is reproducible.
    *
    * Scale shape: one user-grain min, one semi-join-shaped equi-join
    * back to events on user_id (day-equality filtered), one DISTINCT
    * at (user, type) grain, then k-row and user-grain aggregates —
    * no window at all, nothing beyond (users × k) rows after the
    * first aggregate. */
  val cochranQ: Q = Q(
    "q319_cochran_q",
    """WITH fd AS (SELECT user_id, min(ts) AS t0 FROM events GROUP BY 1),
      |x AS (SELECT DISTINCT e.user_id, e.event_type
      |      FROM events e JOIN fd ON fd.user_id = e.user_id
      |      WHERE CAST(date_trunc('day', e.ts) AS DATE)
      |            = CAST(date_trunc('day', fd.t0) AS DATE)),
      |kk AS (SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS k
      |       FROM events),
      |cj AS (SELECT event_type, CAST(count(*) AS BIGINT) AS c
      |       FROM x GROUP BY 1),
      |ru AS (SELECT user_id, CAST(count(*) AS BIGINT) AS r
      |       FROM x GROUP BY 1),
      |agg AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM ru) AS m,
      |          (SELECT CAST(sum(r) AS BIGINT) FROM ru) AS nn,
      |          (SELECT sum(CAST(r AS HUGEINT) * r) FROM ru) AS sr2,
      |          (SELECT sum(CAST(c AS HUGEINT) * c) FROM cj) AS sc2,
      |          kk.k
      |        FROM kk)
      |SELECT m AS n_users, k AS k_types,
      |       CAST(CASE WHEN k * CAST(nn AS HUGEINT) - sr2 <= 0 THEN NULL
      |            ELSE (CAST(1000 AS HUGEINT) * (k - 1)
      |                  * (k * sc2 - CAST(nn AS HUGEINT) * nn))
      |                 // (k * CAST(nn AS HUGEINT) - sr2) END
      |         AS BIGINT) AS q_milli
      |FROM agg""".stripMargin
  ) { (s, dir) =>
    val events = t(s, dir, "events")
    val fd = events.groupBy("user_id").agg(min(col("ts")).as("t0"))
    val x = events.join(fd, Seq("user_id"))
      .filter(to_date(col("ts")) === to_date(col("t0")))
      .select("user_id", "event_type").distinct()
      .localCheckpoint(true) // (users × k) grain; two consumers
    val kk = events.agg(countDistinct(col("event_type")).as("k"))
    val ru = x.groupBy("user_id").agg(count(lit(1)).as("r"))
    val sc2 = x.groupBy("event_type").agg(count(lit(1)).as("c"))
      .agg(sum(expr(s"CAST(c AS $d38) * c")).as("sc2"))
    ru.agg(count(lit(1)).as("m"), sum(col("r")).as("nn"),
        sum(expr(s"CAST(r AS $d38) * r")).as("sr2"))
      .crossJoin(broadcast(sc2)).crossJoin(broadcast(kk))
      .select(col("m").as("n_users"), col("k").as("k_types"),
        expr(s"CAST(CASE WHEN k * CAST(nn AS $d38) - sr2 <= 0 THEN NULL" +
          s" ELSE (CAST(1000 AS $d38) * (k - 1)" +
          s" * (k * sc2 - CAST(nn AS $d38) * nn))" +
          s" div (k * CAST(nn AS $d38) - sr2) END AS BIGINT)").as("q_milli"))
  }

  /** q320: BOWKER'S TEST OF SYMMETRY on the first-touch → last-touch
    * event-type table — is the journey direction-symmetric? Each user
    * contributes one (first type, last type) pair (by ts, event_id —
    * total order, both engines); Bowker tests H₀: n_ij = n_ji for all
    * i<j, McNemar's k×k generalization (and q268's exact complement:
    * McNemar IS Bowker at k=2). An asymmetric pair (many view→purchase,
    * few purchase→view) is the funnel's direction, quantified.
    *
    * Exactness: B = Σ_{i<j} (n_ij − n_ji)²/(n_ij + n_ji) quantizes
    * PER PAIR — (10⁶·diff²) // (n_ij+n_ji) in DECIMAL(38,0)/HUGEINT
    * (diff² squares past int64 at cluster scale), nonneg, then an
    * order-immune BIGINT sum; df = populated off-diagonal pairs. The
    * symmetrization least/greatest + conditional sums folds (i,j) and
    * (j,i) cells into one row without a self-join.
    *
    * Scale shape: two row_number windows keyed by user (never
    * global), one (k × k) aggregate, then k²-grain arithmetic. */
  val bowkerSymmetry: Q = Q(
    "q320_bowker_symmetry",
    """WITH o AS (SELECT user_id, event_type,
      |        row_number() OVER (PARTITION BY user_id
      |          ORDER BY ts, event_id) AS rf,
      |        row_number() OVER (PARTITION BY user_id
      |          ORDER BY ts DESC, event_id DESC) AS rl
      |      FROM events),
      |fl AS (SELECT f.user_id, f.event_type AS a, l.event_type AS b
      |       FROM (SELECT user_id, event_type FROM o WHERE rf = 1) f
      |       JOIN (SELECT user_id, event_type FROM o WHERE rl = 1) l
      |         USING (user_id)),
      |n AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n
      |      FROM fl GROUP BY 1, 2),
      |p AS (SELECT least(a, b) AS i, greatest(a, b) AS j,
      |        CAST(sum(CASE WHEN a < b THEN n ELSE 0 END) AS BIGINT) AS nij,
      |        CAST(sum(CASE WHEN a > b THEN n ELSE 0 END) AS BIGINT) AS nji
      |      FROM n WHERE a <> b GROUP BY 1, 2)
      |SELECT CAST(count(*) AS BIGINT) AS df,
      |       CAST(sum(nij + nji) AS BIGINT) AS n_offdiag,
      |       CAST(sum((CAST(1000000 AS HUGEINT) * (nij - nji) * (nij - nji))
      |                // (nij + nji)) AS BIGINT) AS b_u6
      |FROM p""".stripMargin
  ) { (s, dir) =>
    val events = t(s, dir, "events")
    val wf = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val wl = Window.partitionBy("user_id")
      .orderBy(col("ts").desc, col("event_id").desc)
    val o = events.select(col("user_id"), col("event_type"),
      row_number().over(wf).as("rf"), row_number().over(wl).as("rl"))
      .localCheckpoint(true) // first/last read the same windowed pass
    val fl = o.filter(col("rf") === 1)
      .select(col("user_id"), col("event_type").as("a"))
      .join(o.filter(col("rl") === 1)
        .select(col("user_id"), col("event_type").as("b")), Seq("user_id"))
    val n = fl.groupBy("a", "b").agg(count(lit(1)).as("n"))
    val p = n.filter(col("a") =!= col("b"))
      .groupBy(least(col("a"), col("b")).as("i"),
        greatest(col("a"), col("b")).as("j"))
      .agg(sum(when(col("a") < col("b"), col("n")).otherwise(0L)).as("nij"),
        sum(when(col("a") > col("b"), col("n")).otherwise(0L)).as("nji"))
    p.agg(count(lit(1)).as("df"),
      sum(col("nij") + col("nji")).as("n_offdiag"),
      sum(expr(s"(CAST(1000000 AS $d38) * (nij - nji) * (nij - nji))" +
        " div (nij + nji)")).cast(LongType).as("b_u6"))
  }

  /** q327: QUADRATIC WEIGHTED KAPPA between order priority (ordinal
    * 1-URGENT..5-LOW) and the order's exact total-price QUINTILE —
    * does urgency track basket size beyond chance, penalizing
    * disagreements by squared distance? q195's Cohen kappa treats
    * categories as nominal (one step off = four steps off); the
    * weighted
    * form is the ordinal-rater standard (Cohen 1968).
    *
    * The quintile is EXACT, not approximate: cents histogram →
    * [[graft.operators.Ranks.globalRunningSum]] cumulative over the
    * distinct-value table (the q313 decile machinery, never a global
    * window on the Spark side) → lower-quantile thresholds via
    * integer comparison 5·cc ≥ q·N → each order buckets against the
    * broadcast 1-row threshold frame.
    *
    * Exactness: κ_w = 1 − (N·Σw_ij O_ij)/(Σw_ij r_i c_j) with
    * w_ij = (i−j)²; both sums are exact DECIMAL(38,0)/HUGEINT
    * products (r·c reaches N²), and κ is ONE final rounded double
    * from identical exact integers (the signed-numerator rule —
    * 1 − a/b may go negative, so no integer div). Degenerate margins
    * (den 0) report NULL on both engines.
    *
    * Scale shape: one cents-grain histogram + range-partitioned
    * prefix sum, one broadcast threshold row, one 5×5 aggregate. */
  val weightedKappa: Q = Q(
    "q327_weighted_kappa",
    """WITH o AS (SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS i,
      |                  CAST(round(o_totalprice * 100) AS BIGINT) AS x
      |           FROM orders),
      |h AS (SELECT x, CAST(count(*) AS BIGINT) AS c FROM o GROUP BY 1),
      |cum AS (SELECT x, CAST(sum(c) OVER (ORDER BY x) AS BIGINT) AS cc
      |        FROM h),
      |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM h),
      |thr AS (SELECT qs.q, min(cum.x) AS xq
      |        FROM (SELECT unnest(range(1, 5)) AS q) qs, cum, tot
      |        WHERE 5 * cum.cc >= qs.q * tot.n GROUP BY 1),
      |tr AS (SELECT max(CASE WHEN q = 1 THEN xq END) AS t1,
      |              max(CASE WHEN q = 2 THEN xq END) AS t2,
      |              max(CASE WHEN q = 3 THEN xq END) AS t3,
      |              max(CASE WHEN q = 4 THEN xq END) AS t4 FROM thr),
      |b AS (SELECT i, 1 + CASE WHEN x > t1 THEN 1 ELSE 0 END
      |               + CASE WHEN x > t2 THEN 1 ELSE 0 END
      |               + CASE WHEN x > t3 THEN 1 ELSE 0 END
      |               + CASE WHEN x > t4 THEN 1 ELSE 0 END AS j
      |      FROM o CROSS JOIN tr),
      |oij AS (SELECT i, j, CAST(count(*) AS BIGINT) AS o FROM b GROUP BY 1, 2),
      |ri AS (SELECT i, CAST(sum(o) AS BIGINT) AS r FROM oij GROUP BY 1),
      |cj AS (SELECT j, CAST(sum(o) AS BIGINT) AS c FROM oij GROUP BY 1),
      |nn AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM oij),
      |num AS (SELECT sum((i - j) * (i - j) * CAST(o AS HUGEINT)) AS wo
      |        FROM oij),
      |den AS (SELECT sum((ri.i - cj.j) * (ri.i - cj.j)
      |                   * CAST(ri.r AS HUGEINT) * cj.c) AS we
      |        FROM ri CROSS JOIN cj)
      |SELECT nn.n AS n_orders,
      |       CAST(CASE WHEN den.we = 0 THEN NULL
      |            ELSE round((1.0 - CAST(CAST(nn.n AS HUGEINT) * num.wo
      |                                   AS DOUBLE)
      |                              / CAST(den.we AS DOUBLE)) * 1000000)
      |            END AS BIGINT) AS wkappa_ppm
      |FROM nn CROSS JOIN num CROSS JOIN den""".stripMargin
  ) { (s, dir) =>
    val o = t(s, dir, "orders")
      .select(substring(col("o_orderpriority"), 1, 1).cast(LongType).as("i"),
        round(col("o_totalprice") * 100).cast(LongType).as("x"))
      .localCheckpoint(true) // histogram + bucketing read it twice
    val h = o.groupBy("x").agg(count(lit(1)).as("c"))
    val cum = graft.operators.Ranks.globalRunningSum(
      h, Seq(col("x")), col("c"), "cc")
    val tot = h.agg(sum(col("c")).as("n"))
    val thr = cum.crossJoin(broadcast(tot))
      .crossJoin(broadcast(s.range(1, 5).select(col("id").as("q"))))
      .filter(lit(5) * col("cc") >= col("q") * col("n"))
      .groupBy("q").agg(min(col("x")).as("xq"))
    val tr = thr.agg(
      max(when(col("q") === 1, col("xq"))).as("t1"),
      max(when(col("q") === 2, col("xq"))).as("t2"),
      max(when(col("q") === 3, col("xq"))).as("t3"),
      max(when(col("q") === 4, col("xq"))).as("t4"))
    val b = o.crossJoin(broadcast(tr))
      .select(col("i"), (lit(1)
        + when(col("x") > col("t1"), 1).otherwise(0)
        + when(col("x") > col("t2"), 1).otherwise(0)
        + when(col("x") > col("t3"), 1).otherwise(0)
        + when(col("x") > col("t4"), 1).otherwise(0)).cast(LongType).as("j"))
    val oij = b.groupBy("i", "j").agg(count(lit(1)).as("o"))
      .localCheckpoint(true) // 25 rows; margins + moments
    val ri = oij.groupBy("i").agg(sum(col("o")).as("r"))
    val cj = oij.groupBy("j").agg(sum(col("o")).as("c"))
    val nn = oij.agg(sum(col("o")).as("n"))
    val num = oij.agg(sum(expr(s"(i - j) * (i - j) * CAST(o AS $d38)"))
      .as("wo"))
    val den = ri.crossJoin(broadcast(cj))
      .agg(sum(expr(s"(i - j) * (i - j) * CAST(r AS $d38) * c")).as("we"))
    nn.crossJoin(broadcast(num)).crossJoin(broadcast(den))
      .select(col("n").as("n_orders"),
        expr("CAST(CASE WHEN we = 0 THEN NULL" +
          s" ELSE round((1.0 - CAST(CAST(n AS $d38) * wo AS DOUBLE)" +
          " / CAST(we AS DOUBLE)) * 1000000) END AS BIGINT)")
          .as("wkappa_ppm"))
  }

  val all: Seq[Q] = Seq(chiSquare, cohensKappa, acfDaily,
    cusumChangepoint, fkOrphans, winsorizedMean, sourceDriftChi2,
    mannWhitney, welchT, kaplanMeier, logRank, olsTrend, cliffsDelta,
    nelsonAalen, cuped, diffInDiff, medianSurvival, bradleyTerry,
    kruskalWallis, mcnemar, runsTest, cochranArmitage, pacfLag2,
    mantelHaenszel, friedman, jonckheere, wilcoxonSignedRank,
    durbinWatson, brownForsythe, rmst, kendallW, cochranQ,
    bowkerSymmetry, gehanBreslow, ljungBox, cramerVonMises, moodMedian,
    weightedKappa, pageTrend, woolfHomogeneity, kuiperTest, turningPoints,
    ansariBradley, quadeTest)
}
