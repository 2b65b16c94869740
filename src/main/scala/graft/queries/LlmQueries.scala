package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.functions.{TextFunctions => T, VectorFunctions => V}
import graft.functions.expressions.GraftExpressions.{dotQFast, minhashSig}
import graft.operators.Multimodal
import graft.sources.Tables

/** The LLM-training-data pipeline operators (BASELINE.json north star):
  * text analysis, document dedup (exact / n-gram Jaccard / MinHash-LSH /
  * SimHash), embedding similarity search (brute-force + LSH), multimodal
  * column plumbing. Probabilistic operators (MinHash, SimHash, LSH) have
  * rows-only driver checks but are property-tested against their exact
  * counterparts in ScalaTest.
  */
object LlmQueries {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  private val stopWords = Seq("the", "a", "of", "and", "to")

  /** Quantized embeddings with exact integer squared norms (see
    * VectorFunctions for the determinism argument; DotProductL for the
    * codegen hot path — same integer math, so oracles are unaffected). */
  private def quantized(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("vec_id"), V.quantize(col("embedding")).as("qv"))
      .withColumn("nsq", dotQFast(col("qv"), col("qv")))

  /** Persisted ANN index for `dir`'s embeddings (build-once under the
    * JVM tmpdir, probe-many): q39/q69/q75 measure the PROBE path — the
    * repeated-query cost a production deployment actually pays — not a
    * per-run re-train + re-encode. The root encodes the dataset and
    * every build parameter, so configs never share artifacts; the
    * build itself is deterministic (AnnIndexSpec). */
  private def annIndex(s: SparkSession, dir: String): graft.operators.AnnIndex.Handle = {
    val tag = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    // the root carries the algorithm version AND a source fingerprint
    // (leaf-file names+sizes+mtimes — a listing, no data scan):
    // regenerated corpus data at the same path rebuilds instead of
    // serving stale artifacts
    val fp = graft.operators.AnnIndex.sourceFingerprint(
      s, s"$dir/embeddings.parquet")
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_ann_index/" +
      s"${tag}_v${graft.operators.AnnIndex.AlgoVersion}_${fp}_k16_i2_m8_pk16"
    graft.operators.AnnIndex.ensure(quantized(s, dir), root,
      kClusters = 16, iters = 2, m = 8, pqK = 16)
  }

  /** q248: HEAPS'-LAW vocabulary growth curve — cumulative distinct
    * terms vs cumulative tokens in doc_id ingestion order, sampled at
    * every 50th document: the sublinearity check (V ≈ K·nᵝ, β < 1)
    * that tells a tokenizer/corpus designer whether vocabulary is
    * saturating or the feed keeps injecting novelty (a linear curve
    * means near-disjoint shards — dedup or language mixing is off).
    *
    * Exact and window-free: "distinct terms so far" collapses each
    * term to its FIRST document (one min-aggregate — the q187
    * first-seen technique at term grain), then BOTH prefix columns
    * (new-term count, token count) ride ONE fused range-partitioned
    * pass ([[graft.operators.Ranks.globalRunningSums]]); the curve
    * samples to corpus/50 rows at the very end. */
  val heapsLaw: Q = Q(
    "q248_heaps_law",
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
      |           FROM documents),
      |tok AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tok FROM w),
      |first_seen AS (SELECT term, min(doc_id) AS doc_id
      |               FROM (SELECT doc_id, unnest(ws) AS term FROM w)
      |               GROUP BY term),
      |nt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS new_terms
      |       FROM first_seen GROUP BY doc_id),
      |c AS (SELECT tok.doc_id,
      |        CAST(sum(tok.n_tok) OVER (ORDER BY tok.doc_id) AS BIGINT)
      |          AS cum_tokens,
      |        CAST(sum(coalesce(nt.new_terms, 0))
      |          OVER (ORDER BY tok.doc_id) AS BIGINT) AS cum_vocab
      |      FROM tok LEFT JOIN nt ON tok.doc_id = nt.doc_id)
      |SELECT doc_id, cum_tokens, cum_vocab
      |FROM c WHERE doc_id % 50 = 0""".stripMargin
  ) { (s, dir) =>
    val w = t(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
    val tok = w.select(col("doc_id"), size(col("ws")).cast(LongType).as("n_tok"))
    val newTerms = w
      .select(col("doc_id"), explode(col("ws")).as("term"))
      .groupBy("term").agg(min(col("doc_id")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("new_terms"))
    val joined = tok.join(newTerms, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tok"),
        coalesce(col("new_terms"), lit(0L)).as("new_terms"))
    graft.operators.Ranks.globalRunningSums(joined, Seq(col("doc_id")),
        Seq(col("n_tok") -> "cum_tokens", col("new_terms") -> "cum_vocab"))
      .filter(pmod(col("doc_id"), lit(50)) === 0)
      .select("doc_id", "cum_tokens", "cum_vocab")
  }

  /** q249: VOCABULARY COVERAGE AT RANK — "the K most frequent terms
    * cover P% of all tokens" at K = 5/10/20, the number that sizes
    * stopword lists and tokenizer vocabularies (q109's Zipf slope says
    * the law; this says where to cut). Exact integers end to end:
    * term totals rank by (count desc, term asc) through the two-phase
    * [[graft.operators.Ranks.globalRowNumber]], the cumulative mass
    * rides the native RunningSum operator over the rank order, and
    * coverage is integral-floor ppm against a broadcast 1-row total.
    * Both global passes are VOCAB-grain (distinct terms), never token
    * occurrences. */
  val vocabCoverage: Q = Q(
    "q249_vocab_coverage",
    """WITH tf AS (SELECT term, CAST(count(*) AS BIGINT) AS n
      |            FROM (SELECT unnest(string_split(text, ' ')) AS term
      |                  FROM documents)
      |            GROUP BY term),
      |r AS (SELECT n,
      |        CAST(row_number() OVER (ORDER BY n DESC, term ASC)
      |          AS BIGINT) AS rk
      |      FROM tf),
      |c AS (SELECT rk, CAST(sum(n) OVER (ORDER BY rk) AS BIGINT) AS cum
      |      FROM r),
      |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM tf)
      |SELECT c.rk, c.cum, tot.total,
      |       (1000000 * c.cum) // tot.total AS coverage_ppm
      |FROM c CROSS JOIN tot
      |WHERE c.rk IN (5, 10, 20)""".stripMargin
  ) { (s, dir) =>
    val tf = t(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("n"))
    val ranked = graft.operators.Ranks.globalRowNumber(tf,
      Seq(col("n").desc, col("term").asc), "rk")
      .select(col("n"), col("rk").cast(LongType).as("rk"))
    val cum = graft.operators.Ranks.globalRunningSum(ranked,
      Seq(col("rk").asc), col("n"), "cum")
    val tot = tf.agg(sum(col("n")).as("total"))
    cum.filter(col("rk").isin(5L, 10L, 20L))
      .crossJoin(broadcast(tot))
      .select(col("rk"), col("cum"), col("total"),
        expr("(1000000 * cum) div total").as("coverage_ppm"))
  }

  /** Shared materialized PNG payload store for q34/q45/q212/q213 — the
    * `annIndex` persisted-artifact pattern applied to media: payloads
    * are ImageIO-ENCODED exactly once per (corpus fingerprint, payload
    * version) and READ from parquet thereafter, the shape of a real
    * media pipeline where bytes come from blob storage. The media
    * queries therefore measure the operators under test — decode,
    * resize, perceptual hash, byte fingerprinting — not a per-run
    * re-synthesis of their fixtures (the encoder's cost is still paid,
    * once, by whichever media query runs first). */
  private def payloadStore(s: SparkSession, dir: String): DataFrame = {
    val tag = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val fp = graft.operators.AnnIndex.sourceFingerprint(
      s, s"$dir/documents.parquet")
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_media_store/" +
      s"${tag}_v${Multimodal.PayloadVersion}_$fp"
    Multimodal.ensurePayloads(
      t(s, dir, "documents").select("doc_id", "text"), root)
  }

  /** Text quality metrics: token/char counts, stopword ratio, average
    * token length, quality bucket. */
  val textStats: Q = Q(
    "q24_text_stats",
    """SELECT doc_id,
      |       len(string_split(text, ' ')) AS n_tokens,
      |       length(text) AS n_chars,
      |       len(list_filter(string_split(text, ' '),
      |           w -> w IN ('the', 'a', 'of', 'and', 'to'))) AS n_stop,
      |       CAST(len(list_filter(string_split(text, ' '),
      |           w -> w IN ('the', 'a', 'of', 'and', 'to'))) AS DOUBLE)
      |         / len(string_split(text, ' ')) AS stop_ratio,
      |       CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
      |         / len(string_split(text, ' ')) AS avg_token_len,
      |       CASE WHEN len(string_split(text, ' ')) >= 50 THEN 'long'
      |            WHEN len(string_split(text, ' ')) >= 20 THEN 'ok'
      |            ELSE 'short' END AS quality_bucket
      |FROM documents""".stripMargin
  ) { (s, dir) =>
    val ws = T.words(col("text"))
    t(s, dir, "documents").select(
      col("doc_id"),
      size(ws).as("n_tokens"),
      length(col("text")).as("n_chars"),
      T.markerCount(ws, stopWords).as("n_stop"),
      (T.markerCount(ws, stopWords).cast("double") / size(ws)).as("stop_ratio"),
      ((length(col("text")) - size(ws) + 1).cast("double") / size(ws))
        .as("avg_token_len"),
      when(size(ws) >= 50, "long").when(size(ws) >= 20, "ok")
        .otherwise("short").as("quality_bucket"))
  }

  /** q25/q110's marker profiles: deterministic keyword scoring — the
    * n-gram-heuristic shape of a langid model. */
  private val markersSql = Seq("join", "filter", "agg", "query", "group", "sort")
  private val markersStorage = Seq("table", "column", "row", "batch", "scan", "part")
  private val markersStream = Seq("stream", "window", "spark", "vector", "dup", "hash")
  private def inList(xs: Seq[String]) = xs.map(x => s"'$x'").mkString(", ")

  /** Keyword-profile language/domain ID — the n-gram-heuristic shape of
    * a langid model, deterministic marker scoring + priority argmax. */
  val langId: Q = {
    val m1 = markersSql
    val m2 = markersStorage
    val m3 = markersStream
    Q(
      "q25_lang_id",
      s"""WITH s AS (
         |  SELECT doc_id, lang,
         |         len(list_filter(string_split(text,' '), w -> w IN (${inList(m1)}))) AS s_sql,
         |         len(list_filter(string_split(text,' '), w -> w IN (${inList(m2)}))) AS s_storage,
         |         len(list_filter(string_split(text,' '), w -> w IN (${inList(m3)}))) AS s_stream
         |  FROM documents)
         |SELECT doc_id, lang, s_sql, s_storage, s_stream,
         |       CASE WHEN s_sql >= s_storage AND s_sql >= s_stream THEN 'sql'
         |            WHEN s_storage >= s_stream THEN 'storage'
         |            ELSE 'stream' END AS domain_guess
         |FROM s""".stripMargin
    ) { (s, dir) =>
      val ws = T.words(col("text"))
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          T.markerCount(ws, m1).as("s_sql"),
          T.markerCount(ws, m2).as("s_storage"),
          T.markerCount(ws, m3).as("s_stream"))
        .withColumn("domain_guess",
          when(col("s_sql") >= col("s_storage") && col("s_sql") >= col("s_stream"), "sql")
            .when(col("s_storage") >= col("s_stream"), "storage")
            .otherwise("stream"))
    }
  }

  /** Document fingerprinting: normalized-text md5 + order-insensitive
    * bag-of-words md5. */
  val fingerprintQ: Q = Q(
    "q26_fingerprint",
    """SELECT doc_id,
      |       md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS fp,
      |       md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS bag_fp
      |FROM documents""".stripMargin
  ) { (s, dir) =>
    t(s, dir, "documents")
      .select(col("doc_id"), T.fingerprintPair(col("text")).as("p"))
      .select(col("doc_id"), col("p.fp").as("fp"), col("p.bag_fp").as("bag_fp"))
  }

  /** Exact n-gram Jaccard near-dup pairs (threshold 0.5) — the oracle-
    * exact ground truth that the MinHash path (q28) approximates.
    * Candidate generation via shared-shingle equi-join: only docs with a
    * common 3-gram ever meet, so no O(n²) cross product. */
  val ngramJaccard: Q = Q(
    "q27_ngram_jaccard",
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |sh0 AS (SELECT doc_id,
      |         unnest(list_distinct(list_transform(range(1, len(ws) - 1),
      |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s
      |       FROM w WHERE len(ws) >= 3),
      |hot AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) > 1000),
      |sh AS (SELECT * FROM sh0 WHERE s NOT IN (SELECT s FROM hot)),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2)
      |SELECT doc_a, doc_b, inter, sa.n + sb.n - inter AS uni,
      |       CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
      |FROM pairs
      |JOIN sizes sa ON doc_a = sa.doc_id
      |JOIN sizes sb ON doc_b = sb.doc_id
      |WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.5""".stripMargin
  ) { (s, dir) =>
    graft.operators.Dedup.jaccardPairs(
      graft.operators.Dedup.shingleProjection(t(s, dir, "documents"), "text", "doc_id"),
      threshold = 0.5, maxDf = 1000)
  }

  /** MinHash + banded LSH near-dup detection (the 100 TB-scale path:
    * signature per doc computed without a shuffle, candidates from band
    * buckets, exact Jaccard verify on candidates only). K=64 hashes,
    * 16 bands × 4 rows. Probabilistic candidate set ⇒ rows-only driver
    * check; recall vs q27 is asserted in ScalaTest. */
  val minhashLsh: Q =
    Q.rowsOnly("q28_minhash_lsh") { (s, dir) =>
      graft.operators.Dedup.minhashLshPairs(
        graft.operators.Dedup.shingleProjection(t(s, dir, "documents"), "text", "doc_id"),
        threshold = 0.5)
    }

  /** SimHash near-dup detection: single-pass frequency-weighted 64-bit
    * signatures, banded prefilter on 16-bit chunks, Hamming verify.
    * Registered in the production shape: two rotated band tables
    * (recall) + a df-cap on the band buckets (the hot-key guard the
    * bounded 65,536-key band space needs at corpus scale).
    * Probabilistic ⇒ rows-only; recall unit-tested. */
  val simhash: Q = Q.rowsOnly("q29_simhash") { (s, dir) =>
    graft.operators.Dedup.simhashPairs(t(s, dir, "documents"), "text", "doc_id",
      maxHamming = 8, nTables = 2, maxDf = 100)
  }

  /** MinHash-LSH end-to-end, exactly oracled on the portable affine
    * hash family (see [[graft.operators.Dedup.portableMinhashLshPairs]]):
    * candidate generation AND exact-Jaccard verification both
    * hash-checked against DuckDB. Completes the oracle-twin trio
    * (q54 winnowing, q61 simhash): every deterministic dedup core in
    * the registry now has an exact cross-engine check. */
  val minhashLshOracle: Q = {
    val P = 35184372088777L
    val minCols = (0 until 16)
      .map(j => s"min((${2 * j + 1}*h + ${j * j + 7}) % $P) AS m$j")
      .mkString(",\n      |        ")
    val bandRows = (0 until 4).map(b =>
      (0 until 4).map(r => s"m${b * 4 + r}").mkString(" || '_' || "))
    Q(
      "q63_minhash_lsh_oracle",
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |g AS (SELECT doc_id, list_transform(range(1, len(ws) - 1),
        |        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS grams
        |      FROM w WHERE len(ws) >= 3),
        |h AS (SELECT doc_id, list_distinct(list_transform(grams, s -> list_reduce(
        |        list_prepend(CAST(7 AS BIGINT),
        |          list_transform(range(1, length(s) + 1),
        |            i -> CAST(unicode(substr(s, i, 1)) AS BIGINT))),
        |        (acc, c) -> (acc * 131 + c) % $P))) AS hs
        |      FROM g),
        |e AS (SELECT doc_id, unnest(hs) AS h FROM h),
        |m AS (SELECT doc_id,
        |        $minCols
        |      FROM e GROUP BY doc_id),
        |b AS (SELECT doc_id, 0 AS band, ${bandRows(0)} AS key FROM m
        |      UNION ALL SELECT doc_id, 1, ${bandRows(1)} FROM m
        |      UNION ALL SELECT doc_id, 2, ${bandRows(2)} FROM m
        |      UNION ALL SELECT doc_id, 3, ${bandRows(3)} FROM m),
        |c AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        |      FROM b x JOIN b y
        |      ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id),
        |v AS (SELECT doc_a, doc_b,
        |        CAST(len(list_intersect(ha.hs, hb.hs)) AS BIGINT) AS inter,
        |        CAST(len(ha.hs) + len(hb.hs)
        |             - len(list_intersect(ha.hs, hb.hs)) AS BIGINT) AS uni
        |      FROM c JOIN h ha ON c.doc_a = ha.doc_id
        |             JOIN h hb ON c.doc_b = hb.doc_id)
        |SELECT doc_a, doc_b, inter, uni, CAST(inter AS DOUBLE) / uni AS jacc
        |FROM v WHERE CAST(inter AS DOUBLE) / uni >= 0.5""".stripMargin
    ) { (s, dir) =>
      graft.operators.Dedup.portableMinhashLshPairs(
        t(s, dir, "documents"), "text", "doc_id")
    }
  }

  /** SimHash's deterministic core, exactly oracled (the q54 technique
    * extended from winnowing): 45-bit frequency-weighted signatures
    * over the engine-portable polynomial word hash — per-bit votes
    * sum +1/-1 across word occurrences, bit set iff the vote is
    * positive. q29 stays the production operator (64-bit XXH64
    * signatures + banded pair search, rows-only because banding is a
    * recall heuristic); this twin proves the signature math end-to-end
    * against DuckDB. One shuffle: 45 conditional sums aggregate
    * map-side per doc — the bit dimension never explodes into rows. */
  val simhashOracle: Q = Q(
    "q61_simhash_oracle",
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |h AS (SELECT doc_id,
      |        unnest(list_transform(ws, s -> list_reduce(
      |          list_prepend(CAST(7 AS BIGINT),
      |            list_transform(range(1, length(s) + 1),
      |              i -> CAST(unicode(substr(s, i, 1)) AS BIGINT))),
      |          (acc, c) -> (acc * 131 + c) % 35184372088777))) AS h
      |      FROM w),
      |v AS (SELECT doc_id, b, sum(((h >> b) & 1) * 2 - 1) AS vote
      |      FROM h, (SELECT unnest(range(0, 45)) AS b) bits
      |      GROUP BY 1, 2)
      |SELECT doc_id,
      |       CAST(sum(CASE WHEN vote > 0 THEN CAST(1 AS BIGINT) << b
      |                     ELSE 0 END) AS BIGINT) AS simhash45
      |FROM v GROUP BY doc_id""".stripMargin
  ) { (s, dir) =>
    graft.operators.Dedup.polySimhash45(t(s, dir, "documents"), "text", "doc_id")
  }

  /** Embedding near-dup pairs: exact cosine ≥ 0.4 over all pairs,
    * bit-deterministic via integer quantization. ORACLE GROUND TRUTH —
    * the all-pairs plan is O(n²) by design (input-size-guarded in
    * Similarity.exactNeardupPairs); q43 is the LSH-bucketed operator a
    * pipeline runs at scale. */
  val embeddingNeardup: Q = Q(
    "q30_embedding_neardup",
    """WITH q AS (SELECT vec_id,
      |             list_transform(embedding, x -> CAST(floor(x * 1048576.0) AS BIGINT)) AS qv
      |           FROM embeddings),
      |n AS (SELECT vec_id, qv,
      |        CAST(list_sum(list_transform(range(1, 65), i -> qv[i] * qv[i])) AS BIGINT) AS nsq
      |      FROM q),
      |p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |        CAST(CAST(list_sum(list_transform(range(1, 65), i -> a.qv[i] * b.qv[i])) AS BIGINT) AS DOUBLE)
      |          / (sqrt(a.nsq) * sqrt(b.nsq)) AS cosine
      |      FROM n a JOIN n b ON a.vec_id < b.vec_id)
      |SELECT vec_a, vec_b, cosine FROM p WHERE cosine >= 0.4""".stripMargin
  ) { (s, dir) =>
    graft.operators.Similarity.exactNeardupPairs(quantized(s, dir), threshold = 0.4)
  }

  /** Embedding near-dup at scale (the production path for q30's
    * semantics): multi-probe sign-LSH candidate buckets + exact cosine
    * verify — equi-join on the bucket key, no cross product.
    * Probabilistic candidates ⇒ rows-only; planted-dup recall in spec. */
  val embeddingNeardupLsh: Q = Q.rowsOnly("q43_embedding_neardup_lsh") { (s, dir) =>
    graft.operators.Similarity.neardupPairsLsh(quantized(s, dir), threshold = 0.4)
  }

  /** The sign-LSH pipeline exactly oracled (q63's technique extended
    * to embeddings): banded sign-bit keys over the engine-portable
    * hyperplane family → bucket equi-join candidates → exact integer-
    * cosine verify ≥ 0.4. The plane matrix is a data-independent
    * literal on both sides; parameters (4 bands × 4 bits) are sized
    * for the 500-vector test corpus. q43 stays the production
    * operator (hash-derived planes + multi-probe, rows-only because
    * its recall is probabilistic); this twin proves the bucket-join +
    * verify machinery end-to-end against DuckDB. */
  val signLshOracle: Q = {
    val planes = V.portablePlanes(16, 64)
    val vals = planes.zipWithIndex
      .map { case (c, p) => s"($p, ${c.mkString("[", ", ", "]")})" }
      .mkString(",\n      |      ")
    Q(
      "q64_signlsh_oracle",
      s"""WITH q AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(x * 1048576.0) AS BIGINT)) AS qv
        |           FROM embeddings),
        |n AS (SELECT vec_id, qv,
        |        CAST(list_sum(list_transform(range(1, 65), i -> qv[i] * qv[i])) AS BIGINT) AS nsq
        |      FROM q),
        |pl(plane, c) AS (VALUES
        |      $vals),
        |proj AS (SELECT vec_id, plane,
        |           CASE WHEN list_sum(list_transform(range(1, 65), i -> qv[i] * c[i])) >= 0
        |                THEN CAST(1 AS BIGINT) << (plane % 4) ELSE 0 END AS bit
        |         FROM n CROSS JOIN pl),
        |k AS (SELECT vec_id, plane // 4 AS band, CAST(sum(bit) AS BIGINT) AS key
        |      FROM proj GROUP BY 1, 2),
        |c AS (SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
        |      FROM k x JOIN k y ON x.band = y.band AND x.key = y.key AND x.vec_id < y.vec_id),
        |v AS (SELECT vec_a, vec_b,
        |        CAST(CAST(list_sum(list_transform(range(1, 65), i -> a.qv[i] * b.qv[i])) AS BIGINT) AS DOUBLE)
        |          / (sqrt(a.nsq) * sqrt(b.nsq)) AS cosine
        |      FROM c JOIN n a ON c.vec_a = a.vec_id JOIN n b ON c.vec_b = b.vec_id)
        |SELECT vec_a, vec_b, cosine FROM v WHERE cosine >= 0.4""".stripMargin
    ) { (s, dir) =>
      graft.operators.Similarity.portableSignLshPairs(
        quantized(s, dir), threshold = 0.4)
    }
  }

  /** Brute-force cosine top-k (k=10) for a query set — the exact
    * baseline for ANN. Query side is broadcast; the corpus side streams
    * — at cluster scale this is one pass over the corpus, no shuffle. */
  val knnCosine: Q = Q(
    "q31_knn_cosine",
    """WITH qz AS (SELECT vec_id,
      |              list_transform(embedding, x -> CAST(floor(x * 1048576.0) AS BIGINT)) AS qv
      |            FROM embeddings),
      |n AS (SELECT vec_id, qv,
      |        CAST(list_sum(list_transform(range(1, 65), i -> qv[i] * qv[i])) AS BIGINT) AS nsq
      |      FROM qz),
      |s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |        CAST(CAST(list_sum(list_transform(range(1, 65), i -> q.qv[i] * c.qv[i])) AS BIGINT) AS DOUBLE)
      |          / (sqrt(q.nsq) * sqrt(c.nsq)) AS cosine
      |      FROM n q JOIN n c ON q.vec_id < 20 AND c.vec_id <> q.vec_id)
      |SELECT query_id, neighbor_id, cosine, rn FROM (
      |  SELECT query_id, neighbor_id, cosine,
      |         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn
      |  FROM s) t
      |WHERE rn <= 10""".stripMargin
  ) { (s, dir) =>
    val n = quantized(s, dir)
    graft.operators.Similarity.knnTopK(n, n.filter(col("vec_id") < 20), k = 10)
  }

  /** LSH-bucketed approximate nearest neighbor (the scale path for ANN):
    * sign-bit bucket per vector; MULTI-PROBE on the query side — the
    * query also probes every bucket one bit-flip away (the standard
    * recall/cost knob: 9/256 of the corpus scanned instead of 1/256),
    * then exact cosine re-rank. Probabilistic ⇒ rows-only; recall@1 vs
    * q31 asserted in ScalaTest. */
  val annLsh: Q = Q.rowsOnly("q32_ann_lsh") { (s, dir) =>
    val n = quantized(s, dir)
    graft.operators.Similarity.annTopK(n, n.filter(col("vec_id") < 20), k = 5)
  }

  /** IVF ANN (the clusterable-corpus scale path; complements q32's LSH):
    * deterministic k-means inverted index, nProbe-list probing, exact
    * re-rank. Centroids come back from kmeansIndex (driver-materialized,
    * model-sized) so the probe phase re-derives nothing; the quantize
    * pass is a cheap native expression, recomputed per scan rather than
    * cached (at cluster scale, persist the quantized table once).
    * Probabilistic ⇒ rows-only; planted-dup recall in spec. */
  val annIvf: Q = Q.rowsOnly("q39_ann_ivf") { (s, dir) =>
    val h = annIndex(s, dir)
    graft.operators.Similarity.annIvfTopK(
      h.indexed, h.centroids, quantized(s, dir).filter(col("vec_id") < 20),
      k = 5, nProbe = 4)
  }

  /** Multimodal: opaque binary payload + byte-level metadata (oracle-
    * checkable part — octet length, digest, kind bucket). */
  val binaryMeta: Q = Q(
    "q33_binary_meta",
    """SELECT doc_id, strlen(text) AS n_bytes, md5(text) AS digest,
      |       CASE WHEN strlen(text) >= 400 THEN 'large'
      |            WHEN strlen(text) >= 150 THEN 'medium'
      |            ELSE 'small' END AS kind
      |FROM documents""".stripMargin
  ) { (s, dir) =>
    t(s, dir, "documents").select(
      col("doc_id"),
      octet_length(col("text")).as("n_bytes"),
      md5(col("text")).as("digest"),
      when(octet_length(col("text")) >= 400, "large")
        .when(octet_length(col("text")) >= 150, "medium")
        .otherwise("small").as("kind"))
  }

  /** Multimodal REAL decode (JDK ImageIO — see Multimodal.scala):
    * encode a content-derived PNG per document, decode it back
    * partition-wise, report the TRUE raster dimensions. HASH-ORACLED:
    * the image dimensions are a pure function of `md5(text)` (byte 0 →
    * width, byte 1 → height), which DuckDB recomputes independently
    * from the hex digest — a dimension the decoder misreads by one
    * pixel fails the hash. Payload byte length and pixel means are
    * DEFLATE-dependent (not SQL-predictable) and are covered by the
    * encode→decode round-trip spec instead. */
  val multimodalDecode: Q = Q(
    "q34_multimodal_decode",
    """WITH m AS (SELECT doc_id, md5(text) AS d FROM documents)
      |SELECT doc_id, 'image/png' AS mime,
      |       8*(1 + ((strpos('0123456789abcdef', substr(d,1,1))-1)*16
      |               + strpos('0123456789abcdef', substr(d,2,1))-1) % 16) AS width,
      |       8*(1 + ((strpos('0123456789abcdef', substr(d,3,1))-1)*16
      |               + strpos('0123456789abcdef', substr(d,4,1))-1) % 12) AS height
      |FROM m""".stripMargin
  ) { (s, dir) =>
    Multimodal.decodeMeta(s, payloadStore(s, dir))
      .toDF().select(col("doc_id"), col("mime"), col("width"), col("height"))
  }

  /** Winnowing rolling-hash fingerprints (SIGMOD'03): near-dup
    * candidates by shared sketch fingerprints. Hash-valued ⇒ rows-only;
    * planted-dup coverage in spec. */
  val winnow: Q = Q.rowsOnly("q40_winnow_dedup") { (s, dir) =>
    graft.operators.Dedup.winnowPairs(t(s, dir, "documents"), "text", "doc_id",
      maxDf = 1000)
  }

  /** Winnowing, ORACLE-EXACT: identical sketch algorithm (3-gram
    * hashes → w=8 sliding minima → distinct → df-capped shared-fp
    * pairs) with the per-shingle hash swapped for the polynomial
    * codepoint fold both engines compute bit-identically
    * (ShingleHashes.PolyMod; DuckDB `list_reduce` over codepoints) —
    * the full winnowing pipeline becomes hash-checkable, where q40's
    * XXH64 form is rows-only. */
  val winnowOracle: Q = Q(
    "q54_winnow_oracle",
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |g AS (SELECT doc_id,
      |        list_transform(range(1, len(ws) - 1),
      |          i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS grams
      |      FROM w WHERE len(ws) >= 3),
      |h AS (SELECT doc_id,
      |        list_transform(grams, s -> list_reduce(
      |          list_prepend(CAST(7 AS BIGINT),
      |            list_transform(range(1, length(s) + 1),
      |              i -> CAST(unicode(substr(s, i, 1)) AS BIGINT))),
      |          (acc, c) -> (acc * 131 + c) % 35184372088777)) AS hs
      |      FROM g),
      |f AS (SELECT doc_id,
      |        list_distinct(list_transform(range(1, len(hs) - 6),
      |          i -> list_min(hs[i:i+7]))) AS fps
      |      FROM h WHERE len(hs) >= 8),
      |e AS (SELECT doc_id, unnest(fps) AS fp FROM f),
      |hot AS (SELECT fp FROM e GROUP BY fp HAVING count(*) > 1000),
      |s AS (SELECT * FROM e WHERE fp NOT IN (SELECT fp FROM hot))
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared_fps
      |FROM s a JOIN s b ON a.fp = b.fp AND a.doc_id < b.doc_id
      |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin
  ) { (s, dir) =>
    graft.operators.Dedup.winnowPairs(t(s, dir, "documents"), "text", "doc_id",
      maxDf = 1000, poly = true)
  }

  /** Dedup resolution: connected components over the exact near-dup
    * pair graph (q27's pairs), canonical = min doc_id per component —
    * the keep-first pass a dedup pipeline runs after candidate
    * generation. Oracle: recursive-CTE transitive closure in DuckDB;
    * Spark: distributed min-label propagation with per-iteration
    * lineage checkpoints (Dedup.resolve). */
  val dedupResolve: Q = Q(
    "q44_dedup_resolve",
    """WITH RECURSIVE w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |sh0 AS (SELECT doc_id,
      |         unnest(list_distinct(list_transform(range(1, len(ws) - 1),
      |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s
      |       FROM w WHERE len(ws) >= 3),
      |hot AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) > 1000),
      |sh AS (SELECT * FROM sh0 WHERE s NOT IN (SELECT s FROM hot)),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2),
      |jp AS (SELECT doc_a, doc_b FROM pairs
      |       JOIN sizes sa ON doc_a = sa.doc_id
      |       JOIN sizes sb ON doc_b = sb.doc_id
      |       WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.5),
      |e AS (SELECT doc_a AS a, doc_b AS b FROM jp
      |      UNION SELECT doc_b, doc_a FROM jp),
      |reach AS (
      |  SELECT a AS id, b AS r FROM e
      |  UNION
      |  SELECT reach.id, e.b FROM reach JOIN e ON reach.r = e.a)
      |SELECT id AS doc_id, least(id, min(r)) AS canonical_id
      |FROM reach GROUP BY id""".stripMargin
  ) { (s, dir) =>
    graft.operators.Dedup.resolve(
      graft.operators.Dedup.jaccardPairs(
        graft.operators.Dedup.shingleProjection(t(s, dir, "documents"), "text", "doc_id"),
        threshold = 0.5, maxDf = 1000))
  }

  /** Multimodal near-dup pipeline end-to-end over REAL PNG payloads:
    * ImageIO-encoded payload bytes → partition-wise feature extraction
    * (hashed byte-4-gram profile; a learned encoder drops into the
    * same slot) → quantized embeddings → LSH-bucketed near-dup pairs.
    * The media analog of text dedup: identical payloads land at cosine
    * 1, and the high-entropy PNG streams keep distinct payloads
    * near-orthogonal. The ingest models the case the operator exists
    * for — RE-UPLOADED media: a fixed slice of payloads re-arrives
    * under offset ids (re-sends are the norm in real feeds; the corpus
    * itself carries byte-identical text pairs only at sf0.1), and the
    * pipeline must recover every re-send pair. Hash-derived features ⇒
    * rows-only; planted-dup recall floor in spec. */
  val multimodalNeardup: Q = Q.rowsOnly("q45_multimodal_neardup") { (s, dir) =>
    val base = payloadStore(s, dir)
    // the re-sent slice carries the SAME BYTES under offset ids —
    // pngFor is a pure function of the text, so re-keying the stored
    // payload is byte-identical to re-encoding the re-sent document
    val resent = base.filter(col("doc_id") < 25)
      .select((col("doc_id") + lit(10000000L)).as("doc_id"),
        col("payload"), col("n_bytes"))
    val emb = Multimodal.embedBytes(s, base.unionByName(resent))
    graft.operators.Similarity.neardupPairsLsh(
      graft.operators.Similarity.quantize(emb, "embedding", "doc_id"),
      threshold = 0.9)
  }

  /** Multimodal REAL resize round-trip, HASH-ORACLED: every payload is
    * rescaled to width 64 (aspect preserved) and the OUTPUT PNG is
    * decoded back — the reported dimensions are what ImageIO reads out
    * of the re-encoded raster, while DuckDB independently predicts them
    * from the md5 contract (w0, h0 from the digest; h1 = max(1,
    * floor(h0·64/w0 + 0.5)), the same floor(x+0.5) both engines
    * compute on identical IEEE doubles). A resize that drops a row or
    * an encode that lies about dims fails the hash. */
  val multimodalResize: Q = Q(
    "q212_multimodal_resize",
    """WITH m AS (SELECT doc_id, md5(text) AS d FROM documents),
      |p AS (SELECT doc_id,
      |        8*(1 + ((strpos('0123456789abcdef', substr(d,1,1))-1)*16
      |                + strpos('0123456789abcdef', substr(d,2,1))-1) % 16) AS w0,
      |        8*(1 + ((strpos('0123456789abcdef', substr(d,3,1))-1)*16
      |                + strpos('0123456789abcdef', substr(d,4,1))-1) % 12) AS h0
      |      FROM m)
      |SELECT doc_id, 64 AS width,
      |       greatest(1, CAST(floor(CAST(h0 AS DOUBLE) * 64 / w0 + 0.5)
      |         AS BIGINT)) AS height
      |FROM p""".stripMargin
  ) { (s, dir) =>
    val resized = Multimodal.resizePng(s, payloadStore(s, dir),
      targetWidth = 64)
    Multimodal.decodeMeta(s, resized.select("doc_id", "payload"))
      .toDF().select(col("doc_id"), col("width"),
        col("height").cast("long").as("height"))
  }

  /** PERCEPTUAL media dedup: decode → 8×8 average-pooled luma aHash →
    * banded Hamming-≤7 pairs (exact for that contract — pigeonhole
    * guarantees a clean 8-bit band). Finds what q45's byte-level
    * fingerprints fundamentally cannot: a RESIZED/re-encoded copy
    * shares no payload bytes with its source but keeps its large-scale
    * luminance pattern, so the pooled hash matches. The ingest models
    * exactly that: a slice of payloads re-arrives RESCALED to width 128
    * under offset ids, and the pipeline must pair each with its
    * original. Decode-derived ⇒ rows-only; resize-recall spec. */
  val multimodalPerceptual: Q = Q.rowsOnly("q213_perceptual_dedup") { (s, dir) =>
    val payloads = payloadStore(s, dir)
    val rescaled = Multimodal.resizePng(s,
        payloads.filter(col("doc_id") < 25), targetWidth = 128,
        spreadInput = false)
      .select((col("doc_id") + lit(20000000L)).as("doc_id"), col("payload"))
    Multimodal.perceptualDupPairs(
      Multimodal.perceptualHash(s,
        payloads.select("doc_id", "payload").unionByName(rescaled)))
  }

  /** Gopher-style document quality rules (Rae et al. 2021 §A1.1, the
    * standard pretraining-corpus filter): token-count band, mean word
    * length band, symbol-to-word ratio, minimum stopword evidence —
    * each rule a deterministic integer count or a single IEEE division,
    * so the keep decision hash-matches the oracle exactly. */
  val qualityFilter: Q = Q(
    "q47_quality_filter",
    """WITH m AS (
      |  SELECT doc_id,
      |         len(string_split(text, ' ')) AS n_tokens,
      |         CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
      |           / len(string_split(text, ' ')) AS mean_word_len,
      |         length(text) - length(regexp_replace(text, '[#…@*]', '', 'g')) AS n_symbols,
      |         len(list_filter(string_split(text, ' '),
      |             w -> w IN ('the', 'a', 'of', 'and', 'to'))) AS n_stop
      |  FROM documents)
      |SELECT doc_id, n_tokens, mean_word_len, n_symbols, n_stop,
      |       CAST(n_symbols AS DOUBLE) / n_tokens AS symbol_ratio,
      |       CAST(CASE WHEN n_tokens BETWEEN 50 AND 100000
      |                  AND mean_word_len BETWEEN 3 AND 10
      |                  AND CAST(n_symbols AS DOUBLE) / n_tokens < 0.1
      |                  AND n_stop >= 2
      |                 THEN 1 ELSE 0 END AS BIGINT) AS keep
      |FROM m""".stripMargin
  ) { (s, dir) =>
    val ws = T.words(col("text"))
    t(s, dir, "documents")
      .select(col("doc_id"),
        size(ws).as("n_tokens"),
        ((length(col("text")) - size(ws) + 1).cast("double") / size(ws))
          .as("mean_word_len"),
        (length(col("text")) -
          length(regexp_replace(col("text"), "[#…@*]", ""))).as("n_symbols"),
        T.markerCount(ws, stopWords).as("n_stop"))
      .withColumn("symbol_ratio",
        col("n_symbols").cast("double") / col("n_tokens"))
      .withColumn("keep",
        when(col("n_tokens").between(50, 100000) &&
          col("mean_word_len").between(3, 10) &&
          col("symbol_ratio") < 0.1 &&
          col("n_stop") >= 2, 1L).otherwise(0L))
  }

  /** Repetition metrics (the Gopher duplicate-n-gram signals):
    * distinct-token ratio and top-bigram fraction. The per-doc inner
    * loop is native (`ShingleHashes(ordered)` position bigram hashes +
    * `MaxMultiplicity` hashmap pass); the oracle counts the bigram
    * STRINGS — equality holds because the 64-bit hash is
    * collision-free at these cardinalities (~1e-10/doc). */
  val repetition: Q = Q(
    "q48_repetition",
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |b AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(ws)),
      |                        i -> ws[i] || ' ' || ws[i + 1])) AS bg
      |  FROM w WHERE len(ws) >= 2),
      |c AS (SELECT doc_id, max(n) AS top_bigram_n FROM
      |        (SELECT doc_id, bg, count(*) AS n FROM b GROUP BY 1, 2) t
      |      GROUP BY 1)
      |SELECT w.doc_id,
      |       len(ws) AS n_tokens,
      |       len(list_distinct(ws)) AS n_distinct,
      |       CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) AS distinct_ratio,
      |       coalesce(c.top_bigram_n, 0) AS top_bigram_n,
      |       CASE WHEN len(ws) < 2 THEN 0.0
      |            ELSE CAST(coalesce(c.top_bigram_n, 0) AS DOUBLE) / (len(ws) - 1)
      |       END AS top_bigram_frac
      |FROM w LEFT JOIN c ON w.doc_id = c.doc_id""".stripMargin
  ) { (s, dir) =>
    import graft.functions.expressions.GraftExpressions.{maxMultiplicity, shingleHashes}
    val ws = T.words(col("text"))
    t(s, dir, "documents")
      .select(col("doc_id"), ws.as("ws"))
      .withColumn("bgs", shingleHashes(col("ws"), 2, ordered = true))
      .select(col("doc_id"),
        size(col("ws")).as("n_tokens"),
        size(array_distinct(col("ws"))).as("n_distinct"),
        (size(array_distinct(col("ws"))).cast("double") / size(col("ws")))
          .as("distinct_ratio"),
        maxMultiplicity(col("bgs")).as("top_bigram_n"),
        when(size(col("ws")) < 2, lit(0.0))
          .otherwise(maxMultiplicity(col("bgs")).cast("double")
            / (size(col("ws")) - 1)).as("top_bigram_frac"))
  }

  /** End-to-end embedding dedup: sign-LSH near-dup candidate pairs →
    * exact cosine verify → connected-components resolution → canonical
    * vector per cluster. The full embedding-level dedup pipeline
    * (candidates, verify, resolve) composed into one plan — what a
    * training-data pipeline runs to collapse semantic duplicates.
    * LSH-derived ⇒ rows-only; component sanity (canonical = component
    * minimum, pair endpoints share a canonical) asserted in spec. */
  val embeddingDedup: Q = Q.rowsOnly("q49_embedding_dedup") { (s, dir) =>
    val pairs = graft.operators.Similarity
      .neardupPairsLsh(quantized(s, dir), threshold = 0.4)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    graft.operators.Dedup.resolve(pairs)
      .select(col("doc_id").as("vec_id"), col("canonical_id"))
  }

  /** BM25 relevance scoring (Robertson/Spärck Jones; k1=1.2, b=0.75)
    * of every document against a fixed query-term set — the standard
    * quality/relevance ranking a training-data pipeline uses for
    * targeted corpus selection. Determinism: tf/df/dl are integers,
    * avgdl is one division, each per-term score is an identical IEEE
    * expression tree, and the final score sums the terms in FIXED
    * textual order on both sides (a 6-operand `+` chain, not a
    * reorderable aggregate). ln() is the one step libm implementations
    * disagree on (measured: 1-ulp differences between the JVM and
    * DuckDB), so the verified output quantizes the score to 1e-4 quanta
    * — `round(bm25 * 1e4)` on both sides (round, not floor: a floor
    * flips whenever the ulp error straddles an integer boundary from
    * above; half-up rounding of a positive score agrees across both
    * engines and pushes the flip window to a .5 boundary ~1e-11 wide
    * relative to quanta spacing) while still checking the full formula
    * to 1e-4. */
  val bm25: Q = {
    val terms = Seq("join", "filter", "agg", "query", "group", "sort")
    val k1 = "1.2"
    val b = "0.75"
    def sqlTermScore(i: Int): String =
      s"""ln((CAST(n_docs AS DOUBLE) - df_$i + 0.5) / (df_$i + 0.5) + 1.0)
         |  * (tf_$i * ($k1 + 1.0))
         |  / (tf_$i + $k1 * (1.0 - $b + $b * dl / avgdl))""".stripMargin
        .replace("\n", " ")
    Q(
      "q50_bm25",
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |tf AS (
         |  SELECT doc_id, len(ws) AS dl,
         |         ${terms.zipWithIndex.map { case (t, i) =>
                      s"len(list_filter(ws, x -> x = '$t')) AS tf_$i" }
                      .mkString(",\n         |         ")}
         |  FROM w),
         |stats AS (
         |  SELECT count(*) AS n_docs,
         |         CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
         |         ${terms.indices.map(i =>
                      s"count(*) FILTER (WHERE tf_$i > 0) AS df_$i")
                      .mkString(",\n         |         ")}
         |  FROM tf)
         |SELECT doc_id, dl,
         |       ${terms.indices.map(i => s"tf_$i").mkString(", ")},
         |       CAST(round((${sqlTermScore(0)}
         |       ${terms.indices.drop(1).map(i => s"+ ${sqlTermScore(i)}")
                    .mkString("\n         |       ")}) * 10000.0) AS BIGINT) AS bm25_q4
         |FROM tf CROSS JOIN stats""".stripMargin
    ) { (s, dir) =>
      val ws = T.words(col("text"))
      val tf = t(s, dir, "documents").select(
        (col("doc_id") +: size(ws).as("dl") +:
          terms.zipWithIndex.map { case (tm, i) =>
            T.markerCount(ws, Seq(tm)).as(s"tf_$i") }): _*)
      val stats = tf.agg(
        count(lit(1)).as("n_docs"),
        ((sum(col("dl")).cast("double") / count(lit(1))).as("avgdl") +:
          terms.indices.map(i =>
            count(when(col(s"tf_$i") > 0, 1)).as(s"df_$i"))): _*)
      def termScore(i: Int) =
        log((col("n_docs").cast("double") - col(s"df_$i") + lit(0.5))
            / (col(s"df_$i") + lit(0.5)) + lit(1.0)) *
          (col(s"tf_$i") * (lit(1.2) + lit(1.0))) /
          (col(s"tf_$i") + lit(1.2) *
            (lit(1.0) - lit(0.75) + lit(0.75) * col("dl") / col("avgdl")))
      tf.crossJoin(broadcast(stats))
        .select(
          (col("doc_id") +: col("dl") +:
            terms.indices.map(i => col(s"tf_$i")) :+
            round(terms.indices.drop(1)
              .foldLeft(termScore(0))((acc, i) => acc + termScore(i))
              * lit(10000.0)).cast(LongType).as("bm25_q4")): _*)
    }
  }

  /** TF-IDF posting lists — the inverted index a retrieval/selection
    * stage builds once per corpus snapshot. Fully deterministic: the
    * idf is micro-quantized to an integer (q50's ln technique) and the
    * weight is the exact integer product tf·idf_q. */
  val tfidf: Q = Q(
    "q65_tfidf",
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |p AS (SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY 1, 2),
      |d AS (SELECT term, count(*) AS df FROM p GROUP BY 1),
      |n AS (SELECT count(*) AS n_docs FROM documents)
      |SELECT doc_id, term, tf, df,
      |       tf * CAST(round(ln(CAST(n_docs + 1 AS DOUBLE) / (df + 1)) * 1000000.0) AS BIGINT) AS tfidf_q
      |FROM p JOIN d USING (term) CROSS JOIN n""".stripMargin
  ) { (s, dir) =>
    graft.operators.Relevance.tfidfPostings(t(s, dir, "documents"))
  }

  /** Self-trained bigram-LM quality scoring (the KenLM-filter shape):
    * add-one-smoothed word-bigram NLL per document. Per-bigram NLLs are
    * micro-quantized integers, so every downstream sum is exact and
    * order-independent — the model TRAINING and SCORING both oracle
    * hash-exact. */
  val bigramLm: Q = Q(
    "q66_bigram_lm",
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |bg AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM (
      |         SELECT doc_id, unnest(list_transform(range(1, len(ws)),
      |                i -> struct_pack(w1 := ws[i], w2 := ws[i+1]))) AS b
      |         FROM w WHERE len(ws) >= 2) t),
      |c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
      |c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
      |v AS (SELECT count(DISTINCT term) AS v FROM (SELECT unnest(ws) AS term FROM w) t),
      |m AS (SELECT w1, w2,
      |        CAST(round(-ln(CAST(c2 + 1 AS DOUBLE) / (c1 + v)) * 1000000.0) AS BIGINT) AS nll_q
      |      FROM c2 JOIN c1 USING (w1) CROSS JOIN v)
      |SELECT doc_id, count(*) AS n_bigrams,
      |       CAST(sum(nll_q) AS BIGINT) AS nll_q_sum,
      |       CAST(sum(nll_q) AS DOUBLE) / count(*) / 1000000.0 AS avg_nll
      |FROM bg JOIN m USING (w1, w2)
      |GROUP BY doc_id""".stripMargin
  ) { (s, dir) =>
    graft.operators.LangModel.bigramNll(t(s, dir, "documents"))
  }

  /** Chunk-level exact dedup with document reassembly — repeated-
    * paragraph removal at 8-word granularity: every chunk keeps only
    * its globally-first occurrence and each doc is rebuilt from its
    * survivors in order. */
  val chunkDedup: Q = Q(
    "q67_chunk_dedup",
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      |           WHERE len(string_split(text, ' ')) >= 1),
      |c AS (SELECT doc_id, i AS chunk_idx, array_to_string(ws[(i*8+1):(i*8+8)], ' ') AS chunk
      |      FROM w, unnest(range(0, CAST(ceil(len(ws) / 8.0) AS BIGINT))) AS t(i)),
      |win AS (SELECT chunk, doc_id AS wd, chunk_idx AS wi FROM (
      |          SELECT chunk, doc_id, chunk_idx,
      |                 row_number() OVER (PARTITION BY chunk ORDER BY doc_id, chunk_idx) AS rn
      |          FROM c) t WHERE rn = 1),
      |f AS (SELECT c.doc_id, c.chunk_idx, c.chunk,
      |             (c.doc_id = win.wd AND c.chunk_idx = win.wi) AS is_kept
      |      FROM c JOIN win USING (chunk))
      |SELECT doc_id, count(*) AS total_chunks,
      |       CAST(sum(CASE WHEN is_kept THEN 1 ELSE 0 END) AS BIGINT) AS kept_chunks,
      |       -- coalesce: DuckDB's list() FILTER over zero rows and
      |       -- array_to_string([]) both yield NULL; Spark's empty
      |       -- collect_list + array_join yield ''
      |       coalesce(array_to_string(list_transform(
      |         list_sort(list(struct_pack(chunk_idx := chunk_idx, chunk := chunk))
      |                   FILTER (WHERE is_kept)),
      |         x -> x.chunk), ' '), '') AS dedup_text
      |FROM f GROUP BY doc_id""".stripMargin
  ) { (s, dir) =>
    graft.operators.Dedup.chunkDedup(t(s, dir, "documents"), "text", "doc_id")
  }

  /** Paragraph-aware chunk dedup (q95): the q67 machinery with
    * `splitParagraphs = true` — paragraph breaks are hard chunk
    * boundaries; over-long paragraphs fall back to 8-word windows that
    * never span a break. The test corpus carries no breaks, so the
    * query derives a deterministic multi-paragraph form first (a
    * paragraph break after every interior 'spark' token — the same
    * leftmost non-overlapping `replace` in both engines), making the
    * whole paragraph-mode pipeline hash-checkable. */
  val paragraphChunkDedup: Q = Q(
    "q95_paragraph_chunk_dedup",
    """WITH p AS (SELECT doc_id,
      |        list_filter(string_split_regex(
      |          replace(text, ' spark ', ' spark' || chr(10) || chr(10)),
      |          '(?:\r?\n){2,}'), x -> len(x) > 0) AS ps
      |      FROM documents),
      |cl AS (SELECT doc_id,
      |        flatten(list_transform(ps, par ->
      |          list_transform(range(0, CAST(ceil(len(string_split(par, ' ')) / 8.0) AS BIGINT)),
      |            i -> array_to_string((string_split(par, ' '))[(i*8+1):(i*8+8)], ' ')))) AS cs
      |      FROM p),
      |cl2 AS (SELECT doc_id, CASE WHEN len(cs) = 0 THEN [''] ELSE cs END AS cs FROM cl),
      |c AS (SELECT doc_id, i - 1 AS chunk_idx, cs[i] AS chunk
      |      FROM cl2, unnest(range(1, len(cs) + 1)) AS t(i)),
      |win AS (SELECT chunk, doc_id AS wd, chunk_idx AS wi FROM (
      |          SELECT chunk, doc_id, chunk_idx,
      |                 row_number() OVER (PARTITION BY chunk ORDER BY doc_id, chunk_idx) AS rn
      |          FROM c) t WHERE rn = 1),
      |f AS (SELECT c.doc_id, c.chunk_idx, c.chunk,
      |             (c.doc_id = win.wd AND c.chunk_idx = win.wi) AS is_kept
      |      FROM c JOIN win USING (chunk))
      |SELECT doc_id, count(*) AS total_chunks,
      |       CAST(sum(CASE WHEN is_kept THEN 1 ELSE 0 END) AS BIGINT) AS kept_chunks,
      |       coalesce(array_to_string(list_transform(
      |         list_sort(list(struct_pack(chunk_idx := chunk_idx, chunk := chunk))
      |                   FILTER (WHERE is_kept)),
      |         x -> x.chunk), ' '), '') AS dedup_text
      |FROM f GROUP BY doc_id""".stripMargin
  ) { (s, dir) =>
    val docs = t(s, dir, "documents").withColumn("text2",
      expr("replace(text, ' spark ', concat(' spark', chr(10), chr(10)))"))
    graft.operators.Dedup.chunkDedup(docs, "text2", "doc_id",
      splitParagraphs = true)
  }

  /** SemDedup: k-means-clustered semantic dedup over embeddings —
    * within-cluster exact cosine pairs resolved to connected
    * components, one representative kept per group. Rows-only (the
    * k-means model is not SQL-expressible); the spec asserts the
    * keep-set's exact mutual-dissimilarity and planted-dup coverage
    * properties. */
  val semdedupQ: Q = Q.rowsOnly("q68_semdedup") { (s, dir) =>
    // clustering comes from the persisted index (build-once): the dedup
    // run pays only the within-cluster pair join + resolution
    graft.operators.Similarity.semdedupAssigned(
      annIndex(s, dir).indexed, threshold = 0.4)
  }

  /** PQ-compressed ANN (asymmetric distance computation): sample-
    * trained codebooks broadcast as literals, the corpus one-pass
    * encoded to 8 codes, queries scored by table lookups — the
    * compressed-domain path that never rescans the embedding column.
    * Rows-only (the codebook is data-trained, not SQL-expressible);
    * recall and determinism are spec properties. */
  val annPq: Q = Q.rowsOnly("q69_ann_pq") { (s, dir) =>
    val h = annIndex(s, dir)
    graft.operators.Similarity.annPqTopKEncoded(
      h.encoded, quantized(s, dir).filter(col("vec_id") < 20), k = 10,
      h.codebook)
  }

  /** IVF-PQ: the probe-then-ADC composition — ~nProbe/k of the corpus
    * scanned per query, M table lookups per candidate. Rows-only;
    * recall spec'd on planted duplicates. */
  val annIvfPq: Q = Q.rowsOnly("q75_ann_ivfpq") { (s, dir) =>
    val h = annIndex(s, dir)
    graft.operators.Similarity.annIvfPqTopKEncoded(
      h.encoded, h.centroids, quantized(s, dir).filter(col("vec_id") < 20),
      k = 10, nProbe = 2, h.codebook)
  }

  /** The ANN top-k machinery exactly oracled (q64's technique, probe
    * side): one 8-bit portable sign bucket per vector, queries probe
    * their bucket plus all Hamming-1 flips, exact cosine re-rank to
    * top-10. Proves bucket assignment, multi-probe expansion, and the
    * bounded top-k aggregate's ranking (ties cosine-desc/neighbor-asc)
    * against DuckDB's row_number; q32 stays the production path. */
  val annTopKOracle: Q = {
    val planes = V.portablePlanes(8, 64)
    val vals = planes.zipWithIndex
      .map { case (c, p) => s"($p, ${c.mkString("[", ", ", "]")})" }
      .mkString(",\n      |      ")
    Q(
      "q76_ann_topk_oracle",
      s"""WITH q AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(x * 1048576.0) AS BIGINT)) AS qv
        |           FROM embeddings),
        |n AS (SELECT vec_id, qv,
        |        CAST(list_sum(list_transform(range(1, 65), i -> qv[i] * qv[i])) AS BIGINT) AS nsq
        |      FROM q),
        |pl(plane, c) AS (VALUES
        |      $vals),
        |proj AS (SELECT vec_id, plane,
        |           CASE WHEN list_sum(list_transform(range(1, 65), i -> qv[i] * c[i])) >= 0
        |                THEN CAST(1 AS BIGINT) << plane ELSE 0 END AS bit
        |         FROM n CROSS JOIN pl),
        |bk AS (SELECT vec_id, CAST(sum(bit) AS BIGINT) AS bucket FROM proj GROUP BY 1),
        |qp AS (SELECT b.vec_id AS query_id, xor(b.bucket, m.m) AS bucket
        |       FROM bk b, (SELECT unnest([0, 1, 2, 4, 8, 16, 32, 64, 128]) AS m) m
        |       WHERE b.vec_id < 20),
        |s AS (SELECT qp.query_id, c.vec_id AS neighbor_id,
        |        CAST(CAST(list_sum(list_transform(range(1, 65), i -> a.qv[i] * x.qv[i])) AS BIGINT) AS DOUBLE)
        |          / (sqrt(a.nsq) * sqrt(x.nsq)) AS cosine
        |      FROM qp JOIN bk c USING (bucket)
        |           JOIN n a ON qp.query_id = a.vec_id
        |           JOIN n x ON c.vec_id = x.vec_id
        |      WHERE qp.query_id <> c.vec_id)
        |SELECT query_id, neighbor_id, cosine, rn FROM (
        |  SELECT query_id, neighbor_id, cosine,
        |         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn
        |  FROM s) t
        |WHERE rn <= 10""".stripMargin
    ) { (s, dir) =>
      val corpus = quantized(s, dir)
      graft.operators.Similarity.portableSignLshTopK(
        corpus, corpus.filter(col("vec_id") < 20), k = 10)
    }
  }

  /** The embedding-dedup pipeline end-to-end, exactly oracled: q64's
    * portable sign-LSH candidate+verify pairs fed through connected-
    * component resolution (q44's recursive-CTE closure) — the full
    * candidate → verify → resolve chain of q49, hash-checked. q49
    * stays the production composition (XXH planes + multi-probe). */
  val embeddingDedupOracle: Q = {
    val planes = V.portablePlanes(16, 64)
    val vals = planes.zipWithIndex
      .map { case (c, p) => s"($p, ${c.mkString("[", ", ", "]")})" }
      .mkString(",\n      |      ")
    Q(
      "q77_embedding_dedup_oracle",
      s"""WITH RECURSIVE q AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(x * 1048576.0) AS BIGINT)) AS qv
        |           FROM embeddings),
        |n AS (SELECT vec_id, qv,
        |        CAST(list_sum(list_transform(range(1, 65), i -> qv[i] * qv[i])) AS BIGINT) AS nsq
        |      FROM q),
        |pl(plane, c) AS (VALUES
        |      $vals),
        |proj AS (SELECT vec_id, plane,
        |           CASE WHEN list_sum(list_transform(range(1, 65), i -> qv[i] * c[i])) >= 0
        |                THEN CAST(1 AS BIGINT) << (plane % 4) ELSE 0 END AS bit
        |         FROM n CROSS JOIN pl),
        |k AS (SELECT vec_id, plane // 4 AS band, CAST(sum(bit) AS BIGINT) AS key
        |      FROM proj GROUP BY 1, 2),
        |c AS (SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
        |      FROM k x JOIN k y ON x.band = y.band AND x.key = y.key AND x.vec_id < y.vec_id),
        |v AS (SELECT vec_a, vec_b,
        |        CAST(CAST(list_sum(list_transform(range(1, 65), i -> a.qv[i] * b.qv[i])) AS BIGINT) AS DOUBLE)
        |          / (sqrt(a.nsq) * sqrt(b.nsq)) AS cosine
        |      FROM c JOIN n a ON c.vec_a = a.vec_id JOIN n b ON c.vec_b = b.vec_id),
        |jp AS (SELECT vec_a, vec_b FROM v WHERE cosine >= 0.4),
        |e AS (SELECT vec_a AS a, vec_b AS b FROM jp
        |      UNION SELECT vec_b, vec_a FROM jp),
        |reach AS (
        |  SELECT a AS id, b AS r FROM e
        |  UNION
        |  SELECT reach.id, e.b FROM reach JOIN e ON reach.r = e.a)
        |SELECT id AS doc_id, least(id, min(r)) AS canonical_id
        |FROM reach GROUP BY id""".stripMargin
    ) { (s, dir) =>
      graft.operators.Dedup.resolve(
        graft.operators.Similarity.portableSignLshPairs(quantized(s, dir), 0.4)
          .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
    }
  }

  /** Per-document duplicated-8-gram rate (q100): the share of a doc's
    * distinct 8-grams that appear in ANY other document (or twice in
    * itself cannot happen — distinct) — the memorization-risk /
    * cross-document repetition metric a curation dashboard reads
    * before training (high dup_ppm docs are templated or scraped-many-
    * times content). Engine and oracle both group on the PORTABLE
    * polynomial gram hash (q54's trick at n=8), so the comparison is
    * bit-exact even in the presence of hash collisions — and the
    * exchanges carry 8-byte hashes, never gram text. Shape: distinct
    * per-doc gram hashes (one native pass), combiner-compressed df
    * count, hash-keyed join back, per-doc rollup. Docs under 8 tokens
    * have no 8-gram and are excluded (both engines). */
  val ngramNovelty: Q = Q(
    "q100_ngram_novelty",
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |g AS (SELECT doc_id, list_transform(range(1, len(ws) - 6),
      |        i -> array_to_string(ws[i:i+7], ' ')) AS grams
      |      FROM w WHERE len(ws) >= 8),
      |h AS (SELECT doc_id, list_distinct(list_transform(grams, s -> list_reduce(
      |        list_prepend(CAST(7 AS BIGINT),
      |          list_transform(range(1, length(s) + 1),
      |            i -> CAST(unicode(substr(s, i, 1)) AS BIGINT))),
      |        (acc, c) -> (acc * 131 + c) % 35184372088777))) AS hs
      |      FROM g),
      |e AS (SELECT doc_id, unnest(hs) AS h FROM h),
      |d AS (SELECT h, count(*) AS df FROM e GROUP BY h)
      |SELECT e.doc_id,
      |       CAST(count(*) AS BIGINT) AS n_grams,
      |       CAST(sum(CASE WHEN d.df > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_grams,
      |       CAST(round(CAST(sum(CASE WHEN d.df > 1 THEN 1 ELSE 0 END) AS DOUBLE)
      |            / count(*) * 1000000, 0) AS BIGINT) AS dup_ppm
      |FROM e JOIN d USING (h) GROUP BY e.doc_id""".stripMargin
  ) { (s, dir) => docDupGramRate(s, dir) }

  /** Per-doc duplicated-8-gram stats — q100's frame, shared with the
    * q113 quality cross-tab. Exchanges carry 8-byte poly hashes only. */
  private def docDupGramRate(s: SparkSession, dir: String): DataFrame = {
    val hs = t(s, dir, "documents")
      .select(col("doc_id"), graft.functions.TextFunctions.words(col("text")).as("ws"))
      .select(col("doc_id"),
        graft.functions.expressions.GraftExpressions
          .shingleHashes(col("ws"), 8, ordered = false, poly = true).as("hs"))
      .filter(size(col("hs")) > 0)
    val e = hs.select(col("doc_id"), explode(col("hs")).as("h"))
    val dfc = e.groupBy("h").agg(count(lit(1)).as("df"))
    e.join(dfc, Seq("h"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") > 1, 1L).otherwise(0L)).as("dup_grams"))
      .select(col("doc_id"), col("n_grams"), col("dup_grams"),
        round(col("dup_grams").cast("double") / col("n_grams") * 1000000, 0)
          .cast("long").as("dup_ppm"))
  }

  /** Duplication × quality cross-tab (q113): q100's per-doc duplicated-
    * 8-gram rate rolled up by q24's length-quality bucket — answers
    * "are my low-quality docs also my duplicated ones?", which decides
    * whether dedup and quality filtering are redundant or complementary
    * gates. Mean dup_ppm is an exact-integer sum over the per-doc ppm
    * values divided by an exact count; docs under 8 tokens have no
    * 8-gram and are excluded in both engines (inner join). */
  val dupByQuality: Q = Q(
    "q113_dup_by_quality",
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |g AS (SELECT doc_id, list_transform(range(1, len(ws) - 6),
      |        i -> array_to_string(ws[i:i+7], ' ')) AS grams
      |      FROM w WHERE len(ws) >= 8),
      |h AS (SELECT doc_id, list_distinct(list_transform(grams, s -> list_reduce(
      |        list_prepend(CAST(7 AS BIGINT),
      |          list_transform(range(1, length(s) + 1),
      |            i -> CAST(unicode(substr(s, i, 1)) AS BIGINT))),
      |        (acc, c) -> (acc * 131 + c) % 35184372088777))) AS hs
      |      FROM g),
      |e AS (SELECT doc_id, unnest(hs) AS h FROM h),
      |d AS (SELECT h, count(*) AS df FROM e GROUP BY h),
      |r AS (SELECT e.doc_id,
      |        CAST(round(CAST(sum(CASE WHEN d.df > 1 THEN 1 ELSE 0 END) AS DOUBLE)
      |             / count(*) * 1000000, 0) AS BIGINT) AS dup_ppm
      |      FROM e JOIN d USING (h) GROUP BY e.doc_id),
      |q AS (SELECT doc_id,
      |        CASE WHEN len(ws) >= 50 THEN 'long' WHEN len(ws) >= 20 THEN 'ok'
      |             ELSE 'short' END AS quality_bucket
      |      FROM w)
      |SELECT q.quality_bucket, CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(CASE WHEN r.dup_ppm > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
      |       CAST(round(CAST(sum(r.dup_ppm) AS DOUBLE) / count(*), 0) AS BIGINT) AS mean_dup_ppm
      |FROM r JOIN q USING (doc_id) GROUP BY 1""".stripMargin
  ) { (s, dir) =>
    val r = docDupGramRate(s, dir)
    val nw = size(T.words(col("text")))
    val q = t(s, dir, "documents").select(col("doc_id"),
      when(nw >= 50, "long").when(nw >= 20, "ok")
        .otherwise("short").as("quality_bucket"))
    r.join(q, "doc_id")
      .groupBy("quality_bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("dup_ppm") > 0, 1L).otherwise(0L)).as("n_dup_docs"),
        round(sum(col("dup_ppm")).cast("double") / count(lit(1)), 0)
          .cast("long").as("mean_dup_ppm"))
  }

  /** Dedup-threshold policy sweep (q108): the pair/doc counts at five
    * candidate Jaccard cutoffs in ONE pass over q27's machinery — the
    * curve a curation owner reads to place the dedup threshold (too
    * low eats distinct documents, too high leaves mirror farms in).
    * The candidate generator runs once at the loosest cutoff (0.05,
    * same df-cap hot-key guard); the five-row threshold lattice rides
    * a broadcast cross join against the SURVIVING pairs only — never
    * against the corpus — so the sweep costs one extra tiny exchange
    * over a single-threshold run. n_pairs/n_docs come off one stacked
    * aggregation (each pair contributes its two endpoints; the pair
    * count is the stacked count halved — exact, no second agg/join). */
  val dupThresholdSweep: Q = Q(
    "q108_dup_threshold_sweep",
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |sh0 AS (SELECT doc_id,
      |         unnest(list_distinct(list_transform(range(1, len(ws) - 1),
      |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s
      |       FROM w WHERE len(ws) >= 3),
      |hot AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) > 1000),
      |sh AS (SELECT * FROM sh0 WHERE s NOT IN (SELECT s FROM hot)),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2),
      |j AS (SELECT doc_a, doc_b,
      |        CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
      |      FROM pairs JOIN sizes sa ON doc_a = sa.doc_id
      |                 JOIN sizes sb ON doc_b = sb.doc_id
      |      WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.05),
      |lat(threshold_pct) AS (VALUES (5), (10), (20), (50), (90)),
      |hit AS (SELECT threshold_pct, doc_a, doc_b FROM j CROSS JOIN lat
      |        WHERE jaccard >= threshold_pct / 100.0),
      |st AS (SELECT threshold_pct, unnest([doc_a, doc_b]) AS d FROM hit)
      |SELECT CAST(threshold_pct AS BIGINT) AS threshold_pct,
      |       CAST(count(*) // 2 AS BIGINT) AS n_pairs,
      |       CAST(count(DISTINCT d) AS BIGINT) AS n_docs
      |FROM st GROUP BY 1""".stripMargin
  ) { (s, dir) =>
    import s.implicits._
    val pairs = graft.operators.Dedup.jaccardPairs(
      graft.operators.Dedup.shingleProjection(t(s, dir, "documents"), "text", "doc_id"),
      threshold = 0.05, maxDf = 1000)
    val lat = Seq(5L, 10L, 20L, 50L, 90L).toDF("threshold_pct")
    pairs.crossJoin(broadcast(lat))
      .filter(col("jaccard") >= col("threshold_pct").cast("double") / 100.0)
      .select(col("threshold_pct"),
        explode(array(col("doc_a"), col("doc_b"))).as("d"))
      .groupBy("threshold_pct")
      .agg((count(lit(1)) / 2).cast("long").as("n_pairs"),
        countDistinct(col("d")).as("n_docs"))
  }

  /** Language/domain-ID confusion matrix (q110): q25's marker-argmax
    * prediction cross-tabulated against the table's lang label, with
    * each cell's within-label share — the audit that tells a pipeline
    * owner WHERE the cheap classifier disagrees with ground truth
    * before they gate a corpus on it. Two map-side-combined aggs over
    * the same scored scan + one label-cardinality join (AQE broadcasts
    * the label-total side — it is |langs| rows); share_ppm is a ratio
    * of exact counts, so cross-engine bit-equal. */
  val langIdConfusion: Q = Q(
    "q110_langid_confusion",
    s"""WITH s AS (
      |  SELECT lang,
      |         len(list_filter(string_split(text,' '), w -> w IN (${inList(markersSql)}))) AS s_sql,
      |         len(list_filter(string_split(text,' '), w -> w IN (${inList(markersStorage)}))) AS s_storage,
      |         len(list_filter(string_split(text,' '), w -> w IN (${inList(markersStream)}))) AS s_stream
      |  FROM documents),
      |g AS (SELECT lang,
      |        CASE WHEN s_sql >= s_storage AND s_sql >= s_stream THEN 'sql'
      |             WHEN s_storage >= s_stream THEN 'storage'
      |             ELSE 'stream' END AS domain_guess
      |      FROM s),
      |c AS (SELECT lang, domain_guess, count(*) AS n_docs FROM g GROUP BY 1, 2),
      |t AS (SELECT lang, count(*) AS lang_total FROM g GROUP BY 1)
      |SELECT c.lang, c.domain_guess, CAST(c.n_docs AS BIGINT) AS n_docs,
      |       CAST(round(CAST(c.n_docs AS DOUBLE) / t.lang_total * 1000000) AS BIGINT) AS share_ppm
      |FROM c JOIN t USING (lang)""".stripMargin
  ) { (s, dir) =>
    val ws = T.words(col("text"))
    val g = t(s, dir, "documents")
      .select(col("lang"),
        T.markerCount(ws, markersSql).as("s_sql"),
        T.markerCount(ws, markersStorage).as("s_storage"),
        T.markerCount(ws, markersStream).as("s_stream"))
      .select(col("lang"),
        when(col("s_sql") >= col("s_storage") && col("s_sql") >= col("s_stream"), "sql")
          .when(col("s_storage") >= col("s_stream"), "storage")
          .otherwise("stream").as("domain_guess"))
    val conf = g.groupBy("lang", "domain_guess").agg(count(lit(1)).as("n_docs"))
    val tot = g.groupBy("lang").agg(count(lit(1)).as("lang_total"))
    conf.join(tot, "lang")
      .select(col("lang"), col("domain_guess"), col("n_docs"),
        round(col("n_docs").cast("double") / col("lang_total") * 1000000)
          .cast("long").as("share_ppm"))
  }

  /** Length–quality correlation (q112): per-source Pearson r between
    * a doc's token count and its stop-word ratio (the q24 quality
    * proxy, ppm-quantized per row so every moment sum is over exact
    * integers). A strong correlation means the quality score is
    * secretly a length score — gate on it and you bias the corpus
    * short or long. Moment sums accumulate as DECIMAL(38,0) (exact,
    * order-independent, and 128-bit so n·Σxy stays exact at corpus
    * scale where BIGINT would wrap); the final r re-derives from the
    * exact integer moments in both engines, emitted as corr_ppm.
    * One combiner-compressed aggregation per source, no joins. */
  val lenQualityCorr: Q = Q(
    "q112_len_quality_corr",
    """WITH s AS (SELECT source,
      |             CAST(len(string_split(text, ' ')) AS BIGINT) AS x,
      |             CAST(round(CAST(len(list_filter(string_split(text, ' '),
      |                    w -> w IN ('the', 'a', 'of', 'and', 'to'))) AS DOUBLE)
      |                  / len(string_split(text, ' ')) * 1000000) AS BIGINT) AS y
      |           FROM documents),
      |a AS (SELECT source, CAST(count(*) AS DECIMAL(38,0)) AS n,
      |        sum(CAST(x * y AS DECIMAL(38,0))) AS sxy,
      |        sum(CAST(x AS DECIMAL(38,0))) AS sx, sum(CAST(y AS DECIMAL(38,0))) AS sy,
      |        sum(CAST(x * x AS DECIMAL(38,0))) AS sxx, sum(CAST(y * y AS DECIMAL(38,0))) AS syy
      |      FROM s GROUP BY source)
      |SELECT source, CAST(n AS BIGINT) AS n_docs,
      |       CAST(round(CAST(n * sxy - sx * sy AS DOUBLE)
      |            / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
      |               * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) * 1000000) AS BIGINT) AS corr_ppm
      |FROM a""".stripMargin
  ) { (s, dir) =>
    val ws = T.words(col("text"))
    val d38 = "decimal(38,0)"
    val sc = t(s, dir, "documents").select(col("source"),
      size(ws).cast("long").as("x"),
      round(T.markerCount(ws, stopWords).cast("double") / size(ws) * 1000000)
        .cast("long").as("y"))
    sc.groupBy("source")
      .agg(count(lit(1)).cast(d38).as("n"),
        sum((col("x") * col("y")).cast(d38)).as("sxy"),
        sum(col("x").cast(d38)).as("sx"), sum(col("y").cast(d38)).as("sy"),
        sum((col("x") * col("x")).cast(d38)).as("sxx"),
        sum((col("y") * col("y")).cast(d38)).as("syy"))
      .select(col("source"), col("n").cast("long").as("n_docs"),
        round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
            / (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
               * sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double")))
            * 1000000)
          .cast("long").as("corr_ppm"))
  }

  /** Embedding-side split-leakage audit (q94): q89 catches
    * token-overlap leakage; PARAPHRASE contamination shares no 3-gram
    * yet sits next to its source in embedding space. Same composition
    * over the hash-oracled sign-LSH family: near-dup pairs (banded
    * candidate generation + exact integer-cosine verify), the
    * deterministic split assignment projected onto both pair endpoints
    * (a pure function of the id — no corpus-sized join), keep pairs
    * straddling splits. Production runs the identical audit over
    * `Similarity.semdedupSplitLeaks` on the k-means clusters
    * (spec-checked — k-means isn't oracle-portable). */
  val embeddingSplitLeakage: Q = {
    val planes = V.portablePlanes(16, 64)
    val vals = planes.zipWithIndex
      .map { case (c, p) => s"($p, ${c.mkString("[", ", ", "]")})" }
      .mkString(",\n      |      ")
    Q(
      "q94_embedding_split_leakage",
      s"""WITH q AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(x * 1048576.0) AS BIGINT)) AS qv
        |           FROM embeddings),
        |n AS (SELECT vec_id, qv,
        |        CAST(list_sum(list_transform(range(1, 65), i -> qv[i] * qv[i])) AS BIGINT) AS nsq
        |      FROM q),
        |pl(plane, c) AS (VALUES
        |      $vals),
        |proj AS (SELECT vec_id, plane,
        |           CASE WHEN list_sum(list_transform(range(1, 65), i -> qv[i] * c[i])) >= 0
        |                THEN CAST(1 AS BIGINT) << (plane % 4) ELSE 0 END AS bit
        |         FROM n CROSS JOIN pl),
        |k AS (SELECT vec_id, plane // 4 AS band, CAST(sum(bit) AS BIGINT) AS key
        |      FROM proj GROUP BY 1, 2),
        |c AS (SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
        |      FROM k x JOIN k y ON x.band = y.band AND x.key = y.key AND x.vec_id < y.vec_id),
        |v AS (SELECT vec_a, vec_b,
        |        CAST(CAST(list_sum(list_transform(range(1, 65), i -> a.qv[i] * b.qv[i])) AS BIGINT) AS DOUBLE)
        |          / (sqrt(a.nsq) * sqrt(b.nsq)) AS cosine
        |      FROM c JOIN n a ON c.vec_a = a.vec_id JOIN n b ON c.vec_b = b.vec_id),
        |jp AS (SELECT vec_a, vec_b, cosine FROM v WHERE cosine >= 0.4),
        |sp AS (SELECT vec_a, vec_b, cosine,
        |         CASE WHEN CAST('0x' || substr(md5(CAST(vec_a AS VARCHAR)), 1, 8)
        |                    AS BIGINT) % 100 < 80 THEN 'train'
        |              WHEN CAST('0x' || substr(md5(CAST(vec_a AS VARCHAR)), 1, 8)
        |                    AS BIGINT) % 100 < 90 THEN 'valid'
        |              ELSE 'test' END AS split_a,
        |         CASE WHEN CAST('0x' || substr(md5(CAST(vec_b AS VARCHAR)), 1, 8)
        |                    AS BIGINT) % 100 < 80 THEN 'train'
        |              WHEN CAST('0x' || substr(md5(CAST(vec_b AS VARCHAR)), 1, 8)
        |                    AS BIGINT) % 100 < 90 THEN 'valid'
        |              ELSE 'test' END AS split_b
        |       FROM jp)
        |SELECT vec_a, vec_b, split_a, split_b, cosine
        |FROM sp WHERE split_a <> split_b""".stripMargin
    ) { (s, dir) =>
      import graft.operators.Sampling
      // same barrier as q89: without it Catalyst pushes the split
      // inequality (two md5 CASEs) down into the banded self-join
      // condition, evaluating it per candidate row instead of per
      // surviving pair
      val pairs = graft.operators.Similarity
        .portableSignLshPairs(quantized(s, dir), 0.4)
        .localCheckpoint(eager = true)
      pairs
        .withColumn("split_a", Sampling.splitColumn(col("vec_a")))
        .withColumn("split_b", Sampling.splitColumn(col("vec_b")))
        .filter(col("split_a") =!= col("split_b"))
        .select(col("vec_a"), col("vec_b"), col("split_a"), col("split_b"),
          col("cosine"))
    }
  }

  /** q255: HILL TAIL-INDEX ESTIMATOR over term frequencies — the
    * maximum-likelihood power-law exponent of the frequency tail,
    * α̂ = k / Σ_{i≤k} ln(c_(i)/c_(k+1)) at k = 10 (the test corpus's
    * 31-term vocabulary bounds k — q249's rank regime): the principled
    * companion of q109's log-log regression slope (the Hill estimator
    * uses only the top-k order statistics, so it reads the HEAD the
    * tokenizer actually allocates to, where the regression fits the
    * whole curve). Ranks ride [[graft.operators.Ranks.globalRowNumber]]
    * at VOCAB grain (the q249 machinery — two-phase range partition,
    * never a global window); c_(k+1) joins back as a broadcast 1-row
    * frame; per-term ln terms micro-quantize to u6 before the
    * order-immune sum; the final α̂ is an exact integer division of
    * two BIGINTs (milli). */
  val hillTail: Q = Q(
    "q255_hill_tail",
    """WITH tf AS (SELECT term, CAST(count(*) AS BIGINT) AS n
      |            FROM (SELECT unnest(string_split(text, ' ')) AS term
      |                  FROM documents)
      |            GROUP BY term),
      |r AS (SELECT n, CAST(row_number() OVER (ORDER BY n DESC, term ASC)
      |               AS BIGINT) AS rk
      |      FROM tf),
      |kth AS (SELECT n AS nk FROM r WHERE rk = 11),
      |tail AS (SELECT CAST(sum(CAST(round(1000000.0
      |             * ln(CAST(r.n AS DOUBLE) / kth.nk)) AS BIGINT)) AS BIGINT)
      |             AS sum_u6
      |         FROM r CROSS JOIN kth WHERE r.rk <= 10)
      |SELECT CAST(10 AS BIGINT) AS k, kth.nk, tail.sum_u6,
      |       10000000000 // tail.sum_u6 AS alpha_milli
      |FROM tail CROSS JOIN kth""".stripMargin
  ) { (s, dir) =>
    val tf = t(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("n"))
    val ranked = graft.operators.Ranks.globalRowNumber(tf,
      Seq(col("n").desc, col("term").asc), "rk")
      .filter(col("rk") <= 11)
      .select(col("n"), col("rk").cast(LongType).as("rk"))
      .localCheckpoint(true) // 11 rows; feeds both kth and the tail
    val kth = ranked.filter(col("rk") === 11).select(col("n").as("nk"))
    ranked.filter(col("rk") <= 10)
      .crossJoin(broadcast(kth))
      .select(col("nk"),
        round(lit(1000000.0) * log(col("n").cast("double") / col("nk")))
          .cast(LongType).as("term_u6"))
      .groupBy("nk").agg(sum(col("term_u6")).as("sum_u6"))
      .select(lit(10L).as("k"), col("nk"), col("sum_u6"),
        expr("10000000000 div sum_u6").as("alpha_milli"))
  }

  /** q295: SELF-BLEU-2 per source — the corpus-diversity number the
    * dedup family can't see: q84/q99 count documents that DUPLICATE,
    * self-BLEU measures how much of a source's PHRASING exists
    * elsewhere even when no document matches (Zhu et al. 2018's
    * text-generation diversity metric, here at source grain — the
    * data-mixing readout "does adding this source add new language or
    * more of the same"). Corpus-level modified bigram precision
    * against the rest: Σ_g min(c_s(g), c_rest(g)) / Σ_g c_s(g), one
    * exact ppm floor per source — BLEU's clipping, no brevity penalty
    * (corpus-level, not sentence-level). High = the source's bigrams
    * are mostly available elsewhere; low = it contributes novel
    * phrasing.
    *
    * Scale shape: ONE explode to bigram occurrences, a (bigram,
    * source)-grain count with map-side combine, then the bigram-grain
    * total as a g-KEYED window over that reduced table — not a
    * groupBy+self-join, which Spark plans as a SECOND full corpus
    * scan+tokenize (measured: executedPlan carried two parquet scans
    * and zero ReusedExchanges; at 100 TB the re-tokenize would double
    * the dominant cost). Rest-counts come from total − own, so no
    * per-source anti-join fanout; the window partitions by bigram —
    * vocabulary-grain parallelism, never a global sort. */
  val selfBleu: Q = Q(
    "q295_self_bleu",
    """WITH w AS (SELECT source, string_split(text, ' ') AS ws
      |           FROM documents),
      |b AS (SELECT source, unnest(list_transform(range(1, len(ws)),
      |               i -> ws[i] || ' ' || ws[i+1])) AS g
      |      FROM w WHERE len(ws) >= 2),
      |c AS (SELECT g, source, CAST(count(*) AS BIGINT) AS c
      |      FROM b GROUP BY 1, 2),
      |tg AS (SELECT g, CAST(sum(c) AS BIGINT) AS ct FROM c GROUP BY 1)
      |SELECT c.source, CAST(sum(c.c) AS BIGINT) AS n_bigrams,
      |       CAST(sum(least(c.c, tg.ct - c.c)) AS BIGINT) AS n_clipped,
      |       (1000000 * CAST(sum(least(c.c, tg.ct - c.c)) AS BIGINT))
      |         // CAST(sum(c.c) AS BIGINT) AS selfbleu2_ppm
      |FROM c JOIN tg USING (g) GROUP BY 1""".stripMargin
  ) { (s, dir) =>
    val b = t(s, dir, "documents")
      .select(col("source"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("source"), explode(expr(
        "transform(slice(ws, 1, size(ws) - 1), " +
          "(w, i) -> concat(w, ' ', element_at(ws, i + 2)))")).as("g"))
    val c = b.groupBy("g", "source").agg(count(lit(1)).as("c"))
    c.withColumn("ct", sum(col("c")).over(Window.partitionBy("g")))
      .groupBy("source")
      .agg(sum(col("c")).as("n_bigrams"),
        sum(least(col("c"), col("ct") - col("c"))).as("n_clipped"))
      .select(col("source"), col("n_bigrams"), col("n_clipped"),
        expr("(1000000 * n_clipped) div n_bigrams").as("selfbleu2_ppm"))
  }

  /** q312: YULE'S K per source — the classic vocabulary-concentration
    * characteristic (Yule 1944): K = 10⁴·(Σ_w c_w² − N)/N², invariant
    * to text LENGTH in a way q139's TTR family is not (TTR falls with
    * N by Heaps' law even for a fixed author; K estimates the
    * repeat-rate of the underlying word distribution, so a K shift
    * between sources or snapshots signals template/boilerplate
    * infiltration rather than just more text). Complements q255's
    * Hill tail exponent (K weights the HEAD's repetition, Hill the
    * tail's decay).
    *
    * Exactness: one (source, word) count, then per-source exact N and
    * Σc² (DECIMAL(38,0)/HUGEINT — Σc² passes int64 only at small
    * corpus scale) and ONE integral milli floor; Σc² ≥ N always, so
    * the numerator is nonnegative. Shuffle rides the distinct-vocab
    * grain (map-side combined), the q150 class. */
  val yuleK: Q = Q(
    "q312_yule_k",
    """WITH tf AS (SELECT source, term, CAST(count(*) AS BIGINT) AS c
      |            FROM (SELECT source, unnest(string_split(text, ' ')) AS term
      |                  FROM documents)
      |            GROUP BY 1, 2),
      |g AS (SELECT source, CAST(sum(c) AS BIGINT) AS n,
      |             sum(CAST(c AS HUGEINT) * c) AS s2
      |      FROM tf GROUP BY 1)
      |SELECT source, n,
      |       CAST((CAST(10000000 AS HUGEINT) * (s2 - n))
      |            // (CAST(n AS HUGEINT) * n) AS BIGINT) AS yule_k_milli
      |FROM g""".stripMargin
  ) { (s, dir) =>
    val d38c = "DECIMAL(38,0)"
    t(s, dir, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("c"))
      .groupBy("source")
      .agg(sum(col("c")).as("n"),
        sum(expr(s"CAST(c AS $d38c) * c")).as("s2"))
      .select(col("source"), col("n"),
        expr(s"CAST((CAST(10000000 AS $d38c) * (s2 - n)) " +
          s"div (CAST(n AS $d38c) * n) AS BIGINT)").as("yule_k_milli"))
  }

  /** q322: CHAO1 richness + GOOD-TURING coverage per source — the two
    * unseen-mass estimates a corpus audit wants next to q291's Heaps
    * exponent: Heaps says how vocabulary GROWS with more text; Chao1
    * says how much vocabulary the source already HAS but we haven't
    * seen (S + f1(f1−1)/(2(f2+1)), the bias-corrected form driven by
    * hapax/dis-legomena counts), and Good's coverage 1 − f1/N says
    * what fraction of the source's token mass the seen vocabulary
    * already explains — the "is this source mined out" number.
    *
    * Exactness: hapax (f1), dis-legomena (f2), distinct (S), and
    * token (N) counts are exact BIGINTs off ONE (source, term) count;
    * both estimates are single nonneg integer floors with products in
    * DECIMAL(38,0)/HUGEINT (f1² and 10⁶·f1 pass int64 at cluster
    * scale). Same whitespace tokenization as the family (q291/q312).
    *
    * Scale shape: one map-side-combined (source, term) count — the
    * q291 plan — then source-grain arithmetic. Reference analogue:
    * none (LLM-pipeline extension, SURVEY.md §2). */
  val chao1Coverage: Q = Q(
    "q322_chao1_coverage",
    """WITH tf AS (SELECT source, t.term, CAST(count(*) AS BIGINT) AS tf
      |            FROM documents,
      |                 unnest(string_split(text, ' ')) AS t(term)
      |            GROUP BY 1, 2),
      |a AS (SELECT source, CAST(count(*) AS BIGINT) AS s_distinct,
      |        CAST(sum(tf) AS BIGINT) AS n_tokens,
      |        CAST(sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
      |        CAST(sum(CASE WHEN tf = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
      |      FROM tf GROUP BY 1)
      |SELECT source, s_distinct, f1, f2,
      |       CAST(1000 * s_distinct
      |            + (CAST(1000 AS HUGEINT) * f1 * (f1 - 1))
      |              // (2 * (f2 + 1)) AS BIGINT) AS chao1_milli,
      |       CAST(1000000 - (CAST(1000000 AS HUGEINT) * f1) // n_tokens
      |         AS BIGINT) AS coverage_ppm
      |FROM a""".stripMargin
  ) { (s, dir) =>
    val d38c = "DECIMAL(38,0)"
    val a = t(s, dir, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("tf"))
      .groupBy("source")
      .agg(count(lit(1)).as("s_distinct"), sum(col("tf")).as("n_tokens"),
        sum(when(col("tf") === 1, 1L).otherwise(0L)).as("f1"),
        sum(when(col("tf") === 2, 1L).otherwise(0L)).as("f2"))
    a.select(col("source"), col("s_distinct"), col("f1"), col("f2"),
      expr(s"CAST(1000 * s_distinct + (CAST(1000 AS $d38c) * f1 * (f1 - 1))" +
        " div (2 * (f2 + 1)) AS BIGINT)").as("chao1_milli"),
      expr(s"CAST(1000000 - (CAST(1000000 AS $d38c) * f1) div n_tokens" +
        " AS BIGINT)").as("coverage_ppm"))
  }

  val all: Seq[Q] = Seq(textStats, langId, fingerprintQ, ngramJaccard,
    minhashLsh, minhashLshOracle, simhash, simhashOracle, embeddingNeardup,
    embeddingNeardupLsh, signLshOracle, knnCosine, annLsh, annIvf, binaryMeta,
    multimodalDecode, winnow, winnowOracle, dedupResolve, multimodalNeardup,
    qualityFilter, repetition, embeddingDedup, bm25, tfidf, bigramLm,
    chunkDedup, paragraphChunkDedup, semdedupQ, annPq, annIvfPq,
    annTopKOracle, embeddingDedupOracle, embeddingSplitLeakage,
    ngramNovelty, dupThresholdSweep, langIdConfusion, lenQualityCorr,
    dupByQuality, multimodalResize, multimodalPerceptual, heapsLaw,
    vocabCoverage, hillTail, selfBleu, yuleK, chao1Coverage)
}
