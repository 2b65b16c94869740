package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.functions.{TextFunctions => T, VectorFunctions => V}
import graft.functions.expressions.GraftExpressions.dotQFast
import graft.operators.{Sharding, Similarity}
import graft.sources.Tables

/** Round-8 wave 2 (q146-q162): the QA/physical-design layer of the
  * pipeline — the queries an operator runs BEFORE committing a train
  * run or a table rewrite. Embedding side: table validation (q146),
  * exact + banded-LSH hard-negative mining (q147/q154), kNN label
  * purity (q153), coverage vs the doc corpus (q156), the semantic
  * cross-source dup matrix (q155) and lexical×semantic agreement
  * (q157). Text side: sentence-level dup rates (q149) with the
  * concrete top-20 boilerplate strip-list (q158), mixed-domain doc
  * rate (q152), vocabulary coverage curve (q150), per-document dedup
  * lineage (q151), packing efficiency (q148). Layout/execution side:
  * exact-integer activity Gini (q159), the skew-salting plan it feeds
  * (q162), the z-order layout plan (q161), and a deterministic
  * curriculum ordering (q160).
  */
object AuditQueries {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** Quantized embeddings KEEPING the label column (q146/q147 need it;
    * LlmQueries' twin drops it). */
  private def quantizedL(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        V.quantize(col("embedding")).as("qv"))
      .withColumn("nsq", dotQFast(col("qv"), col("qv")))

  /** q146: embedding-table validation — the QA gate a pipeline runs
    * before spending an index build or a training epoch on a vector
    * table: per label, the population size, exact integer squared-norm
    * envelope (min/max/sum + derived mean), the count of degenerate
    * low-norm vectors (an embedder that emits near-zero vectors fails
    * loudly here, not as silent recall loss three stages later), and
    * the count of wrong-width vectors (schema says list<float>, only a
    * scan proves every row is 64-wide).
    *
    * All comparisons and sums run on the exact integer quantization
    * (2^20 scale; nsq ≤ 64·2^40 ≈ 2^46, so even a 10^16-row per-label
    * sum stays inside int64's 2^63) — the one double, avg_nsq, is a
    * single division of exact integers, IEEE-identical on any engine.
    * Scale shape: one corpus scan, one map-side-combined aggregation
    * keyed by the 10-value label — no join, no window, nothing else
    * crosses the exchange. */
  val embeddingAudit: Q = Q(
    "q146_embedding_audit",
    """WITH qz AS (SELECT vec_id, label,
      |              list_transform(embedding,
      |                x -> CAST(floor(x * 1048576.0) AS BIGINT)) AS qv
      |            FROM embeddings),
      |n AS (SELECT vec_id, label, len(qv) AS dims,
      |        CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS nsq
      |      FROM qz)
      |SELECT label,
      |       count(*) AS n_vecs,
      |       min(nsq) AS min_nsq,
      |       max(nsq) AS max_nsq,
      |       CAST(sum(nsq) AS BIGINT) AS sum_nsq,
      |       CAST(sum(CASE WHEN nsq < 549755813888 THEN 1 ELSE 0 END)
      |            AS BIGINT) AS n_low_norm,
      |       CAST(sum(CASE WHEN dims <> 64 THEN 1 ELSE 0 END)
      |            AS BIGINT) AS n_bad_dims,
      |       CAST(CAST(sum(nsq) AS BIGINT) AS DOUBLE) / count(*) AS avg_nsq
      |FROM n GROUP BY label""".stripMargin
  ) { (s, dir) =>
    // low-norm cut: nsq < 2^39 = half a unit norm squared (unit vectors
    // quantize to nsq ≈ 2^40) — generous enough that quantization noise
    // never trips it, tight enough that a zeroed/collapsed embedding does
    quantizedL(s, dir)
      .withColumn("dims", size(col("qv")).cast(LongType))
      .groupBy("label")
      .agg(
        count(lit(1)).as("n_vecs"),
        min(col("nsq")).as("min_nsq"),
        max(col("nsq")).as("max_nsq"),
        sum(col("nsq")).as("sum_nsq"),
        sum(when(col("nsq") < lit(549755813888L), 1L).otherwise(0L))
          .as("n_low_norm"),
        sum(when(col("dims") =!= 64L, 1L).otherwise(0L)).as("n_bad_dims"))
      .withColumn("avg_nsq",
        col("sum_nsq").cast("double") / col("n_vecs"))
  }

  /** q147: hard-negative mining — for each query vector, the 5 most
    * similar OTHER-label vectors with cosine in [0.2, 0.8): the
    * informative-negatives band of contrastive batch construction
    * (below 0.2 the negative is trivial and teaches nothing; at and
    * above 0.8 it is more likely a mislabeled positive than a true
    * negative, the standard false-negative guard). Same broadcast-
    * query/one-corpus-scan shape as q31's exact kNN; the bounded heap
    * keeps the exchange at k rows per query per partition. */
  val hardNegatives: Q = Q(
    "q147_hard_negatives",
    """WITH qz AS (SELECT vec_id, label,
      |              list_transform(embedding,
      |                x -> CAST(floor(x * 1048576.0) AS BIGINT)) AS qv
      |            FROM embeddings),
      |n AS (SELECT vec_id, label, qv,
      |        CAST(list_sum(list_transform(range(1, 65), i -> qv[i] * qv[i]))
      |             AS BIGINT) AS nsq
      |      FROM qz),
      |s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |        CAST(CAST(list_sum(list_transform(range(1, 65),
      |               i -> q.qv[i] * c.qv[i])) AS BIGINT) AS DOUBLE)
      |          / (sqrt(q.nsq) * sqrt(c.nsq)) AS cosine
      |      FROM n q JOIN n c
      |        ON q.vec_id < 20 AND c.vec_id <> q.vec_id
      |       AND c.label <> q.label)
      |SELECT query_id, neighbor_id, cosine, rn FROM (
      |  SELECT query_id, neighbor_id, cosine,
      |         row_number() OVER (PARTITION BY query_id
      |             ORDER BY cosine DESC, neighbor_id) AS rn
      |  FROM s WHERE cosine >= 0.2 AND cosine < 0.8) t
      |WHERE rn <= 5""".stripMargin
  ) { (s, dir) =>
    val e = quantizedL(s, dir)
    Similarity.hardNegatives(e, e.filter(col("vec_id") < 20),
      k = 5, lo = 0.2, hi = 0.8)
  }

  /** q148: packing-efficiency report over q71's 512-token sequence
    * writer — the histogram a data engineer reads before choosing the
    * sequence length: for each docs-per-sequence count, how many
    * sequences land there, how many of them are completely filled, and
    * the total padding tokens (only the final sequence of a contiguous
    * pack can be short, so pad_tokens doubles as a correctness canary:
    * anything above 512 total means the packer leaked gaps).
    *
    * Scale shape: rides [[Sharding.packSequences]]' two-pass prefix sum
    * (per-partition subtotals collected, never the rows), then two
    * map-side-combined aggregations whose keys (seq_id, then the small
    * docs-per-seq integer) shuffle 8-byte rows — the document text
    * never enters the plan. */
  val packingEfficiency: Q = Q(
    "q148_packing_efficiency",
    """WITH d AS (SELECT doc_id,
      |                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      |           FROM documents),
      |c AS (SELECT doc_id, n_tok,
      |             CAST(sum(n_tok) OVER (ORDER BY doc_id
      |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |                  AS BIGINT) AS cum_tok
      |      FROM d WHERE n_tok > 0),
      |e AS (SELECT doc_id, n_tok, cum_tok,
      |             unnest(range((cum_tok - n_tok) // 512,
      |                          (cum_tok - 1) // 512 + 1)) AS seq_id
      |      FROM c),
      |x AS (SELECT doc_id, seq_id,
      |             least(cum_tok, (seq_id + 1) * 512)
      |               - greatest(cum_tok - n_tok, seq_id * 512) AS n_tok_in_seq
      |      FROM e),
      |p AS (SELECT seq_id, count(*) AS docs_per_seq,
      |             CAST(sum(n_tok_in_seq) AS BIGINT) AS fill
      |      FROM x GROUP BY seq_id)
      |SELECT docs_per_seq, count(*) AS n_seqs,
      |       CAST(sum(CASE WHEN fill = 512 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_full,
      |       CAST(sum(512 - fill) AS BIGINT) AS pad_tokens
      |FROM p GROUP BY docs_per_seq""".stripMargin
  ) { (s, dir) =>
    val packed = Sharding.packSequences(
      t(s, dir, "documents")
        .select(col("doc_id"),
          size(T.words(col("text"))).cast(LongType).as("n_tok")),
      Seq(col("doc_id")), "n_tok", seqLen = 512L)
    packed.groupBy("seq_id")
      .agg(count(lit(1)).as("docs_per_seq"),
        sum(col("n_tok_in_seq")).as("fill"))
      .groupBy("docs_per_seq")
      .agg(count(lit(1)).as("n_seqs"),
        sum(when(col("fill") === 512L, 1L).otherwise(0L)).as("n_full"),
        sum(lit(512L) - col("fill")).as("pad_tokens"))
  }

  /** q149: sentence-granularity duplication rate by source — the
    * diagnostic between q100's 8-gram duplication rate and q67's
    * chunk-dedup rate: split each document on sentence punctuation,
    * count repeated sentences per source. High sentence-dup with low
    * doc-dup is the signature of templated/boilerplate-heavy sources
    * that doc-level dedup cannot fix and chunk dedup will.
    *
    * The sentence TEXT never crosses an exchange: the explode projects
    * each sentence to its 16-byte md5 digest before the (source,
    * digest) count, and the output is the per-source rollup — the same
    * digest-keyed discipline as chunkDedup (128-bit because a 64-bit
    * key expects collisions at 10^12 sentences, and a collision here
    * miscounts a duplicate). The split regex `[.!?]+` and the
    * space-trim sit in the Java∩RE2 subset, so the oracle (which can
    * afford to group by the raw sentence string at test scale)
    * produces byte-identical sentences. */
  val sentenceDedup: Q = Q(
    "q149_sentence_dedup",
    """WITH s AS (SELECT source,
      |             trim(unnest(regexp_split_to_array(text, '[.!?]+'))) AS sent
      |           FROM documents),
      |f AS (SELECT source, sent FROM s WHERE length(sent) > 0),
      |g AS (SELECT source, sent, count(*) AS c FROM f GROUP BY 1, 2)
      |SELECT source,
      |       CAST(sum(c) AS BIGINT) AS n_sentences,
      |       count(*) AS n_distinct,
      |       CAST(sum(c) - count(*) AS BIGINT) AS n_dup,
      |       CAST(sum(c) - count(*) AS DOUBLE) / sum(c) AS dup_rate
      |FROM g GROUP BY source""".stripMargin
  ) { (s, dir) =>
    t(s, dir, "documents")
      .select(col("source"),
        explode(split(col("text"), "[.!?]+")).as("sent0"))
      .select(col("source"), trim(col("sent0")).as("sent"))
      .filter(length(col("sent")) > 0)
      .select(col("source"), unhex(md5(col("sent"))).as("d"))
      .groupBy("source", "d")
      .agg(count(lit(1)).as("c"))
      .groupBy("source")
      .agg(sum(col("c")).as("n_sentences"),
        count(lit(1)).as("n_distinct"),
        (sum(col("c")) - count(lit(1))).as("n_dup"))
      .withColumn("dup_rate",
        col("n_dup").cast("double") / col("n_sentences"))
  }

  /** q150: vocabulary coverage curve — the tokenizer-sizing number: the
    * smallest vocabulary (taking terms most-frequent-first) that covers
    * 50 / 90 / 95 / 99% of all corpus token occurrences, with the exact
    * token mass covered at that cut. The gap between the 90% and 99%
    * rows IS the long tail a subword tokenizer exists to absorb.
    *
    * Scale shape: the corpus is touched by ONE map-side-combined term
    * count; everything after runs on the VOCAB (bounded by distinct
    * terms, ≪ corpus — Heaps' law), where the frequency-ranked prefix
    * sums use the two-pass per-partition-subtotal design (only one
    * subtotal per partition is collected, twice), and the 4-row
    * threshold table joins via broadcast. cum·100 stays in int64 up to
    * ~9·10^16 corpus tokens. */
  val vocabCoverage: Q = Q(
    "q150_vocab_coverage",
    """WITH w AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
      |g AS (SELECT term, count(*) AS cnt FROM w GROUP BY term),
      |o AS (SELECT term, cnt,
      |        CAST(sum(cnt) OVER (ORDER BY cnt DESC, term
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |             AS BIGINT) AS cum,
      |        CAST(row_number() OVER (ORDER BY cnt DESC, term) AS BIGINT) AS rnk
      |      FROM g),
      |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM g)
      |SELECT CAST(th.pct AS BIGINT) AS pct,
      |       min(o.rnk) AS vocab_size,
      |       min(o.cum) AS covered_tokens,
      |       max(tot.total) AS total_tokens
      |FROM o, tot, (VALUES (50), (90), (95), (99)) th(pct)
      |WHERE o.cum * 100 >= th.pct * tot.total
      |GROUP BY th.pct""".stripMargin
  ) { (s, dir) =>
    import graft.operators.Ranks
    val counts = t(s, dir, "documents")
      .select(explode(T.words(col("text"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("cnt"))
    val curve = Ranks.globalRunningSums(counts,
      Seq(col("cnt").desc, col("term").asc),
      Seq(col("cnt") -> "cum", lit(1L) -> "rnk"))
    val total = counts.agg(sum(col("cnt")).cast(LongType).as("total"))
    val thresholds = s.createDataFrame(
      java.util.Arrays.asList(Seq(50L, 90L, 95L, 99L).map(org.apache.spark.sql.Row(_)): _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("pct",
          org.apache.spark.sql.types.LongType, nullable = false))))
    curve.crossJoin(broadcast(total)).crossJoin(broadcast(thresholds))
      .filter(col("cum") * 100 >= col("pct") * col("total"))
      .groupBy("pct")
      .agg(min(col("rnk")).as("vocab_size"),
        min(col("cum")).as("covered_tokens"),
        max(col("total")).as("total_tokens"))
  }

  /** q151: dedup lineage — the per-removed-document provenance record a
    * pipeline audit reads: WHICH doc was dropped, at WHICH stage (exact
    * text dedup, then near-dup resolution over the exact survivors),
    * and WHO won. Composes q11's digest election with q44's
    * connected-component resolution; together with q101 (surviving
    * token mass) this is the full paper-trail for "where did my corpus
    * go" — per-document instead of per-source.
    *
    * Scale shape: the exact stage is one groupBy on a 16-byte digest +
    * a digest-keyed join back (the chunkDedup discipline — the text
    * itself never keys an exchange); the near-dup stage rides the
    * df-capped shingle join and pointer-doubling resolution unchanged.
    * The winner election is min(doc_id), so the lineage is
    * deterministic under any partitioning. */
  val dedupLineage: Q = Q(
    "q151_dedup_lineage",
    """WITH RECURSIVE h AS (SELECT doc_id, text, md5(text) AS hh FROM documents),
      |hw AS (SELECT hh, min(doc_id) AS w FROM h GROUP BY hh),
      |exact_losers AS (SELECT h.doc_id, 'exact' AS stage, hw.w AS winner_id
      |                 FROM h JOIN hw ON h.hh = hw.hh WHERE h.doc_id <> hw.w),
      |surv AS (SELECT h.doc_id, h.text FROM h
      |         JOIN hw ON h.hh = hw.hh AND h.doc_id = hw.w),
      |w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM surv),
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
      |  SELECT reach.id, e.b FROM reach JOIN e ON reach.r = e.a),
      |res AS (SELECT id AS doc_id, least(id, min(r)) AS canonical_id
      |        FROM reach GROUP BY id),
      |near_losers AS (SELECT doc_id, 'near_dup' AS stage,
      |                       canonical_id AS winner_id
      |                FROM res WHERE doc_id <> canonical_id)
      |SELECT * FROM exact_losers UNION ALL SELECT * FROM near_losers""".stripMargin
  ) { (s, dir) =>
    import graft.operators.Dedup
    val docs = t(s, dir, "documents")
    val withH = docs.select(col("doc_id"), col("text"),
      unhex(md5(col("text"))).as("hh"))
    val winners = withH.groupBy("hh").agg(min(col("doc_id")).as("w"))
    val joined = withH.join(winners, "hh")
    val exactLosers = joined.filter(col("doc_id") =!= col("w"))
      .select(col("doc_id"), lit("exact").as("stage"),
        col("w").as("winner_id"))
    val survivors = joined.filter(col("doc_id") === col("w"))
      .select(col("doc_id"), col("text"))
    val resolved = Dedup.resolve(Dedup.jaccardPairs(
      Dedup.shingleProjection(survivors, "text", "doc_id"),
      threshold = 0.5, maxDf = 1000))
    val nearLosers = resolved.filter(col("doc_id") =!= col("canonical_id"))
      .select(col("doc_id"), lit("near_dup").as("stage"),
        col("canonical_id").as("winner_id"))
    exactLosers.union(nearLosers)
  }

  /** The q25 marker-profile domain-id vocabularies (shared definition —
    * the heuristic IS these lists; a langid model drops into the same
    * scoring slot). */
  private val markersSql = Seq("join", "filter", "agg", "query", "group", "sort")
  private val markersStorage = Seq("table", "column", "row", "batch", "scan", "part")
  private val markersStream = Seq("stream", "window", "spark", "vector", "dup", "hash")
  private def inList(xs: Seq[String]) = xs.map(x => s"'$x'").mkString(", ")

  /** q152: mixed-domain document rate — q25's marker-profile domain ID
    * applied per SENTENCE, rolled to the share of each source's
    * sentences that disagree with their document's overall domain.
    * High mixed_rate marks sources whose documents straddle topics —
    * the docs that embed poorly as one vector, chunk across topic
    * boundaries, and pollute domain-conditional mixtures; per-sentence
    * (or chunked) processing is the fix, and this measures where it is
    * needed. Doc domain = argmax of SUMMED sentence marker counts, so
    * both levels derive from one scoring pass.
    *
    * Scale shape: one scan, one explode, marker counts projected per
    * sentence BEFORE any exchange (the sentence string never shuffles);
    * then two map-side-combined aggregations keyed by (doc_id, source)
    * and source. No join, no window. */
  val mixedDomain: Q = Q(
    "q152_mixed_domain",
    s"""WITH s0 AS (SELECT doc_id, source,
       |              trim(unnest(regexp_split_to_array(text, '[.!?]+'))) AS sent
       |            FROM documents),
       |s1 AS (SELECT doc_id, source, sent FROM s0 WHERE length(sent) > 0),
       |sc AS (SELECT doc_id, source,
       |         len(list_filter(string_split(sent, ' '),
       |             w -> w IN (${inList(markersSql)}))) AS s_sql,
       |         len(list_filter(string_split(sent, ' '),
       |             w -> w IN (${inList(markersStorage)}))) AS s_storage,
       |         len(list_filter(string_split(sent, ' '),
       |             w -> w IN (${inList(markersStream)}))) AS s_stream
       |       FROM s1),
       |g AS (SELECT *,
       |        CASE WHEN s_sql >= s_storage AND s_sql >= s_stream THEN 'sql'
       |             WHEN s_storage >= s_stream THEN 'storage'
       |             ELSE 'stream' END AS gg
       |      FROM sc),
       |d AS (SELECT doc_id, source, count(*) AS n_sent,
       |        CAST(sum(s_sql) AS BIGINT) AS t_sql,
       |        CAST(sum(s_storage) AS BIGINT) AS t_storage,
       |        CAST(sum(s_stream) AS BIGINT) AS t_stream,
       |        CAST(sum(CASE WHEN gg = 'sql' THEN 1 ELSE 0 END) AS BIGINT) AS n_sql,
       |        CAST(sum(CASE WHEN gg = 'storage' THEN 1 ELSE 0 END) AS BIGINT) AS n_storage,
       |        CAST(sum(CASE WHEN gg = 'stream' THEN 1 ELSE 0 END) AS BIGINT) AS n_stream
       |      FROM g GROUP BY 1, 2),
       |o AS (SELECT source, n_sent,
       |        n_sent - CASE WHEN t_sql >= t_storage AND t_sql >= t_stream THEN n_sql
       |                      WHEN t_storage >= t_stream THEN n_storage
       |                      ELSE n_stream END AS n_off
       |      FROM d)
       |SELECT source, count(*) AS n_docs,
       |       CAST(sum(CASE WHEN n_off > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |         AS mixed_docs,
       |       CAST(sum(n_sent) AS BIGINT) AS n_sentences,
       |       CAST(sum(n_off) AS BIGINT) AS off_sentences,
       |       CAST(sum(n_off) AS DOUBLE) / sum(n_sent) AS mixed_rate
       |FROM o GROUP BY source""".stripMargin
  ) { (s, dir) =>
    val sents = t(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        explode(split(col("text"), "[.!?]+")).as("sent0"))
      .select(col("doc_id"), col("source"), trim(col("sent0")).as("sent"))
      .filter(length(col("sent")) > 0)
    val ws = split(col("sent"), " ")
    val scored = sents.select(col("doc_id"), col("source"),
      T.markerCount(ws, markersSql).as("s_sql"),
      T.markerCount(ws, markersStorage).as("s_storage"),
      T.markerCount(ws, markersStream).as("s_stream"))
      .withColumn("gg",
        when(col("s_sql") >= col("s_storage") && col("s_sql") >= col("s_stream"), "sql")
          .when(col("s_storage") >= col("s_stream"), "storage")
          .otherwise("stream"))
    val perDoc = scored.groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_sent"),
        sum(col("s_sql")).as("t_sql"),
        sum(col("s_storage")).as("t_storage"),
        sum(col("s_stream")).as("t_stream"),
        sum(when(col("gg") === "sql", 1L).otherwise(0L)).as("n_sql"),
        sum(when(col("gg") === "storage", 1L).otherwise(0L)).as("n_storage"),
        sum(when(col("gg") === "stream", 1L).otherwise(0L)).as("n_stream"))
      .withColumn("n_off",
        col("n_sent") -
          when(col("t_sql") >= col("t_storage") && col("t_sql") >= col("t_stream"),
            col("n_sql"))
            .when(col("t_storage") >= col("t_stream"), col("n_storage"))
            .otherwise(col("n_stream")))
    perDoc.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_off") > 0, 1L).otherwise(0L)).as("mixed_docs"),
        sum(col("n_sent")).as("n_sentences"),
        sum(col("n_off")).as("off_sentences"))
      .withColumn("mixed_rate",
        col("off_sentences").cast("double") / col("n_sentences"))
  }

  /** q153: kNN label purity — for each probe vector, the share of its
    * 10 nearest neighbors that carry its own label: the standard
    * intrinsic embedding-quality metric (a good space puts same-label
    * points together; purity near 1/n_labels means the embedder is
    * noise and every ANN/semdedup stage downstream is garbage-in).
    * Complements q146: that audits the TABLE (norms, widths), this
    * audits the GEOMETRY. Rides q31's exact-kNN machinery; the label
    * lookup joins the model-sized probe batch back on neighbor_id via
    * broadcast of the 500-row label table — at corpus scale the label
    * would ride the index payload instead (documented in the scaladoc
    * of [[Similarity.knnTopK]]'s caller contract). */
  val knnLabelPurity: Q = Q(
    "q153_knn_purity",
    """WITH qz AS (SELECT vec_id, label,
      |              list_transform(embedding,
      |                x -> CAST(floor(x * 1048576.0) AS BIGINT)) AS qv
      |            FROM embeddings),
      |n AS (SELECT vec_id, label, qv,
      |        CAST(list_sum(list_transform(range(1, 65), i -> qv[i] * qv[i]))
      |             AS BIGINT) AS nsq
      |      FROM qz),
      |s AS (SELECT q.vec_id AS query_id, q.label AS qlabel,
      |        c.vec_id AS neighbor_id, c.label AS nlabel,
      |        CAST(CAST(list_sum(list_transform(range(1, 65),
      |               i -> q.qv[i] * c.qv[i])) AS BIGINT) AS DOUBLE)
      |          / (sqrt(q.nsq) * sqrt(c.nsq)) AS cosine
      |      FROM n q JOIN n c ON q.vec_id < 20 AND c.vec_id <> q.vec_id),
      |r AS (SELECT query_id, qlabel, nlabel,
      |        row_number() OVER (PARTITION BY query_id
      |            ORDER BY cosine DESC, neighbor_id) AS rn
      |      FROM s)
      |SELECT query_id, max(qlabel) AS label,
      |       CAST(sum(CASE WHEN nlabel = qlabel THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_same,
      |       CAST(sum(CASE WHEN nlabel = qlabel THEN 1 ELSE 0 END) AS DOUBLE)
      |         / 10 AS purity
      |FROM r WHERE rn <= 10
      |GROUP BY query_id""".stripMargin
  ) { (s, dir) =>
    val e = quantizedL(s, dir)
    val topk = Similarity.knnTopK(e, e.filter(col("vec_id") < 20), k = 10)
    val labels = e.select(col("vec_id"), col("label"))
    topk
      .join(broadcast(labels.withColumnRenamed("vec_id", "query_id")
        .withColumnRenamed("label", "qlabel")), "query_id")
      .join(broadcast(labels.withColumnRenamed("vec_id", "neighbor_id")
        .withColumnRenamed("label", "nlabel")), "neighbor_id")
      .groupBy("query_id")
      .agg(max(col("qlabel")).as("label"),
        sum(when(col("nlabel") === col("qlabel"), 1L).otherwise(0L))
          .as("n_same"))
      .withColumn("purity", col("n_same").cast("double") / 10)
  }

  /** q154: LSH-probed hard-negative mining — q147's scale path for
    * query batches too large to amortize a full corpus pass (the
    * multi-probe join touches ~9/256 of the corpus per query).
    * Probabilistic candidate generation ⇒ rows-only; the emitted rows'
    * band/label/exact-cosine contract and the recall floor vs q147 are
    * asserted in LlmOperatorsSpec. */
  val hardNegativesAnn: Q = Q.rowsOnly("q154_hard_negatives_ann") { (s, dir) =>
    val e = quantizedL(s, dir)
    Similarity.hardNegativesAnn(e, e.filter(col("vec_id") < 20),
      k = 5, lo = 0.2, hi = 0.8)
  }

  /** q155: semantic cross-source duplication matrix — q106's provenance
    * view with EMBEDDING near-dup pairs instead of lexical shingles:
    * per unordered source pair, how many semantic near-dup pairs
    * (portable sign-LSH candidates verified at cosine ≥ 0.4) connect
    * them, with the exact cosine mass (micro-quantized so the sum is an
    * order-independent integer — a raw double sum is shuffle-order-
    * dependent and unverifiable). Diagonal = paraphrase re-posting
    * within a source; off-diagonal = content laundering between
    * sources that lexical dedup (q106) misses when the wording shifts.
    *
    * Scale shape: candidate generation is q77's banded equi-join with
    * bare-id dedup before the vector fetch-back; the source lookup
    * joins the (small) verified pair list against the id→source
    * projection twice on doc_id; the final rollup keys on the bounded
    * source-pair lattice. */
  val semanticDupMatrix: Q = {
    val planes = V.portablePlanes(16, 64)
    val vals = planes.zipWithIndex
      .map { case (c, p) => s"($p, ${c.mkString("[", ", ", "]")})" }
      .mkString(",\n      |      ")
    Q(
      "q155_semantic_dup_matrix",
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
        |s AS (SELECT least(da.source, db.source) AS source_a,
        |             greatest(da.source, db.source) AS source_b,
        |             jp.cosine
        |      FROM jp JOIN documents da ON jp.vec_a = da.doc_id
        |              JOIN documents db ON jp.vec_b = db.doc_id)
        |SELECT source_a, source_b, count(*) AS n_pairs,
        |       CAST(sum(CAST(floor(cosine * 1000000.0) AS BIGINT)) AS BIGINT)
        |         AS cos_micros
        |FROM s GROUP BY 1, 2""".stripMargin
    ) { (s, dir) =>
      val pairs = Similarity.portableSignLshPairs(
        t(s, dir, "embeddings")
          .select(col("vec_id"), V.quantize(col("embedding")).as("qv"))
          .withColumn("nsq", dotQFast(col("qv"), col("qv"))),
        threshold = 0.4)
      val src = t(s, dir, "documents").select(col("doc_id"), col("source"))
      pairs
        .join(src.select(col("doc_id").as("vec_a"), col("source").as("src_a")), "vec_a")
        .join(src.select(col("doc_id").as("vec_b"), col("source").as("src_b")), "vec_b")
        .select(least(col("src_a"), col("src_b")).as("source_a"),
          greatest(col("src_a"), col("src_b")).as("source_b"),
          col("cosine"))
        .groupBy("source_a", "source_b")
        .agg(count(lit(1)).as("n_pairs"),
          sum(floor(col("cosine") * 1000000.0).cast(LongType))
            .as("cos_micros"))
    }
  }

  /** q156: embedding-coverage audit — per source, how many documents
    * actually HAVE a vector: the join between the document corpus and
    * the embedding table is the silent failure mode of every semantic
    * stage (SemDedup, ANN decontamination, q155's matrix all no-op on
    * uncovered docs without erroring). At sf0.1 the synthetic tables
    * make this real: 2,000 vectors cover 5,000 docs. One int-keyed
    * left join projecting only (doc_id, source) against bare vec_ids,
    * then a map-side-combined rollup. */
  val embeddingCoverage: Q = Q(
    "q156_embedding_coverage",
    """SELECT d.source, count(*) AS n_docs,
      |       CAST(sum(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END)
      |            AS BIGINT) AS n_embedded,
      |       CAST(sum(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END)
      |            AS DOUBLE) / count(*) AS coverage
      |FROM documents d LEFT JOIN embeddings e ON d.doc_id = e.vec_id
      |GROUP BY d.source""".stripMargin
  ) { (s, dir) =>
    t(s, dir, "documents").select(col("doc_id"), col("source"))
      .join(t(s, dir, "embeddings").select(col("vec_id")),
        col("doc_id") === col("vec_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("vec_id").isNotNull, 1L).otherwise(0L)).as("n_embedded"))
      .withColumn("coverage",
        col("n_embedded").cast("double") / col("n_docs"))
  }

  /** q157: dedup-signal agreement — of the lexical near-dup pairs
    * (3-gram Jaccard ≥ 0.5, q27's df-capped generator) whose BOTH ends
    * carry embeddings, how many the semantic signal confirms at
    * cosine ≥ 0.4. Low agreement means the two dedup families remove
    * DIFFERENT populations — running only one leaves the other's
    * duplicates in the corpus (the complementarity question q113 asks
    * of dedup × quality, asked of lexical × semantic). Pair list is
    * tiny relative to the corpus; the embedding fetch-back is two
    * int-keyed joins; one single-row rollup. */
  val dedupAgreement: Q = Q(
    "q157_dedup_agreement",
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
      |jp AS (SELECT doc_a, doc_b FROM pairs
      |       JOIN sizes sa ON doc_a = sa.doc_id
      |       JOIN sizes sb ON doc_b = sb.doc_id
      |       WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.5),
      |qz AS (SELECT vec_id, list_transform(embedding,
      |               x -> CAST(floor(x * 1048576.0) AS BIGINT)) AS qv
      |       FROM embeddings),
      |n AS (SELECT vec_id, qv,
      |        CAST(list_sum(list_transform(range(1, 65), i -> qv[i] * qv[i]))
      |             AS BIGINT) AS nsq
      |      FROM qz),
      |v AS (SELECT jp.doc_a, jp.doc_b,
      |        CAST(CAST(list_sum(list_transform(range(1, 65),
      |               i -> a.qv[i] * b.qv[i])) AS BIGINT) AS DOUBLE)
      |          / (sqrt(a.nsq) * sqrt(b.nsq)) AS cosine
      |      FROM jp JOIN n a ON jp.doc_a = a.vec_id
      |              JOIN n b ON jp.doc_b = b.vec_id)
      |SELECT count(*) AS n_pairs_with_vectors,
      |       CAST(sum(CASE WHEN cosine >= 0.4 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_confirmed,
      |       CAST(sum(CASE WHEN cosine >= 0.4 THEN 1 ELSE 0 END) AS DOUBLE)
      |         / count(*) AS agreement
      |FROM v""".stripMargin
  ) { (s, dir) =>
    import graft.operators.Dedup
    val lex = Dedup.jaccardPairs(
      Dedup.shingleProjection(t(s, dir, "documents"), "text", "doc_id"),
      threshold = 0.5, maxDf = 1000)
      .select("doc_a", "doc_b")
    val n = t(s, dir, "embeddings")
      .select(col("vec_id"), V.quantize(col("embedding")).as("qv"))
      .withColumn("nsq", dotQFast(col("qv"), col("qv")))
    lex
      .join(n.select(col("vec_id").as("doc_a"), col("qv").as("qv_a"),
        col("nsq").as("nsq_a")), "doc_a")
      .join(n.select(col("vec_id").as("doc_b"), col("qv").as("qv_b"),
        col("nsq").as("nsq_b")), "doc_b")
      .select(V.cosineFrom(dotQFast(col("qv_a"), col("qv_b")),
        col("nsq_a"), col("nsq_b")).as("cosine"))
      .agg(count(lit(1)).as("n_pairs_with_vectors"),
        sum(when(col("cosine") >= 0.4, 1L).otherwise(0L)).as("n_confirmed"))
      .withColumn("agreement",
        col("n_confirmed").cast("double") / col("n_pairs_with_vectors"))
  }

  /** q158: top boilerplate sentences — the 20 most-repeated sentences
    * corpus-wide with occurrence and source-spread counts: the concrete
    * strip-list q149's per-source RATE points at (rate says "source X
    * is templated", this says "...and THIS is the template"). Counts
    * aggregate on the 16-byte digest (one map-side-combined pass over
    * the exploded sentences — text never enters that exchange); the
    * global top-20 plans as TakeOrderedAndProject (per-partition heaps,
    * q73's pattern), and only the 20 winners fetch their text back via
    * a digest-keyed join against a sentence-distinct projection. */
  val topBoilerplate: Q = Q(
    "q158_top_boilerplate",
    """WITH s AS (SELECT source,
      |             trim(unnest(regexp_split_to_array(text, '[.!?]+'))) AS sent
      |           FROM documents),
      |f AS (SELECT source, sent FROM s WHERE length(sent) > 0),
      |g AS (SELECT md5(sent) AS d, count(*) AS n_occ,
      |             count(DISTINCT source) AS n_sources,
      |             min(sent) AS sent
      |      FROM f GROUP BY md5(sent))
      |SELECT d, sent, n_occ, n_sources FROM g
      |ORDER BY n_occ DESC, d ASC LIMIT 20""".stripMargin
  ) { (s, dir) =>
    val sents = t(s, dir, "documents")
      .select(col("source"),
        explode(split(col("text"), "[.!?]+")).as("sent0"))
      .select(col("source"), trim(col("sent0")).as("sent"))
      .filter(length(col("sent")) > 0)
      .select(col("source"), col("sent"), md5(col("sent")).as("d"))
    // pinned so the two consumers below don't re-run the corpus pass
    val counts = sents.groupBy("d")
      .agg(count(lit(1)).as("n_occ"),
        countDistinct(col("source")).as("n_sources"))
      .orderBy(col("n_occ").desc, col("d").asc)
      .limit(20)
      .localCheckpoint(true)
    // only the 20 winners fetch their text back: the broadcast semi-join
    // drops every other sentence BEFORE any text crosses an exchange;
    // min(sent) is digest-determined (md5 collision-free at realistic
    // scale) but min() keeps the aggregate well-defined either way
    val texts = sents.join(broadcast(counts.select("d")), "d")
      .groupBy("d").agg(min(col("sent")).as("sent"))
    counts.join(broadcast(texts), "d")
      .select("d", "sent", "n_occ", "n_sources")
  }

  /** q159: activity concentration (exact Gini) per event type — the
    * skew number that decides salting/AQE strategy for user-keyed
    * shuffles (Gini → 1 means a few users own the traffic and any
    * user-keyed aggregation has a hot key; q136's quota and
    * HeavyHitters' salt sharding are the mitigations this measures the
    * need for).
    *
    * Computed WITHOUT ranking users: Gini needs Σ rank·count over
    * count-sorted users, and ranking 10^9 users per type is a
    * partitioned window over corpus-scale data. Instead users collapse
    * to a COUNT-OF-COUNTS histogram (c, m_c) — bounded by distinct
    * activity levels, structurally ≪ users — and each equal-count
    * block's rank mass is closed-form: c·(m·r0 + m(m−1)/2) where r0 is
    * the block's first rank (Gini is order-invariant within ties, so
    * the block formula is exact). The only window runs over the
    * per-type HISTOGRAM — the q131/q141 "windowed data is structurally
    * tiny" pattern. All moments are exact int64 (rank mass ≤ n·S;
    * overflow needs n·S > 9·10^18); the one double division is of
    * exact integers. */
  val activityGini: Q = Q(
    "q159_activity_gini",
    """WITH u AS (SELECT event_type, user_id, count(*) AS c
      |           FROM events GROUP BY 1, 2),
      |r AS (SELECT event_type, c,
      |        CAST(row_number() OVER (PARTITION BY event_type
      |             ORDER BY c, user_id) AS BIGINT) AS i
      |      FROM u)
      |SELECT event_type,
      |       count(*) AS n_users,
      |       CAST(sum(c) AS BIGINT) AS total_events,
      |       CAST(sum(i * c) AS BIGINT) AS rank_mass,
      |       CAST(2 * CAST(sum(i * c) AS BIGINT)
      |            - (count(*) + 1) * CAST(sum(c) AS BIGINT) AS DOUBLE)
      |         / (CAST(count(*) AS DOUBLE) * CAST(sum(c) AS DOUBLE)) AS gini
      |FROM r GROUP BY event_type""".stripMargin
  ) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val u = t(s, dir, "events")
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("c"))
    val h = u.groupBy(col("event_type"), col("c"))
      .agg(count(lit(1)).as("m"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("c"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val blocks = h
      .withColumn("before", coalesce(sum(col("m")).over(w), lit(0L)))
      // block of m users, all with count c, ranks r0..r0+m-1 where
      // r0 = before+1: sum of ranks = m*r0 + m(m-1)/2
      .withColumn("rank_mass_block",
        // m(m-1) is always even, so `div` is exact — and stays Long
        // where `/` would promote the whole block mass to double
        col("c") * (col("m") * (col("before") + 1)
          + expr("m * (m - 1) div 2")))
    blocks.groupBy("event_type")
      .agg(sum(col("m")).as("n_users"),
        sum(col("c") * col("m")).as("total_events"),
        sum(col("rank_mass_block")).as("rank_mass"))
      .withColumn("gini",
        (lit(2) * col("rank_mass")
          - (col("n_users") + 1) * col("total_events")).cast("double")
          / (col("n_users").cast("double") * col("total_events").cast("double")))
  }

  /** q160: curriculum ordering plan — the deterministic training-order
    * table a sequence writer consumes: docs phased easy→hard by length
    * (fixed token-count thresholds, not percentiles — data-dependent
    * cuts would make the phase of doc X depend on every other doc),
    * shuffled WITHIN each phase by a salted portable hash (the
    * reproducible stand-in for an RNG permutation — same property as
    * q57's split hash, independent salt), with a global consume-order
    * rank. Scale shape: phase and hash are pure per-row projections;
    * the only cross-row step is the global rank, which runs on the
    * q16/q71 two-pass per-partition-subtotal design — one subtotal per
    * partition is collected, never rows. */
  val curriculumPlan: Q = Q(
    "q160_curriculum_plan",
    """WITH d AS (SELECT doc_id,
      |             CASE WHEN len(string_split(text, ' ')) < 30 THEN 1
      |                  WHEN len(string_split(text, ' ')) < 60 THEN 2
      |                  ELSE 3 END AS phase,
      |             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':cur'), 1, 8)
      |                  AS BIGINT) AS h
      |           FROM documents)
      |SELECT doc_id, phase,
      |       CAST(row_number() OVER (ORDER BY phase, h, doc_id) AS BIGINT) AS ord
      |FROM d""".stripMargin
  ) { (s, dir) =>
    import graft.operators.{Ranks, Sampling}
    val d = t(s, dir, "documents")
      .select(col("doc_id"),
        when(size(T.words(col("text"))) < 30, 1)
          .when(size(T.words(col("text"))) < 60, 2)
          .otherwise(3).as("phase"),
        Sampling.portableHash(
          concat(col("doc_id").cast("string"), lit(":cur"))).as("h"))
    Ranks.globalRunningSum(d,
      Seq(col("phase").asc, col("h").asc, col("doc_id").asc), lit(1L), "ord")
      .select("doc_id", "phase", "ord")
  }

  /** q161: Z-order layout plan — the physical-design op behind
    * multi-dimensional data skipping (Delta OPTIMIZE ZORDER, Hudi
    * clustering): interleave the bits of two pruning dimensions
    * (user-hash × event day) into a Morton key, order events along the
    * curve, and cut the sequence into fixed-size target files. Min/max
    * stats of the resulting files are tight in BOTH dimensions, so a
    * `user AND day` predicate prunes ~√(selectivity) of the files
    * where a single-column sort prunes only its own column.
    *
    * The load-bearing detail (and why production z-order implementations
    * interleave RANGE-BUCKET ids, not raw values): interleaving a
    * 16-bit hash with a ~6-bit day makes the hash's high bits dominate
    * the whole key and the curve degenerates to a user sort. Each
    * dimension therefore quantizes to 16 equal-width buckets of ITS OWN
    * range first (the hash's range is fixed by construction; the day's
    * comes from one scalar max — the model-sized broadcast pattern),
    * and the 4-bit bucket ids interleave into an 8-bit key. AuditOpsSpec
    * quantifies the result: per-file min/max envelopes bounded in BOTH
    * dims (measured 0.54/0.33 of each dim's range at ten files), where
    * a single-column sort leaves its unsorted dim unconstrained (0.99)
    * — z-order halves the worst-dimension span, which is the
    * every-predicate-prunes property multi-dim skipping buys.
    *
    * All arithmetic is int64 mask-shift — bit-identical in any engine
    * (the oracle runs the same fully-parenthesized stages; bitwise
    * precedence is not portable, so no expression mixes two operators
    * without parens). The only cross-row steps are the scalar day-max
    * and the curve rank (q16/q71 two-pass prefix sum). */
  val zorderPlan: Q = {
    Q(
      "q161_zorder_plan",
      s"""WITH d AS (SELECT event_id,
        |             CAST('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':z'), 1, 4)
        |                  AS BIGINT) AS ub,
        |             (CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
        |                  AS BIGINT) & 65535) AS db
        |           FROM events),
        |mx AS (SELECT max(db) AS mdb FROM d),
        |b AS (SELECT event_id,
        |         (ub // 4096) AS u4,
        |         least(15, ((db * 16) // (mdb + 1))) AS d4
        |      FROM d, mx),
        |s1 AS (SELECT event_id,
        |         ((u4 | (u4 << 2)) & 51) AS ua,
        |         ((d4 | (d4 << 2)) & 51) AS da FROM b),
        |s2 AS (SELECT event_id,
        |         ((ua | (ua << 1)) & 85) AS us,
        |         ((da | (da << 1)) & 85) AS ds FROM s1),
        |m AS (SELECT event_id, (us | (ds << 1)) AS zkey FROM s2),
        |r AS (SELECT event_id, zkey,
        |        CAST(row_number() OVER (ORDER BY zkey, event_id) AS BIGINT) AS pos
        |      FROM m)
        |SELECT event_id, zkey, (pos - 1) // 1000 AS file_id FROM r""".stripMargin
    ) { (s, dir) =>
      import graft.operators.Ranks
      def spread4(x: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
        val a = (x.bitwiseOR(shiftleft(x, 2))).bitwiseAND(lit(51L))
        (a.bitwiseOR(shiftleft(a, 1))).bitwiseAND(lit(85L))
      }
      val d = t(s, dir, "events").select(col("event_id"),
        // 16-bit user hash (4 hex chars of the portable md5)
        conv(substring(md5(concat(col("user_id").cast("string"), lit(":z"))),
          1, 4), 16, 10).cast(LongType).as("ub"),
        datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
          .cast(LongType).bitwiseAND(lit(65535L)).as("db"))
      val mdb = d.agg(max(col("db")).as("mdb"))
      val b = d.crossJoin(broadcast(mdb)).select(col("event_id"),
        expr("ub div 4096").as("u4"),
        least(lit(15L), expr("(db * 16) div (mdb + 1)")).as("d4"))
      val m = b.select(col("event_id"),
        spread4(col("u4")).bitwiseOR(shiftleft(spread4(col("d4")), 1)).as("zkey"))
      Ranks.globalRunningSum(m, Seq(col("zkey").asc, col("event_id").asc),
        lit(1L), "pos")
        .select(col("event_id"), col("zkey"),
          expr("(pos - 1) div 1000").as("file_id"))
    }
  }

  /** q162: skew-salting plan — q159 measures that user-keyed shuffles
    * have hot keys; this emits the remedy's exact input: every user
    * whose event count exceeds the per-task target (48 rows at test scale — production
    * targets are ~10^6; the threshold is the operator's one knob),
    * with the salt factor `ceil(count / target)` that
    * a salted join (or AQE's skew split)
    * would shard it into. The plan a job author reviews BEFORE pinning
    * a salted join — and the broadcast-sized hot-key table the salted
    * join itself consumes. One map-side-combined count, a pure-
    * projection filter; output is hot keys only (structurally tiny —
    * rows/target bounds it). */
  val saltingPlan: Q = Q(
    "q162_salting_plan",
    """SELECT user_id, count(*) AS n_events,
      |       ((count(*) + 47) // 48) AS salt_factor
      |FROM events
      |GROUP BY user_id
      |HAVING count(*) > 48""".stripMargin
  ) { (s, dir) =>
    t(s, dir, "events")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"))
      .filter(col("n_events") > 48)
      .withColumn("salt_factor", expr("(n_events + 47) div 48"))
      .select("user_id", "n_events", "salt_factor")
  }

  /** q163: MinHash calibration curve — q135's estimator-vs-truth audit
    * for the OTHER sketch family: per matching-component count (0..16
    * of the signature), how many candidate pairs land there and their
    * exact Jaccard mass (micro-quantized exact-sum, like q155's cosine
    * mass). E[matches/16] = J is MinHash's defining guarantee; reading
    * n_pairs and jacc_micros/n_pairs per bucket against matches/16 is
    * how an operator picks the signature width and band threshold for
    * a target precision. Candidates only — the population a production
    * threshold acts on. Everything runs on the portable polynomial
    * hash family, so the curve oracles hash-exact
    * ([[graft.operators.Dedup.portableMinhashPairStats]]). */
  val minhashCalibration: Q = {
    val P = 35184372088777L
    val minCols = (0 until 16)
      .map(j => s"min((${2 * j + 1}*h + ${j * j + 7}) % $P) AS m$j")
      .mkString(",\n      |        ")
    val bandRows = (0 until 4).map(b =>
      (0 until 4).map(r => s"m${b * 4 + r}").mkString(" || '_' || "))
    val matchExpr = (0 until 16)
      .map(j => s"(CASE WHEN a.m$j = b.m$j THEN 1 ELSE 0 END)")
      .mkString(" + ")
    Q(
      "q163_minhash_calibration",
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
        |mm AS (SELECT c.doc_a, c.doc_b,
        |         CAST($matchExpr AS BIGINT) AS matches
        |       FROM c JOIN m a ON c.doc_a = a.doc_id
        |              JOIN m b ON c.doc_b = b.doc_id),
        |v AS (SELECT c.doc_a, c.doc_b,
        |        CAST(len(list_intersect(ha.hs, hb.hs)) AS BIGINT) AS inter,
        |        CAST(len(ha.hs) + len(hb.hs)
        |             - len(list_intersect(ha.hs, hb.hs)) AS BIGINT) AS uni
        |      FROM c JOIN h ha ON c.doc_a = ha.doc_id
        |             JOIN h hb ON c.doc_b = hb.doc_id),
        |j AS (SELECT mm.matches, v.inter, v.uni
        |      FROM mm JOIN v ON mm.doc_a = v.doc_a AND mm.doc_b = v.doc_b)
        |SELECT matches, count(*) AS n_pairs,
        |       CAST(sum(CAST(floor((CAST(inter AS DOUBLE) / uni) * 1000000.0)
        |                AS BIGINT)) AS BIGINT) AS jacc_micros
        |FROM j GROUP BY matches""".stripMargin
    ) { (s, dir) =>
      graft.operators.Dedup
        .portableMinhashPairStats(t(s, dir, "documents"), "text", "doc_id")
        .groupBy("matches")
        .agg(count(lit(1)).as("n_pairs"),
          sum(floor((col("inter").cast("double") / col("uni")) * 1000000.0)
            .cast(LongType)).as("jacc_micros"))
    }
  }

  /** q164: sentence-level boilerplate strip — the REWRITE the q149
    * rates and q158 strip-list point at: every sentence appearing in
    * ≥ 3 distinct documents is removed from ALL of them (q91's C4-style
    * strip at sentence grain instead of fixed 8-word windows — template
    * sentences rarely align to word-window boundaries, which is why the
    * sentence chunker exists). Reassembly is whitespace-normalized
    * (sentences re-join with spaces; terminal punctuation was the split
    * delimiter), same contract as q91/q67. Rides `chunked`'s sentence
    * mode through the digest-keyed winner election — the sentence text
    * crosses exactly one doc_id-keyed exchange. */
  val sentenceStrip: Q = Q(
    "q164_sentence_strip",
    """WITH c0 AS (SELECT doc_id,
      |              list_filter(list_transform(
      |                regexp_split_to_array(text, '[.!?]+'), x -> trim(x)),
      |                x -> length(x) > 0) AS sents
      |            FROM documents),
      |c1 AS (SELECT doc_id,
      |         CASE WHEN len(sents) = 0 THEN [''] ELSE sents END AS sents
      |       FROM c0),
      |c AS (SELECT doc_id, i - 1 AS chunk_idx, sents[i] AS chunk
      |      FROM c1, unnest(range(1, len(sents) + 1)) AS t(i)),
      |bp AS (SELECT chunk FROM (
      |         SELECT chunk, count(DISTINCT doc_id) AS df FROM c GROUP BY 1) d
      |       WHERE df >= 3)
      |SELECT doc_id, count(*) AS total_chunks,
      |       CAST(sum(CASE WHEN chunk NOT IN (SELECT chunk FROM bp)
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS kept_chunks,
      |       coalesce(array_to_string(list_transform(
      |         list_sort(list(struct_pack(chunk_idx := chunk_idx, chunk := chunk))
      |                   FILTER (WHERE chunk NOT IN (SELECT chunk FROM bp))),
      |         x -> x.chunk), ' '), '') AS clean_text
      |FROM c GROUP BY doc_id""".stripMargin
  ) { (s, dir) =>
    graft.operators.Dedup.boilerplateStrip(
      t(s, dir, "documents"), "text", "doc_id", splitSentences = true)
  }

  /** q165: length-bucketed batch packing — the PADDED-batch companion
    * to q71's contiguous token packing: when examples are padded to the
    * batch max (the inference / non-packed-training regime), batching
    * similar lengths together is what keeps the pad waste down. Docs
    * sort by token count (tie: doc_id), cut into 32-doc batches; per
    * batch the report carries max_tok, the real token mass, and the
    * padding = 32·max − sum a training step would burn. AuditOpsSpec
    * quantifies the design against hash-order batching (the total
    * padding drops ~an order of magnitude on this corpus). The sort is
    * the q16/q71 two-pass prefix sum; the rollup keys on batch_id. */
  val lengthBatching: Q = Q(
    "q165_length_batching",
    """WITH d AS (SELECT doc_id,
      |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      |           FROM documents),
      |r AS (SELECT doc_id, n_tok,
      |        CAST(row_number() OVER (ORDER BY n_tok, doc_id) AS BIGINT) AS rk
      |      FROM d)
      |SELECT (rk - 1) // 32 AS batch_id,
      |       count(*) AS n_docs,
      |       max(n_tok) AS max_tok,
      |       CAST(sum(n_tok) AS BIGINT) AS sum_tok,
      |       count(*) * max(n_tok) - CAST(sum(n_tok) AS BIGINT) AS padding
      |FROM (SELECT doc_id, n_tok, rk FROM r) t
      |GROUP BY 1""".stripMargin
  ) { (s, dir) =>
    import graft.operators.Ranks
    val d = t(s, dir, "documents")
      .select(col("doc_id"),
        size(T.words(col("text"))).cast(LongType).as("n_tok"))
    Ranks.globalRunningSum(d, Seq(col("n_tok").asc, col("doc_id").asc),
      lit(1L), "rk")
      .withColumn("batch_id", expr("(rk - 1) div 32"))
      .groupBy("batch_id")
      .agg(count(lit(1)).as("n_docs"),
        max(col("n_tok")).as("max_tok"),
        sum(col("n_tok")).as("sum_tok"))
      .withColumn("padding",
        col("n_docs") * col("max_tok") - col("sum_tok"))
  }

  /** q166: quality-aware budget fill — q96's per-source token budget
    * filled BEST-QUALITY-FIRST instead of hash-uniform (the
    * DCLM/FineWeb selection regime: under a fixed token budget, take
    * the documents a quality signal ranks highest, hash order only as
    * the within-quality tie-break). Quality here is the integer
    * stop-word ppm (q24/q47's prose-ness proxy — a learned classifier
    * like q119 drops into the same ORDER BY slot). Same bounded-heap
    * prepass as q96 (each doc carries ≥ 1 token, so the top-`budget`
    * rows by fill order provably contain every row the cumulative
    * window keeps); the composite heap score packs (quality_ppm, 16-bit
    * hash) into 36 bits — exact in the heap's double where the 48-bit
    * hash of q96 would overflow the quality-major composite. */
  val qualityBudgetFill: Q = Q(
    "q166_quality_budget_fill",
    """WITH d AS (SELECT doc_id, source,
      |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |             CAST(1000000 * len(list_filter(string_split(text, ' '),
      |                    w -> w IN ('the', 'a', 'of', 'and', 'to')))
      |                  // len(string_split(text, ' ')) AS BIGINT) AS q_ppm,
      |             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':q'), 1, 4)
      |                  AS BIGINT) AS hk
      |           FROM documents)
      |SELECT doc_id, source, n_tokens, q_ppm, cum_tokens FROM (
      |  SELECT doc_id, source, n_tokens, q_ppm,
      |         CAST(sum(n_tokens) OVER (PARTITION BY source
      |              ORDER BY q_ppm DESC, hk, doc_id
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |              AS BIGINT) AS cum_tokens
      |  FROM d) t
      |WHERE cum_tokens <= 1200""".stripMargin
  ) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    import graft.operators.Sampling
    val budget = 1200
    val ws = T.words(col("text"))
    val base = t(s, dir, "documents").select(
      col("doc_id"), col("source"),
      size(ws).cast(LongType).as("n_tokens"),
      expr("CAST(1000000 * size(filter(split(text, ' '), " +
        "w -> w IN ('the', 'a', 'of', 'and', 'to'))) " +
        "div size(split(text, ' ')) AS BIGINT)").as("q_ppm"),
      conv(substring(md5(concat(col("doc_id").cast("string"), lit(":q"))),
        1, 4), 16, 10).cast(LongType).as("hk"))
    // composite heap score: quality-major, inverted-16-bit-hash minor —
    // <= 1e6*65536 + 65535 < 2^53, exact in a double
    val score = (col("q_ppm") * 65536L + (lit(65535L) - col("hk"))).cast("double")
    val capped = Sampling.quotaPerGroup(base, Seq("source"), score,
        col("doc_id"), k = budget)
      .select(col("id").as("doc_id"))
    val w = Window.partitionBy("source")
      .orderBy(col("q_ppm").desc, col("hk"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base.join(capped, Seq("doc_id"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= budget)
      .select(col("doc_id"), col("source"), col("n_tokens"), col("q_ppm"),
        col("cum_tokens"))
  }

  /** q167: corpus pipeline v5 — this wave's stages composed into ONE
    * oracled plan (the q62/q74/q120/q143 tradition): sentence-level
    * boilerplate strip (q164) → per-source quality-first token-budget
    * fill on the CLEANED text (q166's regime — quality is re-scored
    * after stripping, since removing templates changes a doc's
    * stop-word profile) → curriculum phase + global training order
    * (q160). Documents whose every sentence was boilerplate drop out
    * between the first two stages. One end-to-end hash check proves
    * the stages agree on every intermediate contract. */
  val corpusPipelineV5: Q = Q(
    "q167_corpus_pipeline_v5",
    """WITH c0 AS (SELECT doc_id,
      |              list_filter(list_transform(
      |                regexp_split_to_array(text, '[.!?]+'), x -> trim(x)),
      |                x -> length(x) > 0) AS sents
      |            FROM documents),
      |c1 AS (SELECT doc_id,
      |         CASE WHEN len(sents) = 0 THEN [''] ELSE sents END AS sents
      |       FROM c0),
      |c AS (SELECT doc_id, i - 1 AS chunk_idx, sents[i] AS chunk
      |      FROM c1, unnest(range(1, len(sents) + 1)) AS t(i)),
      |bp AS (SELECT chunk FROM (
      |         SELECT chunk, count(DISTINCT doc_id) AS df FROM c GROUP BY 1) x
      |       WHERE df >= 3),
      |clean AS (SELECT doc_id,
      |            coalesce(array_to_string(list_transform(
      |              list_sort(list(struct_pack(chunk_idx := chunk_idx, chunk := chunk))
      |                        FILTER (WHERE chunk NOT IN (SELECT chunk FROM bp))),
      |              x -> x.chunk), ' '), '') AS text2
      |          FROM c GROUP BY doc_id),
      |d AS (SELECT cl.doc_id, dd.source,
      |        CAST(len(string_split(cl.text2, ' ')) AS BIGINT) AS n_tokens,
      |        CAST(1000000 * len(list_filter(string_split(cl.text2, ' '),
      |               w -> w IN ('the', 'a', 'of', 'and', 'to')))
      |             // len(string_split(cl.text2, ' ')) AS BIGINT) AS q_ppm,
      |        CAST('0x' || substr(md5(CAST(cl.doc_id AS VARCHAR) || ':q'), 1, 4)
      |             AS BIGINT) AS hk
      |      FROM clean cl JOIN documents dd ON cl.doc_id = dd.doc_id
      |      WHERE length(cl.text2) > 0),
      |fill AS (SELECT doc_id, source, n_tokens, q_ppm FROM (
      |    SELECT doc_id, source, n_tokens, q_ppm,
      |           CAST(sum(n_tokens) OVER (PARTITION BY source
      |                ORDER BY q_ppm DESC, hk, doc_id
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |                AS BIGINT) AS cum
      |    FROM d) t WHERE cum <= 1200),
      |ph AS (SELECT doc_id, source, n_tokens, q_ppm,
      |         CASE WHEN n_tokens < 30 THEN 1
      |              WHEN n_tokens < 60 THEN 2
      |              ELSE 3 END AS phase,
      |         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':cur'), 1, 8)
      |              AS BIGINT) AS h
      |       FROM fill)
      |SELECT doc_id, source, n_tokens, q_ppm, phase,
      |       CAST(row_number() OVER (ORDER BY phase, h, doc_id) AS BIGINT) AS ord
      |FROM ph""".stripMargin
  ) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    import graft.operators.{Dedup, Ranks, Sampling}
    val budget = 1200
    val cleaned = Dedup.boilerplateStrip(
      t(s, dir, "documents"), "text", "doc_id", splitSentences = true)
      .filter(length(col("clean_text")) > 0)
      .select(col("doc_id"), col("clean_text").as("text2"))
    val base = cleaned
      .join(t(s, dir, "documents").select(col("doc_id"), col("source")), "doc_id")
      .select(col("doc_id"), col("source"),
        size(split(col("text2"), " ")).cast(LongType).as("n_tokens"),
        expr("CAST(1000000 * size(filter(split(text2, ' '), " +
          "w -> w IN ('the', 'a', 'of', 'and', 'to'))) " +
          "div size(split(text2, ' ')) AS BIGINT)").as("q_ppm"),
        conv(substring(md5(concat(col("doc_id").cast("string"), lit(":q"))),
          1, 4), 16, 10).cast(LongType).as("hk"))
    val score = (col("q_ppm") * 65536L + (lit(65535L) - col("hk"))).cast("double")
    val capped = Sampling.quotaPerGroup(base, Seq("source"), score,
        col("doc_id"), k = budget)
      .select(col("id").as("doc_id"))
    val w = Window.partitionBy("source")
      .orderBy(col("q_ppm").desc, col("hk"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = base.join(capped, Seq("doc_id"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .filter(col("cum") <= budget)
    val phased = filled.select(col("doc_id"), col("source"),
      col("n_tokens"), col("q_ppm"),
      when(col("n_tokens") < 30, 1).when(col("n_tokens") < 60, 2)
        .otherwise(3).as("phase"),
      Sampling.portableHash(
        concat(col("doc_id").cast("string"), lit(":cur"))).as("h"))
    Ranks.globalRunningSum(phased,
      Seq(col("phase").asc, col("h").asc, col("doc_id").asc), lit(1L), "ord")
      .select("doc_id", "source", "n_tokens", "q_ppm", "phase", "ord")
  }

  /** q226: BENFORD'S-LAW audit of the price column — the
    * data-forensics screen for fabricated or mechanically-generated
    * monetary values (naturally-occurring multiplicative amounts put
    * ~30.1% of leading digits at 1; uniform generators put ~11.1%
    * everywhere). Leading digit extracts from the exact integer-cents
    * rendering (never from the double's scientific form); expected
    * shares are log10(1+1/d) micro-quantized through the identical
    * ln-ratio expression on both engines, and each digit's χ²
    * contribution is a final double from those exact integers. On the
    * synthetic testdata the audit CORRECTLY screams: observed ppm sit
    * near 1/9 across digits, nothing like the Benford curve — the
    * query's value is that the verdict is measured, digit by digit.
    * One scan, one 9-row grid (broadcast spine), no window. */
  val benfordAudit: Q = Q(
    "q226_benford_audit",
    """WITH c AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
      |           FROM lineitem WHERE l_extendedprice > 0),
      |d AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS digit
      |      FROM c),
      |o AS (SELECT digit, CAST(count(*) AS BIGINT) AS observed
      |      FROM d GROUP BY digit),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
      |g AS (SELECT gd.digit, coalesce(o.observed, 0) AS observed, n.n,
      |             CAST(round(ln(1.0 + 1.0 / gd.digit) / ln(10.0) * 1000000)
      |               AS BIGINT) AS expected_ppm
      |      FROM (SELECT unnest(range(1, 10)) AS digit) gd
      |      LEFT JOIN o USING (digit) CROSS JOIN n)
      |SELECT digit, observed,
      |       CAST((1000000 * observed) // n AS BIGINT) AS observed_ppm,
      |       expected_ppm,
      |       CAST(round((observed - CAST(expected_ppm AS DOUBLE) * n / 1000000)
      |           * (observed - CAST(expected_ppm AS DOUBLE) * n / 1000000)
      |           / (CAST(expected_ppm AS DOUBLE) * n / 1000000) * 1000000)
      |         AS BIGINT) AS chi2_contrib_u6
      |FROM g""".stripMargin
  ) { (s, dir) =>
    val d = t(s, dir, "lineitem")
      .filter(col("l_extendedprice") > 0)
      .select(substring(round(col("l_extendedprice") * 100)
        .cast(LongType).cast("string"), 1, 1).cast(LongType).as("digit"))
    val o = d.groupBy("digit").agg(count(lit(1)).as("observed"))
    val n = d.agg(count(lit(1)).as("n"))
    val spine = s.range(1, 10).select(col("id").as("digit"))
      .withColumn("expected_ppm",
        round(log(lit(1.0) + lit(1.0) / col("digit")) / log(lit(10.0))
          * 1000000).cast(LongType))
    val e = col("expected_ppm").cast("double") * col("n") / 1000000
    // the digit-grouped counts are the ≤9-row side — broadcast THEM
    // (the preserved side of a left join can never be the build side)
    spine
      .join(broadcast(o), Seq("digit"), "left")
      .select(col("digit"), coalesce(col("observed"), lit(0L)).as("observed"),
        col("expected_ppm"))
      .crossJoin(broadcast(n))
      .select(col("digit"), col("observed"),
        expr("(1000000 * observed) div n").cast(LongType).as("observed_ppm"),
        col("expected_ppm"),
        round((col("observed") - e) * (col("observed") - e) / e * 1000000)
          .cast(LongType).as("chi2_contrib_u6"))
  }

  /** q275: corpus pipeline v6 — the KMV SKETCH AS A PIPELINE STAGE
    * (the q62/q74/q120/q143/q167 composition tradition, now with the
    * r11 sketch tier inline): exact dedup (q11's min-id-per-digest
    * keep rule) → per-source corpus accounting over the SURVIVORS
    * where the distinct-vocabulary number comes from the KMV sketch
    * (at 100 TB the audit column that would otherwise cost a second
    * distinct shuffle per report ships ≤ k longs per source) →
    * temperature-sampling mixture weights (q245's exact ⌊√n⌋ form) on
    * the deduped token mass. Everything deterministic — the sketch
    * included — so ONE hash check pins every stage contract
    * end-to-end.
    *
    * Scale shape: dedup is one digest groupBy; the survivor join keys
    * on doc_id; the token pass feeds BOTH the exact counts and the
    * sketch in one aggregation pair at source grain; the weight
    * normalizer is a 1-row broadcast. No stage shuffles text twice. */
  val corpusPipelineV6: Q = Q(
    "q275_corpus_pipeline_v6",
    """WITH keep AS (SELECT min(doc_id) AS doc_id
      |              FROM documents GROUP BY md5(text)),
      |d AS (SELECT dd.doc_id, dd.source, dd.text
      |      FROM documents dd JOIN keep USING (doc_id)),
      |w AS (SELECT source, unnest(string_split(text, ' ')) AS term FROM d),
      |h AS (SELECT DISTINCT source,
      |        CAST('0x' || substr(md5(term), 1, 12) AS BIGINT) + 1 AS h
      |      FROM w),
      |r AS (SELECT source, h,
      |        row_number() OVER (PARTITION BY source ORDER BY h) AS rk
      |      FROM h),
      |sk AS (SELECT source, CAST(count(*) AS BIGINT) AS n_sk,
      |         CAST(max(CASE WHEN rk = 256 THEN h END) AS BIGINT) AS h_k
      |       FROM r WHERE rk <= 256 GROUP BY 1),
      |est AS (SELECT source,
      |          CASE WHEN n_sk < 256 THEN n_sk
      |               ELSE 71776119061217280 // h_k END AS est_terms
      |        FROM sk),
      |tok AS (SELECT source, CAST(count(*) AS BIGINT) AS n_tok
      |        FROM w GROUP BY 1),
      |docs AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
      |         FROM d GROUP BY 1),
      |wt AS (SELECT source,
      |         CAST(floor(sqrt(CAST(n_tok AS DOUBLE))) AS BIGINT) AS w_raw
      |       FROM tok),
      |twt AS (SELECT CAST(sum(w_raw) AS BIGINT) AS tot FROM wt)
      |SELECT docs.source, docs.n_docs, tok.n_tok, est.est_terms,
      |       1000000 * wt.w_raw // twt.tot AS weight_ppm
      |FROM docs JOIN tok USING (source) JOIN est USING (source)
      |JOIN wt USING (source) CROSS JOIN twt""".stripMargin
  ) { (s, dir) =>
    val E = graft.functions.expressions.GraftExpressions
    val keep = t(s, dir, "documents")
      .groupBy(md5(col("text")).as("th"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    val d = t(s, dir, "documents").join(keep, Seq("doc_id"))
      .select(col("doc_id"), col("source"), col("text"))
      .localCheckpoint(true) // survivors feed three source-grain reads
    val w = d.select(col("source"),
      explode(split(col("text"), " ")).as("term"))
      .select(col("source"),
        (conv(substring(md5(col("term")), 1, 12), 16, 10)
          .cast(LongType) + 1).as("h"))
    val est = w.groupBy("source").agg(E.kmvMins(col("h"), 256).as("sk"))
      .select(col("source"),
        expr("CASE WHEN size(sk) < 256 THEN cast(size(sk) AS BIGINT) " +
          "ELSE 71776119061217280L div element_at(sk, 256) END")
          .as("est_terms"))
    val tok = w.groupBy("source").agg(count(lit(1)).as("n_tok"))
      .withColumn("w_raw",
        floor(sqrt(col("n_tok").cast("double"))).cast(LongType))
    val docs = d.groupBy("source").agg(count(lit(1)).as("n_docs"))
    val twt = tok.agg(sum(col("w_raw")).as("tot"))
    docs.join(tok, Seq("source")).join(broadcast(est), Seq("source"))
      .crossJoin(broadcast(twt))
      .select(col("source"), col("n_docs"), col("n_tok"), col("est_terms"),
        expr("1000000 * w_raw div tot").as("weight_ppm"))
  }

  val all: Seq[Q] = Seq(embeddingAudit, hardNegatives, packingEfficiency,
    sentenceDedup, vocabCoverage, dedupLineage, mixedDomain, knnLabelPurity,
    hardNegativesAnn, semanticDupMatrix, embeddingCoverage, dedupAgreement,
    topBoilerplate, activityGini, curriculumPlan, zorderPlan, saltingPlan,
    minhashCalibration, sentenceStrip, lengthBatching, qualityBudgetFill,
    corpusPipelineV5, benfordAudit, corpusPipelineV6)
}
