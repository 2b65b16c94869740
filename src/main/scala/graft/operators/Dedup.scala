package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => T}
import graft.functions.expressions.GraftExpressions.{minhashSig, simhashSig}

/** Document-dedup operator family (north-star surface): exact, exact
  * n-gram Jaccard, MinHash+LSH, SimHash. All candidate generation is
  * join-based — no O(n²) cross products — and all per-row inner loops
  * (minhash/simhash signatures) are native expressions.
  *
  * Inputs are (idCol, textCol) document tables; outputs are canonical
  * groups (exact) or scored candidate pairs (near-dup), ready for a
  * connected-components / keep-first resolution pass downstream.
  */
object Dedup {

  /** The shared hot-key guard (df-cap): drop rows whose `keyCols`
    * value appears in more than `maxDf` rows. A key shared by d rows
    * contributes d² rows to a self-join, so the cap bounds per-key
    * pair cost at maxDf² regardless of corpus size. The hot set is
    * bounded by rows/maxDf and each key is small, so it broadcasts
    * into a left-anti join. `maxDf <= 0` disables the cap. All the
    * capped candidate generators (jaccard, winnow, simhash,
    * edit-distance) route here. */
  private[operators] def dropHotKeys(df: DataFrame, keyCols: Seq[String],
      maxDf: Int): DataFrame =
    if (maxDf <= 0) df
    else {
      val hot = df.groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as("__df"))
        .filter(col("__df") > maxDf)
        .select(keyCols.map(col): _*)
      df.join(broadcast(hot), keyCols, "left_anti")
    }

  /** Exact dedup: canonical id + duplicate count per distinct content
    * hash. One shuffle on the 16-byte digest. */
  def exact(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_dupes"))

  /** Normalization-fold dedup: lowercase, strip every char outside
    * [a-z0-9] and whitespace, collapse whitespace runs, trim — then
    * [[exact]]'s digest winner election on the FOLDED text. The
    * practical first dedup pass of a web pipeline: re-encoded,
    * re-punctuated, case-mangled and re-wrapped copies (the bulk of
    * real-corpus duplication) fold into one group, while staying a
    * single digest-keyed shuffle — no candidate join, no pair
    * verify. `n_variants` counts DISTINCT raw texts in the group, so
    * `n_variants > 1` is exactly the duplication [[exact]] misses
    * (the reference compares text case-folded the same way —
    * `equalsIgnoreCase` at `StateStoresManager.java:134,201`,
    * `Covid19Stats.java:208`). The fold is one narrow
    * per-row expression chain — at 100 TB it rides the scan, and the
    * one exchange carries the 16-byte digest, never the text. */
  def normalizedExact(docs: DataFrame, textCol: String, idCol: String)
      : DataFrame = {
    // explicit whitespace sets on BOTH sides of the oracle pair —
    // Java's \s includes \x0B and \f, RE2/DuckDB's does not
    val folded = trim(regexp_replace(
      regexp_replace(lower(col(textCol)), "[^a-z0-9 \\t\\n\\r]", ""),
      "[ \\t\\n\\r]+", " "))
    docs.groupBy(md5(folded).as("norm_hash"))
      .agg(min(col(idCol)).as("canonical_id"),
        count(lit(1)).as("n_docs"),
        countDistinct(md5(col(textCol))).as("n_variants"))
  }

  /** (doc_id, [carry…,] chunk_idx, chunk) projection: chunks in
    * document order — shared by [[chunkDedup]], [[boilerplateStrip]]
    * and the incremental store-backed form. `carry` columns ride along
    * unchanged (so a caller never re-joins the exploded chunk table
    * back to its input just to recover them). A null text chunks as
    * the empty string — every input document yields at least one
    * chunk row.
    *
    * Two boundary modes:
    *   - fixed (default): `chunkWords`-word windows over the whole
    *     text — right when the corpus carries no structure.
    *   - `splitParagraphs = true`: paragraph breaks (runs of ≥2
    *     newlines) are HARD chunk boundaries — the natural dedup unit
    *     of real web corpora, where the repeated element is a
    *     paragraph/nav block, not an arbitrary 8-word window. Within
    *     a paragraph the fixed `chunkWords` window still applies (an
    *     over-long paragraph falls back to windows that never span a
    *     break); a document with no breaks degrades to exactly the
    *     fixed mode. `chunk_idx` stays the global in-document order.
    * Both modes are one narrow per-row expression — no extra shuffle,
    * join, or explode pass. */
  def chunked(docs: DataFrame, textCol: String, idCol: String,
      chunkWords: Int, carry: Seq[String] = Nil,
      splitParagraphs: Boolean = false,
      splitSentences: Boolean = false): DataFrame = {
    require(!(splitParagraphs && splitSentences),
      "pick one chunking mode: splitParagraphs or splitSentences")
    val reserved = Set("ws", "c", "chunk_idx", "chunk", "doc_id")
    val clash = carry.filter(c => reserved.contains(c.toLowerCase))
    require(clash.isEmpty,
      s"carry columns ${clash.mkString(", ")} collide with chunked()'s " +
        s"internal names (${reserved.mkString(", ")}); rename them first")
    // fixed windows over one word array (0-based window index i)
    def windows(ws: Column): Column =
      transform(
        sequence(lit(0L), ceil(size(ws) / lit(chunkWords.toDouble))
          .cast("long") - 1),
        i => concat_ws(" ", slice(ws, (i * chunkWords + 1).cast("int"),
          lit(chunkWords))))
    val chunkList =
      if (splitSentences) {
        // sentence mode: one chunk per `[.!?]+`-delimited sentence
        // (trimmed, empties dropped) — the q149/q158 grain, for
        // stripping template sentences rather than counting them.
        // chunkWords is unused: a sentence IS the chunk unit.
        val sents = filter(
          transform(split(coalesce(col(textCol), lit("")), "[.!?]+"),
            p => trim(p)),
          p => length(p) > 0)
        when(size(sents) === 0, array(lit(""))).otherwise(sents)
      } else if (!splitParagraphs) windows(T.words(coalesce(col(textCol), lit(""))))
      else {
        // (?:\r?\n){2,}: CRLF corpora (most of the crawled web) must
        // split too — bare \n{2,} never matches "\r\n\r\n" and the
        // paragraph contract would silently degrade to fixed windows
        val paras = filter(
          split(coalesce(col(textCol), lit("")), "(?:\\r?\\n){2,}"),
          p => length(p) > 0)
        val flat = flatten(transform(paras, p => windows(T.words(p))))
        // all-blank text: keep the one-empty-chunk-per-doc invariant
        when(size(flat) === 0, array(lit(""))).otherwise(flat)
      }
    docs
      .select(col(idCol).as("doc_id") +: carry.map(col) :+
        explode(transform(chunkList,
          (c, i) => struct(i.cast("long").as("chunk_idx"), c.as("chunk"))))
          .as("c"): _*)
      .select(col("doc_id") +: carry.map(col) :+
        col("c.chunk_idx").as("chunk_idx") :+ col("c.chunk").as("chunk"): _*)
  }

  /** Chunk-level exact dedup — the repeated-paragraph removal of a
    * C4/RefinedWeb-style cleaning stage: every chunk keeps only
    * its globally-first occurrence (lexicographic (doc_id, chunk_idx)
    * — also removes within-doc repetition), and each document is
    * reassembled from its surviving chunks in order. Chunk boundaries
    * come from [[chunked]]: fixed `chunkWords` windows by default,
    * paragraph-break-aligned with `splitParagraphs = true` (the mode
    * real web corpora want — q95 exercises it end-to-end).
    *
    * Returns (doc_id, total_chunks, kept_chunks, dedup_text); a fully
    * duplicated document survives as an empty string — the caller's
    * length gate drops it.
    *
    * Scale shape: the winner election groups on `unhex(md5(chunk))` —
    * a 16-byte digest, so neither election exchange ships corpus text
    * (min(struct) aggregates map-side; the combiner ships one
    * candidate per distinct digest per task, not occurrences). 128
    * bits, not xxhash64's 64: at 10¹² chunks a 64-bit key EXPECTS
    * collisions (n²/2⁶⁵ ≈ 3·10⁴), and a digest collision here silently
    * deletes every occurrence of the losing chunk; at 128 bits the
    * same corpus gives P[any collision] ≈ 10⁻¹⁴. The winning positions
    * then collapse to a per-doc index array (ints only, bounded by the
    * doc's own chunk count) joined back on doc_id — so the text
    * crosses exactly ONE exchange, hash-partitioned by doc_id and
    * reused as-is by the final per-doc rollup. The reassembly sorts
    * each doc's own kept chunks inside its aggregation group
    * (array_sort of a collected struct list) — no global or per-doc
    * window. */
  def chunkDedup(docs: DataFrame, textCol: String, idCol: String,
      chunkWords: Int = 8, splitParagraphs: Boolean = false): DataFrame = {
    val chunks = chunked(docs, textCol, idCol, chunkWords,
        splitParagraphs = splitParagraphs)
      .withColumn("ck", unhex(md5(col("chunk"))))
    // election + per-doc collapse: digests and positions only — the
    // chunk text is computed (the digest needs it) but projected away
    // before either exchange
    val keptIdx = chunks.select("ck", "doc_id", "chunk_idx")
      .groupBy("ck")
      .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("w"))
      .groupBy(col("w.doc_id").as("doc_id"))
      .agg(array_sort(collect_set(col("w.chunk_idx"))).as("kept_idx"))
    // sorted-array bisect, not array_contains: a chunk-heavy document
    // probes its own position array once per chunk row — linear scans
    // would cost |chunks|² per doc inside one task
    chunks.join(keptIdx, Seq("doc_id"), "left")
      .withColumn("is_kept", coalesce(
        graft.functions.expressions.GraftExpressions
          .sortedContainsLong(col("kept_idx"), col("chunk_idx")),
        lit(false)))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("total_chunks"),
        sum(col("is_kept").cast("long")).as("kept_chunks"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("is_kept"), struct(col("chunk_idx"), col("chunk"))))),
            x => x.getField("chunk")),
          " ").as("dedup_text"))
  }

  /** Boilerplate-chunk removal — the header/footer/nav strip of a
    * C4-style web cleaning stage: a chunk occurring in at least
    * `minDf` DISTINCT documents is boilerplate (no single document
    * "owns" it) and is removed from EVERY document — unlike
    * [[chunkDedup]], which keeps a first occurrence. Returns
    * (doc_id, total_chunks, kept_chunks, clean_text); an
    * all-boilerplate document survives as an empty string.
    *
    * Scale shape: the distinct-doc df (two-phase `countDistinct`)
    * groups on the same 16-byte `unhex(md5(chunk))` digest as
    * [[chunkDedup]] — no corpus text in the election exchanges, and
    * the same 128-bit false-merge argument (a collision here would
    * strip an innocent chunk from every document). The boilerplate
    * digests join the id-only chunk projection (AQE broadcasts the
    * set at runtime — real boilerplate is stop-chunk-sized — with no
    * hint, because df ≥ minDf alone does not cap its size a priori),
    * collapse to a per-doc boilerplate-position array, and join back
    * on doc_id — the text crosses exactly ONE exchange, reused by the
    * final per-doc rollup. Reassembly sorts each doc's kept chunks
    * inside its aggregation group — no window. */
  def boilerplateStrip(docs: DataFrame, textCol: String, idCol: String,
      chunkWords: Int = 8, minDf: Int = 3,
      splitParagraphs: Boolean = false,
      splitSentences: Boolean = false): DataFrame = {
    val chunks = chunked(docs, textCol, idCol, chunkWords,
        splitParagraphs = splitParagraphs, splitSentences = splitSentences)
      .withColumn("ck", unhex(md5(col("chunk"))))
    val ids = chunks.select("ck", "doc_id", "chunk_idx")
    val boiler = ids.groupBy("ck")
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= minDf)
      .select("ck")
    val bpIdx = ids.join(boiler, Seq("ck"))
      .groupBy("doc_id")
      .agg(array_sort(collect_set(col("chunk_idx"))).as("bp_idx"))
    chunks.join(bpIdx, Seq("doc_id"), "left")
      .withColumn("is_kept", coalesce(
        !graft.functions.expressions.GraftExpressions
          .sortedContainsLong(col("bp_idx"), col("chunk_idx")),
        lit(true)))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("total_chunks"),
        sum(col("is_kept").cast("long")).as("kept_chunks"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("is_kept"), struct(col("chunk_idx"), col("chunk"))))),
            x => x.getField("chunk")),
          " ").as("clean_text"))
  }

  /** Duplicated-SPAN removal — the exact-substring dedup of Lee et
    * al. 2022 ("Deduplicating Training Data Makes Language Models
    * Better", reference analogue: none — the reference dedups whole
    * records only): every word position opens a `spanWords`-token
    * window; a window whose text occurs anywhere else in the corpus
    * (another doc, or again in the same doc) is a duplicated span,
    * and every occurrence EXCEPT the globally-first (lexicographic
    * (doc_id, position)) is stripped from its document — overlapping
    * flagged windows merge, so a long verbatim quote is removed as
    * one contiguous region even though it was detected as many
    * overlapping k-grams. Unlike [[chunkDedup]] the window slides
    * (stride 1, not k), so duplicated text is caught at ANY
    * alignment, not only on chunk boundaries.
    *
    * Returns (doc_id, n_tokens, removed_tokens, kept_tokens,
    * clean_text) for EVERY input document; docs shorter than
    * `spanWords` have no window and pass through whole.
    *
    * Scale shape: the position-gram projection explodes to
    * (doc_id, pos, 16-byte md5 digest) — gram TEXT is digested inside
    * the row and never crosses an exchange (128 bits for the same
    * false-merge argument as [[chunkDedup]]: a digest collision here
    * deletes innocent text). The election groups by digest with
    * map-side partial aggregation (count + min(struct(doc,pos))),
    * keeps only duplicated digests, and joins back to the digest+
    * position projection — both sides digest-keyed, no text. Flagged
    * positions then collapse to ONE sorted long array per doc (ints
    * bounded by the doc's own length), which joins the original docs
    * by doc_id — so the corpus text crosses exactly one exchange.
    * Interval merging is a per-row HOF over the sorted position
    * array (union of fixed-width windows — no explode of covered
    * positions into rows), and the keep-filter probes the covered
    * array per token via the same sorted-bisect expression the chunk
    * family uses. */
  def dupSpanStrip(docs: DataFrame, textCol: String, idCol: String,
      spanWords: Int = 8): DataFrame = {
    require(spanWords >= 1, s"spanWords must be positive, got $spanWords")
    val k = spanWords
    val base = docs
      .select(col(idCol).as("doc_id"), coalesce(col(textCol), lit("")).as("text"))
      .withColumn("ws", T.words(col("text")))
      .withColumn("n", size(col("ws")).cast("long"))
    // (doc_id, pos, digest): guard the sequence — sequence(0, n-k)
    // DESCENDS for n < k and would fabricate negative positions
    val grams = base
      .select(col("doc_id"), col("ws"),
        explode(when(col("n") >= k, sequence(lit(0L), col("n") - k))
          .otherwise(array().cast("array<bigint>"))).as("p"))
      .select(col("doc_id"), col("p"),
        unhex(md5(concat_ws(" ",
          slice(col("ws"), (col("p") + 1).cast("int"), lit(k))))).as("gk"))
    val dupWinners = grams.groupBy("gk")
      .agg(count(lit(1)).as("occ"),
        min(struct(col("doc_id"), col("p"))).as("w"))
      .where(col("occ") > 1)
      .select(col("gk"), col("w.doc_id").as("wd"), col("w.p").as("wp"))
    val flagged = grams.join(dupWinners, Seq("gk"))
      .where(!(col("doc_id") === col("wd") && col("p") === col("wp")))
      .groupBy("doc_id")
      .agg(array_sort(collect_set(col("p"))).as("ps"))
    // materialized union of the fixed-width windows, as a sorted
    // distinct position array: bounded by the doc's own length (the
    // pre-distinct flatten peaks at k× doc length — the same per-row
    // working-set order as the gram projection itself), and it turns
    // the per-token keep-test into an O(log n) bisect instead of an
    // O(|ps|) lambda scan per token (the interpreted-HOF-in-hot-path
    // trap ShingleHashes exists to avoid)
    base.join(flagged, Seq("doc_id"), "left")
      .withColumn("cov", array_sort(array_distinct(flatten(transform(
        coalesce(col("ps"), array().cast("array<bigint>")),
        p => sequence(p, p + lit(k - 1)))))))
      .select(col("doc_id"), col("n").as("n_tokens"),
        size(col("cov")).cast("long").as("removed_tokens"),
        (col("n") - size(col("cov"))).as("kept_tokens"),
        array_join(filter(col("ws"), (w, i) =>
          !graft.functions.expressions.GraftExpressions
            .sortedContainsLong(col("cov"), i.cast("long"))), " ")
          .as("clean_text"))
  }

  /** (doc_id, shs) projection: distinct word 3-gram shingles as sorted
    * 8-byte hashes (`ShingleHashes` — one native pass per row; no
    * shingle strings are materialized; ~50× over the interpreted
    * transform+concat lambda form). */
  def shingleProjection(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"), T.words(col(textCol)).as("ws"))
      .select(col("doc_id"),
        graft.functions.expressions.GraftExpressions.shingleHashes(col("ws"), 3)
          .as("shs"))
      .filter(size(col("shs")) > 0)

  /** Exact n-gram Jaccard pairs ≥ threshold. Candidates via shared-
    * shingle equi-join on the 8-byte hashes; only docs sharing a 3-gram
    * ever meet.
    *
    * `maxDf` is the hot-key guard the join needs at scale: a shingle
    * shared by d documents contributes d² join rows, so one stop-phrase
    * 3-gram shared by 10⁶ docs explodes quadratically. Shingles with
    * document frequency > maxDf are dropped from the REPRESENTATION
    * (sizes and intersections both — Jaccard over the capped sets stays
    * exact), the standard df-cap from the dedup literature. The hot set
    * is stop-phrase-sized, so it broadcasts into a left-anti join.
    *
    * The projection feeds multiple consumers; `ShingleHashes` is one
    * cheap native pass, so recomputing beats cache materialization +
    * eviction variance (measured in r1; at cluster scale persist a
    * shingle table instead).
    *
    * Join strategy: a `shuffle_hash` hint on the self-join's build side
    * skips both sides' sorts — measured 1.2-1.6× on every one-shot
    * jaccardPairs rider (q133/q134/q135/q92/q84 in the r14 optimization
    * A/B; the same rewrite applied GLOBALLY regressed iterative
    * classes, so it is a targeted hint, not a session config). 100 TB
    * posture: the build side is one hash partition of the digest-thin
    * (8-byte hash + 8-byte id) survivor table — per-key fanout is
    * df-capped (maxDf), so no single key can blow a partition, and
    * partition count scales with the cluster's shuffle parallelism. In
    * the UNCAPPED (maxDf <= 0) branch that df-bound argument does NOT
    * hold: the caller is asserting its corpus has no stop-phrase-hot
    * shingles (the registered uncapped riders run on digest-sized
    * fixtures), and SHJ's build side cannot spill a single giant key
    * gracefully — an uncapped deployment on an unknown corpus should
    * set maxDf. */
  def jaccardPairs(shingled: DataFrame, threshold: Double,
      maxDf: Int = 0): DataFrame = {
    // Uncapped, the per-doc set size comes straight off the array
    // (shuffle-free) and rides the exploded rows into the join keys.
    // Capped, sizes must count the anti-join survivors — doing that
    // with a per-doc window over the exploded rows costs a full extra
    // shuffle+sort of the shingle table and fattens the self-join
    // payload; instead the sizes collapse to a doc-count table
    // (|docs| rows) broadcast-joined to the aggregated PAIRS, which
    // are orders of magnitude fewer. At sf0.1 the local timing is flat
    // (~2.8s either way — stage-count overhead dominates 260k shingle
    // rows), but the removed per-doc window shuffle and the join
    // payload shrink are what matter at corpus scale. The survivor
    // projection is localCheckpoint'd once for its three consumers
    // (both self-join sides + the size count).
    if (maxDf > 0) {
      val exploded = shingled.select(col("doc_id"), explode(col("shs")).as("h"))
      val surv = dropHotKeys(exploded, Seq("h"), maxDf)
        .localCheckpoint(true)
      val sizes = surv.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val pairs = surv.as("a")
        .join(surv.as("b").hint("shuffle_hash"),
          col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("inter"))
      // no broadcast hint: sizes is |docs| rows — small enough to
      // broadcast at test scale but not at corpus scale; AQE picks
      // broadcast when the runtime size allows and shuffles otherwise.
      pairs
        .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
        .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
        .select(col("doc_a"), col("doc_b"), col("inter"),
          (col("na") + col("nb") - col("inter")).as("uni"),
          (col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
            .as("jaccard"))
        .filter(col("jaccard") >= threshold)
    } else {
      val sized = shingled.select(col("doc_id"),
        size(col("shs")).cast("long").as("n"), explode(col("shs")).as("h"))
      sized.as("a")
        .join(sized.as("b").hint("shuffle_hash"),
          col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("a.n").as("na"), col("b.n").as("nb"))
        .agg(count(lit(1)).as("inter"))
        .select(col("doc_a"), col("doc_b"), col("inter"),
          (col("na") + col("nb") - col("inter")).as("uni"),
          (col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
            .as("jaccard"))
        .filter(col("jaccard") >= threshold)
    }
  }

  /** Prefix-filtered exact Jaccard pairs — the AllPairs/PPJoin
    * candidate generator (Chaudhuri et al. ICDE'06; Bayardo et al.
    * WWW'07): identical OUTPUT to [[jaccardPairs]] at the same
    * threshold/maxDf (q168's oracle is literally q27's SQL), but the
    * self-join explodes only each document's PREFIX instead of its
    * whole shingle set.
    *
    * Soundness: `shs` is globally sorted (ShingleHashes emits sorted
    * distinct hashes — the fixed total order prefix filtering needs).
    * J(A,B) ≥ t ⟹ |A∩B| ≥ t·|A∪B| ≥ t·max(|A|,|B|) ≥ ⌈t·|A|⌉, and the
    * SMALLEST common element c₁ has ≥ ⌈t·|A|⌉−1 common elements above
    * it in A, so c₁ sits within A's first |A|−⌈t·|A|⌉+1 =
    * ⌊(1−t)·|A|⌋+1 elements — and symmetrically within B's prefix.
    * Every qualifying pair therefore collides on a prefix element;
    * verify on the full arrays is exact, so no pair is lost and no
    * false pair survives.
    *
    * Why it matters at 100 TB: the shared-shingle join's row count is
    * Σ_h df(h)², over ALL shingles; the prefix join sums only over
    * prefix occurrences — at t=0.5 half the set, at t=0.9 a tenth —
    * and the PPJoin length filter (t·|A| ≤ |B| ≤ |A|/t, applied inside
    * the join condition) discards size-incompatible collisions before
    * they aggregate. Same answers, measured ~2-4× fewer candidate rows
    * on the test corpus (WarehouseOpsSpec), asymptotically (1−t)²× the
    * exploded join traffic.
    *
    * `maxDf` caps the REPRESENTATION exactly like [[jaccardPairs]]
    * (hot shingles leave the sets before prefixes are cut, so Jaccard
    * over the capped sets — and hence the output — matches q27's).
    * The cap is applied IN-ROW: the hot set (rows/maxDf 8-byte
    * entries, stop-phrase-sized — the same set [[dropHotKeys]]
    * broadcasts for its anti-join) collapses to one sorted array,
    * broadcast-crossed and binary-search-probed per element
    * (`SortedContainsLong`), so the arrays keep their sort order and
    * NO corpus-wide shuffle is spent on capping (the first cut
    * regrouped survivors through two full shingle-table exchanges —
    * measured, removed).
    *
    * Honest toy-scale accounting: at sf0.1 this runs ~1.5× q27's
    * wall-clock (3.6 s vs ~2 s) even though it joins strictly fewer
    * rows — AllPairs structurally pays an array FETCH-BACK to verify
    * (the prefix rows can't count full intersections) where the
    * shared-shingle join counts them inline in its aggregation. The
    * fetch-back touches only candidate docs, so it is O(candidates);
    * the join traffic it buys down is O(Σ df²). At toy scale the
    * fixed fetch-back stages dominate; as the corpus grows the ratio
    * inverts, which is exactly why AllPairs/PPJoin exists. */
  def prefixFilterJaccardPairs(shingled: DataFrame, threshold: Double,
      maxDf: Int = 0): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"prefix filtering needs 0 < t <= 1, got $threshold")
    val capped = cappedShingles(shingled, maxDf)
    // WIDTH AT CREATION for the candidate-pair pin (r15, the r14
    // verdict's q168 item): the verify below STREAMS this frame — both
    // array sides arrive by broadcast-semi, so the fused verify stage
    // (two broadcast probes + array_intersect, the query's dominant
    // 4.6 s of CPU at sf0.1) runs at exactly this checkpoint's width.
    // Unrepartitioned, AQE coalesces the dropDuplicates exchange by
    // compressed bytes to ~3 partitions on 32 cores (measured); the
    // explicit core-count repartition costs one exchange of the
    // id-pair table (16-byte rows — MBs where the verify is CPU-bound)
    // and gives the intersect every core. This is what the r14
    // post-hoc attempt (an exchange inside the verify plan, measured
    // 3.0→3.8 LOSS) got wrong: sized at creation, the exchange lives
    // in the pin's own materialization job. q168 3.58→2.31 s med.
    val candIds = prefixCandidatePairs(capped, threshold)
      .repartition(shingled.sparkSession.sparkContext.defaultParallelism,
        col("doc_a"), col("doc_b"))
      .localCheckpoint(true)
    val arrays = candidateArrays(capped, candIds)
    candIds
      .join(arrays.select(col("doc_id").as("doc_a"), col("shs").as("sha")), "doc_a")
      .join(arrays.select(col("doc_id").as("doc_b"), col("shs").as("shb")), "doc_b")
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))).cast("long"))
      .withColumn("uni",
        (size(col("sha")) + size(col("shb"))).cast("long") - col("inter"))
      .withColumn("jaccard", col("inter").cast("double") / col("uni"))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "inter", "uni", "jaccard")
  }

  /** The df-capped shingle arrays [[prefixFilterJaccardPairs]] cuts
    * prefixes from: hot shingles (df > maxDf) leave the sets IN-ROW —
    * the hot set (stop-phrase-sized) collapses to one sorted array,
    * broadcast-crossed and binary-search-probed per element, so the
    * arrays keep their sort order and no corpus-wide shuffle is spent
    * on capping. Exposed `private[graft]` so the scale-stress harness
    * can measure the candidate stage in isolation (the q168 verify
    * remainder = full stage − this + candidates). */
  private[graft] def cappedShingles(shingled: DataFrame, maxDf: Int): DataFrame =
    if (maxDf <= 0) shingled
    else {
      val hot = shingled.select(explode(col("shs")).as("h"))
        .groupBy("h").agg(count(lit(1)).as("df"))
        .filter(col("df") > maxDf)
        .agg(sort_array(collect_list(col("h"))).as("hot"))
      // pinned: three consumers (prefix explode + both verify join
      // sides) would each re-run the hot aggregation and the scan.
      // Deliberately NOT widened (r15, measured): this pin feeds the
      // verify through BROADCAST exchanges (it is the build side), so
      // its width never reaches the verify stage; a 32-wide repartition
      // here only widened the prefix self-join's map side, which
      // measured WORSE at sf0.1 (q168 3.06→3.52 — 32 concurrent tasks
      // contending over a 2 MB frame). The verify's width lever is the
      // candidate-pair pin in [[prefixFilterJaccardPairs]].
      shingled.crossJoin(broadcast(hot))
        .select(col("doc_id"),
          filter(col("shs"), x => !graft.functions.expressions
            .GraftExpressions.sortedContainsLong(col("hot"), x)).as("shs"))
        .filter(size(col("shs")) > 0)
        .localCheckpoint(true)
    }

  /** The AllPairs candidate generator [[prefixFilterJaccardPairs]]
    * verifies: distinct (doc_a, doc_b) pairs whose sorted-hash
    * PREFIXES collide, with the PPJoin length filter in the join
    * condition. Exposed separately so PlanSpec can assert the slice
    * on the operator's OWN construction (the checkpoint pin hides it
    * from the final plan).
    *
    * Prefix length: the exact-rational bound is n − ⌈t·n⌉ + 1, but
    * the ACCEPT filter is IEEE `inter/uni >= t` on the rounded
    * quotient, which can admit pairs whose exact Jaccard sits one ulp
    * below t (inter = ⌈t·n⌉ − 1) — and computing ⌈t·n⌉ through double
    * multiplication can itself land one off at representation
    * boundaries (10 × (1−0.8) = 1.9999…96). So the ceiling is taken
    * in exact integer arithmetic on the ppm-quantized threshold and
    * the prefix extends 2 elements past the rational bound: one for
    * the IEEE accept slack, one for ppm quantization of t (exact for
    * n ≤ 2·10⁶ distinct shingles — far past any real document). A
    * longer prefix can only ADD candidates, never lose a pair; the
    * cost is ~2 extra posting rows per document. */
  def prefixCandidatePairs(capped: DataFrame,
      threshold: Double): DataFrame = {
    val tPpm = math.round(threshold * 1000000.0)
    val n = size(col("shs")).cast("long")
    // exact ⌈t'·n⌉ on the ppm-quantized threshold (⌈a/b⌉ as
    // ⌊(a+b−1)/b⌋; the double division is exact-floorable because the
    // integer gap 10⁻⁶ dwarfs the ulp at n·10⁶ ≤ 2⁵³), then −2 slack
    val ceilTn = ((n * lit(tPpm) + lit(999999L)) / lit(1000000L)).cast("long")
    val oMin = greatest(lit(1L), ceilTn - lit(2L))
    val pLen = least(n, n - oMin + lit(1L)).cast("int")
    val pref = capped
      .select(col("doc_id"), n.as("n"),
        explode(slice(col("shs"), lit(1), pLen)).as("h"))
    pref.as("a")
      .join(pref.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id") &&
          // length filter: J ≥ t ⟹ t·max(na,nb) ≤ min(na,nb); the −1
          // mirrors the accept slack so a boundary pair is never
          // length-filtered out of candidacy
          col("a.n") * lit(tPpm) - lit(1000000L) <= col("b.n") * lit(1000000L) &&
          col("b.n") * lit(tPpm) - lit(1000000L) <= col("a.n") * lit(1000000L))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
  }

  /** MinHash + banded LSH near-dup pairs with exact verify — the scale
    * path: signatures without a shuffle, candidates from band buckets
    * carrying only (doc_id, band, key), exact Jaccard on survivors.
    * Sized so P[miss | j≥0.5] = (1−j⁴)¹⁶ ≤ 1.2% per pair. */
  def minhashLshPairs(shingled: DataFrame, threshold: Double,
      k: Int = 64, bandRows: Int = 4): DataFrame = {
    val nBands = k / bandRows
    // the projection feeds signature generation AND both verify joins;
    // ShingleHashes is one cheap native pass, so recomputing it thrice
    // beats cache materialization + eviction variance at these sizes (at
    // cluster scale a persisted intermediate table wins instead)
    val docs = shingled
    val sigs = docs.select(col("doc_id"), minhashSig(col("shs"), k).as("sig"))
    val bands = (0 until nBands).map { b =>
      val slice = (0 until bandRows).map(r => col("sig").getItem(b * bandRows + r))
      struct(lit(b).as("band"), xxhash64(slice: _*).as("key"))
    }
    val buckets = sigs
      .select(col("doc_id"), explode(array(bands: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band"), col("bk.key"))
    // pinned: the pair frame feeds the verify join AND the
    // candidate-id restriction of the array side — without the pin the
    // whole bucket self-join re-executes per consumer (AQE re-plans
    // subtrees independently, so exchange reuse cannot be relied on)
    val candIds = buckets.as("a")
      .join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
      // deliberately NOT width-repartitioned like the q168 candidate
      // pin (r15, measured both ways): banded LSH prunes candidates so
      // hard that the streamed verify's CPU is small, and the explicit
      // core-width exchange measured a LOSS here (q28 1.14→1.35 s)
      // where q168's 4.6 s-CPU verify measured a 1.5× WIN
      .localCheckpoint(true)
    val arrays = candidateArrays(docs, candIds)
    candIds
      .join(arrays.select(col("doc_id").as("doc_a"), col("shs").as("sha")), "doc_a")
      .join(arrays.select(col("doc_id").as("doc_b"), col("shs").as("shb")), "doc_b")
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("uni", size(col("sha")) + size(col("shb")) - col("inter"))
      .withColumn("jaccard", col("inter").cast("double") / col("uni"))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "inter", "uni", "jaccard")
  }

  /** Verify-side array table restricted to docs that appear in at
    * least one candidate pair — the payload-free-shuffle pattern
    * (q77): without it, each of the two Jaccard-verify joins
    * sort-merges the FULL shingle-array table once the corpus
    * outgrows the broadcast ceiling (the plan transition the round-8
    * stress run measured), i.e. two corpus-wide array shuffles to
    * verify what is typically a ~1% candidate subset. The semi-join
    * costs one id-only probe (candidate ids broadcast when small);
    * the arrays then shuffle only for actual candidates. Results are
    * identical — pairs only ever reference candidate docs.
    *
    * Trade (measured, round-8 stress corpus): when candidate density
    * is EXTREME (75% of docs paired — 4-doc dup families everywhere),
    * the restriction prunes little and its semi-join adds ~30% to the
    * stage. At ordinary near-dup rates (≲10%) it removes the stage's
    * dominant exchanges. */
  private def candidateArrays(docs: DataFrame, candIds: DataFrame): DataFrame = {
    val semi = docs.join(
      candIds.select(col("doc_a").as("doc_id"))
        .unionByName(candIds.select(col("doc_b").as("doc_id")))
        .distinct(),
      Seq("doc_id"), "left_semi")
    // Deliberately NOT repartitioned (r14 optimization, measured both
    // ways): the verify stage's array intersects run at row-group
    // parallelism here (3 tasks at sf0.1), but adding a spread
    // exchange measured WORSE on every rider — q168 3.0→3.8, q28
    // 1.05→1.35 — because the exchange's materialization and the lost
    // broadcast-probe locality cost more than the extra width buys at
    // candidate-table sizes. At cluster scale the array table arrives
    // already wide from its own upstream exchanges.
    semi
  }

  /** Winnowing document sketch (Schleimer/Wilkerson/Aiken, SIGMOD'03 —
    * the standard rolling-hash fingerprint): position-ordered shingle
    * hashes, min per sliding window of `w`, distinct mins = the sketch.
    * Guarantees any shared run of ≥ w+n−1 tokens yields a shared
    * fingerprint. Returns (doc_id, fp) exploded sketch rows.
    * `poly = true` swaps XXH64 for the oracle-replicable polynomial
    * codepoint hash (ShingleHashes.PolyMod) — same sketch guarantees,
    * exactly checkable against a SQL oracle. */
  def winnowSketch(docs: DataFrame, textCol: String, idCol: String,
      w: Int = 8, poly: Boolean = false): DataFrame =
    docs.select(col(idCol).as("doc_id"), T.words(col(textCol)).as("ws"))
      .select(col("doc_id"),
        graft.functions.expressions.GraftExpressions
          .shingleHashes(col("ws"), 3, ordered = true, poly = poly).as("hs"))
      .filter(size(col("hs")) >= w)
      .select(col("doc_id"), explode(
        graft.functions.expressions.GraftExpressions.winnowMins(col("hs"), w))
        .as("fp"))

  /** Near-dup candidates by shared winnowing fingerprints: pairs ranked
    * by how many sketch fingerprints they share. `maxDf` caps
    * hot-fingerprint document frequency before the self-join (same
    * quadratic-blowup guard as [[jaccardPairs]]). */
  def winnowPairs(docs: DataFrame, textCol: String, idCol: String,
      w: Int = 8, minShared: Int = 2, maxDf: Int = 0,
      poly: Boolean = false): DataFrame = {
    // hot-fingerprint cap via the shared broadcast anti-join: the hot
    // set is rows/maxDf entries of 8 bytes each — hash-probed per
    // sketch row, O(1), where the earlier collect_list/array_contains
    // variant linear-scanned the whole hot array per row (O(rows/maxDf)
    // work per row — 10⁷-element scans at 10¹⁰ rows / maxDf 1000)
    val sk = dropHotKeys(winnowSketch(docs, textCol, idCol, w, poly),
      Seq("fp"), maxDf)
    sk.as("a")
      .join(sk.as("b"), col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
  }

  /** Containment pairs: documents appearing VERBATIM (token-aligned)
    * inside another — the sub-document duplication exact dedup misses
    * (a page reposted inside a digest, a paragraph quoted whole).
    * Candidates come from shared winnowing fingerprints, and here the
    * SIGMOD'03 guarantee makes candidate generation EXACT, not
    * probabilistic: a contained document of ≥ w+n−1 tokens is, in its
    * container, a shared token run of at least that length, which
    * guarantees a shared recorded fingerprint — so every true
    * containment pair is a candidate (with `maxDf` = 0; a df-cap
    * trades that completeness for hot-fingerprint boundedness at
    * corpus scale). Verify is one space-padded substring probe per
    * candidate. Returns (inner_id, outer_id, inner_len, outer_len);
    * equal texts pair once, lower id as inner. */
  def containmentPairs(docs: DataFrame, textCol: String, idCol: String,
      w: Int = 8, maxDf: Int = 0, poly: Boolean = false): DataFrame = {
    val cand = winnowPairs(docs, textCol, idCol, w, minShared = 1, maxDf, poly)
      .select("doc_a", "doc_b")
    val t = docs.select(col(idCol).as("id"), col(textCol).as("txt"))
    val aInner = length(col("ta")) <= length(col("tb")) // tie: doc_a < doc_b
    cand
      .join(t.select(col("id").as("doc_a"), col("txt").as("ta")), "doc_a")
      .join(t.select(col("id").as("doc_b"), col("txt").as("tb")), "doc_b")
      .select(
        when(aInner, col("doc_a")).otherwise(col("doc_b")).as("inner_id"),
        when(aInner, col("doc_b")).otherwise(col("doc_a")).as("outer_id"),
        when(aInner, col("ta")).otherwise(col("tb")).as("ti"),
        when(aInner, col("tb")).otherwise(col("ta")).as("to"))
      .filter(instr(concat(lit(" "), col("to"), lit(" ")),
        concat(lit(" "), col("ti"), lit(" "))) > 0)
      .select(col("inner_id"), col("outer_id"),
        length(col("ti")).cast("long").as("inner_len"),
        length(col("to")).cast("long").as("outer_len"))
  }

  /** Fuzzy near-dup pairs by EDIT DISTANCE — the title/short-text dedup
    * complement of the token-set families (Jaccard/MinHash see word
    * swaps; edit distance sees character-level noise: OCR errors,
    * encoding damage, truncated suffixes). Candidates come from a
    * `prefixLen`-character prefix block — an equi-join, never all
    * pairs — then exact `levenshtein` ≤ `maxEd` verifies. Both stages
    * are engine-portable (DuckDB has the same levenshtein), so the
    * whole operator oracles hash-exact.
    *
    * Scale shape: the verify is O(len²) per CANDIDATE, so candidate
    * count is the cost driver; `maxDf` caps block document frequency
    * exactly like [[jaccardPairs]] (a prefix shared by thousands of
    * docs — boilerplate headers — would otherwise go quadratic).
    * Prefix blocking trades recall for boundedness: a pair whose edit
    * damage falls inside the first `prefixLen` characters is missed;
    * run a second pass blocked on a suffix (or winnowing fingerprints)
    * when that matters. */
  def editDistancePairs(docs: DataFrame, textCol: String, idCol: String,
      prefixLen: Int = 24, maxEd: Int = 16, maxDf: Int = 0): DataFrame = {
    val kept = dropHotKeys(
      docs.select(col(idCol).as("doc_id"), col(textCol).as("txt"),
        substring(col(textCol), 1, prefixLen).as("blk")),
      Seq("blk"), maxDf)
    // the DP is guarded INSIDE the expression by the cheap predicates
    // (id order + length delta — edit distance is ≥ the length
    // difference, so the guard never changes results): Catalyst pushes
    // the post-join filter into the join CONDITION with the pushed
    // predicate first, and unguarded that evaluated a full DP for
    // every self-pair before doc_id< could short-circuit (measured 6s
    // of the 7s at sf0.1). The DP itself is the THRESHOLD form —
    // O(len·maxEd), -1 past the bound (the band never leaves the
    // diagonal) — so a long in-block candidate costs len·maxEd, not
    // len²; -1 fails the <= maxEd filter like any over-threshold pair.
    val guarded = when(
      col("a.doc_id") < col("b.doc_id") &&
        abs(length(col("a.txt")) - length(col("b.txt"))) <= maxEd,
      levenshtein(col("a.txt"), col("b.txt"), maxEd).cast("long"))
    kept.as("a")
      .join(kept.as("b"),
        col("a.blk") === col("b.blk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        guarded.as("edit_dist"))
      // the threshold DP returns -1 past the bound — the lower bound is
      // load-bearing, not decorative
      .filter(col("edit_dist") >= 0 && col("edit_dist") <= maxEd)
  }

  /** Dedup resolution: connected components over a near-dup pair graph,
    * canonical id = minimum doc_id in each component. The keep-first
    * pass every candidate-pair generator here feeds (q27/q28/q29/q40).
    *
    * Iterative min-label propagation WITH pointer doubling: each round
    * joins the symmetric edge list against current labels, adds every
    * vertex's label's-label (`label(label(v))` — the shortcut that
    * contracts label chains geometrically), and keeps the per-vertex
    * minimum; converges in O(log diameter) rounds where plain
    * neighbor propagation needs O(diameter) (chain-shaped components —
    * exactly the near-dup case of many copies of one document — are the
    * worst case the doubling fixes). Each round
    * `localCheckpoint`s the label frame — the lineage chain is cut per
    * iteration (re-execution would otherwise grow quadratically) — and
    * the loop exits early once a round changes nothing. Convergence is
    * read off the SAME materialized round (the previous label rides the
    * aggregation as `min(label) over own rows`, and the changed-count
    * is a cheap scan of the checkpointed frame) — no separate
    * convergence join/action per iteration. All rounds are
    * joins/aggregations on (id, label) pairs: fully distributed, no
    * driver-side graph. */
  def resolve(pairs: DataFrame, maxIters: Int = 20): DataFrame =
    resolveWithStats(pairs, maxIters)._1

  /** [[resolve]] plus the number of propagation rounds it took — the
    * instrumented form the convergence/skew audits use
    * (ResolveSkewSpec measures rounds and per-task shuffle skew on an
    * adversarial giant component).
    *
    * Giant-component skew posture: once a large component converges,
    * its min label is a hot join key in the pointer-doubling round
    * (every member's `label` row joins the single `id = L` row). The
    * hot partition holds O(|component|) rows — at 10% giant-component
    * share and P partitions that is a 0.1·P× skew (≈3× at P=32,
    * measured in the spec), and the join's build side is one row per
    * key, which is exactly the shape AQE's skew-split handles at real
    * scale (splits the fat stream-side partition, replicates the
    * single matching row). */
  def resolveWithStats(pairs: DataFrame, maxIters: Int = 20): (DataFrame, Int) = {
    // materialize the edge list once as the Pins.loopFrame: every
    // propagation round joins it, and without this each round would
    // re-execute the full upstream candidate-pair pipeline (measured
    // 3-4× on q44); labels is eagerly checkpointed per round, so
    // nothing outlives its release. Pin the pair frame first: the
    // symmetric union scans it twice, and plan-duplicated subtrees get
    // no exchange reuse across a union — unpinned, the whole upstream
    // candidate-pair pipeline (e.g. q92's shared-shingle self-join)
    // executed twice inside the single edge materialization job (r14
    // optimization, measured)
    val pairsP = pairs.select("doc_a", "doc_b").localCheckpoint(true)
    val symmetric = pairsP.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionAll(pairsP.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    Pins.loopFrame(symmetric, "src", 2L * pairsP.count()) { (edges, sessWidth) =>
      // initialization fuses the first propagation round: label(v) =
      // min(v, min neighbor) straight off the edge aggregation (the
      // identity-label round it replaces cost a full join+agg pass and
      // made the first jump a no-op).
      var labels = edges.groupBy(col("src"))
        .agg(min(col("dst")).as("mn"))
        .select(col("src").as("id"), least(col("src"), col("mn")).as("label"))
        .localCheckpoint(true)
      var iter = 0
      var converged = false
      while (!converged && iter < maxIters) {
        val propagated = edges
          .join(labels.withColumnRenamed("id", "src"), Seq("src"))
          .select(col("dst").as("id"), col("label"))
        // pointer doubling: v also adopts its label's current label —
        // labels always name component members, so the minimum is
        // preserved while chains halve every round (non-identity from
        // the fused init, so the jump is useful immediately).
        val jumped = labels.as("x")
          .join(labels.as("y"), col("x.label") === col("y.id"))
          .select(col("x.id").as("id"), col("y.label").as("label"))
        // `own` tags the vertex's current label; min over own rows IS the
        // previous label (labels has one row per id), so the new and old
        // label land in the same aggregated, checkpointed frame.
        val next = labels.withColumn("own", lit(true))
          .unionAll(propagated.withColumn("own", lit(false)))
          .unionAll(jumped.withColumn("own", lit(false)))
          .groupBy("id")
          .agg(min("label").as("label"),
            min(when(col("own"), col("label"))).as("prev"))
          .localCheckpoint(true)
        converged = next.filter(col("label") =!= col("prev")).isEmpty
        labels = next.select("id", "label")
        iter += 1
      }
      (labels.repartition(sessWidth, col("id"))
        .select(col("id").as("doc_id"), col("label").as("canonical_id")), iter)
    }
  }

  /** The full MinHash-LSH pipeline on the engine-portable polynomial
    * hash (q63): distinct 3-gram poly shingle hashes → 16 minhashes
    * from the affine family h_j(x) = ((2j+1)·x + j²+7) mod P (products
    * stay < 2^53 — exact in any engine's 64-bit math) → 4 bands of 4
    * → candidate pairs sharing a band bucket → EXACT Jaccard verify on
    * the shingle sets. Every stage is deterministic given the family,
    * so the whole candidate-generation + verify path oracles
    * hash-exact against DuckDB; what stays probabilistic about MinHash
    * is only its RECALL vs all true pairs (q28's spec bounds that).
    * Production keeps q28's XXH64 family (faster, better avalanche) —
    * this is its checkable twin, same plan shape: bucket equi-join,
    * never all-pairs. */
  def portableMinhashLshPairs(docs: DataFrame, textCol: String, idCol: String,
      threshold: Double = 0.5): DataFrame = {
    val P = graft.functions.expressions.ShingleHashes.PolyMod
    // shingle sets feed three consumers (minhash agg, both verify
    // joins): pin once, like q27's survivor projection
    val hs = docs
      .select(col(idCol).as("doc_id"), T.words(col(textCol)).as("ws"))
      .select(col("doc_id"), graft.functions.expressions.GraftExpressions
        .shingleHashes(col("ws"), 3, ordered = false, poly = true).as("hs"))
      .filter(size(col("hs")) > 0)
      .localCheckpoint(true)
    val e = hs.select(col("doc_id"), explode(col("hs")).as("h"))
    val mins = (0 until 16).map(j =>
      min((col("h") * lit(2L * j + 1) + lit(j.toLong * j + 7L)) % lit(P))
        .as(s"m$j"))
    val m = e.groupBy("doc_id").agg(mins.head, mins.tail: _*)
    val bandCols = (0 until 4).map(b => struct(lit(b).as("band"),
      concat_ws("_", (0 until 4).map(r => col(s"m${b * 4 + r}")): _*).as("key")))
    val bk = m.select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
    val cand = bk.as("a")
      .join(bk.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
      // pinned for the same two-consumer reason as minhashLshPairs;
      // and like there NOT width-repartitioned (r15: the q28-family
      // A/B measured the core-width exchange as a loss on LSH-pruned
      // candidate sets — see minhashLshPairs)
      .localCheckpoint(true)
    // verify arrays restricted to candidate docs (see candidateArrays)
    val hsCand =
      candidateArrays(hs.select(col("doc_id"), col("hs").as("shs")), cand)
    cand
      .join(hsCand.select(col("doc_id").as("doc_a"), col("shs").as("hs_a")), "doc_a")
      .join(hsCand.select(col("doc_id").as("doc_b"), col("shs").as("hs_b")), "doc_b")
      .withColumn("inter",
        size(array_intersect(col("hs_a"), col("hs_b"))).cast("long"))
      .withColumn("uni",
        (size(col("hs_a")) + size(col("hs_b"))).cast("long") - col("inter"))
      .withColumn("jacc", col("inter").cast("double") / col("uni"))
      .filter(col("jacc") >= threshold)
      .select("doc_a", "doc_b", "inter", "uni", "jacc")
  }

  /** MinHash calibration stats: for every banded-LSH CANDIDATE pair,
    * the number of matching signature components (of 16) alongside the
    * exact shingle intersection/union — the raw material of the
    * estimator-vs-truth calibration curve (E[matches/16] = J is the
    * MinHash guarantee; the q163 rollup checks it empirically the way
    * q135 checks SimHash's Hamming-cosine relation). Same portable
    * polynomial hash family as [[portableMinhashLshPairs]], so the
    * whole pair frame oracles hash-exact. Candidates only — the
    * calibration conditions on "pairs the LSH surfaces", which is the
    * population a production threshold acts on. */
  def portableMinhashPairStats(docs: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val P = graft.functions.expressions.ShingleHashes.PolyMod
    val hs = docs
      .select(col(idCol).as("doc_id"), T.words(col(textCol)).as("ws"))
      .select(col("doc_id"), graft.functions.expressions.GraftExpressions
        .shingleHashes(col("ws"), 3, ordered = false, poly = true).as("hs"))
      .filter(size(col("hs")) > 0)
      .localCheckpoint(true)
    val e = hs.select(col("doc_id"), explode(col("hs")).as("h"))
    val mins = (0 until 16).map(j =>
      min((col("h") * lit(2L * j + 1) + lit(j.toLong * j + 7L)) % lit(P))
        .as(s"m$j"))
    val m = e.groupBy("doc_id").agg(mins.head, mins.tail: _*)
      .localCheckpoint(true) // feeds band keys AND both match-count joins
    val bandCols = (0 until 4).map(b => struct(lit(b).as("band"),
      concat_ws("_", (0 until 4).map(r => col(s"m${b * 4 + r}")): _*).as("key")))
    val bk = m.select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
    val cand = bk.as("a")
      .join(bk.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
      .localCheckpoint(true)
    val sigA = m.select(col("doc_id").as("doc_a") +:
      (0 until 16).map(j => col(s"m$j").as(s"a$j")): _*)
    val sigB = m.select(col("doc_id").as("doc_b") +:
      (0 until 16).map(j => col(s"m$j").as(s"b$j")): _*)
    val hsCand = candidateArrays(hs.select(col("doc_id"), col("hs").as("shs")), cand)
    cand
      .join(sigA, "doc_a").join(sigB, "doc_b")
      .withColumn("matches",
        (0 until 16).map(j =>
          when(col(s"a$j") === col(s"b$j"), 1L).otherwise(0L)).reduce(_ + _))
      .join(hsCand.select(col("doc_id").as("doc_a"), col("shs").as("hs_a")), "doc_a")
      .join(hsCand.select(col("doc_id").as("doc_b"), col("shs").as("hs_b")), "doc_b")
      .withColumn("inter",
        size(array_intersect(col("hs_a"), col("hs_b"))).cast("long"))
      .withColumn("uni",
        (size(col("hs_a")) + size(col("hs_b"))).cast("long") - col("inter"))
      .select("doc_a", "doc_b", "matches", "inter", "uni")
  }

  /** SimHash's deterministic core on the engine-portable polynomial
    * word hash: 45-bit frequency-weighted signatures (per-bit ±1 votes
    * over word occurrences, bit set iff the vote is positive). The
    * exactly-oracled twin of [[simhashPairs]]'s signature stage (q61);
    * production keeps the 64-bit XXH64 form. One shuffle: the 45
    * conditional vote sums aggregate map-side per doc — the bit
    * dimension lives in columns, never in rows. */
  def polySimhash45(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val hashed = docs
      .select(col(idCol).as("doc_id"),
        graft.functions.expressions.GraftExpressions
          .shingleHashes(T.words(col(textCol)), 1, ordered = true, poly = true)
          .as("hs"))
      .select(col("doc_id"), explode(col("hs")).as("h"))
    val votes = (0 until 45).map(b =>
      sum(expr(s"((h >> $b) & 1) * 2 - 1")).as(s"v$b"))
    hashed.groupBy("doc_id")
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        (0 until 45).map(b =>
          when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).cast("long").as("simhash45"))
  }

  /** SimHash near-dup pairs: single-pass frequency-weighted 64-bit
    * signatures, banded chunk prefilter, Hamming verify.
    *
    * Scale design. A `bandBits`-bit band has at most 2^bandBits
    * distinct keys REGARDLESS of corpus size (16 bits → 65,536), so at
    * 10⁸+ docs every bucket is structurally hot and the banded
    * self-join goes quadratic. Two guards, composable:
    *
    *   - `maxDf` drops (band, chunk) keys whose document frequency
    *     exceeds the cap before the self-join — the same df-cap as
    *     [[jaccardPairs]]. A chunk shared by thousands of documents
    *     carries almost no similarity evidence (16 agreeing bits out
    *     of 64 is barely above chance), so capped buckets cost recall
    *     only for pairs that ALSO fail to share any other band. The
    *     hot-key set is bounded by rows/maxDf and each key is 12
    *     bytes, so it broadcasts into a left-anti join. With the cap,
    *     per-bucket pair cost is ≤ maxDf² — the blowup is bounded by
    *     configuration, not corpus size.
    *   - `nTables` adds Manku-style permuted tables (WWW'07 §3,
    *     public algorithm): table t re-bands the signature rotated
    *     left by t·29 bits (29 ⊥ 64, so every table induces genuinely
    *     different chunk boundaries). A pair at Hamming h survives a
    *     table iff some band of that table is clean; independent-ish
    *     band partitions multiply the miss probabilities, restoring
    *     the recall the df-cap or narrow-band geometry gives up.
    *     Occupancy math: keys/table-band stays 2^bandBits, so tables
    *     raise recall, not key-space — pair the rotation tables WITH
    *     the df-cap at corpus scale.
    *
    * Defaults (4×16-bit bands, one table, df-cap 0) reproduce the
    * classical layout for small corpora; production at ≥10⁷ docs
    * should run e.g. (bandBits=16, nTables=2, maxDf≈1000). */
  def simhashPairs(docs: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 8, bandBits: Int = 16, nTables: Int = 1,
      maxDf: Int = 0): DataFrame = {
    require(bandBits > 0 && bandBits < 64 && 64 % bandBits == 0,
      s"bandBits must divide 64 and be < 64, got $bandBits")
    require(nTables >= 1 && nTables <= 16, s"nTables out of range: $nTables")
    val nBands = 64 / bandBits
    val mask = (1L << bandBits) - 1L
    val sig = docs
      .select(col(idCol).as("doc_id"), T.words(col(textCol)).as("ws"))
      .select(col("doc_id"), simhashSig(col("ws")).as("simhash"))
    val bandCols = for (tb <- 0 until nTables; b <- 0 until nBands) yield {
      val rot = (tb * 29) % 64
      val rotated =
        if (rot == 0) col("simhash")
        else expr(s"shiftleft(simhash, $rot) | shiftrightunsigned(simhash, ${64 - rot})")
      struct(lit(tb * nBands + b).as("band"),
        shiftrightunsigned(rotated, b * bandBits).bitwiseAND(lit(mask))
          .as("chunk"))
    }
    val bands = sig
      .select(col("doc_id"), col("simhash"),
        explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("simhash"),
        col("bk.band").as("band"), col("bk.chunk").as("chunk"))
    val kept = dropHotKeys(bands, Seq("band", "chunk"), maxDf)
    kept.as("a")
      .join(kept.as("b"),
        col("a.band") === col("b.band") && col("a.chunk") === col("b.chunk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.simhash").as("sig_a"), col("b.simhash").as("sig_b"))
      .dropDuplicates("doc_a", "doc_b")
      .withColumn("hamming", expr("bit_count(sig_a ^ sig_b)"))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }
}
