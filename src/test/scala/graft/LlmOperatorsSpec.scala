package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.operators.Multimodal
import graft.queries.{LlmQueries, Registry}

/** Property tests tying the probabilistic operators (MinHash-LSH,
  * SimHash, ANN-LSH) to their exact counterparts, plus the multimodal
  * plumbing contract. */
class LlmOperatorsSpec extends SparkSpec {

  private def pairs(name: String): Set[(Long, Long)] =
    Registry.byName(name).fn(spark, sf)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("LSH hard-negative mining: rows honor the band/label contract, cosines are exact, recall holds") {
    val exact = Registry.byName("q147_hard_negatives").fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val approxRows = Registry.byName("q154_hard_negatives_ann").fn(spark, sf)
      .collect()
    assert(approxRows.nonEmpty)
    val labels = graft.sources.Tables.load(spark, sf, "embeddings")
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // every emitted negative is in-band, other-label, and its cosine is
    // the EXACT value (LSH prunes candidates, never changes scores):
    // any row also produced by the exact miner must carry the identical
    // cosine
    approxRows.foreach { r =>
      val (q, n, c) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      assert(c >= 0.2 && c < 0.8, s"out-of-band cosine $c for ($q,$n)")
      assert(labels(q) != labels(n), s"same-label pair ($q,$n)")
      exact.get((q, n)).foreach(e => assert(e == c, s"cosine drift ($q,$n): $e vs $c"))
    }
    // recall floor vs the exact miner on this deterministic corpus:
    // 8 bands x 4 bits predicts 1-(1-p^4)^8 ~ 0.67 at band-middle
    // cosines (p ~ 0.6) and the fixed sf0.001 corpus measures exactly
    // 0.67; the 0.25 floor leaves margin only for corpus regeneration.
    val approxSet = approxRows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.keys.count(approxSet.contains).toDouble / exact.size
    assert(recall >= 0.25, s"hard-negative recall $recall vs exact miner")
  }

  test("minhash-LSH candidates recover all exact-Jaccard>=0.5 pairs") {
    val exact = pairs("q27_ngram_jaccard")
    val approx = pairs("q28_minhash_lsh")
    assert(exact.nonEmpty)
    // 16 bands x 4 rows: P[miss | j>=0.5] = (1-j^4)^16 <= 1.2% per pair;
    // on the planted dupes (j>=0.8) it is < 1e-8 — require full recall.
    assert(exact.subsetOf(approx),
      s"missed pairs: ${exact.diff(approx).take(5)}")
  }

  test("minhash-LSH emits only verified pairs (jaccard >= 0.5)") {
    val bad = Registry.byName("q28_minhash_lsh").fn(spark, sf)
      .filter(col("jaccard") < 0.5).count()
    assert(bad == 0)
  }

  test("simhash near-dup pairs cover the planted (jaccard>=0.8) dupes") {
    val exact = pairs("q27_ngram_jaccard")
    val sim = pairs("q29_simhash")
    // simhash is approximate and this corpus draws from a ~40-word
    // vocabulary (high baseline similarity): require 75% recall on the
    // planted dupes rather than exactness.
    val recall = exact.count(sim.contains).toDouble / exact.size
    assert(recall >= 0.75, s"simhash recall $recall")
  }

  test("ANN-LSH cosines agree with brute-force values for shared pairs") {
    val exact = Registry.byName("q31_knn_cosine").fn(spark, sf)
      .select("query_id", "neighbor_id", "cosine").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val approx = Registry.byName("q32_ann_lsh").fn(spark, sf)
      .select("query_id", "neighbor_id", "cosine").collect()
    assert(approx.nonEmpty)
    approx.foreach { r =>
      val k = (r.getLong(0), r.getLong(1))
      exact.get(k).foreach { c =>
        assert(c == r.getDouble(2), s"cosine mismatch at $k")
      }
    }
  }

  test("ANN-LSH finds planted near-duplicates (recall on cos≈1 neighbors)") {
    import graft.operators.Similarity
    val base = graft.sources.Tables.load(spark, sf, "embeddings")
      .filter(col("vec_id") < 30)
    val corpus = Similarity.quantize(
      graft.sources.Tables.load(spark, sf, "embeddings"), "embedding", "vec_id")
    // plant: copies of the base vectors with one component nudged — the
    // quantized cosine is ≈1, the realistic near-dup-search workload
    val planted = Similarity.quantize(
      base.select((col("vec_id") + 100000).as("vec_id"),
        expr("transform(embedding, (x, i) -> IF(i = 0, x + float(0.001), x))")
          .as("embedding")), "embedding", "vec_id")
    val found = Similarity.annTopK(corpus, planted, k = 1)
      .filter(col("rn") === 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hits = (0 until 30).count(i => found.get(i + 100000L).contains(i.toLong))
    assert(hits >= 27, s"planted-dup recall $hits/30")
  }

  test("LSH near-dup pairs find planted dupes; exact all-pairs path is size-guarded") {
    import graft.operators.Similarity
    val base = graft.sources.Tables.load(spark, sf, "embeddings")
    val nudged = base.filter(col("vec_id") < 30)
      .select((col("vec_id") + 100000).as("vec_id"),
        expr("transform(embedding, (x, i) -> IF(i = 0, x + float(0.001), x))")
          .as("embedding"))
    val corpus = Similarity.quantize(
      base.select("vec_id", "embedding").unionAll(nudged), "embedding", "vec_id")
    val found = Similarity.neardupPairsLsh(corpus, threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val hits = (0 until 30).count(i => found.contains((i.toLong, i + 100000L)))
    assert(hits >= 27, s"LSH near-dup recall $hits/30")
    // and the exact path refuses production-sized input
    val e = intercept[IllegalArgumentException] {
      Similarity.exactNeardupPairs(corpus, threshold = 0.4, maxRows = 10).collect()
    }
    assert(e.getMessage.contains("oracle path"))
  }

  test("winnowing sketch covers the planted text dupes") {
    val exact = pairs("q27_ngram_jaccard")
    val win = pairs("q40_winnow_dedup")
    // j>=0.8 pairs share long runs => shared window minima guaranteed
    val recall = exact.count(win.contains).toDouble / exact.size
    assert(recall >= 0.9, s"winnow recall $recall")
  }

  test("IVF ANN finds planted near-duplicates (recall on cos≈1 neighbors)") {
    import graft.operators.Similarity
    val corpus = Similarity.quantize(
      graft.sources.Tables.load(spark, sf, "embeddings"), "embedding", "vec_id")
    val planted = Similarity.quantize(
      graft.sources.Tables.load(spark, sf, "embeddings").filter(col("vec_id") < 30)
        .select((col("vec_id") + 100000).as("vec_id"),
          expr("transform(embedding, (x, i) -> IF(i = 0, x + float(0.001), x))")
            .as("embedding")), "embedding", "vec_id")
    val (indexed, cents) = Similarity.kmeansIndex(corpus, k = 16, iters = 2)
    val found = Similarity.annIvfTopK(indexed, cents, planted, k = 1, nProbe = 4)
      .filter(col("rn") === 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hits = (0 until 30).count(i => found.get(i + 100000L).contains(i.toLong))
    // the planted dup's vector lands in (or within nProbe of) the base
    // vector's cluster — near-certain for cos≈1
    assert(hits >= 27, s"IVF planted-dup recall $hits/30")
  }

  test("multimodal near-dup finds planted payload duplicates end-to-end") {
    import graft.operators.{Multimodal, Similarity}
    val docs = graft.sources.Tables.load(spark, sf, "documents")
      .select("doc_id", "text")
    // plant: byte-identical copies under new ids — identical text means
    // an identical encoded PNG, hence identical fingerprints (cosine 1)
    val planted = docs.filter(col("doc_id") < 20)
      .select((col("doc_id") + 100000).as("doc_id"), col("text"))
    val emb = Multimodal.embedBytes(spark,
      Multimodal.withPayload(docs.unionAll(planted)))
    // determinism: same payload, same embedding across runs
    val e1 = emb.filter(col("doc_id") === 0).collect().head.getSeq[Float](1)
    val e2 = Multimodal.embedBytes(spark, Multimodal.withPayload(docs))
      .filter(col("doc_id") === 0).collect().head.getSeq[Float](1)
    assert(e1 == e2)
    val found = Similarity.neardupPairsLsh(
        Similarity.quantize(emb, "embedding", "doc_id"), threshold = 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val hits = (0 until 20).count(i => found.contains((i.toLong, i + 100000L)))
    assert(hits == 20, s"multimodal near-dup recall $hits/20: cosine-1 pairs share buckets")
  }

  test("multimodal decode round-trip: encoded W×H and pixel content come back exactly") {
    import java.awt.image.BufferedImage
    import java.io.ByteArrayOutputStream
    import javax.imageio.ImageIO
    import spark.implicits._
    // two hand-built images with KNOWN pixel content, encoded by
    // ImageIO in the test: a solid color (means are the color) and a
    // gradient (means computed by the same loop that fills it) — if
    // decodeMeta echoed metadata instead of scanning the raster, or
    // misread a dimension by one pixel, these exact checks fail
    def png(img: BufferedImage): Array[Byte] = {
      val b = new ByteArrayOutputStream(); ImageIO.write(img, "png", b); b.toByteArray
    }
    val solid = new BufferedImage(37, 21, BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until 37; y <- 0 until 21) solid.setRGB(x, y, (10 << 16) | (200 << 8) | 77)
    val grad = new BufferedImage(64, 32, BufferedImage.TYPE_INT_RGB)
    var (sr, sg, sb) = (0L, 0L, 0L)
    for (x <- 0 until 64; y <- 0 until 32) {
      val (r, g, b) = (x % 256, (y * 7) % 256, (x + y) % 256)
      sr += r; sg += g; sb += b
      grad.setRGB(x, y, (r << 16) | (g << 8) | b)
    }
    val n = 64L * 32
    val payloads = Seq((1L, png(solid)), (2L, png(grad)),
      (3L, Array[Byte](1, 2, 3))).toDF("doc_id", "payload")
    val meta = Multimodal.decodeMeta(spark, payloads)
      .collect().map(m => m.doc_id -> m).toMap
    assert(meta(1L).width == 37 && meta(1L).height == 21)
    assert((meta(1L).mean_r, meta(1L).mean_g, meta(1L).mean_b) == ((10, 200, 77)))
    assert(meta(1L).mime == "image/png")
    assert(meta(2L).width == 64 && meta(2L).height == 32)
    assert((meta(2L).mean_r.toLong, meta(2L).mean_g.toLong, meta(2L).mean_b.toLong)
      == ((sr / n, sg / n, sb / n)))
    // undecodable bytes degrade to a typed "unknown" row, never a crash
    assert(meta(3L).width == -1 && meta(3L).mime == "application/octet-stream")
  }

  test("payload store: builds exactly once, then serves bytes identical to a fresh encode") {
    val docs = graft.sources.Tables.load(spark, sf, "documents")
      .select("doc_id", "text")
    val root = java.nio.file.Files
      .createTempDirectory("graft-media-spec-").toString
    def bytesOf(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Byte]] =
      df.select("doc_id", "payload").collect()
        .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    val stored = bytesOf(Multimodal.ensurePayloads(docs, root))
    // byte-identical to a fresh encode — reading the store is
    // indistinguishable from re-running the encoder
    assert(stored == bytesOf(Multimodal.withPayload(docs)))
    // the second call READS: the _SUCCESS marker is not rewritten
    val marker = new java.io.File(s"$root/payloads/_SUCCESS")
    assert(marker.exists())
    val mtime = marker.lastModified()
    assert(bytesOf(Multimodal.ensurePayloads(docs, root)) == stored)
    assert(marker.lastModified() == mtime,
      "second ensurePayloads rebuilt the store instead of reading it")
  }

  test("corpus payloads are real PNGs whose decoded dims match the md5 contract") {
    val docs = graft.sources.Tables.load(spark, sf, "documents")
    val withP = Multimodal.withPayload(docs)
    // n_bytes is the true encoded length and every payload carries the
    // PNG signature
    assert(withP.filter(octet_length(col("payload")) =!= col("n_bytes")).count() == 0)
    assert(withP.filter(hex(substring(col("payload"), 1, 4)) =!= lit("89504E47")).count() == 0)
    // decoded dims == the md5-derived params q34's oracle recomputes,
    // for every document (a full encode→decode round trip on the corpus)
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val meta = Multimodal.decodeMeta(spark, withP).collect()
    assert(meta.length == texts.size)
    meta.foreach { m =>
      val (w, h, _) = Multimodal.imageParams(texts(m.doc_id))
      assert(m.width == w && m.height == h,
        s"doc ${m.doc_id}: decoded ${m.width}x${m.height}, encoded ${w}x$h")
      assert(m.mime == "image/png")
    }
    // determinism across runs (same text → byte-identical PNG → same
    // decode), the property q34's hash oracle rides on
    val run1 = Registry.byName("q34_multimodal_decode").fn(spark, sf).collect()
    val run2 = Registry.byName("q34_multimodal_decode").fn(spark, sf).collect()
    assert(run1.toSet == run2.toSet)
  }

  test("perceptual hash pairs rescaled copies with originals — where byte fingerprints cannot") {
    import graft.operators.{Multimodal, Similarity}
    val docs = graft.sources.Tables.load(spark, sf, "documents")
      .select("doc_id", "text").filter(col("doc_id") < 25)
    val payloads = Multimodal.withPayload(docs)
    val rescaled = Multimodal.resizePng(spark, payloads, targetWidth = 128)
      .select((col("doc_id") + 20000000L).as("doc_id"), col("payload"))
    val all = payloads.select("doc_id", "payload").unionByName(rescaled)
    // determinism across runs
    val h1 = Multimodal.perceptualHash(spark, all).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val h2 = Multimodal.perceptualHash(spark, all).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h1 == h2)
    assert(h1.size == 50)
    // EVERY rescaled copy pairs with its own original within Hamming 7
    val pairs = Multimodal.perceptualDupPairs(
        Multimodal.perceptualHash(spark, all))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (0L until 25L).foreach { i =>
      assert(pairs.contains((i, i + 20000000L)),
        s"doc $i: rescaled copy not recovered (hamming > 7)")
    }
    // the contrast that justifies the operator: the BYTE-level
    // fingerprint (q45's embedBytes) finds NONE of these pairs — a
    // resized PNG shares no compressed bytes with its source
    val bytePairs = Similarity.neardupPairsLsh(
        Similarity.quantize(Multimodal.embedBytes(spark, all),
          "embedding", "doc_id"), threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((0L until 25L).forall(i => !bytePairs.contains((i, i + 20000000L))),
      "byte-level fingerprints unexpectedly matched a rescaled copy — " +
        "the perceptual operator would be redundant")
  }

  test("DotProductL (codegen) equals the declarative zip_with/aggregate dot") {
    import graft.functions.{VectorFunctions => V}
    import graft.functions.expressions.GraftExpressions.dotQFast
    val e = graft.sources.Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), V.quantize(col("embedding")).as("qv"))
    val a = e.as("a")
    val b = e.as("b")
    val mismatches = a.join(b, col("a.vec_id") < col("b.vec_id"))
      .filter(col("a.vec_id") < 30 && col("b.vec_id") < 60)
      .select(
        V.dotQ(col("a.qv"), col("b.qv")).as("slow"),
        dotQFast(col("a.qv"), col("b.qv")).as("fast"))
      .filter(col("slow") =!= col("fast")).count()
    assert(mismatches == 0)
  }

  test("MinHashSig: length k, identical inputs share signatures, estimates Jaccard") {
    import graft.functions.{TextFunctions => T}
    import graft.functions.expressions.GraftExpressions.{minhashSig, shingleHashes}
    val docs = graft.sources.Tables.load(spark, sf, "documents")
    val d = docs
      .select(col("doc_id"), shingleHashes(T.words(col("text")), 3).as("shs"))
      .withColumn("sig", minhashSig(col("shs"), 64))
    // only shingle hashes are signed: any other element type fails analysis
    intercept[org.apache.spark.sql.AnalysisException](
      docs.select(minhashSig(T.words(col("text")), 64)))
    assert(d.filter(size(col("sig")) =!= 64).count() == 0)
    // a doc joined to itself: all 64 positions equal => estimate 1.0
    val self = d.as("a").join(d.as("b"), col("a.doc_id") === col("b.doc_id"))
      .select(size(array_intersect(col("a.sig"), col("b.sig"))).as("eq")).limit(5)
      .collect()
    assert(self.forall(_.getInt(0) == 64))
  }

  test("multimodal resize: real rescale with aspect-true dims, deterministic, corrupt-safe") {
    import graft.operators.Multimodal
    val docs = graft.sources.Tables.load(spark, sf, "documents").limit(50)
    val payloads = Multimodal.withPayload(docs)
    val src = Multimodal.decodeMeta(spark, payloads).collect()
      .map(m => m.doc_id -> m).toMap
    val resized = Multimodal.resizePng(spark, payloads, targetWidth = 320)
    val rows = resized.collect()
    assert(rows.length == 50)
    rows.foreach { r =>
      val m = src(r.getLong(0))
      val expH = math.max(1, math.round(m.height.toDouble * 320 / m.width).toInt)
      assert(r.getAs[Int]("width") == 320)
      assert(r.getAs[Int]("height") == expH,
        s"doc ${r.getLong(0)}: ${m.width}x${m.height} → 320 expects h=$expH, " +
          s"got ${r.getAs[Int]("height")}")
    }
    // the OUTPUT payload is itself a decodable PNG of the claimed dims
    val roundTrip = Multimodal.decodeMeta(spark,
      resized.select("doc_id", "payload")).collect()
    assert(roundTrip.forall(m => m.width == 320 &&
      m.height == math.max(1, math.round(src(m.doc_id).height.toDouble * 320 /
        src(m.doc_id).width).toInt)))
    // deterministic: same input, same bytes
    val again = Multimodal.resizePng(spark, payloads, targetWidth = 320)
      .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]]("payload").toSeq)).toMap
    assert(rows.forall(r =>
      again(r.getLong(0)) == r.getAs[Array[Byte]]("payload").toSeq))
    // empty/corrupt payloads pass through with 0x0 dims, never a crash
    import spark.implicits._
    val bad = Multimodal.resizePng(spark,
      Seq((99L, Array.empty[Byte]), (98L, Array[Byte](9, 9, 9)))
        .toDF("doc_id", "payload"), targetWidth = 320)
      .collect().map(r => r.getLong(0) ->
        ((r.getAs[Array[Byte]]("payload").toSeq, r.getAs[Int]("width")))).toMap
    assert(bad(99L) == ((Seq.empty[Byte], 0)))
    assert(bad(98L) == ((Seq[Byte](9, 9, 9), 0)))
  }

  test("MaxMultiplicity counts the densest element in one pass") {
    import spark.implicits._
    import graft.functions.expressions.GraftExpressions.maxMultiplicity
    val got = Seq(
      (1L, Seq(7L, 7L, 7L, 1L, 2L)),
      (2L, Seq(1L, 2L, 3L)),
      (3L, Seq.empty[Long]))
      .toDF("id", "xs")
      .select(col("id"), maxMultiplicity(col("xs")).as("m"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 3L, 2L -> 1L, 3L -> 0L))
  }

  test("quality filter keep flag implies every Gopher rule holds") {
    val df = Registry.byName("q47_quality_filter").fn(spark, sf)
    val kept = df.filter(col("keep") === 1L)
    assert(kept.count() > 0, "no documents pass the quality filter")
    val violations = kept.filter(
      !col("n_tokens").between(50, 100000) ||
        !col("mean_word_len").between(3, 10) ||
        col("symbol_ratio") >= 0.1 || col("n_stop") < 2).count()
    assert(violations == 0)
  }

  test("repetition metrics are well-formed ratios") {
    val df = Registry.byName("q48_repetition").fn(spark, sf)
    assert(df.filter(col("distinct_ratio") <= 0.0 ||
      col("distinct_ratio") > 1.0).count() == 0)
    assert(df.filter(col("top_bigram_frac") < 0.0 ||
      col("top_bigram_frac") > 1.0).count() == 0)
    // a repeated bigram can't exceed the doc's bigram count
    assert(df.filter(col("top_bigram_n") > col("n_tokens") - 1 &&
      col("n_tokens") >= 2).count() == 0)
  }

  test("embedding dedup end-to-end: canonicals are component minima over the pair graph") {
    val resolved = Registry.byName("q49_embedding_dedup").fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(resolved.nonEmpty, "no near-dup components found")
    // canonical never exceeds the member id (min-label semantics)
    assert(resolved.forall { case (v, c) => c <= v })
    // both endpoints of every verified pair resolve to the same canonical
    val pairs = Registry.byName("q43_embedding_neardup_lsh").fn(spark, sf)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    assert(pairs.forall { case (a, b) => resolved(a) == resolved(b) },
      "pair endpoints landed in different components")
  }

  test("quantized cosine is symmetric and self-similarity is 1") {
    import graft.functions.{VectorFunctions => V}
    val e = graft.sources.Tables.load(spark, sf, "embeddings").limit(50)
      .select(col("vec_id"), V.quantize(col("embedding")).as("qv"))
      .withColumn("nsq", V.dotQ(col("qv"), col("qv")))
    val selfSim = e.select(
      V.cosineFrom(V.dotQ(col("qv"), col("qv")), col("nsq"), col("nsq")).as("c"))
      .filter(abs(col("c") - 1.0) > 1e-12).count()
    assert(selfSim == 0)
  }

  test("bm25 over a query table matches q50's fixed-term scores") {
    import spark.implicits._
    val docs = graft.sources.Tables.load(spark, sf, "documents")
    val q50terms = Seq("join", "filter", "agg", "query", "group", "sort")
    val queries = q50terms.map(("relevance", _)).toDF("query_id", "term")
    val got = graft.operators.Relevance.bm25(docs, queries)
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    val expected = Registry.byName("q50_bm25").fn(spark, sf)
      .select("doc_id", "bm25_q4").collect()
      .map(r => r.getLong(0) -> r.getLong(1) / 10000.0).toMap
    assert(got.nonEmpty)
    // every nonzero q50 score is reproduced (1e-9 rel: the operator sums
    // per-term scores in aggregation order, q50 in fixed textual order);
    // docs with no matching term are legitimately absent (score 0)
    expected.foreach { case (doc, e) =>
      if (e != 0.0) {
        val g = got.getOrElse(doc, 0.0)
        assert(math.abs(g - e) <= math.max(1e-9 * math.abs(e), 5e-5),
          s"doc $doc: got $g, q50 $e")
      }
    }
    got.keys.foreach(doc => assert(expected.contains(doc)))

    // multi-query: a second query over disjoint terms scores independently
    val two = graft.operators.Relevance.bm25(docs,
      (q50terms.map(("a", _)) ++ Seq(("b", "join"))).toDF("query_id", "term"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val bOnly = two.collect { case (("b", d), s) => d -> s }
    assert(bOnly.nonEmpty)
    // query b's scores are exactly the "join"-term component — always
    // <= the full 6-term score for the same doc
    bOnly.foreach { case (d, s) =>
      assert(s <= two(("a", d)) + 1e-12, s"doc $d: single-term $s > multi")
    }

    // a duplicated (query_id, term) input row must not double-count the
    // term (scores are per-term sums, not qtf-weighted)
    val dup = graft.operators.Relevance.bm25(docs,
      (q50terms ++ Seq("join", "join")).map(("relevance", _)).toDF("query_id", "term"))
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    assert(dup == got, "duplicate query-term rows changed scores")
  }

  test("TopKByScore buffer contract: bounded, order-exact, shuffle-roundtrip-safe") {
    import graft.functions.expressions.TopKByScore
    import org.apache.spark.sql.catalyst.expressions.Literal
    val agg = TopKByScore(Literal(0.0), Literal(0L), k = 3)
    val buf = agg.createAggregationBuffer()
    // feed via merge of singleton buffers (the update path needs bound
    // input rows; merge exercises the same offer logic)
    def feed(pairs: (Double, Long)*): Unit = pairs.foreach { case (s, id) =>
      val one = agg.createAggregationBuffer(); one.add((s, id))
      agg.merge(buf, one)
    }
    feed((0.5, 10L), (0.9, 3L), (0.9, 1L), (0.1, 7L), (0.7, 2L), (0.9, 5L))
    assert(buf.size == 3, "buffer exceeded k")
    // serialize -> deserialize (the partial->final shuffle path)
    val restored = agg.deserialize(agg.serialize(buf))
    val out = agg.eval(restored)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val rows = (0 until out.numElements()).map { i =>
      val r = out.getStruct(i, 2); (r.getDouble(0), r.getLong(1))
    }
    // best-first: score desc, id asc on ties — 0.9@1, 0.9@3, 0.9@5
    assert(rows == Seq((0.9, 1L), (0.9, 3L), (0.9, 5L)), rows.toString)
  }

  test("bounded top-k aggregate == row_number window ranking (ties included)") {
    import graft.operators.Similarity
    import org.apache.spark.sql.expressions.Window
    val corpus = Similarity.quantize(
      graft.sources.Tables.load(spark, sf, "embeddings"), "embedding", "vec_id")
    val got = Similarity.knnTopK(corpus, corpus.filter(col("vec_id") < 20), k = 10)
      .collect().map(r => (r.getLong(0), r.getInt(3)) ->
        (r.getLong(1), r.getDouble(2))).toMap
    // reference: the window form this aggregate replaced
    val q = corpus.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("qv").as("qqv"), col("nsq").as("qnsq"))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    val ref = corpus.join(broadcast(q), col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        graft.functions.VectorFunctions.cosineFrom(
          graft.functions.expressions.GraftExpressions.dotQFast(col("qqv"), col("qv")),
          col("qnsq"), col("nsq")).as("cosine"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 10)
      .collect().map(r => (r.getLong(0), r.getInt(3)) ->
        (r.getLong(1), r.getDouble(2))).toMap
    assert(got == ref)
  }

  test("portable sign-LSH twin emits only true pairs, bit-equal to the exact path") {
    import graft.operators.Similarity
    val corpus = Similarity.quantize(
      graft.sources.Tables.load(spark, sf, "embeddings"), "embedding", "vec_id")
    val exact = Similarity.exactNeardupPairs(corpus, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val twin = Similarity.portableSignLshPairs(corpus, threshold = 0.4).collect()
    assert(twin.nonEmpty)
    twin.foreach { r =>
      val k = (r.getLong(0), r.getLong(1))
      assert(exact.contains(k), s"twin emitted non-pair $k")
      assert(exact(k) == r.getDouble(2), s"cosine bits differ at $k")
    }
  }

  test("tfidf postings: tf sums to doc length, df counts posting docs, idf monotone") {
    import graft.operators.Relevance
    import graft.functions.{TextFunctions => T}
    val docs = graft.sources.Tables.load(spark, sf, "documents")
    val p = Relevance.tfidfPostings(docs).cache()
    // per-doc tf mass == token count
    val tfSum = p.groupBy("doc_id").agg(sum("tf").as("s"))
      .join(docs.select(col("doc_id"), size(T.words(col("text"))).as("n")), "doc_id")
      .filter(col("s") =!= col("n")).count()
    assert(tfSum == 0, "tf mass != token count")
    // df == distinct docs carrying the term
    val dfBad = p.groupBy("term").agg(max("df").as("df"),
        countDistinct("doc_id").as("n")).filter(col("df") =!= col("n")).count()
    assert(dfBad == 0, "df != posting-list length")
    // rarer terms weigh more: idf_q = tfidf_q/tf strictly decreases in df
    val idf = p.select((col("tfidf_q") / col("tf")).as("idf"), col("df"))
      .distinct().collect().map(r => r.getLong(1) -> r.getDouble(0))
    idf.combinations(2).foreach { case Array((d1, i1), (d2, i2)) =>
      if (d1 < d2) assert(i1 > i2, s"idf not monotone: df=$d1→$i1, df=$d2→$i2")
      else if (d1 > d2) assert(i1 < i2, s"idf not monotone: df=$d1→$i1, df=$d2→$i2")
    }
    p.unpersist()
  }

  test("bigram LM matches a hand-computed add-one model") {
    import spark.implicits._
    import graft.operators.LangModel
    // corpus: "a b a" and "b a"; bigrams: (a,b) (b,a) | (b,a)
    // c2: (a,b)=1, (b,a)=2; c1: a=1, b=2; V=2
    val docs = Seq((1L, "a b a"), (2L, "b a")).toDF("doc_id", "text")
    val got = LangModel.bigramNll(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    def q(c2: Long, c1: Long): Long =
      math.round(-math.log((c2 + 1.0) / (c1 + 2.0)) * 1000000.0)
    val ab = q(1, 1); val ba = q(2, 2)
    assert(got(1L) == ((2L, ab + ba, (ab + ba).toDouble / 2 / 1000000.0)))
    assert(got(2L) == ((1L, ba, ba.toDouble / 1000000.0)))
  }

  test("chunk dedup drops cross-doc AND within-doc repeats, reassembles in order") {
    import spark.implicits._
    import graft.operators.Dedup
    val docs = Seq(
      (1L, "p q r s"),       // chunks (2w): "p q", "r s"
      (2L, "p q x y p q"),   // "p q" (dup of doc1), "x y", "p q" (within-doc dup)
      (3L, "r s")            // fully duplicated -> empty reassembly
    ).toDF("doc_id", "text")
    val got = Dedup.chunkDedup(docs, "text", "doc_id", chunkWords = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
      .toMap
    assert(got(1L) == ((2L, 2L, "p q r s")))
    assert(got(2L) == ((3L, 1L, "x y")))
    assert(got(3L) == ((1L, 0L, "")))
    // carry names that collide with chunked()'s internals are rejected
    // up front instead of failing downstream with ambiguous columns
    val e = intercept[IllegalArgumentException] {
      Dedup.chunked(docs.withColumn("chunk", lit(1)), "text", "doc_id",
        chunkWords = 2, carry = Seq("chunk"))
    }
    assert(e.getMessage.contains("collide"))
  }

  test("paragraph chunking: breaks are hard boundaries, long paragraphs window, no breaks = fixed mode") {
    import spark.implicits._
    import graft.operators.Dedup
    val docs = Seq(
      // two paragraphs; fixed 2w-chunking of the same text would cut
      // "b c" across the break — paragraph mode must NOT
      (1L, "a b\n\nc d e"),
      // over-long paragraph (5 words > 2): windows WITHIN it
      (2L, "p q r s t"),
      // multiple blank lines collapse to one boundary; blank para dropped
      (3L, "x y\n\n\n\nz"),
      (4L, null.asInstanceOf[String]), // null text: one empty chunk
      // CRLF corpora split too (bare \n{2,} would silently miss these)
      (5L, "m n\r\n\r\no p")
    ).toDF("doc_id", "text")
    val chunks = Dedup.chunked(docs, "text", "doc_id", chunkWords = 2,
        splitParagraphs = true)
      .collect()
      .groupBy(_.getLong(0))
      .map { case (k, rs) =>
        k -> rs.sortBy(_.getLong(1)).map(r => r.getLong(1) -> r.getString(2)).toSeq }
    assert(chunks(1L) == Seq(0L -> "a b", 1L -> "c d", 2L -> "e"),
      s"paragraph break not honored: ${chunks(1L)}")
    assert(chunks(2L) == Seq(0L -> "p q", 1L -> "r s", 2L -> "t"))
    assert(chunks(3L) == Seq(0L -> "x y", 1L -> "z"))
    assert(chunks(4L) == Seq(0L -> ""))
    assert(chunks(5L) == Seq(0L -> "m n", 1L -> "o p"),
      s"CRLF paragraph break not honored: ${chunks(5L)}")
    // a break-free corpus degrades to exactly the fixed mode
    val free = Seq((9L, "u v w x y")).toDF("doc_id", "text")
    val fixed = Dedup.chunked(free, "text", "doc_id", chunkWords = 2)
      .collect().map(r => (r.getLong(1), r.getString(2))).toSet
    val para = Dedup.chunked(free, "text", "doc_id", chunkWords = 2,
        splitParagraphs = true)
      .collect().map(r => (r.getLong(1), r.getString(2))).toSet
    assert(fixed == para)
    // end-to-end: a repeated PARAGRAPH dedups whole even though its
    // fixed-window phrasing differs (offset within the doc)
    val web = Seq(
      (1L, "nav bar home\n\nunique one content here"),
      (2L, "extra lead word\n\nnav bar home\n\nunique two content")
    ).toDF("doc_id", "text")
    val got = Dedup.chunkDedup(web, "text", "doc_id", chunkWords = 8,
        splitParagraphs = true)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(got(1L) == "nav bar home unique one content here")
    assert(got(2L) == "extra lead word unique two content",
      "repeated paragraph survived in doc 2 — fixed windows would have " +
        s"missed the offset repeat: ${got(2L)}")
  }

  test("dupSpanStrip: sliding dup windows merge to regions, keep-first wins, short docs pass whole") {
    import spark.implicits._
    import graft.operators.Dedup
    val docs = Seq(
      (1L, "a b c d e f g h"),  // owns the shared run — first occurrence, intact
      // shares doc1's "a b c d e" at a DIFFERENT alignment (chunk
      // dedup at any fixed boundary would miss it): flagged 3-gram
      // starts p=2,3,4 merge to covered positions {2..6} — removed as
      // ONE 5-token region, not 3×3 tokens
      (2L, "z z a b c d e q"),
      (3L, "u v"),              // shorter than the window: no gram, intact
      // within-doc repeat: second "m n o"/"n o p" occurrences flagged,
      // covered {4..7}
      (4L, "m n o p m n o p"),
      (5L, "")                  // empty text: one empty token, intact
    ).toDF("doc_id", "text")
    val got = Dedup.dupSpanStrip(docs, "text", "doc_id", spanWords = 3)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))))
      .toMap
    assert(got(1L) == ((8L, 0L, 8L, "a b c d e f g h")))
    assert(got(2L) == ((8L, 5L, 3L, "z z q")))
    assert(got(3L) == ((2L, 0L, 2L, "u v")))
    assert(got(4L) == ((8L, 4L, 4L, "m n o p")))
    assert(got(5L) == ((1L, 0L, 1L, "")))
  }

  test("boilerplate strip removes >= minDf chunks from EVERY doc (no owner), keeps unique content") {
    import spark.implicits._
    import graft.operators.Dedup
    val docs = Seq(
      (1L, "b p u1 u2"),  // chunks (2w): "b p" (df=3), "u1 u2"
      (2L, "b p v1 v2"),
      (3L, "b p"),        // all boilerplate -> empty reassembly
      (4L, "w1 w2 b x")   // "b x" != "b p": chunking is positional, unique
    ).toDF("doc_id", "text")
    val got = Dedup.boilerplateStrip(docs, "text", "doc_id",
        chunkWords = 2, minDf = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
      .toMap
    // unlike chunkDedup, NO occurrence of the df>=3 chunk survives —
    // not even a "first" one
    assert(got(1L) == ((2L, 1L, "u1 u2")))
    assert(got(2L) == ((2L, 1L, "v1 v2")))
    assert(got(3L) == ((1L, 0L, "")))
    assert(got(4L) == ((2L, 2L, "w1 w2 b x")))
  }

  test("semdedup: keep-set is mutually dissimilar per cluster and covers every drop") {
    import graft.operators.Similarity
    val corpus = Similarity.quantize(
      graft.sources.Tables.load(spark, sf, "embeddings"), "embedding", "vec_id")
    val out = Similarity.semdedupAssigned(
      Similarity.kmeansIndex(corpus, k = 8, iters = 2)._1, threshold = 0.4).cache()
    assert(out.count() == corpus.count(), "one row per vector")
    // exact within-cluster pairs >= threshold, computed independently
    val tagged = corpus.join(out.select("vec_id", "cluster", "keep"), "vec_id")
    val pairs = tagged.as("a").join(tagged.as("b"),
        col("a.cluster") === col("b.cluster") && col("a.vec_id") < col("b.vec_id"))
      .filter(graft.functions.VectorFunctions.cosineFrom(
        graft.functions.expressions.GraftExpressions.dotQFast(col("a.qv"), col("b.qv")),
        col("a.nsq"), col("b.nsq")) >= 0.4)
      .select(col("a.vec_id"), col("b.vec_id"), col("a.keep"), col("b.keep"))
      .collect()
    assert(pairs.nonEmpty)
    // no near-dup pair survives with both sides kept
    val bothKept = pairs.count(r => r.getBoolean(2) && r.getBoolean(3))
    assert(bothKept == 0, s"$bothKept near-dup pairs fully kept")
    // every dropped vector is justified by membership in >=1 such pair
    val inPairs = pairs.flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    val unjustified = out.filter(!col("keep")).collect()
      .map(_.getLong(0)).filterNot(inPairs.contains)
    assert(unjustified.isEmpty, s"dropped without cause: ${unjustified.take(5).toSeq}")
    out.unpersist()
  }

  test("PQ-ADC finds planted near-duplicates and zero-distance exact codes") {
    import graft.operators.Similarity
    val base = graft.sources.Tables.load(spark, sf, "embeddings")
    val corpus = Similarity.quantize(base, "embedding", "vec_id")
    val cb = Similarity.pqTrain(corpus)
    // planted: exact copies under new ids — ADC(query, copy) is the
    // minimum achievable for the copy's codes, so top-1 must be the base
    val planted = Similarity.quantize(
      base.filter(col("vec_id") < 30)
        .select((col("vec_id") + 100000).as("vec_id"), col("embedding")),
      "embedding", "vec_id")
    val top1 = Similarity.annPqTopK(corpus, planted, k = 1, cb)
      .filter(col("rn") === 1).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val hits = (0 until 30).count(i => top1.get(i + 100000L).exists(_._1 == i.toLong))
    assert(hits >= 27, s"PQ planted-dup recall $hits/30")
    // an exact copy's ADC distance equals the corpus vector's own
    // quantization error — strictly below any non-identical candidate's
    // in the hit cases, and deterministic across runs
    val again = Similarity.annPqTopK(corpus, planted, k = 1, cb)
      .filter(col("rn") === 1).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(top1 == again, "PQ ranking not deterministic")
  }

  test("IVF-PQ finds planted duplicates through probe + ADC composition") {
    import graft.operators.Similarity
    val base = graft.sources.Tables.load(spark, sf, "embeddings")
    val corpus = Similarity.quantize(base, "embedding", "vec_id")
    val (indexed, cents) = Similarity.kmeansIndex(corpus, k = 8, iters = 2)
    val cb = Similarity.pqTrain(corpus)
    // exact copies: the copy's top cosine centroid IS the base's
    // assigned cluster, so nProbe>=1 probes it; ADC then ranks the
    // base first (its codes minimize the copy's tables)
    val planted = Similarity.quantize(
      base.filter(col("vec_id") < 30)
        .select((col("vec_id") + 100000).as("vec_id"), col("embedding")),
      "embedding", "vec_id")
    val top1 = Similarity.annIvfPqTopK(indexed, cents, planted, k = 1,
        nProbe = 2, cb)
      .filter(col("rn") === 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hits = (0 until 30).count(i => top1.get(i + 100000L).contains(i.toLong))
    assert(hits >= 27, s"IVF-PQ planted-dup recall $hits/30")
  }

  test("fused fingerprintPair == declarative fingerprint/bagFingerprint (all docs + edges)") {
    import spark.implicits._
    import graft.functions.{TextFunctions => T}
    val docs = graft.sources.Tables.load(spark, sf, "documents")
      .select(col("text"))
      .unionAll(Seq("", " ", "  a  b ", "A.B,c!  D", "Ärger épée ß 42",
        "a\tb\nc", "same same same", "  ").toDF("text"))
    val mismatches = docs.select(
      T.fingerprintPair(col("text")).as("p"),
      T.fingerprint(col("text")).as("fp0"),
      T.bagFingerprint(T.words(col("text"))).as("bag0"))
      .filter(col("p.fp") =!= col("fp0") || col("p.bag_fp") =!= col("bag0"))
    assert(mismatches.count() == 0,
      mismatches.take(3).mkString("; "))
  }
}
