package graft.serve

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.TextIndex
import graft.serve.Routes.{Reply, Route}

/** PARAMETERIZED retrieval serving over the persisted text index —
  * the search face the fixed-route layers ([[HttpEndpoint]]'s charts,
  * [[LiveEndpoint]]'s state/sketch views) don't cover: the query
  * arrives IN the request. Two routes on the JDK http server:
  *
  *  - `GET /search?q=<terms>`       — exact-term BM25 top-10
  *    ([[TextIndex.bm25Micros]] + the bounded-heap top-k);
  *  - `GET /search/fuzzy?q=<terms>` — the q276 "did you mean" path
  *    ([[TextIndex.fuzzyBm25]], Levenshtein-1 dictionary expansion).
  *
  * Bodies are JSON arrays of {doc_id, score_u6, rn} — the SAME exact
  * integer micros the oracled q179/q276 emit, so the spec pins the
  * HTTP body against the registered query machinery directly. A
  * missing or empty `q` is a 400; terms split on whitespace after
  * standard URL decoding. Request order: [[Routes]].
  *
  * Scale posture: each GET is one Spark job whose plan partition-
  * prunes to the query terms' buckets (exact path) or joins the
  * vocabulary-grain dictionary (fuzzy path); the server collects only
  * the ≤ 10-row answer. The index builds once ([[TextIndex.ensure]])
  * before serving — probe-only requests, the build-once/probe-many
  * contract. */
object SearchEndpoint {

  private def parseQ(rawQuery: Option[String]): Option[Seq[String]] =
    rawQuery.getOrElse("").split("&").collectFirst {
      case p if p.startsWith("q=") =>
        java.net.URLDecoder
          .decode(p.stripPrefix("q="), StandardCharsets.UTF_8)
          .split("\\s+").filter(_.nonEmpty).toSeq
    }.filter(_.nonEmpty)

  private[graft] def hits(spark: SparkSession, root: String,
      terms: Seq[String], fuzzy: Boolean): Seq[(Long, Long, Long)] = {
    import spark.implicits._
    val q = terms.map(t => (1L, t)).toDF("query_id", "term")
    val ranked =
      if (fuzzy) TextIndex.fuzzyBm25(spark, root, q, maxDist = 1, k = 10)
      else {
        val scored = TextIndex.bm25Micros(spark, root, q)
        graft.operators.Sampling.quotaPerGroup(scored, Seq("query_id"),
          col("score_u6").cast("double"), col("doc_id"), 10)
          .select(col("query_id"), col("id").as("doc_id"),
            col("score").cast("long").as("score_u6"), col("rn"))
      }
    ranked.orderBy(col("rn"))
      .select(col("doc_id"), col("score_u6"), col("rn").cast("long"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
  }

  /** Serve the index at `root` on `port` (0 = ephemeral). The index
    * must already be built — probe-only serving fails fast otherwise
    * (the [[TextIndex]] readiness contract). */
  def start(spark: SparkSession, root: String, port: Int = 0): Handle = {
    def search(fuzzy: Boolean)(req: Routes.Request): Reply =
      parseQ(req.rawQuery).fold(Reply.text(400, "missing or empty q parameter"))(
        terms => Reply.jsonArray(hits(spark, root, terms, fuzzy).map {
          case (d, s, rn) => s"""{"doc_id":$d,"score_u6":$s,"rn":$rn}"""
        }))
    Routes.serve(port, Seq(
      Route("/search")(search(fuzzy = false)),
      Route("/search/fuzzy")(search(fuzzy = true))))
  }
}
