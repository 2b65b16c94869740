package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.operators.TextIndex
import graft.serve.SearchEndpoint

/** The reference's news-sources loop at retrieval grain: a RUNNING
  * stream upserts document batches into the persisted text index
  * ([[TextIndex.upsert]] inside foreachBatch) while [[SearchEndpoint]]
  * serves `/search?q=` over the same root between micro-batches — the
  * continuously-materialized store (NewsUpdateServiceImpl's refresh
  * loop) and the interactive query face, exercised together.
  *
  * Load-bearing assertions, after EACH of the two batches and after a
  * replay of the second:
  *  - the same query's hit set GROWS with the fed docs;
  *  - the served body equals BYTE-FOR-BYTE the answer of a FRESH index
  *    rebuilt over everything fed so far (upsert ≡ rebuild at the
  *    serving face, read over HTTP);
  *  - re-applying a batch's write, as a replayed micro-batch does,
  *    leaves the served body unchanged (the batch step is idempotent).
  *
  * Queries run BETWEEN batches: upsert holds the cross-process build
  * lock and drops the commit marker while rewriting, so a probe
  * DURING the rewrite fails fast by design — the loop here is
  * materialize-then-serve, the reference's own cadence. */
class LiveSearchSpec extends SparkSpec {

  private lazy val client = HttpClient.newHttpClient()

  private def get(port: Int, path: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .GET().build(),
      HttpResponse.BodyHandlers.ofString())

  private def docs(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix)
      .toFile.getAbsolutePath + "/idx"

  test("search hits grow across stream-appended batches and equal a rebuild after each") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val initial = Seq(
      (1L, "zzuniq alpha beta"),
      (2L, "alpha beta gamma delta"),
      (3L, "gamma delta epsilon"))
    val batch1 = Seq((10L, "zzuniq alpha gamma"))
    val batch2 = Seq((20L, "zzuniq beta"), (21L, "delta epsilon"))

    val root = tmp("livesearch")
    TextIndex.build(docs(initial: _*), root)

    val write = (b: DataFrame, _: Long) => TextIndex.upsert(b, root)
    val ms = MemoryStream[(Long, String)]
    val q = ms.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch(write)
      .start()
    val handle = SearchEndpoint.start(spark, root)
    try {
      def servedIds(term: String): Seq[Long] =
        "\"doc_id\":(\\d+)".r.findAllMatchIn(get(handle.port,
          s"/search?q=$term").body()).map(_.group(1).toLong).toSeq.sorted
      def servedBody(term: String): String =
        get(handle.port, s"/search?q=$term").body()
      def rebuildBody(term: String, fed: Seq[(Long, String)]): String = {
        val r = tmp("livesearch-rebuild")
        TextIndex.build(docs(fed: _*), r)
        SearchEndpoint.hits(spark, r, Seq(term), fuzzy = false)
          .map { case (d, s, rn) =>
            s"""{"doc_id":$d,"score_u6":$s,"rn":$rn}"""
          }.mkString("[", ",", "]")
      }

      // before any append: the built index answers from the initial docs
      assert(servedIds("zzuniq") == Seq(1L))

      // append 1 through the RUNNING stream → the hit set grows and
      // the served bytes equal a from-scratch rebuild over the union
      ms.addData(batch1)
      q.processAllAvailable()
      assert(servedIds("zzuniq") == Seq(1L, 10L),
        s"append 1 not visible: ${servedIds("zzuniq")}")
      assert(servedBody("zzuniq") ==
        rebuildBody("zzuniq", initial ++ batch1),
        "served body diverged from the rebuild after append 1")

      // append 2: grows again, rebuild-equal again — and a term the
      // appends never touched still answers identically
      ms.addData(batch2)
      q.processAllAvailable()
      assert(servedIds("zzuniq") == Seq(1L, 10L, 20L),
        s"append 2 not visible: ${servedIds("zzuniq")}")
      assert(servedBody("zzuniq") ==
        rebuildBody("zzuniq", initial ++ batch1 ++ batch2),
        "served body diverged from the rebuild after append 2")
      assert(servedBody("epsilon") ==
        rebuildBody("epsilon", initial ++ batch1 ++ batch2),
        "untouched-term body diverged from the rebuild")

      // batch 2's write once more, as a replayed micro-batch: the index
      // must not count its documents twice
      write(docs(batch2: _*), 1L)
      assert(servedBody("zzuniq") ==
        rebuildBody("zzuniq", initial ++ batch1 ++ batch2),
        "served body diverged from the rebuild after replaying batch 2")
    } finally {
      handle.stop()
      q.stop()
    }
  }
}
