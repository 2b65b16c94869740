package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.{KeyedHash, KmvPoint, KmvTracker}

/** KmvTracker: batch-stream duality with q259's deterministic distinct
  * sketch — the strongest duality in the tracker family (a set of mins
  * is order- AND duplicate-immune, so the streaming final state is
  * BIT-identical to the batch aggregate, not merely within tolerance),
  * proved under a 3-way split with replayed (at-least-once) rows. */
class KmvStreamSpec extends SparkSpec {

  private def hashed = graft.sources.Tables.load(spark, sf, "events")
    .select(col("event_type").as("key"),
      (conv(substring(md5(col("user_id").cast("string")), 1, 12), 16, 10)
        .cast("long") + 1).as("h"))

  private def q259Expected: Map[String, Long] =
    graft.queries.Registry.byName("q259_kmv_distinct").fn(spark, sf)
      .select("event_type", "est").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  test("final streaming state is bit-identical to the batch sketch (q259)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val all = hashed.as[KeyedHash].collect()
    assert(all.nonEmpty)
    // 3 micro-batches: two prefix splits plus a REPLAY of the first
    // third (at-least-once delivery) — none of it may move a min
    val (a, rest) = all.splitAt(all.length / 3)
    val (b, c) = rest.splitAt(rest.length / 2)
    val ms = MemoryStream[KeyedHash]
    val q = KmvTracker.track(ms.toDS(), 256)
      .writeStream.format("memory").queryName("kmv_t")
      .outputMode("append").start()
    try {
      ms.addData(a.toSeq); q.processAllAvailable()
      ms.addData(b.toSeq); q.processAllAvailable()
      ms.addData((c ++ a).toSeq); q.processAllAvailable()
      val emissions = spark.table("kmv_t").as[KmvPoint].collect()
      // latest reading per key by `ver` — the tracker's monotone
      // per-key version counter — not by collect() row position, whose
      // order across batches/partitions is not contractual (ADVICE r11)
      val last = emissions.groupBy(_.key)
        .map { case (k, xs) => k -> xs.maxBy(_.ver) }
      assert(last.map { case (k, p) => k -> p.est } === q259Expected)
      // the batch k-th min must match the streaming one bit-for-bit
      val E = graft.functions.expressions.GraftExpressions
      val batchK = hashed.groupBy("key")
        .agg(E.kmvMins(col("h"), 256).as("sk"))
        .select(col("key"),
          expr("CASE WHEN size(sk) < 256 THEN 0L ELSE element_at(sk, 256) END")
            .as("hk"))
        .as[(String, Long)].collect().toMap
      assert(last.map { case (k, p) => k -> p.hK } === batchK)
      // estimates refined across batches (some intermediate reading)
      assert(emissions.length > last.size, "no intermediate readings")
    } finally q.stop()
  }

  test("live /distinct endpoint serves the RUNNING stream's latest sketch") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val client = java.net.http.HttpClient.newHttpClient()
    def get(port: Int, path: String): java.net.http.HttpResponse[String] =
      client.send(
        java.net.http.HttpRequest
          .newBuilder(java.net.URI.create(s"http://127.0.0.1:$port$path"))
          .GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
    val all = hashed.as[KeyedHash].collect()
    val (a, b) = all.splitAt(all.length / 10)
    // pick a key whose DISTINCT hash set provably grows in batch 2 —
    // otherwise the unchanged body would be correct behavior
    val distinctIn = (xs: Array[KeyedHash]) =>
      xs.groupBy(_.key).view.mapValues(_.map(_.h).toSet).toMap
    val dA = distinctIn(a)
    val key = distinctIn(all).collectFirst {
      case (k, s) if s.size > dA.getOrElse(k, Set.empty[Long]).size
        && dA.contains(k) => k
    }.getOrElse(fail("no key grows across the split — vacuous"))
    val ms = MemoryStream[KeyedHash]
    val q = graft.state.MaterializedViews
      .serveKmvAsView(ms.toDS(), 256, "live_kmv_spec")
    val handle = graft.serve.LiveEndpoint.startDistinct(spark, "live_kmv_spec")
    try {
      // before the first micro-batch: retryable 503, not a 404
      assert(get(handle.port, s"/distinct/$key").statusCode() == 503)
      ms.addData(a.toSeq); q.processAllAvailable()
      val r1 = get(handle.port, s"/distinct/$key")
      assert(r1.statusCode() == 200)
      ms.addData(b.toSeq); q.processAllAvailable()
      val r2 = get(handle.port, s"/distinct/$key")
      assert(r2.statusCode() == 200)
      assert(r2.body() != r1.body(),
        "HTTP body did not change with the second micro-batch")
      // the live body equals the batch aggregate over everything fed
      val E = graft.functions.expressions.GraftExpressions
      val exp = hashed.filter(col("key") === key)
        .groupBy("key").agg(E.kmvMins(col("h"), 256).as("sk"))
        .selectExpr("size(sk) AS n_sk",
          "CASE WHEN size(sk) < 256 THEN cast(size(sk) AS BIGINT) " +
            "ELSE 71776119061217280L div element_at(sk, 256) END AS est")
        .collect().head
      assert(r2.body() ==
        s"""{"key":"$key","n_sk":${exp.getInt(0)},"est":${exp.getLong(1)}}""",
        r2.body())
      // the summary lists every key, estimate-descending
      val body = get(handle.port, "/distinct").body()
      val ests = """"est":(-?\d+)""".r.findAllMatchIn(body)
        .map(_.group(1).toLong).toSeq
      assert(ests.size == all.map(_.key).distinct.size)
      assert(ests == ests.sortBy(-_))
      // routing discipline: unknown key and nested paths are 404,
      // non-GET 405
      assert(get(handle.port, "/distinct/nope").statusCode() == 404)
      assert(get(handle.port, s"/distinct/$key/x").statusCode() == 404)
      val post = client.send(
        java.net.http.HttpRequest
          .newBuilder(java.net.URI.create(s"http://127.0.0.1:${handle.port}/distinct"))
          .POST(java.net.http.HttpRequest.BodyPublishers.noBody()).build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(post.statusCode() == 405)
    } finally { handle.stop(); q.stop() }
  }

  test("production path: sketches persist to KeyedStore and survive kill+resume") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("kmv_store")
      .toFile.getAbsolutePath
    val (inDir, ckpt, store) = (s"$base/in", s"$base/ckpt", s"$base/store")
    new java.io.File(inDir).mkdirs()
    val all = hashed.as[KeyedHash].collect()
    // split by HASH VALUE (not row position — every user recurs, so a
    // positional split would put every hash in both phases): the
    // resume proof needs phase-1 hashes ABSENT from phase 2, so a
    // state-lost restart could never reproduce the batch sketch
    val (a, b) = all.partition(_.h % 3 != 0)
    val aOnly = a.map(_.h).toSet -- b.map(_.h).toSet
    assert(aOnly.nonEmpty, "split carries no phase-1-only hashes — vacuous")
    def writeBatch(f: String, rows: Seq[KeyedHash]): Unit = {
      val w = new java.io.PrintWriter(s"$inDir/$f")
      rows.foreach(r => w.println(s"""{"key":"${r.key}","h":${r.h}}"""))
      w.close()
    }
    def start() = {
      val in = spark.readStream.schema("key STRING, h LONG")
        .json(inDir).as[KeyedHash]
      graft.state.KeyedStore.serveToStore(
        graft.streaming.KmvTracker.track(in, 256).toDF(),
        Seq("key"), "ver", store, Some(ckpt))
    }
    writeBatch("b0.json", a.toSeq)
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop() // the kill
    writeBatch("b1.json", b.toSeq)
    val q2 = start() // resume from the same checkpoint
    try q2.processAllAvailable() finally q2.stop()
    val got = graft.state.KeyedStore.read(spark, store)
      .select("key", "nSk", "hK", "ver").collect()
      .map(r => r.getString(0) -> (r.getInt(1), r.getLong(2), r.getLong(3)))
      .toMap
    val E = graft.functions.expressions.GraftExpressions
    val exp = hashed.groupBy("key").agg(E.kmvMins(col("h"), 256).as("sk"))
      .selectExpr("key", "size(sk) AS n_sk",
        "CASE WHEN size(sk) < 256 THEN 0L ELSE element_at(sk, 256) END AS hk")
      .collect().map(r => r.getString(0) -> (r.getInt(1), r.getLong(2))).toMap
    assert(got.keySet === exp.keySet)
    for ((k, (nSk, hk)) <- exp) {
      assert(got(k)._1 == nSk && got(k)._2 == hk,
        s"$k: store (${got(k)._1},${got(k)._2}) != batch ($nSk,$hk) — " +
          "tracker state did not survive the restart")
      // ver == 2 proves the second batch FOLDED into recovered state
      // (a state-lost restart would re-emit ver 1)
      assert(got(k)._3 == 2L, s"$k resumed with ver ${got(k)._3}")
    }
  }

  test("estimator pin: exact below saturation, (k-1)*2^48/U_(k) at it") {
    assert(KmvTracker.estimate(Seq(10L, 20L, 30L), 256) === 3L)
    // saturated k=2: est = 1 * 2^48 / 1024
    assert(KmvTracker.estimate(Seq(512L, 1024L), 2) ===
      281474976710656L / 1024L)
  }
}
