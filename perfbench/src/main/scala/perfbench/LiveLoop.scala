package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.sql.Timestamp
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.core.{StampedStats, UserPrefs}
import graft.ingest.Codecs
import graft.serve.{AlertPipeline, LiveEndpoint}
import graft.state.MaterializedViews
import graft.streaming.DeltaTracker

/** Executor-side alert sink: local mode shares the JVM, so the `send`
  * callback records into this singleton with its time. */
object AlertSink {
  private val sent = new ConcurrentLinkedQueue[(String, String, Double)]()
  def send(user: String, text: String): Unit = { sent.add((user, text, Clock.now)); () }
  def drain(): Seq[(String, String, Double)] = {
    val out = sent.asScala.toSeq
    sent.clear()
    out
  }
}

/** live-loop: the reference's interactive loop as an open loop. One
  * generator thread emits a 39-key statewise snapshot every
  * `interval_ms`; each snapshot is one offset on each of two
  * MemoryStreams (one stream cannot feed two queries):
  *  - codec → DeltaTracker.statewise → serveDailyTotalsAsView → the
  *    LiveEndpoint `/state/<key>` and `/summary` routes;
  *  - codec → DeltaTracker.statewise → AlertPipeline.run with a fixed
  *    subscriber set.
  * Independent users GET on their own fixed schedule over at most two
  * connections; each GET is timed from its due time. */
final class LiveLoop(ctx: Ctx, cycle: Int) extends Workload {
  private val view = "perfbench_live"
  private val interval = ctx.spec.double("interval_ms")
  private val warmup = ctx.spec.int("warmup_snapshots")

  /** Snapshot index → its frames (event-time millis, value JSON). */
  private val snapshots: IndexedSeq[Seq[(Timestamp, String)]] =
    ctx.spec.lines("frames").map(_.split("\t", 3))
      .groupBy(_(0).toInt).toSeq.sortBy(_._1)
      .map(_._2.map(a => (new Timestamp(a(1).toLong), a(2)))).toIndexedSeq
  private val gets: Seq[(Double, String)] =
    ctx.spec.lines("gets").map(_.split("\t", 2)).map(a => (a(0).toDouble, a(1)))
  private val prefs: Seq[UserPrefs] = ctx.spec.lines("prefs").map { l =>
    val a = l.split("\t", 3)
    UserPrefs(a(0), a(1).split("\\|").toSeq, a(2) == "1")
  }

  private var viewStream: MemoryStream[(Timestamp, String)] = _
  private var alertStream: MemoryStream[(Timestamp, String)] = _
  private var viewQuery: StreamingQuery = _
  private var alertQuery: StreamingQuery = _
  private var server: LiveEndpoint.Handle = _
  private val added = new AtomicInteger(0)
  private val committed = new AtomicLong(-1L)
  private lazy val client = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1).build()

  private def decoded(spark: SparkSession,
      ms: MemoryStream[(Timestamp, String)]): Dataset[StampedStats] = {
    import spark.implicits._
    ms.toDF().toDF("eventTime", "value")
      .select(col("eventTime"),
        from_json(col("value"), Codecs.statewiseStatsSchema).as("stats"))
      .as[StampedStats]
  }

  private def add(i: Int): Unit = {
    viewStream.addData(snapshots(i))
    alertStream.addData(snapshots(i))
    added.set(i + 1)
  }

  private def get(path: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(
      URI.create(s"http://127.0.0.1:${server.port}$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  def setup(spark: SparkSession): Unit = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    AlertSink.drain()
    viewStream = MemoryStream[(Timestamp, String)]
    alertStream = MemoryStream[(Timestamp, String)]
    val daily: DataFrame = DeltaTracker.statewise(decoded(spark, viewStream))
      .toDF().select(col("eventTime"), col("delta.state").as("state"),
        col("delta.deltaConfirmed").cast("double").as("value"))
    val deltas: DataFrame = DeltaTracker.statewise(decoded(spark, alertStream))
      .toDF().select(col("eventTime"), col("delta.*"))
    ctx.spans.outside {
      viewQuery = MaterializedViews.serveDailyTotalsAsView(daily, "state",
        "eventTime", "value", view, Some(s"${ctx.work}/ckpt/view-$cycle"))
      alertQuery = AlertPipeline.run(deltas, prefs.toDS(), AlertSink.send)
      server = LiveEndpoint.start(spark, view, keyCol = "state")
    }
    val viewId = viewQuery.id.toString
    ctx.streams.onCommit = (q, off) =>
      if (q == viewId) committed.accumulateAndGet(off, math.max)
    ctx.spans("warmup") {
      (0 until warmup).foreach { i =>
        add(i)
        viewQuery.processAllAvailable()
        alertQuery.processAllAvailable()
      }
      val r = get("/summary")
      require(r.statusCode() == 200, s"warm-up GET /summary: ${r.statusCode()}")
    }
  }

  def measure(spark: SparkSession): Map[String, Any] = {
    AlertSink.drain() // warm-up alerts are not part of the timed region
    val budget = ctx.seconds * 1000.0
    val t0 = Clock.now + 20.0
    val emitted = new ConcurrentLinkedQueue[Map[String, Any]]()
    val served = new ConcurrentLinkedQueue[Map[String, Any]]()
    val generator = new Thread(() => {
      var i = warmup
      var due = t0
      while (due < t0 + budget && i < snapshots.size) {
        Clock.sleepUntil(due)
        val a0 = Clock.now
        add(i)
        emitted.add(Map("snapshot" -> i, "due" -> due, "add_start" -> a0,
          "add_end" -> Clock.now))
        i += 1
        due = t0 + (i - warmup) * interval
      }
    }, "perfbench-generator")
    val pool = Executors.newFixedThreadPool(2)
    val users = new Thread(() => {
      gets.takeWhile(_._1 < budget).foreach { case (offset, path) =>
        val due = t0 + offset
        Clock.sleepUntil(due)
        val submitted = Clock.now
        pool.submit(new Runnable {
          def run(): Unit = {
            val sent = Clock.now
            val seen = committed.get()
            val (status, body) =
              try { val r = get(path); (r.statusCode(), r.body()) }
              catch { case e: Exception => (-1, String.valueOf(e.getMessage)) }
            served.add(Map("path" -> path, "due" -> due,
              "submitted" -> submitted, "sent" -> sent,
              "done" -> Clock.now, "status" -> status, "body" -> body,
              "committed_at_send" -> seen, "added_at_done" -> (added.get - 1)))
          }
        })
      }
    }, "perfbench-users")
    generator.start(); users.start()
    generator.join(); users.join()
    pool.shutdown()
    pool.awaitTermination(60, TimeUnit.SECONDS)
    val drained0 = Clock.now
    viewQuery.processAllAvailable()
    alertQuery.processAllAvailable()
    Map("snapshots" -> emitted.asScala.toSeq, "gets" -> served.asScala.toSeq,
      "alerts" -> AlertSink.drain().map { case (u, txt, t) =>
        Map("user" -> u, "text" -> txt, "t" -> t) },
      "view_query" -> viewQuery.id.toString,
      "alert_query" -> alertQuery.id.toString,
      "first_measured" -> warmup, "drain_ms" -> (Clock.now - drained0))
  }

  def check(spark: SparkSession): Map[String, Any] = Map.empty

  def stop(): Unit = {
    if (server != null) server.stop()
    Seq(viewQuery, alertQuery).filter(_ != null).foreach(_.stop())
  }
}
