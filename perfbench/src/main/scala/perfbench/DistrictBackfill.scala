package perfbench

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.core.StampedDistrict
import graft.ingest.Codecs
import graft.state.{KeyedStore, ViewCatalog}
import graft.streaming.DeltaTracker

/** district-backfill: a closed-loop history replay. Each input batch
  * (every district × a run of days) is one MemoryStream offset; the next
  * is added after `processAllAvailable`. Path: codec →
  * DeltaTracker.districtwise → ViewCatalog.serve(districtwiseDelta), the
  * durable KeyedStore bucketed upsert. */
final class DistrictBackfill(ctx: Ctx, cycle: Int) extends Workload {
  private val warmup = ctx.spec.int("warmup_batches")
  private val spec = ViewCatalog.districtwiseDelta
  private val root = s"${ctx.work}/catalog-$cycle"

  /** Batch index → its frames (event-time millis, value JSON). */
  private val batches: IndexedSeq[Seq[(Timestamp, String)]] =
    ctx.spec.lines("frames").map(_.split("\t", 3))
      .groupBy(_(0).toInt).toSeq.sortBy(_._1)
      .map(_._2.map(a => (new Timestamp(a(1).toLong), a(2)))).toIndexedSeq
  private val batchBytes: IndexedSeq[Long] =
    batches.map(_.map(_._2.getBytes("UTF-8").length.toLong).sum)

  private var stream: MemoryStream[(Timestamp, String)] = _
  private var query: StreamingQuery = _
  private var fed = 0

  private def decode(spark: SparkSession, frames: DataFrame): DataFrame = {
    import spark.implicits._
    val in = frames.toDF("eventTime", "value")
      .select(col("eventTime"),
        from_json(col("value"), Codecs.districtwiseDataSchema).as("data"))
      .as[StampedDistrict]
    DeltaTracker.districtwise(in).toDF().select(col("eventTime"), col("data.*"))
  }

  private def feed(i: Int): Unit = {
    stream.addData(batches(i))
    query.processAllAvailable()
    fed = i + 1
  }

  def setup(spark: SparkSession): Unit = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    stream = MemoryStream[(Timestamp, String)]
    val deltas = decode(spark, stream.toDF())
    ctx.spans.outside {
      query = ViewCatalog.serve(spec, deltas, root)
    }
    ctx.spans("warmup")((0 until warmup).foreach(feed))
  }

  def measure(spark: SparkSession): Map[String, Any] = {
    val budget = ctx.seconds * 1000.0
    val t0 = Clock.now
    val out = mutable.ArrayBuffer[Map[String, Any]]()
    var i = warmup
    while (Clock.now - t0 < budget && i < batches.size) {
      val a = Clock.now
      feed(i)
      out += Map("batch" -> i, "rows" -> batches(i).size,
        "bytes" -> batchBytes(i), "start" -> a, "end" -> Clock.now)
      i += 1
    }
    Map("batches" -> out.toSeq, "exhausted" -> (i >= batches.size))
  }

  /** The durable store must equal the batch snapshot of the batch
    * tracker over everything fed. */
  def check(spark: SparkSession): Map[String, Any] = {
    import spark.implicits._
    val all = batches.take(fed).flatten.toDF("eventTime", "value")
    val expected = ViewCatalog.snapshot(spec, decode(spark, all))
    val cols = expected.columns.toSeq
    val store = KeyedStore.read(spark, s"$root/${spec.view}")
      .select(cols.map(col): _*)
    Map("expected_rows" -> expected.count(), "store_rows" -> store.count(),
      "missing" -> expected.exceptAll(store).count(),
      "unexpected" -> store.exceptAll(expected).count(),
      "fed_batches" -> fed, "fed_rows" -> batches.take(fed).map(_.size).sum)
  }

  def stop(): Unit = if (query != null) query.stop()
}
