package graft.ingest

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.core._

/** S1-S3 — the Kafka edge (SURVEY.md §2.1): explicit StructType per
  * topic + from_json/to_json codecs, the Spark analog of the reference's
  * Gson serde wrappers (StatewiseDeltaSerde.java:12-27; all 10 serdes
  * are identical wrappers). `from_json` yields null on malformed input —
  * the same leniency as the reference's Gson decoding (SURVEY.md §1.3).
  *
  * The Kafka connector jar is not shipped in this environment, so
  * `fromKafka`/`toKafka` are the (standard, documented) wiring while the
  * codec layer itself is exercised in tests on FIXTURES.md payloads and
  * would plug into any byte-stream source unchanged.
  */
object Codecs {

  val statewiseStatsSchema: StructType = Encoders.product[StatewiseStats].schema
  val statewiseDeltaSchema: StructType = Encoders.product[StatewiseDelta].schema
  val districtwiseDataSchema: StructType = Encoders.product[DistrictwiseData].schema
  val userPrefsSchema: StructType = Encoders.product[UserPrefs].schema

  /** Decode a (key, value-json) frame into a typed Dataset. */
  def decode[T <: Product](df: DataFrame, schema: StructType)(
      implicit spark: SparkSession, enc: org.apache.spark.sql.Encoder[T]): Dataset[T] =
    df.select(from_json(col("value").cast("string"), schema).as("v"))
      .select(col("v.*")).as[T]

  /** Encode a typed Dataset back to (key, value-json) frames. */
  def encode[T](ds: Dataset[T], keyCol: String): DataFrame =
    ds.toDF().select(
      col(keyCol).cast("string").as("key"),
      to_json(struct(col("*"))).as("value"))

  /** Streaming Kafka source for one topic (S1/S2). Standard wiring —
    * needs the spark-sql-kafka connector on the classpath at runtime. */
  def fromKafka(spark: SparkSession, servers: String, topic: String,
      startingOffsets: String = "earliest"): DataFrame =
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)
      .load()

  /** S4 — batch producer, the `KafkaTemplate.send` analog
    * (bot/Covid19Bot.java:122,134; visualizations/ChartsProducer.java:
    * 29-45): write already-encoded (key, value) frames to a topic in one
    * batch write. Wiring-only in this environment (connector jar
    * absent); the frame encoding itself is [[encode]], golden-tested. */
  def toKafkaBatch(frames: DataFrame, servers: String, topic: String): Unit =
    frames.write
      .format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("topic", topic)
      .save()

  /** Kafka sink (S3): keyed JSON records to a topic. */
  def toKafka(df: DataFrame, servers: String, topic: String,
      checkpoint: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream
      .format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("topic", topic)
      .option("checkpointLocation", checkpoint)

  /** The Kafka frame contract: what the connector's source emits and
    * its sink consumes (key, value, record timestamp). */
  val frameSchema: StructType = StructType(Seq(
    org.apache.spark.sql.types.StructField("key",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("value",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("timestamp",
      org.apache.spark.sql.types.TimestampType)))

  /** File-backed stand-in for [[fromKafka]] with the SAME frame contract
    * — a directory of JSON frame files plays the topic. The connector
    * jar is absent in this environment, so this is the executable edge:
    * the whole source → decode → topology → encode → sink DAG runs under
    * `Trigger.AvailableNow` exactly as it would against a broker, with
    * offsets tracked in the checkpoint (restart resumes incrementally,
    * Kafka-style). Swapping in the real connector changes ONLY the
    * format("kafka") calls above. */
  def fromFrameFiles(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(frameSchema).json(dir)

  /** File-backed stand-in for [[toKafka]] (checkpointed frame sink). */
  def toFrameFiles(df: DataFrame, dir: String,
      checkpoint: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream
      .format("json")
      .option("path", dir)
      .option("checkpointLocation", checkpoint)
}
