package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types

/** Normalized access to the driver-generated parquet tables
  * (TESTDATA.md). All queries go through here so ingest normalization
  * happens exactly once, mirroring the reference's pattern of casting
  * string-typed numerics at ingest (SURVEY.md §1.3;
  * covid19-stats/src/main/java/org/covid19/Covid19Stats.java:213-219).
  */
object Tables {

  /** Load one table. `events.ts` has shipped as INT64 TIMESTAMP(NANOS)
    * (which Spark's vectorized reader refuses unless the session sets
    * `spark.sql.legacy.parquet.nanosAsLong`, as [[graft.GraftSession]]
    * does) and as TIMESTAMP(MICROS) without a UTC flag (which Spark
    * reads as TIMESTAMP_NTZ), depending on the generator vintage.
    * Normalize both to the same downstream contract: `ts`
    * (TimestampType, µs, session tz pinned UTC) and `ts_ns` (LongType
    * epoch-nanos). Loading never changes the session's conf.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events") {
      val raw = spark.read.parquet(s"$dir/$name.parquet")
      raw.schema("ts").dataType match {
        case types.LongType => // INT64 nanos vintage
          raw.withColumn("ts_ns", col("ts"))
            .withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case types.TimestampNTZType => // µs-without-UTC-flag vintage
          raw.withColumn("ts", col("ts").cast(types.TimestampType))
            .withColumn("ts_ns", unix_micros(col("ts").cast(types.TimestampType)) * lit(1000L))
        case _ => // already TimestampType
          raw.withColumn("ts_ns", unix_micros(col("ts")) * lit(1000L))
      }
    } else {
      spark.read.parquet(s"$dir/$name.parquet")
    }
  }
}
