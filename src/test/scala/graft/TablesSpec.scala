package graft

import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.TimestampType

import graft.sources.Tables

/** Table loading is a query path, so it never mutates session conf. */
class TablesSpec extends SparkSpec {

  test("Tables.load(events) normalizes ts without touching the caller's session conf") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val clone = ColumnBridge.cloneSession(spark)
    clone.conf.set(key, "false")
    val ev = Tables.load(clone, sf, "events")
    assert(ev.schema("ts").dataType == TimestampType)
    assert(ev.limit(1).count() == 1)
    assert(clone.conf.get(key) == "false", "load flipped the caller's conf")
  }
}
