package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Fixture-vintage contract: the driver has regenerated the testdata
  * parquet with different physical timestamp encodings across rounds
  * (INT64 nanoseconds read as long under the legacy flag; µs
  * isAdjustedToUTC=false inferred as TIMESTAMP_NTZ). Tables must load
  * BOTH vintages to the identical µs TIMESTAMP column — these tests
  * write one file per vintage with the same instants and pin equality,
  * so the next regeneration cannot silently break 200 declared
  * queries again.
  */
class TablesSpec extends SparkSpec {

  private val instantsUs = Seq(
    1700000000000000L, 1700000123456789L, 1700086400000000L)

  private def writeVintage(dir: java.nio.file.Path, ntz: Boolean): String = {
    import spark.implicits._
    val d = dir.resolve(if (ntz) "ntz" else "nanos")
    val df = instantsUs.zipWithIndex.map { case (us, i) =>
      (i.toLong, us, i.toLong, "click", 1.5, "{}")
    }.toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
    val shaped =
      if (ntz) df.select(col("event_id"),
        timestamp_micros(col("ts_us")).cast(TimestampNTZType).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      else df.select(col("event_id"), (col("ts_us") * 1000L).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
    shaped.coalesce(1).write.mode("overwrite")
      .parquet(d.resolve("events.parquet").toString)
    d.toString
  }

  test("events loads ns-long and µs-NTZ vintages to identical instants") {
    val base = java.nio.file.Paths.get(graft.streaming.OneShot.tempDir("graft-vintage"))
    // the nanos vintage ships ts as a plain long column (the legacy
    // nanosAsLong read path sees exactly this shape)
    val nanosDir = writeVintage(base, ntz = false)
    val ntzDir = writeVintage(base, ntz = true)
    val fromNanos = Tables.events(spark, nanosDir)
      .select(col("event_id"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fromNtz = Tables.events(spark, ntzDir)
      .select(col("event_id"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fromNtz == instantsUs.zipWithIndex
      .map { case (us, i) => (i.toLong, us) }.toSet)
    assert(fromNanos == fromNtz,
      s"vintages diverge: nanos=$fromNanos ntz=$fromNtz")
    // both load as the session timestamp type (LTZ), never NTZ
    assert(Tables.events(spark, ntzDir).schema("ts").dataType == TimestampType)
    assert(Tables.events(spark, nanosDir).schema("ts").dataType == TimestampType)
  }

  test("load() normalizes every NTZ column, not just events.ts") {
    import spark.implicits._
    val base = java.nio.file.Paths.get(graft.streaming.OneShot.tempDir("graft-vintage2"))
    Seq((1L, 1700000000000000L))
      .toDF("o_orderkey", "us")
      .select(col("o_orderkey"),
        timestamp_micros(col("us")).cast(TimestampNTZType).as("o_orderdate"))
      .write.parquet(base.resolve("orders.parquet").toString)
    val loaded = Tables.load(spark, base.toString, "orders")
    assert(loaded.schema("o_orderdate").dataType == TimestampType)
    // comparisons against TIMESTAMP literals analyze (the exact failure
    // mode the NTZ inference caused)
    assert(loaded.filter(col("o_orderdate") >=
      lit(java.sql.Timestamp.valueOf("2023-11-01 00:00:00"))).count() == 1)
  }
}
