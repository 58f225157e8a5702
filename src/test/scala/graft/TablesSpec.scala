package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The physical layout of the driver's `events.ts` column has changed
  * between testdata generations — TIMESTAMP(NANOS) (read as LongType under
  * `nanosAsLong`) through round 7, TIMESTAMP_MICROS with
  * isAdjustedToUTC=false (read as TIMESTAMP_NTZ) since round 8. The loader
  * must normalize EVERY layout it may meet to session-TZ TimestampType so
  * downstream queries and the DuckDB oracle agree on values. One spec per
  * branch of `Tables.normalizeEventsTs`, written through real parquet
  * round trips where Spark can author the layout.
  */
class TablesSpec extends SparkSpec {

  // 2024-01-01 00:00:00 UTC, one microsecond past the second to prove no
  // sub-second truncation happens on the micros paths
  private val micros = 1704067200000001L
  private val expected = new Timestamp(micros / 1000)

  private def tsOf(df: org.apache.spark.sql.DataFrame): (DataType, Timestamp) = {
    val out = Tables.normalizeEventsTs(df)
    assert(out.schema("ts").dataType == TimestampType,
      s"normalized ts must be session-TZ TimestampType, got ${out.schema("ts").dataType}")
    (out.schema("ts").dataType, out.select(col("ts")).head().getTimestamp(0))
  }

  test("legacy nanos layout (LongType under nanosAsLong) truncates to micros") {
    val df = spark.range(1).select(lit(micros * 1000L).as("ts"))
    assert(df.schema("ts").dataType == LongType)
    val (_, got) = tsOf(df)
    assert(got.getTime == expected.getTime && got.getNanos == 1000,
      s"nanos branch must yield $expected + 1us, got $got/${got.getNanos}ns")
  }

  test("TIMESTAMP_NTZ layout (current testdata) casts to UTC timestamp, value-identical") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ntz").toString
    spark.range(1)
      .select(timestamp_micros(lit(micros)).cast(TimestampNTZType).as("ts"))
      .write.mode("overwrite").parquet(dir)
    val raw = spark.read.parquet(dir)
    assert(raw.schema("ts").dataType == TimestampNTZType,
      "fixture must round-trip as NTZ (parquet isAdjustedToUTC=false)")
    val (_, got) = tsOf(raw)
    assert(got.getTime == expected.getTime && got.getNanos == 1000,
      s"NTZ branch under UTC session TZ must be value-identical, got $got")
  }

  test("plain TimestampType layout passes through unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ltz").toString
    spark.range(1).select(timestamp_micros(lit(micros)).as("ts"))
      .write.mode("overwrite").parquet(dir)
    val raw = spark.read.parquet(dir)
    assert(raw.schema("ts").dataType == TimestampType)
    val (_, got) = tsOf(raw)
    assert(got.getTime == expected.getTime && got.getNanos == 1000)
  }

  test("Tables.t reads the real driver events table as TimestampType") {
    val df = Tables.t(spark, "/root/testdata/sf0.001", "events")
    assert(df.schema("ts").dataType == TimestampType)
    assert(df.limit(1).count() == 1)
  }
}
