package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Loader robustness across testdata generations (VERDICT r6 #1/#2):
  * `events.ts` has shipped as parquet TIMESTAMP(NANOS) (loaded as a
  * raw long under nanosAsLong) and as timestamp[us]
  * isAdjustedToUTC=false (loaded as TIMESTAMP_NTZ). A regeneration of
  * the testdata must never silently break the loader again, in either
  * direction — so this spec writes the SAME instants in all three
  * loadable encodings and asserts [[Tables.normalizeTs]] produces
  * bit-identical session-TZ microsecond timestamps from each.
  */
class TsEncodingSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  // Instants with sub-millisecond parts so the ns->us truncation path
  // is actually exercised (123456789 ns = 123456 us + 789 ns dropped).
  private val nanos = Seq(
    1700000000123456789L, // 2023-11-14T22:13:20.123456Z +789ns
    1700003600000000001L, // exactly on the second +1ns
    1699999999999999999L) // 1us-boundary rounding: truncates, not rounds

  private def writeRead(encode: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val dir = Harness.tempDir("ts-enc").toString
    val base = nanos.zipWithIndex.toDF("ts_ns", "event_id")
    encode(base).write.mode("overwrite").parquet(dir)
    Tables.normalizeTs(spark.read.parquet(dir))
  }

  test("long-nanos, timestamp_ntz[us], and timestamp[us] encodings load identically") {
    // Encoding 1: the legacy generation — ts arrives as a raw long of
    // epoch nanos (what nanosAsLong makes of parquet TIMESTAMP(NANOS)).
    val fromLong = writeRead(_.select(col("event_id"), col("ts_ns").as("ts")))
    // Encoding 2: the current generation — timestamp[us] with
    // isAdjustedToUTC=false, which Spark round-trips as TIMESTAMP_NTZ.
    val fromNtz = writeRead(_.select(col("event_id"),
      timestamp_micros(expr("ts_ns div 1000")).cast(TimestampNTZType).as("ts")))
    // Encoding 3: an already-session-TZ timestamp[us] (isAdjustedToUTC
    // =true) — the no-op branch.
    val fromTz = writeRead(_.select(col("event_id"),
      timestamp_micros(expr("ts_ns div 1000")).as("ts")))

    for (df <- Seq(fromLong, fromNtz, fromTz))
      assert(df.schema("ts").dataType == TimestampType,
        s"normalizeTs must yield session-TZ TimestampType, got ${df.schema("ts").dataType}")

    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Int, Long)] =
      df.select(col("event_id"),
        unix_micros(col("ts")).as("us")).as[(Int, Long)].collect().toSeq.sorted

    val expected = nanos.zipWithIndex.map { case (ns, i) =>
      (i, Math.floorDiv(ns, 1000L))
    }.sorted
    assert(rows(fromLong) == expected)
    assert(rows(fromNtz) == expected)
    assert(rows(fromTz) == expected)
  }

  test("normalizeTs rejects an unexpected ts type loudly") {
    val bad = Seq(("2023-01-01", 1)).toDF("ts", "event_id")
    val e = intercept[IllegalStateException](Tables.normalizeTs(bad))
    assert(e.getMessage.contains("unsupported"))
  }

  test("the real events table loads as session-TZ timestamps with sane bounds") {
    val ev = Tables.events(spark, TestSpark.sf0001)
    assert(ev.schema("ts").dataType == TimestampType)
    val n = ev.filter(col("ts").between(lit("2020-01-01"), lit("2030-01-01"))).count()
    assert(n == ev.count() && n > 0,
      "every event ts should land in a plausible decade — a unit mix-up (s/ms/us/ns) would not")
  }
}
