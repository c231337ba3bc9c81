package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Structural invariants for the warehouse-history operators — the
  * properties a consumer of an SCD2 dimension or an equi-depth profile
  * relies on, checked on the real sf0.001 fixture (they must hold on
  * ANY input, so the fixture is as good as a planted corpus here).
  */
class WarehouseSpec extends AnyFunSuite {
  import TestSpark.spark

  private val dir = "/root/testdata/sf0.001"

  private lazy val scd2 =
    graft.queries.Warehouse.queries("q113_scd2_intervals")(spark, dir)
      .cache()

  test("scd2: exactly one open (is_current) interval per customer") {
    val bad = scd2.groupBy(col("o_custkey"))
      .agg(sum(when(col("is_current"), 1).otherwise(0)).as("n_open"))
      .filter(col("n_open") =!= 1)
    assert(bad.count() == 0)
  }

  test("scd2: versions are dense from 1 and intervals chain exactly") {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("version"))
    val checked = scd2
      .withColumn("rn", row_number().over(w))
      .withColumn("next_from", lead(col("valid_from"), 1).over(w))
      .withColumn("next_priority", lead(col("priority"), 1).over(w))
    // dense version numbers
    assert(checked.filter(col("version") =!= col("rn")).count() == 0)
    // each closed interval ends exactly where the next begins
    assert(checked.filter(col("next_from").isNotNull &&
      col("valid_to") =!= col("next_from")).count() == 0)
    // the final interval is the open one
    assert(checked.filter(col("next_from").isNull &&
      !col("is_current")).count() == 0)
    // consecutive versions always change the tracked attribute
    assert(checked.filter(col("next_priority").isNotNull &&
      col("next_priority") === col("priority")).count() == 0)
  }

  test("equi-depth: 20 bins whose sizes differ by at most one row") {
    val bins = graft.queries.Warehouse
      .queries("q116_equidepth_histogram")(spark, dir)
      .collect()
    assert(bins.length == 20)
    val sizes = bins.map(_.getAs[Long]("n"))
    assert(sizes.max - sizes.min <= 1,
      s"bin sizes not equi-depth: min=${sizes.min} max=${sizes.max}")
    val total = spark.read.parquet(s"$dir/orders.parquet").count()
    assert(sizes.sum == total)
  }

  test("time travel: at most one covering interval per customer, and " +
    "it really covers the as-of instant") {
    import graft.queries.Warehouse
    val asOf = lit(Warehouse.TimeTravelAsOf).cast("timestamp")
    val df = Warehouse.queries("q152_time_travel")(spark, dir).cache()
    assert(df.count() > 0)
    assert(df.groupBy(col("o_custkey")).count()
      .filter(col("count") > 1).count() == 0,
      "a point-in-time lookup must return at most one interval per key")
    // every returned interval really covers the as-of instant
    assert(df.filter(col("valid_from") > asOf).count() == 0)
    assert(df.filter(col("valid_to").isNotNull &&
      col("valid_to") <= asOf).count() == 0)
    // and it is exactly the SCD2 table filtered to the instant
    val fromScd2 = scd2.filter(col("valid_from") <= asOf &&
        (col("valid_to").isNull || col("valid_to") > asOf))
      .count()
    assert(fromScd2 == df.count())
    df.unpersist()
  }

  test("benford: digit extraction and anchors on a planted column") {
    import spark.implicits._
    // plant first digits: 1 appears 4x (1.5, 10.0, 199.99, 1e6),
    // 9 appears 2x, 5 once; 0.5 is below 1.0 and must be excluded
    val tmp = Harness.tempDir("benford").toString
    Seq(1.5, 10.0, 199.99, 1000000.0, 9.01, 950.0, 5.5, 0.5)
      .zipWithIndex
      .map { case (p, i) => (i.toLong, i.toLong, "O", p,
        new java.sql.Timestamp(86400000L * i)) }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate")
      .write.mode("overwrite").parquet(s"$tmp/orders.parquet")
    val out = graft.queries.Warehouse.queries("q147_benford")(spark, tmp)
      .collect()
      .map(r => r.getAs[Long]("digit") ->
        (r.getAs[Long]("n"), r.getAs[Double]("share"),
          r.getAs[Double]("benford_p"))).toMap
    assert(out.keySet == Set(1L, 5L, 9L), out.toString)
    assert(out(1L)._1 == 4L && out(9L)._1 == 2L && out(5L)._1 == 1L)
    // Spark round() is BigDecimal HALF_UP — mirror it exactly
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(1L)._2 == r6(4.0 / 7.0))
    // the Benford expectation anchors: p(1)=log10(2), p(9)=log10(10/9)
    assert(out(1L)._3 == r6(math.log(2.0) / math.log(10.0)))
    assert(out(9L)._3 == r6(math.log(10.0 / 9.0) / math.log(10.0)))
  }

  test("q164 cdc apply equals a sequential log replay") {
    val d = TestSpark.sf0001
    val log = graft.Tables.orders(spark, d)
      .select(col("o_custkey"),
        unix_millis(col("o_orderdate").cast("timestamp")).as("ms"),
        col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice"), 2).as("v"))
      .collect()
      .map(r => (r.getAs[Long]("o_custkey"), r.getAs[Long]("ms"),
        r.getAs[Long]("o_orderkey"),
        r.getAs[String]("o_orderstatus"), r.getAs[Double]("v")))
    // replay: last (ts, seq) entry wins; 'F' status tombstones the key
    val expected = log.groupBy(_._1).flatMap { case (key, entries) =>
      val last = entries.maxBy(e => (e._2, e._3))
      if (last._4 == "F") None
      else Some(key -> ((last._5, entries.length.toLong)))
    }
    val got = SparkEntry.queries("q164_cdc_apply")(spark, d).collect()
      .map(r => r.getAs[Long]("o_custkey") ->
        ((r.getAs[Double]("last_value"), r.getAs[Long]("n_ops")))).toMap
    assert(got == expected,
      s"sizes: got=${got.size} expected=${expected.size}")
    // tombstones are real: some customers must have been deleted
    assert(expected.size < log.map(_._1).distinct.length,
      "fixture must contain tombstoned keys or the delete path is vacuous")
  }
}
