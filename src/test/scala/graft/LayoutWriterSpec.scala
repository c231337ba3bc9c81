package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sinks.LayoutWriter

/** The layout writers must produce files whose statistics can prune:
  * range-clustered files own disjoint key ranges (so min/max footer
  * stats skip whole files), and hive partitioning prunes directories
  * at plan time.
  */
class LayoutWriterSpec extends AnyFunSuite {
  import TestSpark.spark

  private def tmp(name: String) =
    Harness.tempDir(name).toString

  test("range-clustered write: per-file key ranges are disjoint, rows intact") {
    val orders = Tables.orders(spark, TestSpark.sf0001)
    val out = tmp("graft-layout") + "/orders_by_date"
    LayoutWriter.writeRangeClustered(orders, out, numFiles = 8,
      col("o_orderdate"))

    val back = spark.read.parquet(out)
    assert(back.count() == orders.count())

    val ranges = back
      .groupBy(input_file_name().as("f"))
      // ISO timestamp strings sort chronologically
      .agg(min(col("o_orderdate")).cast("string").as("lo"),
        max(col("o_orderdate")).cast("string").as("hi"))
      .collect()
      .map(r => (r.getString(1), r.getString(2)))
      .sortBy(_._1)
    assert(ranges.length > 1, "expected multiple output files")
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) =>
        assert(hi1 <= lo2, s"file ranges overlap: hi=$hi1 vs next lo=$lo2")
      case _ =>
    }
  }

  test("filter on the cluster key reaches the scan as a pushed filter") {
    val orders = Tables.orders(spark, TestSpark.sf0001)
    val out = tmp("graft-layout-p") + "/orders_by_key"
    LayoutWriter.writeRangeClustered(orders, out, numFiles = 8,
      col("o_orderkey"))
    val q = spark.read.parquet(out).filter(col("o_orderkey") === 42L)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.replaceAll("\\s", "").contains("EqualTo(o_orderkey,42)"),
      plan.take(800))
  }

  test("z-order write constrains per-file ranges in BOTH dimensions") {
    val li = Tables.lineitem(spark, TestSpark.sf0001)
      .select(col("l_partkey"), col("l_suppkey"), col("l_orderkey"))
    val out = tmp("graft-zorder") + "/li_z"
    val maxes = li.agg(max(col("l_partkey")), max(col("l_suppkey"))).collect()(0)
    sinks.LayoutWriter.writeZOrdered(li, out, numFiles = 16,
      col("l_partkey"), col("l_suppkey"), maxes.getLong(0), maxes.getLong(1))

    val back = spark.read.parquet(out)
    assert(back.count() == li.count())
    val global = li.agg(
      (max(col("l_partkey")) - min(col("l_partkey"))).as("ps"),
      (max(col("l_suppkey")) - min(col("l_suppkey"))).as("ss")).collect()(0)
    val (gp, gs) = (global.getLong(0).toDouble, global.getLong(1).toDouble)
    val spans = back.groupBy(input_file_name())
      .agg((max(col("l_partkey")) - min(col("l_partkey"))).as("ps"),
        (max(col("l_suppkey")) - min(col("l_suppkey"))).as("ss"))
      .collect().map(r => (r.getLong(1).toDouble, r.getLong(2).toDouble))
    assert(spans.length > 4, s"expected many files, got ${spans.length}")
    // a single-key sort leaves the OTHER key spanning ~the full domain
    // per file; the z-curve keeps the AVERAGE span well below it in
    // both dimensions at once
    val avgP = spans.map(_._1).sum / spans.length / gp
    val avgS = spans.map(_._2).sum / spans.length / gs
    assert(avgP < 0.75, s"partkey spans not constrained: $avgP")
    assert(avgS < 0.75, s"suppkey spans not constrained: $avgS")
  }

  test("compaction collapses fragmented files without changing rows") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val base = tmp("graft-compact")
    docs.repartition(24).write.mode("overwrite").parquet(s"$base/frag")
    def parquetFiles(dir: String) =
      new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))
    assert(parquetFiles(s"$base/frag") == 24)

    // generous target → everything fits in one file
    val n = LayoutWriter.compact(spark, s"$base/frag", s"$base/comp",
      targetFileBytes = 64L * 1024 * 1024)
    assert(n == 1 && parquetFiles(s"$base/comp") == 1)
    val a = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    val b = spark.read.parquet(s"$base/comp").select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(a == b)

    // tight target → multiple files, sized from the source listing
    val n2 = LayoutWriter.compact(spark, s"$base/frag", s"$base/comp2",
      targetFileBytes = 16L * 1024)
    assert(n2 > 1 && parquetFiles(s"$base/comp2") == n2)
  }

  test("hive-partitioned write prunes directories at plan time") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val out = tmp("graft-layout-h") + "/docs_by_lang"
    LayoutWriter.writeHivePartitioned(docs, out, "lang")

    val one = spark.read.parquet(out).filter(col("lang") === "en")
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan.take(800))
    // pruned read returns exactly the partition's rows
    assert(one.count() == docs.filter(col("lang") === "en").count())
    // and the scan touches only the matching directory
    val files = one.select(input_file_name().as("f")).distinct()
      .collect().map(_.getString(0))
    assert(files.nonEmpty && files.forall(_.contains("lang=en")), files.mkString(", "))
  }
}
