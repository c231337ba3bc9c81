package graft

import org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.Salting

/** Salting must be result-invisible: the salted forms return EXACTLY
  * the plain groupBy / plain join output on any input — including a
  * pathologically skewed one (the case salting exists for).
  */
class SaltingSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  // 90% of rows share one hot key — the shape that melts a reducer
  private def skewed = (1 to 2000).map { i =>
    (i.toLong, if (i % 10 == 0) i.toLong % 7 else 42L)
  }.toDF("row_id", "key")

  test("saltedEquiJoin equals the plain inner join on a skewed key") {
    val dim = (0L to 50L).map(k => (k, s"name_$k")).toDF("dim_key", "dim_name")
    val salted = Salting.saltedEquiJoin(skewed, dim, "key", "dim_key",
        saltFrom = Seq(col("row_id")))
      .select(col("row_id"), col("key"), col("dim_name"))
    val plain = skewed.join(dim, col("key") === col("dim_key"))
      .select(col("row_id"), col("key"), col("dim_name"))
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("saltedEquiJoin drops big-side rows with no dim match, like inner join") {
    val dim = Seq((42L, "hot")).toDF("dim_key", "dim_name")
    val salted = Salting.saltedEquiJoin(skewed, dim, "key", "dim_key",
      saltFrom = Seq(col("row_id")))
    assert(salted.count() == skewed.filter(col("key") === 42L).count())
  }

  test("saltedEquiJoin resolves when both sides name the key identically") {
    val dim = (0L to 50L).map(k => (k, s"name_$k")).toDF("key", "dim_name")
    val salted = Salting.saltedEquiJoin(skewed, dim, "key", "key",
      saltFrom = Seq(col("row_id")))
    val plain = skewed.join(dim.withColumnRenamed("key", "k2"),
      col("key") === col("k2"))
    assert(salted.count() == plain.count())
  }

  test("saltedCount equals the plain groupBy count") {
    val salted = Salting.saltedCount(skewed, col("key"), "key",
      saltFrom = Seq(col("row_id"), col("key")))
    val plain = skewed.groupBy(col("key")).agg(count(lit(1)).as("n"))
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("AQE skew-join splits the same hot key the manual salting targets, " +
    "with identical results") {
    // VERDICT r9 #2: does AQE's runtime skew handling supersede the
    // manual q87 salting? Measure it: the same 90%-hot-key join, grown
    // past a lowered skew threshold, run as a sort-merge join under
    // AQE — the final adaptive plan must contain a skew-split shuffle
    // read AND return exactly the plain-join rows. Conclusion this
    // test pins: AQE covers the skewed-JOIN case at runtime (so q87's
    // salting is a belt-and-suspenders at 100 TB), but only for
    // shuffle joins it replans — salted AGGREGATES (saltedCount) and
    // sub-threshold skew still need the manual form.
    val conf = spark.conf
    val keys = Seq("spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.adaptive.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      // fixture-sized thresholds: hot partition ~7 MB of INCOMPRESSIBLE
      // shuffle bytes (per-row sha2 padding — a constant-char pad
      // compressed to ~nothing and never crossed the threshold)
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64k")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32k")
      // no broadcast demotion: the skew path exists for SMJ
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val big = spark.range(60000).select(col("id").as("row_id"),
        when(pmod(col("id"), lit(10)) === 0, pmod(col("id"), lit(7)))
          .otherwise(lit(42L)).as("key"),
        repeat(sha2(col("id").cast("string"), 256), 2).as("pad"))
      val dim = (0L to 50L).map(k => (k, s"name_$k")).toDF("dim_key", "dim_name")
      // `pad` must survive into the OUTPUT or column pruning strips it
      // from the shuffle and the hot partition never crosses the
      // threshold; collect() (not foreach — that runs a separate
      // rddQueryExecution) finalizes THIS dataset's adaptive plan
      val joined = big.join(dim, col("key") === col("dim_key"))
        .select(col("row_id"), col("key"), col("dim_name"), col("pad"))
      val got = joined.collect()
      val skewReads = PlanAudit.nodes(joined.queryExecution.executedPlan).count {
        case r: AQEShuffleReadExec => r.hasSkewedPartition
        case _ => false
      }
      assert(skewReads > 0,
        "AQE did not skew-split the hot partition — thresholds or fixture wrong")
      val salted = Salting.saltedEquiJoin(big, dim, "key", "dim_key",
          saltFrom = Seq(col("row_id")))
        .select(col("row_id"), col("key"), col("dim_name"))
      val gotRows = got.map(r =>
        (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
      val saltedRows = salted.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
      assert(gotRows == saltedRows,
        "skew-split execution and salted join disagree")
    } finally saved.foreach { case (k, v) =>
      v match { case Some(x) => conf.set(k, x); case None => conf.unset(k) }
    }
  }

  test("salted forms on empty input are empty, not fatal") {
    val none = Seq.empty[(Long, Long)].toDF("row_id", "key")
    val dim = Seq((1L, "x")).toDF("dim_key", "dim_name")
    assert(Salting.saltedEquiJoin(none, dim, "key", "dim_key",
      saltFrom = Seq(col("row_id"))).count() == 0)
    assert(Salting.saltedCount(none, col("key"), "key",
      saltFrom = Seq(col("row_id"))).count() == 0)
  }
}
