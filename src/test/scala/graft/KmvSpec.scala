package graft

import org.scalatest.funsuite.AnyFunSuite

/** KMV sketch proofs on planted key sets with PARTIAL overlap — the
  * fixture's users all do everything, so union==intersection there;
  * the algebra needs sets that actually differ. Estimates are
  * deterministic (sha256 hash order), so the bounds below are stable
  * run-to-run, not flaky statistics.
  */
class KmvSpec extends AnyFunSuite with CacheCleanup {
  import TestSpark.spark
  import spark.implicits._

  test("kmv set algebra: planted half-overlap estimates land near truth") {
    // view = users 0..999, purchase = users 500..1499:
    // union = 1500, intersection = 500
    val m = 60L * 1000000000L
    val rows =
      (0L until 1000L).map(u => (u, u * m, u, "view", 1.0, "{}")) ++
        (500L until 1500L).map(u =>
          (10000L + u, u * m, u, "purchase", 1.0, "{}"))
    val dir = Harness.tempDir("kmv").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = SparkEntry.queries("q157_kmv_set_algebra")(spark, dir)
      .collect()(0)
    assert(r.getAs[Long]("n_union_exact") == 1500L)
    assert(r.getAs[Long]("n_inter_exact") == 500L)
    val uEst = r.getAs[Double]("union_est")
    val iEst = r.getAs[Double]("inter_est")
    // (k-1)/h_k at k=64: ~12.5% expected relative error; 3-sigma bound
    assert(math.abs(uEst / 1500.0 - 1.0) < 0.375, s"union_est=$uEst")
    // intersection inherits binomial rho noise on top: looser bound
    assert(math.abs(iEst / 500.0 - 1.0) < 0.5, s"inter_est=$iEst")
    // per-type estimates from the same fixture stay in the same band
    val perType = SparkEntry.queries("q156_kmv_distinct")(spark, dir)
      .collect()
      .map(x => x.getAs[String]("event_type") ->
        (x.getAs[Long]("n_exact"), x.getAs[Double]("kmv_est"))).toMap
    assert(perType("view")._1 == 1000L)
    assert(math.abs(perType("view")._2 / 1000.0 - 1.0) < 0.375)
    assert(math.abs(perType("purchase")._2 / 1000.0 - 1.0) < 0.375)
  }

  test("kmv degenerates to the exact count below k") {
    val m = 60L * 1000000000L
    val rows = (0L until 10L).map(u => (u, u * m, u, "view", 1.0, "{}"))
    val dir = Harness.tempDir("kmv_small").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("q156_kmv_distinct")(spark, dir)
      .collect()
    assert(out.length == 1)
    assert(out(0).getAs[Long]("n_exact") == 10L)
    assert(out(0).getAs[Double]("kmv_est") == 10.0,
      "a set smaller than k must report its exact size")
  }
}
