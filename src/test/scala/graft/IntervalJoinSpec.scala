package graft

import org.scalatest.funsuite.AnyFunSuite

/** Planted-interval proofs for the q154 overlap join: the fixture can
  * only show oracle parity; exact overlap lengths and the
  * no-cross-user / no-cross-session guarantees need planted sessions.
  */
class IntervalJoinSpec extends AnyFunSuite with CacheCleanup {
  import TestSpark.spark
  import spark.implicits._

  private val M = 60L * 1000000000L // one minute in event-ns units

  test("interval join: exact overlap lengths, sessions split by the gap") {
    // user 1: view at t=0 (session [0, 30m]) and purchase at t=10m
    //   (session [10m, 40m]) -> overlap [10m, 30m] = 20 minutes
    // user 2: purchase 2h after the view -> disjoint even with padding
    // user 3: views at t=0 AND t=3h (the 30-min gap splits them into
    //   two sessions); purchase at t=5m overlaps ONLY the first
    val rows = Seq(
      (1L, 0L * M, 1L, "view", 1.0, "{}"),
      (2L, 10L * M, 1L, "purchase", 1.0, "{}"),
      (3L, 0L * M, 2L, "view", 1.0, "{}"),
      (4L, 120L * M, 2L, "purchase", 1.0, "{}"),
      (5L, 0L * M, 3L, "view", 1.0, "{}"),
      (6L, 180L * M, 3L, "view", 1.0, "{}"),
      (7L, 5L * M, 3L, "purchase", 1.0, "{}"))
    val dir = Harness.tempDir("ivjoin").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("q154_interval_join")(spark, dir)
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("v_idx"),
        r.getAs[Long]("p_idx"), r.getAs[Long]("overlap_us")))
      .toSet
    val mUs = 60L * 1000000L
    assert(out == Set(
      (1L, 1L, 1L, 20L * mUs),
      (3L, 1L, 1L, 25L * mUs)),
      s"got $out")
  }

  test("debounce keeps burst initiators and chains suppression") {
    // events at 0, 1m, 2m, 7m, 20m: 1m/2m are within 5m of their
    // predecessor; 7m is exactly 5m after 2m (NOT > 5m, so the burst
    // CHAINS through it); 20m is 13m clear and survives
    val rows = Seq(0L, 1L, 2L, 7L, 20L).zipWithIndex.map {
      case (t, i) => (i.toLong, t * M, 1L, "click", 1.0, "{}")
    } :+ (99L, 0L * M, 2L, "click", 1.0, "{}") // other user untouched
    val dir = Harness.tempDir("debounce").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val kept = SparkEntry.queries("q158_debounce")(spark, dir)
      .collect().map(_.getAs[Long]("event_id")).toSet
    assert(kept == Set(0L, 4L, 99L), s"got $kept")
  }
}
