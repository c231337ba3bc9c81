package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.AsOfJoin
import graft.queries.EventsQueries

class AsOfJoinSpec extends AnyFunSuite {
  import TestSpark.spark

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq

  /** The oracle's as-of by brute force: each error event joined to
    * every purchase of its user at or before it (and no more than
    * `toleranceUs` older, when given), keeping the latest by
    * (ts desc, event_id desc); `p_ts`, `p_id` and `p_value` are null
    * when no purchase qualifies.
    */
  private def bruteAsof(events: DataFrame, toleranceUs: Option[Long]): DataFrame = {
    val errors = events.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("p_id"), col("value").as("p_value"))
    val atOrBefore = col("p_user") === col("user_id") && col("p_ts") <= col("ts")
    val within = toleranceUs.fold(atOrBefore)(t =>
      atOrBefore && unix_micros(col("p_ts")) >= unix_micros(col("ts")) - t)
    val latest = Window.partitionBy(col("event_id"))
      .orderBy(col("p_ts").desc_nulls_last, col("p_id").desc_nulls_last)
    errors.join(purchases, within, "left")
      .withColumn("_rn", row_number().over(latest))
      .filter(col("_rn") === 1)
  }

  test("q33 and q106 match a brute-force as-of on sf0.001") {
    val e = Tables.events(spark, TestSpark.sf0001)
    val q33 = bruteAsof(e, None)
      .select(col("event_id"), col("user_id"), col("p_id").as("asof_purchase_id"),
        round(col("p_value"), 2).as("asof_value"))
    val q106 = bruteAsof(e, Some(3600L * 1000000L))
      .select(col("event_id"), col("user_id"), col("p_id").as("asof_purchase_id"),
        ((unix_micros(col("ts")) - unix_micros(col("p_ts"))) / 1000000L)
          .cast("long").as("gap_s"))
    for ((name, want) <- Seq("q33_asof_join" -> q33, "q106_asof_tolerance" -> q106)) {
      val got = EventsQueries.queries(name)(spark, TestSpark.sf0001)
      assert(canon(got) == canon(want), name)
      assert(got.filter(col("asof_purchase_id").isNotNull).count() > 0, name)
      val exchanges = PlanAudit.nodes(got.queryExecution.executedPlan)
        .collect { case x: ShuffleExchangeExec => x.outputPartitioning.toString }
      assert(exchanges.size == 1 && exchanges.head.contains("user_id"), s"$name: $exchanges")
    }
  }

  test("q33 takes the latest purchase's null value, not an older purchase's") {
    import spark.implicits._
    val dir = Harness.tempDir("asof-null").toString
    Seq((1L, 0L, 7L, "purchase", Option(5.0)),
        (2L, 600L, 7L, "purchase", Option.empty[Double]),
        (3L, 1200L, 7L, "error", Option(1.0)))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .select(col("event_id"), timestamp_seconds(col("ts")).as("ts"),
        col("user_id"), col("event_type"), col("value"), lit("{}").as("props"))
      .write.parquet(s"$dir/events.parquet")
    val rows = EventsQueries.queries("q33_asof_join")(spark, dir).collect()
    assert(rows.length == 1)
    val r = rows(0)
    assert(r.getAs[Long]("asof_purchase_id") == 2L, r)
    assert(r.isNullAt(r.fieldIndex("asof_value")), r)
  }

  test("null payload field in the latest right row wins atomically") {
    import spark.implicits._
    val left = Seq((1L, 10L, 30L)).toDF("id", "k", "t")
    val right = Seq(
      (10L, 10L, Option(5L), Option(1.0)),
      (10L, 20L, Option.empty[Long], Option(2.0))) // latest: p=null, v=2.0
      .toDF("k", "t", "p", "v")
    val out = AsOfJoin.asof(left, right, "k", "t", Seq("p", "v"), col("v"))
      .collect()(0)
    // must be the t=20 row verbatim — p stays null, never backfilled
    // from t=10, and v comes from the SAME row
    assert(out.isNullAt(out.fieldIndex("p")))
    assert(out.getDouble(out.fieldIndex("v")) == 2.0)
  }

  test("left rows before any right row get null payload") {
    import spark.implicits._
    val left = Seq((1L, 10L, 100L), (2L, 10L, 5L))
      .toDF("id", "k", "t")
    val right = Seq((10L, 50L, 7L, 1.5)).toDF("k", "t", "p", "v")
    val out = AsOfJoin.asof(left, right, "k", "t", Seq("p", "v"), col("p"))
      .collect().map(r => r.getLong(0) -> Option(r.get(3))).toMap
    assert(out(1L).contains(7L)) // t=100 sees the t=50 purchase
    assert(out(2L).isEmpty)      // t=5 predates everything
  }
}
