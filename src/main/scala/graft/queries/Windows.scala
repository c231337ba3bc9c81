package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._

/** Window-function catalog (SURVEY.md §2.2): ranking, running
  * aggregates, lag/lead, sliding frames, global rank, sort/limit/top-k.
  *
  * Every orderBy inside a window carries a unique tie-break column
  * (orderkey / linenumber) so results are deterministic in both engines.
  * All windows partition by a key — no global single-partition windows
  * on fact tables (the one global ranking runs on the 200-row `part`
  * dim, which is broadcast-sized at any scale factor).
  */
object Windows {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q15_topk_per_group" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      orders(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("rn"),
          round(col("o_totalprice"), 2).as("o_totalprice"))
    }),

    "q16_running_sum" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"),
          round(sum(col("o_totalprice")).over(w), 2).as("running_spend"))
    }),

    "q17_lag_lead" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"),
          round(lag(col("o_totalprice"), 1).over(w), 2).as("prev_price"),
          round(lead(col("o_totalprice"), 1).over(w), 2).as("next_price"))
    }),

    "q18_moving_avg" -> ((s, d) => {
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
        .rowsBetween(-2, 0)
      lineitem(s, d)
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          round(avg(col("l_extendedprice")).over(w), 6).as("mavg_price"))
    }),

    // Global rank WITHOUT the single-partition window: the two-phase
    // scan of graft.plans.GlobalOrder — per-partition totals, then
    // local ranks seeded with the partitions before. Scales to fact
    // tables; no "No Partition Defined" straggler.
    "q19_rank_dense" -> ((s, d) => {
      graft.plans.GlobalOrder.withRanks(part(s, d),
          Seq(col("p_retailprice").desc, col("p_partkey")),
          rankCol = "price_rank", denseCol = "price_dense_rank")
        .select(col("p_partkey"), col("price_rank"), col("price_dense_rank"),
          round(col("p_retailprice"), 2).as("p_retailprice"))
    }),

    "q20_sort_limit" -> ((s, d) => {
      orders(s, d)
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
        .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("o_totalprice"))
    }),

    // RANGE frame (value-based, not row-based): trailing 1 wall-clock
    // hour per user — a ROWS frame counts neighbors, a RANGE frame
    // covers an interval regardless of how many events landed in it,
    // and all peers of a tied timestamp are in-frame by definition
    // (set semantics, so ties cannot make it nondeterministic). Frame
    // bounds compare exact integer microseconds in both engines.
    "q103_range_frame" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(unix_micros(col("ts")))
        .rangeBetween(-3600L * 1000000L, 0)
      events(s, d)
        .select(col("event_id"), col("user_id"),
          count(lit(1)).over(w).as("n_1h"),
          round(sum(col("value")).over(w), 2).as("value_1h"))
    }),

    // Distribution/analytic window family: ntile, percent_rank,
    // cume_dist over the ranking order; first/nth/last over an explicit
    // whole-partition ROWS frame (the default RANGE frame stops at the
    // current row, which would make last_value trivially self-valued).
    "q67_analytic_funcs" -> ((s, d) => {
      val w1 = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      val w2 = w1.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      customer(s, d).select(col("c_custkey"), col("c_nationkey"),
        ntile(4).over(w1).as("bal_quartile"),
        round(percent_rank().over(w1), 6).as("pct_rank"),
        round(cume_dist().over(w1), 6).as("cume"),
        round(first(col("c_acctbal")).over(w2), 2).as("top_bal"),
        round(nth_value(col("c_acctbal"), 2).over(w2), 2).as("second_bal"),
        round(last(col("c_acctbal")).over(w2), 2).as("bottom_bal"))
    })
  )

  val oracles: Map[String, String] = Map(
    "q15_topk_per_group" ->
      """SELECT o_custkey, o_orderkey, rn, round(o_totalprice, 2) AS o_totalprice
        |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
        |        CAST(row_number() OVER (PARTITION BY o_custkey
        |          ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
        |      FROM orders)
        |WHERE rn <= 3""".stripMargin,

    "q16_running_sum" ->
      """SELECT o_custkey, o_orderkey,
        |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend
        |FROM orders""".stripMargin,

    "q17_lag_lead" ->
      """SELECT o_custkey, o_orderkey,
        |  round(lag(o_totalprice, 1) OVER w, 2) AS prev_price,
        |  round(lead(o_totalprice, 1) OVER w, 2) AS next_price
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin,

    "q18_moving_avg" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  round(avg(l_extendedprice) OVER (PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS mavg_price
        |FROM lineitem""".stripMargin,

    "q19_rank_dense" ->
      """SELECT p_partkey,
        |  CAST(rank() OVER w AS INT) AS price_rank,
        |  CAST(dense_rank() OVER w AS INT) AS price_dense_rank,
        |  round(p_retailprice, 2) AS p_retailprice
        |FROM part
        |WINDOW w AS (ORDER BY p_retailprice DESC, p_partkey)""".stripMargin,

    "q20_sort_limit" ->
      """SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,

    "q103_range_frame" ->
      """SELECT event_id, user_id,
        |  count(*) OVER w AS n_1h,
        |  round(sum(value) OVER w, 2) AS value_1h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""".stripMargin,

    "q67_analytic_funcs" ->
      """SELECT c_custkey, c_nationkey,
        |  CAST(ntile(4) OVER w1 AS INT) AS bal_quartile,
        |  round(percent_rank() OVER w1, 6) AS pct_rank,
        |  round(cume_dist() OVER w1, 6) AS cume,
        |  round(first_value(c_acctbal) OVER w2, 2) AS top_bal,
        |  round(nth_value(c_acctbal, 2) OVER w2, 2) AS second_bal,
        |  round(last_value(c_acctbal) OVER w2, 2) AS bottom_bal
        |FROM customer
        |WINDOW w1 AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey),
        |       w2 AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin
  )
}
