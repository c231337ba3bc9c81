package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SessionCache
import graft.Tables._

/** Relational operator catalog (SURVEY.md §2.2): scans, filters,
  * projections, every join shape, aggregation variants, set ops, and
  * scalar function families — each as a declarative DataFrame plan that
  * Catalyst can push down / reorder / broadcast, each with a DuckDB
  * oracle.
  *
  * Conventions for oracle parity:
  *  - every computed column is aliased identically in Spark and SQL
  *  - double aggregates are round()ed to a fixed scale on BOTH sides
  *    (sums of 2-decimal inputs → round 2; of 4-decimal products →
  *    round 4; averages → round 6), so engine-order float noise
  *    (~1e-11 rel) cannot flip the driver's hash compare
  *  - counts are BIGINT on both sides
  */
object Relational {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // --- privacy / anonymization ---------------------------------------
    // k-anonymity release of the customer table: names become sha256
    // pseudonyms, the balance is generalized to a coarse band, and any
    // quasi-identifier combination (nation x band x segment) backing
    // fewer than k individuals is suppressed to NULLs. Group sizes are
    // a tiny dimension (nations x bands x segments), so the size table
    // is computed once and BROADCAST back — the record side never
    // shuffles.
    "q76_anonymize" -> ((s, d) => {
      val k = 3
      val c = customer(s, d)
        .select(
          substring(sha2(col("c_name"), 256), 1, 16).as("pseudonym"),
          col("c_nationkey"),
          floor(col("c_acctbal") / 5000).cast("long").as("bal_band"),
          col("c_mktsegment"))
      val sizes = c.groupBy(col("c_nationkey"), col("bal_band"), col("c_mktsegment"))
        .agg(count(lit(1)).as("group_n"))
      c.join(broadcast(sizes), Seq("c_nationkey", "bal_band", "c_mktsegment"))
        .select(col("pseudonym"),
          when(col("group_n") >= k, col("c_nationkey")).as("nationkey"),
          when(col("group_n") >= k, col("bal_band")).as("bal_band"),
          when(col("group_n") >= k, col("c_mktsegment")).as("mktsegment"),
          col("group_n"))
    }),

    // --- regex scalar family --------------------------------------------
    // Spark regexp_* are Java-regex, the oracle's are RE2 — every
    // pattern here sticks to the shared subset (character classes,
    // groups, alternation; no lookaround, no \p classes). Spark
    // regexp_replace replaces ALL matches, so the oracle passes 'g'.
    "q83_regex_funcs" -> ((s, d) => {
      documents(s, d).select(
        col("doc_id"),
        regexp_extract(col("text"), "(s[a-z]+)", 1).as("first_s_word"),
        regexp_replace(col("text"), "[aeiou]+", "_").as("devoweled"),
        col("text").rlike("stream [a-z]+ window").cast("long").as("has_pattern"),
        regexp_count(col("text"), lit("(^| )b[a-z]*")).cast("long").as("n_b_words"))
    }),

    // --- data-quality profiling ----------------------------------------
    // Deequ-style column profile: one (n_rows, n_nulls, n_distinct) row
    // per audited column — the pre-ingestion quality gate a pipeline
    // runs before trusting a new drop. Deliberately one single-column
    // aggregation per column (each scan prunes to that column in
    // parquet) rather than one multi-countDistinct agg, which Catalyst
    // expands into a row-multiplying Expand (the q11 lesson).
    "q81_profile" -> ((s, d) => {
      val li = lineitem(s, d)
      Seq("l_returnflag", "l_linestatus", "l_quantity", "l_discount")
        .map { c =>
          li.agg(
            count(lit(1)).as("n_rows"),
            count(col(c)).as("n_present"),
            countDistinct(col(c)).as("n_distinct"))
            .select(lit(c).as("col_name"), col("n_rows"),
              (col("n_rows") - col("n_present")).as("n_nulls"),
              col("n_distinct"))
        }
        .reduce(_ unionAll _)
    }),

    // Deequ-style constraint VALIDATION (the enforcement half of q81's
    // profiling): declared expectations — completeness, key uniqueness,
    // value range, set membership, minimum size — evaluated in ONE
    // aggregation pass over the table, emitted as a (check, metric,
    // passed) verdict table a pipeline gates ingestion on. The single
    // countDistinct keeps the Expand at 2 groups (vs the row-
    // multiplying multi-countDistinct q81 avoids); everything else is
    // a conditional sum, fully map-reducible at any scale.
    "q123_constraints" -> ((s, d) => {
      val m = orders(s, d).agg(
        count(lit(1)).as("n_rows"),
        count(col("o_custkey")).as("n_cust"),
        countDistinct(col("o_orderkey")).as("n_keys"),
        sum(when(col("o_totalprice") > 0 && col("o_totalprice") < 1000000, 1L)
          .otherwise(0L)).as("n_price_ok"),
        sum(when(col("o_orderstatus").isin("O", "F", "P"), 1L)
          .otherwise(0L)).as("n_status_ok"))
      def check(name: String, num: org.apache.spark.sql.Column,
                pass: org.apache.spark.sql.Column) =
        struct(lit(name).as("check_name"),
          // nullif (mirrored in the oracle): on an EMPTY table both
          // engines then yield NULL metrics instead of Spark-NULL vs
          // DuckDB-error divergence (ADVICE r4)
          round(num.cast("double") / nullif(col("n_rows"), lit(0)), 6)
            .as("metric"),
          pass.cast("long").as("passed"))
      m.select(explode(array(
          check("completeness_custkey", col("n_cust"),
            col("n_cust") === col("n_rows")),
          check("uniqueness_orderkey", col("n_keys"),
            col("n_keys") === col("n_rows")),
          check("range_totalprice", col("n_price_ok"),
            col("n_price_ok") === col("n_rows")),
          check("set_orderstatus", col("n_status_ok"),
            col("n_status_ok") === col("n_rows")),
          struct(lit("min_size_1").as("check_name"),
            col("n_rows").cast("double").as("metric"),
            (col("n_rows") >= 1).cast("long").as("passed")))).as("c"))
        .select(col("c.check_name"), col("c.metric"), col("c.passed"))
    }),

    // Percentile winsorization — the robust-statistics data-cleaning op
    // (clip each group's tail values to its own p05/p95 instead of
    // dropping rows). ONE fact scan: the value HISTOGRAM (group, value,
    // count) is the only corpus-sized aggregate (map-side combinable —
    // equal prices collapse before the shuffle); exact percentiles come
    // from cumulative counts over the DISTINCT values (the per-group
    // sort is distinct-values-sized, never fact-sized — the scale
    // problem with percentile_cont's per-group full sort that the r7
    // verdict flagged), and the clipped mean re-reads the persisted
    // histogram, not the fact. Interpolation replicates the
    // percentile_cont definition exactly — pos = p·(n−1),
    // (i1−pos)·v[i0] + (pos−i0)·v[i1], lower value when pos is integral
    // — and the winsorized mean runs in EXACT integer cents (2-decimal
    // prices scale losslessly; a distributed double sum's
    // order-dependent ulp noise cannot). Cutoffs rounded 4dp — the q53
    // percentile_cont parity rule — so comparisons never ride on
    // sub-ulp interpolation noise. Oracle stays percentile_cont: the
    // hash match proves the histogram form IS the ordered-set
    // aggregate.
    "q124_winsorize" -> ((s, d) => {
      val h = lineitem(s, d)
        .groupBy(col("l_returnflag").as("f"),
          col("l_extendedprice").as("v"))
        .agg(count(lit(1)).as("c"))
        .transform(SessionCache.persist)
      // Both window columns ride ONE window spec (same partition AND
      // order): the group total is the running-sum spec with an
      // explicit unbounded-unbounded ROWS frame, so Spark plans a
      // single WindowExec evaluating both frames in one pass over the
      // sorted histogram instead of two Window operators (guide §2.4
      // "operations keyed the same way share one exchange"; the r15
      // form's second Window re-buffered every group). Long-count sums
      // are order-independent — values unchanged.
      val wOrd = Window.partitionBy(col("f")).orderBy(col("v"))
      val cum = h
        .withColumn("cs", sum(col("c")).over(wOrd))
        .withColumn("n", sum(col("c")).over(wOrd.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)))
      // the value at 0-based sorted row index i is the one whose
      // cumulative range [cs − c, cs) covers i; exactly one does, so
      // max(when(...)) is the lookup
      def at(i: Column): Column =
        max(when(col("cs") - col("c") <= i && i < col("cs"), col("v")))
      def posOf(p: Double): Column =
        lit(p) * (col("n") - 1).cast("double")
      val cuts = cum.groupBy(col("f"))
        .agg(at(floor(posOf(0.05))).as("lo0"), at(ceil(posOf(0.05))).as("lo1"),
          at(floor(posOf(0.95))).as("hi0"), at(ceil(posOf(0.95))).as("hi1"),
          max(col("n")).as("n"))
      def interp(p: Double, v0: Column, v1: Column): Column = {
        val pos = lit(p) * (col("n") - 1).cast("double")
        when(ceil(pos) === floor(pos), v0)
          .otherwise((ceil(pos) - pos) * v0 + (pos - floor(pos)) * v1)
      }
      val cut = cuts.select(col("f"),
        round(interp(0.05, col("lo0"), col("lo1")), 4).as("lo"),
        round(interp(0.95, col("hi0"), col("hi1")), 4).as("hi"))
      val cents = when(col("v") < col("lo"), col("lo"))
        .when(col("v") > col("hi"), col("hi")).otherwise(col("v"))
      h.join(broadcast(cut), Seq("f"))
        .select(col("f").as("l_returnflag"), col("lo"), col("hi"), col("c"),
          (col("v") < col("lo")).cast("long").as("is_lo"),
          (col("v") > col("hi")).cast("long").as("is_hi"),
          round(cents * 100, 0).cast("bigint").as("cents"))
        .groupBy(col("l_returnflag"), col("lo"), col("hi"))
        .agg(sum(col("is_lo") * col("c")).as("n_clipped_lo"),
          sum(col("is_hi") * col("c")).as("n_clipped_hi"),
          round(sum(col("cents") * col("c")).cast("double") / 100.0
            / sum(col("c")), 4).as("winsorized_mean"))
    }),

    // Bloom-filter pre-filtered semi-join — the scale pattern for "big
    // fact semi-joins a filtered key set" when the key set is too large
    // to broadcast as an exact set but its SKETCH is not: build a Bloom
    // filter over the hot order keys in one aggregate (a few hundred KB
    // at ANY key count — the whole point), broadcast the sketch, drop
    // most fact rows map-side before the shuffle, then run the exact
    // semi-join on the survivors. False positives pass the sketch and
    // die in the exact join, so the result is EXACT — the oracle is the
    // plain IN-subquery, which is why this stays hash-checkable. Uses
    // Spark's native BloomFilterAggregate/BloomFilterMightContain
    // (codegen'd; the same machinery AQE runtime filters use) via the
    // ExprBridge, with xxhash64 keys on both build and probe sides.
    "q126_bloom_semijoin" -> ((s, d) => {
      import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, ScalarSubquery}
      import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
      import org.apache.spark.sql.graft.ExprBridge
      val hot = orders(s, d).filter(col("o_totalprice") > 200000.0)
        .select(col("o_orderkey"))
      // Size the sketch from the ACTUAL hot-set cardinality (one cheap
      // single-column pushed-filter count at build time) instead of a
      // fixed literal: a fixed 100k capacity silently degrades the
      // pre-filter toward a no-op once the hot set outgrows it at
      // larger SFs (ADVICE r5). 8 bits/item ≈ 2% fpp; floor keeps the
      // sketch sane on tiny fixtures.
      val nHot = math.max(hot.count(), 1000L)
      val bf = hot.agg(ExprBridge.column(
        new BloomFilterAggregate(
          ExprBridge.expression(xxhash64(col("o_orderkey"))),
          Literal(nHot), Literal(8L * nHot)).toAggregateExpression()).as("bf"))
      // might_contain demands its filter side be a CONSTANT or scalar
      // subquery (the sketch must be complete before the probe scans),
      // so the build aggregate is embedded as a ScalarSubquery — the
      // same shape AQE's injected runtime filters take.
      val pre = lineitem(s, d)
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
        .filter(ExprBridge.column(new BloomFilterMightContain(
          ScalarSubquery(bf.queryExecution.analyzed),
          ExprBridge.expression(xxhash64(col("l_orderkey"))))))
      pre.join(hot, pre("l_orderkey") === hot("o_orderkey"), "left_semi")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity")), 2).as("sum_qty"))
    }),

    // --- aggregation ----------------------------------------------------
    // TPC-H Q1 shape: scan-side filter + 6-way aggregate. The filter and
    // the 8-column projection are pushed into the parquet scan.
    "q01_pricing_summary" -> ((s, d) => {
      lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1999-06-30").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("sum_disc_price"),
          round(avg(col("l_quantity")), 6).as("avg_qty"),
          round(avg(col("l_discount")), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))
    }),

    "q02_filter_project" -> ((s, d) => {
      lineitem(s, d)
        .filter(col("l_quantity") >= 30 && col("l_quantity") <= 40 &&
          col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("net_price"))
    }),

    // --- joins ----------------------------------------------------------
    // The fact is PRE-AGGREGATED to order grain before any join: one
    // shuffle on its natural key shrinks it ~4x, the joins then move
    // order-grain rows only, and countDistinct (an Expand over the whole
    // joined fact) becomes a plain count — the 100x-scale shape.
    "q03_segment_revenue" -> ((s, d) => {
      val c = customer(s, d); val o = orders(s, d); val l = lineitem(s, d)
      val orderRev = l.groupBy(col("l_orderkey"))
        .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("order_rev"))
      orderRev.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(
          round(sum(col("order_rev")), 4).as("revenue"),
          count(lit(1)).as("n_orders"))
    }),

    "q04_left_join_counts" -> ((s, d) => {
      val c = customer(s, d); val o = orders(s, d)
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"),
          round(coalesce(sum(col("o_totalprice")), lit(0.0)), 2).as("spend"))
    }),

    "q05_semi_join" -> ((s, d) => {
      customer(s, d).join(
        orders(s, d).filter(col("o_orderstatus") === "F"),
        col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_mktsegment"))
    }),

    "q06_anti_join" -> ((s, d) => {
      customer(s, d).join(
        orders(s, d).filter(col("o_orderstatus") === "P"),
        col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_nationkey"))
    }),

    // Full outer over two pre-aggregated sides: each side shrinks to its
    // key grain BEFORE the join, so the outer join moves one row per key
    // — never the raw tables. The acctbal filter guarantees key sets
    // that miss in BOTH directions (null-side coverage both ways).
    "q58_full_outer_join" -> ((s, d) => {
      val cn = customer(s, d).filter(col("c_acctbal") > 8000)
        .groupBy(col("c_nationkey").as("nationkey"))
        .agg(count(lit(1)).as("n_cust"))
      val sn = supplier(s, d)
        .groupBy(col("s_nationkey").as("nationkey"))
        .agg(count(lit(1)).as("n_supp"))
      cn.join(sn, Seq("nationkey"), "full_outer")
        .select(col("nationkey"),
          coalesce(col("n_cust"), lit(0L)).as("n_cust"),
          coalesce(col("n_supp"), lit(0L)).as("n_supp"))
    }),

    // Right outer with the preserved side on the right; the left-side
    // status restriction lives in the join (an ON-clause predicate —
    // a WHERE would silently turn the join inner).
    "q59_right_join" -> ((s, d) => {
      val o = orders(s, d).filter(col("o_orderstatus") === "F")
      o.join(customer(s, d), col("o_custkey") === col("c_custkey"), "right")
        .groupBy(col("c_custkey"), col("c_mktsegment"))
        .agg(count(col("o_orderkey")).as("n_orders"),
          round(coalesce(sum(col("o_totalprice")), lit(0.0)), 2).as("spend"))
    }),

    // Salted skew JOIN (plans/Salting.saltedEquiJoin): lineitem joins
    // its supplier dim on (suppkey, salt) with the 10-row dim replicated
    // 16x — the manual hot-key spread for when AQE can't split the
    // skewed partition. The oracle is the PLAIN join: salting must be
    // invisible in the result.
    "q87_salted_join" -> ((s, d) => {
      graft.plans.Salting.saltedEquiJoin(
          lineitem(s, d), supplier(s, d),
          bigKey = "l_suppkey", smallKey = "s_suppkey",
          saltFrom = Seq(col("l_orderkey"), col("l_linenumber")))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"),
          col("s_name"), round(col("l_extendedprice"), 2).as("price"))
    }),

    // Linear-regression aggregate family (least-squares over
    // (quantity, price) pairs per flag): slope/intercept/r² complete
    // the statistical aggregates next to q54's corr/covar. Rounded at
    // 4dp — the sums behind the moments are the same unordered-double
    // precedent as q54's corr at 6dp.
    "q112_regression_aggs" -> ((s, d) => {
      lineitem(s, d).groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          round(regr_slope(col("l_extendedprice"), col("l_quantity")), 4)
            .as("slope"),
          round(regr_intercept(col("l_extendedprice"), col("l_quantity")), 4)
            .as("intercept"),
          round(regr_r2(col("l_extendedprice"), col("l_quantity")), 6)
            .as("r2"))
    }),

    // String aggregation (listagg/string_agg): names concatenated per
    // group — deterministic only in the SORTED form (same lesson as
    // q109's arrays; unordered string_agg output is engine- and
    // partitioning-dependent).
    "q110_string_agg" -> ((s, d) => {
      supplier(s, d).groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_supp"),
          concat_ws(",", sort_array(collect_list(col("s_name"))))
            .as("names"))
    }),

    // Robust statistics: (median, median-absolute-deviation) per group
    // — the outlier-resistant replacement for (mean, stddev) on
    // heavy-tailed data. Two ordered-set aggregation passes; the
    // per-group median (a groups-sized dim) joins back for the
    // deviation pass. percentile_cont parity at 4dp (q53 precedent);
    // sub-ulp deviation noise is swallowed by the rounding.
    "q111_robust_stats" -> ((s, d) => {
      orders(s, d).createOrReplaceTempView("graft_q111_orders")
      s.sql("""WITH med AS (
              |  SELECT o_orderstatus,
              |    percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice)
              |      AS med
              |  FROM graft_q111_orders GROUP BY o_orderstatus),
              |dev AS (
              |  SELECT o.o_orderstatus, m.med,
              |    abs(o.o_totalprice - m.med) AS adev
              |  FROM graft_q111_orders o
              |  JOIN med m ON o.o_orderstatus = m.o_orderstatus)
              |SELECT o_orderstatus,
              |  round(min(med), 4) AS median_price,
              |  round(percentile_cont(0.5) WITHIN GROUP (ORDER BY adev), 4)
              |    AS mad
              |FROM dev GROUP BY o_orderstatus""".stripMargin)
    }),

    // Conditional aggregate family: count_if / bool_or / bool_and and
    // a DETERMINISTIC argmax — max over a (value, unique-key) struct,
    // so ties on the value can never make the winning row
    // engine-dependent (bare max_by ties are unspecified in both
    // engines; the struct tie-break closes that hole).
    "q108_conditional_aggs" -> ((s, d) => {
      val top = max(struct(round(col("o_totalprice"), 2).as("p"),
        col("o_orderkey").as("k")))
      orders(s, d).groupBy(col("o_orderstatus"))
        .agg(count_if(col("o_totalprice") > 200000).as("n_big"),
          bool_or(col("o_totalprice") > 400000).as("any_huge"),
          bool_and(col("o_totalprice") > 0).as("all_positive"),
          top.getField("k").as("top_order"),
          top.getField("p").as("top_price"))
    }),

    // Gaps-and-islands over the sparse orderkey sequence (TPC-H keys
    // skip ranges by design): contiguous runs found via the classic
    // key − row_number() constant-per-island trick, with the global
    // numbering done by the two-phase range-partitioned Ranks plan —
    // no single-partition window at any table size.
    "q107_gaps_islands" -> ((s, d) => {
      val ranked = graft.plans.Ranks.withGlobalRanks(
        orders(s, d).select(col("o_orderkey")),
        sortCols = Seq(col("o_orderkey")),
        keyCols = Seq(col("o_orderkey")),
        rankCol = "rn")
      ranked.withColumn("grp", col("o_orderkey") - col("rn"))
        .groupBy(col("grp"))
        .agg(min(col("o_orderkey")).as("island_start"),
          max(col("o_orderkey")).as("island_end"),
          count(lit(1)).as("n"))
        .select(col("island_start"), col("island_end"), col("n"))
    }),

    // Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys
    // MATCH each other, where plain `=` silently drops every
    // NULL-keyed row — the correctness trap in joining nullable
    // dimension keys. Keys are nullified in-plan (%7) so both engines
    // derive identical NULL sets.
    "q100_nullsafe_join" -> ((s, d) => {
      val c = customer(s, d).select(col("c_custkey"),
        when(col("c_custkey") % 7 === 0, lit(null).cast("long"))
          .otherwise(col("c_nationkey")).as("c_nk"))
      val n = nation(s, d).select(
        when(col("n_nationkey") % 7 === 0, lit(null).cast("long"))
          .otherwise(col("n_nationkey")).as("n_nk"), col("n_name"))
      c.join(n, col("c_nk") <=> col("n_nk"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_cust"),
          sum(col("c_nk").isNull.cast("long")).as("n_null_matched"))
    }),

    // UNPIVOT (melt) — the inverse of q32's pivot: wide per-flag
    // metrics to long (flag, metric, value) rows. Runs on the tiny
    // aggregate, so the reshape is free at any scale.
    "q101_unpivot" -> ((s, d) => {
      val m = lineitem(s, d).groupBy(col("l_returnflag"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_price"),
          count(lit(1)).cast("double").as("n_lines"))
      m.unpivot(Array(col("l_returnflag")),
        Array(col("sum_qty"), col("sum_price"), col("n_lines")),
        "metric", "value")
    }),

    // Lakehouse-style upsert (SCD1 / MERGE INTO semantics without a
    // table format): apply an updates batch to a base table, latest
    // version per key wins. The updates batch is derived in-plan (10%
    // of orders with a price revision) so the oracle sees the
    // identical merge. ONE shuffle on the key; the deterministic
    // (version desc) tie-break makes replaying the same batch
    // idempotent.
    "q93_upsert_latest" -> ((s, d) => {
      val base = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice"), 2).as("price"), lit(1L).as("version"))
      // additive revision, not a multiplier: price * 1.1 mints 3-dp
      // half-way values (x.xx5) where Spark's decimal-string HALF_UP
      // and the oracle's binary-double rounding disagree; +100.0 adds
      // no fractional digits, so round(_, 2) stays engine-portable
      val updates = orders(s, d).filter(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice") + 100.0, 2).as("price"),
          lit(2L).as("version"))
      val w = Window.partitionBy(col("o_orderkey")).orderBy(col("version").desc)
      base.unionByName(updates)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).drop("rn")
    }),

    // Snapshot diff (CDC between two table versions): rows added,
    // removed, or changed, classified with ONE full-outer join on the
    // key. Version 2 is derived in-plan (deletions at keys %97, price
    // revisions at keys %10, additions as key-shifted copies) so the
    // oracle sees the identical pair; 'same' rows are filtered out so
    // the output is change-sized, not table-sized — at 100 TB the diff
    // moves one row per key and emits only the delta.
    "q95_snapshot_diff" -> ((s, d) => {
      val v1 = orders(s, d).select(col("o_orderkey"),
        round(col("o_totalprice"), 2).as("price"))
      val v2 = v1.filter(col("o_orderkey") % 97 =!= 0)
        .withColumn("price", when(col("o_orderkey") % 10 === 0,
          round(col("price") + 100.0, 2)).otherwise(col("price")))
        // additions live in negative key space (-k - 1): structurally
        // collision-free with real orderkeys at ANY scale factor (a
        // fixed +10M shift would collide once orderkey exceeds it)
        .unionByName(v1.filter(col("o_orderkey") % 50 === 0)
          .select((-col("o_orderkey") - 1L).as("o_orderkey"),
            col("price")))
      v1.select(col("o_orderkey"), col("price").as("old_price"))
        .join(v2.select(col("o_orderkey"), col("price").as("new_price")),
          Seq("o_orderkey"), "full_outer")
        .withColumn("status",
          when(col("new_price").isNull, "removed")
            .when(col("old_price").isNull, "added")
            .when(col("old_price") =!= col("new_price"), "changed")
            .otherwise("same"))
        .filter(col("status") =!= "same")
        .select(col("o_orderkey"), col("status"),
          col("old_price"), col("new_price"))
    }),

    // Equal-width histogram (20 bins) of order totals: the
    // distribution-profiling op behind every "what does this column
    // look like" question. Bounds come from a 1-row aggregate
    // broadcast; binning is a pure projection; the wide work is the
    // 20-group count. Bin edges are computed with IDENTICAL double
    // arithmetic in both engines, so floor() can never straddle.
    "q94_histogram" -> ((s, d) => {
      val b = orders(s, d).agg(min(col("o_totalprice")).as("mn"),
        max(col("o_totalprice")).as("mx"))
      val width = (col("mx") - col("mn")) / 20.0
      orders(s, d).crossJoin(broadcast(b))
        .withColumn("bin",
          least(floor((col("o_totalprice") - col("mn")) / width), lit(19.0))
            .cast("long"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"),
          round(min(col("o_totalprice")), 2).as("bin_min"),
          round(max(col("o_totalprice")), 2).as("bin_max"))
    }),

    // The SQL surface itself: same engine, same Catalyst plan, driven
    // through spark.sql over a temp view (TPC-H Q6 shape) — proves a
    // SQL-first user gets the identical declarative path as the Column
    // API used everywhere else in the catalog.
    "q66_sql_surface" -> ((s, d) => {
      lineitem(s, d).createOrReplaceTempView("lineitem_v")
      s.sql("""SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue_delta,
              |       count(*) AS n_lines
              |FROM lineitem_v
              |WHERE l_quantity < 24 AND l_discount BETWEEN 0.05 AND 0.07""".stripMargin)
    }),

    // Correlated aggregating scalar subquery in WHERE — exercises
    // Catalyst's decorrelation rewrite (the subquery becomes a grouped
    // left join, so the plan is a shuffle-agg + join, not a per-row
    // probe; same rewrite DuckDB applies on the oracle side).
    "q68_correlated_subquery" -> ((s, d) => {
      customer(s, d).createOrReplaceTempView("customer_v68")
      orders(s, d).createOrReplaceTempView("orders_v68")
      s.sql("""SELECT c_custkey, c_mktsegment
              |FROM customer_v68 c
              |WHERE (SELECT count(*) FROM orders_v68 o
              |       WHERE o.o_custkey = c.c_custkey
              |         AND o.o_totalprice > 250000) >= 2""".stripMargin)
    }),

    // Explicit broadcast of the small dimension: at 100 TB the fact side
    // never shuffles for this join.
    "q07_broadcast_join" -> ((s, d) => {
      val l = lineitem(s, d); val p = part(s, d)
      l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
        .filter(col("p_type") === "PROMO")
        .groupBy(col("p_brand"))
        .agg(round(sum(col("l_quantity")), 2).as("promo_qty"),
          count(lit(1)).as("n_lines"))
    }),

    // Equi join + range residual (band join): the equi key keeps it a
    // hash join; the band condition is evaluated as a post-join filter.
    "q08_range_join" -> ((s, d) => {
      val l = lineitem(s, d); val p = part(s, d)
      l.join(broadcast(p),
        l("l_partkey") === p("p_partkey") &&
          l("l_quantity") >= p("p_size") - 2 && l("l_quantity") <= p("p_size") + 2)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_near_size"),
          round(sum(col("l_extendedprice")), 2).as("price_sum"))
    }),

    // 5-way star join (TPC-H Q5 shape). Join ORDER matters at 100 TB:
    // the region predicate is applied to customer FIRST (through the
    // broadcast nation⋈region dim), so both big shuffles — orders⋈customer
    // and lineitem⋈orders — carry only the ~1/5 of rows that survive the
    // ASIA restriction, instead of joining the full facts and filtering
    // at the end. The narrow (c_custkey, n_name) projection keeps the
    // shuffled payload minimal.
    "q09_star_join" -> ((s, d) => {
      val asiaNations = nation(s, d).join(
        broadcast(region(s, d).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      val asiaCust = customer(s, d)
        .join(broadcast(asiaNations), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name"))
      val asiaOrders = orders(s, d)
        .join(asiaCust, col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("n_name"))
      lineitem(s, d)
        .join(asiaOrders, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"))
    }),

    // --- distinct aggregation -------------------------------------------
    "q10_agg_distinct" -> ((s, d) => {
      orders(s, d).groupBy(col("o_orderstatus"))
        .agg(countDistinct(col("o_custkey")).as("n_custs"),
          count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("total"))
    }),

    // HLL sketch — approximate by design, no exact oracle (driver records
    // rows-only). rsd 5% default.
    // HLL sketch next to the exact count, emitting the exact values and
    // a within-5%-envelope flag per column (HLL at rsd=1% is
    // deterministic for a given dataset, so the flag is stable and the
    // whole row is hash-checkable — this was the catalog's one
    // rows-only entry before round 4). The exact pair and the sketch
    // pair run as SEPARATE scans joined on their 1-row results: mixing
    // countDistinct's Expand with wide HLL buffers in one aggregate
    // forces the sketches through the expanded row stream off the
    // codegen path (measured 60s at sf0.1 vs ~1s split).
    "q11_approx_distinct" -> ((s, d) => {
      // Two distinct aggregates over DIFFERENT columns in one agg
      // force an Expand (x2 row multiplication before the partial
      // aggregate, off the map-side-combine fast path — guide §2.3).
      // One single-column pass per column: explicit
      // distinct -> (count + HLL) keeps the pass partial-distinct ->
      // exchange of distinct keys only, and folds the approx sketch
      // into the SAME scan (r15 left it as a third lineitem scan) —
      // HLL register updates are idempotent max-folds, so the sketch
      // over the distinct keys is BIT-IDENTICAL to the sketch over the
      // raw rows (multiplicity and order never change a register).
      // count(*) over the distinct non-null keys == countDistinct.
      // 3 scans -> 2 (VERDICT r15 #1); the two 1-row results
      // cross-join for free. Same exact counts, same flags.
      def arm(c: String, exact: String, approx: String) =
        lineitem(s, d).select(col(c)).where(col(c).isNotNull).distinct()
          .agg(count(lit(1)).as(exact),
            approx_count_distinct(col(c), 0.01).as(approx))
      arm("l_partkey", "exact_parts", "approx_parts")
        .crossJoin(broadcast(arm("l_orderkey", "exact_orders", "approx_orders")))
        .select(col("exact_parts"), col("exact_orders"),
          (abs(col("approx_parts") - col("exact_parts")).cast("double")
            / col("exact_parts") <= 0.05).cast("long").as("parts_within_5pct"),
          (abs(col("approx_orders") - col("exact_orders")).cast("double")
            / col("exact_orders") <= 0.05).cast("long").as("orders_within_5pct"))
    }),

    // --- multi-dimensional aggregation ----------------------------------
    "q12_rollup" -> ((s, d) => {
      orders(s, d).rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("total"))
    }),

    // grouping()/grouping_id() markers — the piece that makes rollup
    // output MACHINE-READABLE: a NULL status row is ambiguous between
    // "subtotal" and "status IS NULL in the data" until the grouping
    // flags disambiguate. gid mirrors Spark's documented bit order
    // (leftmost grouping column = MSB), which the oracle reconstructs
    // as 2*GROUPING(status) + GROUPING(priority).
    "q133_grouping_id" -> ((s, d) => {
      orders(s, d).rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          grouping(col("o_orderstatus")).cast("long").as("g_status"),
          grouping(col("o_orderpriority")).cast("long").as("g_prio"),
          grouping_id().cast("long").as("gid"))
    }),

    "q13_cube" -> ((s, d) => {
      lineitem(s, d).cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity")), 2).as("qty"))
    }),

    "q14_grouping_sets" -> ((s, d) => {
      lineitem(s, d).createOrReplaceTempView("graft_li")
      s.sql("""SELECT l_returnflag, l_linestatus, count(*) AS n
              |FROM graft_li
              |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
              |""".stripMargin)
    }),

    // --- set operations ---------------------------------------------------
    "q21_union_all" -> ((s, d) => {
      val o = orders(s, d)
      o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
        .union(o.filter(col("o_orderstatus") === "F").select(col("o_custkey")))
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
    }),

    "q22_intersect" -> ((s, d) => {
      val o = orders(s, d)
      o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
        .intersect(o.filter(col("o_orderstatus") === "F").select(col("o_custkey")))
    }),

    "q23_except" -> ((s, d) => {
      val o = orders(s, d)
      o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
        .except(o.filter(col("o_orderstatus") === "F").select(col("o_custkey")))
    }),

    // Schema-evolution union — unionByName(allowMissingColumns): the
    // "append a batch whose schema drifted" operation every long-lived
    // table hits (new column added, old column retired). Spark aligns
    // by NAME and null-fills the gaps; a positional UNION would
    // silently misalign. The oracle writes the aligned union explicitly
    // — what matters is that the RESULT matches.
    "q136_union_by_name" -> ((s, d) => {
      val v1 = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice"), 2).as("price"))
      val v2 = orders(s, d).filter(col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey"),
          round(col("o_totalprice") + 50.0, 2).as("price"),
          lit("rev").as("tag")) // o_custkey retired, tag added
      v1.unionByName(v2, allowMissingColumns = true)
        .groupBy(col("tag"))
        .agg(count(lit(1)).as("n"),
          count(col("o_custkey")).as("n_with_cust"),
          round(sum(col("price")), 2).as("sum_price"))
    }),

    // Bag-semantics set ops — EXCEPT ALL / INTERSECT ALL keep
    // MULTIPLICITY (a customer with 3 open and 1 filled order survives
    // except_all TWICE), which the q22/q23 distinct forms erase; the
    // multiplicity-aware forms are what reconciliation/diff pipelines
    // actually need. Grouped afterwards so the result is the compact
    // (op, key, surviving_copies) profile.
    "q131_set_ops_all" -> ((s, d) => {
      val o = orders(s, d)
      val open = o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
      val filled = o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
      open.exceptAll(filled).withColumn("op", lit("except_all"))
        .union(open.intersectAll(filled).withColumn("op", lit("intersect_all")))
        .groupBy(col("op"), col("o_custkey"))
        .agg(count(lit(1)).as("n_copies"))
    }),

    // MAP-typed column family — the remaining complex-type surface next
    // to arrays (q27) and json structs (q28): per-user event-type
    // count maps built with map_from_entries, reshaped with the map
    // higher-order functions (transform_values, map_filter), then
    // EXPLODED back to rows so the result is oracle-checkable — DuckDB
    // never needs Spark's map machinery, it computes the equivalent
    // grouped counts directly. The map stays inside one row's
    // projection at every step: zero extra shuffle beyond the
    // (user, type) aggregate.
    "q132_map_funcs" -> ((s, d) => {
      val counts = events(s, d)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      counts.groupBy(col("user_id"))
        .agg(map_from_entries(sort_array(collect_list(
          struct(col("event_type"), col("n"))))).as("m"))
        // doubled counts via transform_values, then map_filter keeps
        // only types seen at least twice (doubled >= 4)
        .withColumn("m2", transform_values(col("m"), (_, v) => v * 2))
        .withColumn("hot", map_filter(col("m2"), (_, v) => v >= 4))
        .select(col("user_id"), size(col("m")).cast("long").as("n_types"),
          explode(col("hot")).as(Seq("event_type", "doubled_n")))
    }),

    // --- scalar function families ----------------------------------------
    "q24_string_funcs" -> ((s, d) => {
      part(s, d).select(
        col("p_partkey"),
        lower(col("p_name")).as("name_lower"),
        upper(col("p_brand")).as("brand_upper"),
        substring(col("p_type"), 1, 3).as("type_pfx"),
        length(col("p_name")).cast("long").as("name_len"),
        concat_ws("-", col("p_brand"), col("p_type")).as("brand_type"),
        regexp_extract(col("p_brand"), "#(\\d+)", 1).as("brand_num"),
        element_at(split(col("p_name"), " "), 1).as("first_word"),
        trim(lit("  pad  ")).as("trimmed"))
    }),

    "q25_date_funcs" -> ((s, d) => {
      orders(s, d).select(
        col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("yr"),
        month(col("o_orderdate")).cast("long").as("mo"),
        quarter(col("o_orderdate")).cast("long").as("qtr"),
        dayofmonth(col("o_orderdate")).cast("long").as("dom"),
        date_trunc("month", col("o_orderdate")).cast("date").as("month_start"),
        datediff(col("o_orderdate"), lit("1995-01-01").cast("date")).cast("long").as("days_since"))
    }),

    "q26_math_funcs" -> ((s, d) => {
      lineitem(s, d)
        .filter(col("l_orderkey") < 100)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice"), 0).as("price_round"),
          floor(col("l_extendedprice")).cast("long").as("price_floor"),
          ceil(col("l_extendedprice")).cast("long").as("price_ceil"),
          round(abs(col("l_discount") - 0.05), 4).as("disc_dev"),
          round(sqrt(col("l_quantity")), 6).as("qty_sqrt"),
          round(log(col("l_extendedprice")), 6).as("price_ln"),
          pmod(col("l_orderkey"), lit(7)).as("key_mod"))
    }),

    // Higher-order array functions over the embedding vectors.
    "q27_array_funcs" -> ((s, d) => {
      embeddings(s, d)
        .filter(col("vec_id") < 100)
        .select(
          col("vec_id"),
          size(col("embedding")).cast("long").as("dim"),
          round(aggregate(slice(col("embedding"), 1, 8),
            lit(0.0), (acc, x) => acc + x.cast("double")), 6).as("head_sum"),
          round(array_max(col("embedding")).cast("double"), 6).as("vmax"),
          round(array_min(col("embedding")).cast("double"), 6).as("vmin"),
          round(aggregate(col("embedding"), lit(0.0),
            (acc, x) => acc + x.cast("double") * x.cast("double")), 6).as("sq_norm"))
    }),

    // Higher-order predicate family over arrays: filter / exists /
    // forall plus a fold over the filtered subset — the lambda surface
    // q27's numeric folds don't touch. All pure projections; integer
    // outputs so no float parity care is needed. forall on an empty
    // array is vacuously true in both engines (len(filter)=0 mirror).
    "q104_hof_predicates" -> ((s, d) => {
      val ws = TextOps.wordsOf(col("text"))
      documents(s, d).select(
        col("doc_id"),
        size(filter(ws, w => length(w) >= 6)).cast("long").as("n_long_words"),
        exists(ws, w => w === "merge").cast("long").as("has_merge"),
        forall(ws, w => length(w) <= 12).cast("long").as("all_short"),
        aggregate(filter(ws, w => length(w) >= 6), lit(0L),
          (acc, w) => acc + length(w).cast("long")).as("long_chars"))
    }),

    "q28_json_funcs" -> ((s, d) => {
      events(s, d)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(sum(col("k")).as("k_sum"), count(lit(1)).as("n"),
          max(col("k")).as("k_max"))
    }),

    // Generator/explode: corpus word frequencies, deterministic top 20.
    "q29_word_freq" -> ((s, d) => {
      documents(s, d)
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) > 0)
        .groupBy(col("word")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word"))
        .limit(20)
    }),

    "q30_distinct_pairs" -> ((s, d) => {
      customer(s, d).select(col("c_mktsegment"), col("c_nationkey")).distinct()
    }),

    // k-anonymity audit (Sweeney 2002) — the privacy gate a training-
    // data release runs over its quasi-identifiers: group by the QI
    // tuple (nation, segment, coarsened account-balance bucket), emit
    // each equivalence class's size, whether it violates k = 5, and
    // the dataset-level k (the min class size — THE k-anonymity
    // number) on every row via a 1-row broadcast. Rows in small
    // classes are re-identifiable by QI join; the fix loop
    // (generalize buckets until k holds) re-runs this audit with a
    // coarser bucket expression. One aggregate + one 1-row broadcast;
    // class count is bounded by the QI domain, not the corpus.
    "q187_k_anonymity" -> ((s, d) => {
      val classes = customer(s, d)
        .groupBy(col("c_nationkey"), col("c_mktsegment"),
          floor(col("c_acctbal") / 1000).cast("long").as("bal_bucket"))
        .agg(count(lit(1)).as("class_size"))
      val kmin = classes.agg(min(col("class_size")).as("k_dataset"))
      classes.crossJoin(broadcast(kmin))
        .select(col("c_nationkey"), col("c_mktsegment"), col("bal_bucket"),
          col("class_size"), (col("class_size") < 5).as("violates_k5"),
          col("k_dataset"))
    }),

    // OUTER generator semantics — the explode edge case every
    // flatten-then-rejoin pipeline hits: a plain posexplode DROPS rows
    // whose array is empty, silently losing the parent record;
    // posexplode_outer keeps them as a single (NULL pos, NULL word)
    // row, so a later re-aggregation still sees every doc. The filter
    // (words of ≥ 8 chars) leaves a real mix of empty and non-empty
    // arrays on the fixture, so both branches are exercised and
    // hash-checked. Pure per-row generator — zero shuffle.
    "q150_generator_outer" -> ((s, d) => {
      val arr = filter(TextOps.wordsOf(col("text")), x => length(x) >= 8)
      documents(s, d)
        .select(col("doc_id"), posexplode_outer(arr).as(Seq("pos", "word")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"), col("word"))
    }),

    // Scalar subquery through the SQL front end.
    "q31_scalar_subquery" -> ((s, d) => {
      orders(s, d).createOrReplaceTempView("graft_orders")
      s.sql("""SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
              |FROM graft_orders
              |WHERE o_totalprice > 1.5 * (SELECT avg(o_totalprice) FROM graft_orders)
              |""".stripMargin)
    }),

    // Conditional / null-handling scalar family.
    "q56_conditional_funcs" -> ((s, d) => {
      lineitem(s, d)
        .filter(col("l_orderkey") < 200)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          when(col("l_quantity") >= 25, "bulk")
            .when(col("l_quantity") >= 10, "mid")
            .otherwise("small").as("qty_band"),
          nullif(col("l_returnflag"), lit("N")).as("rf_or_null"),
          coalesce(nullif(col("l_returnflag"), lit("N")), lit("none")).as("rf_coalesced"),
          round(greatest(col("l_extendedprice"), lit(20000.0)), 2).as("price_floor20k"),
          round(least(col("l_quantity"), lit(25.0)), 2).as("qty_cap25"))
    }),

    // Ordered-set aggregates: exact linear-interpolation percentiles.
    "q53_percentiles" -> ((s, d) => {
      orders(s, d).createOrReplaceTempView("graft_orders_pct")
      s.sql("""SELECT o_orderstatus,
              |  round(percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice), 4) AS p50,
              |  round(percentile_cont(0.9) WITHIN GROUP (ORDER BY o_totalprice), 4) AS p90,
              |  round(percentile_cont(0.99) WITHIN GROUP (ORDER BY o_totalprice), 4) AS p99
              |FROM graft_orders_pct GROUP BY o_orderstatus""".stripMargin)
    }),

    // Sketch percentiles, hash-checked like q11: the exact median is
    // the oracle-checkable anchor; the approx_percentile sketch (the
    // bounded-memory path a 100 TB scan would use) is validated by
    // RANK, not value — the sketch returns an actual data element, so
    // a value-relative envelope breaks wherever adjacent elements sit
    // far apart (interpolated exact medians land between them). The
    // element's rank fraction must fall in [0.45, 0.55]; the sketch's
    // rank error bound is 1/accuracy = 0.001, and it is deterministic
    // for a given dataset, so the flag is stable and hash-checkable.
    "q72_approx_percentile" -> ((s, d) => {
      orders(s, d).createOrReplaceTempView("graft_orders_apx")
      s.sql("""WITH apx AS (
              |  SELECT o_orderstatus,
              |    approx_percentile(o_totalprice, 0.5, 1000) AS p50_apx
              |  FROM graft_orders_apx GROUP BY o_orderstatus),
              |exact AS (
              |  SELECT o_orderstatus,
              |    round(percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice), 4) AS p50_exact
              |  FROM graft_orders_apx GROUP BY o_orderstatus),
              |rk AS (
              |  SELECT o.o_orderstatus,
              |    CAST(sum(CASE WHEN o.o_totalprice <= a.p50_apx THEN 1 ELSE 0 END) AS DOUBLE)
              |      / count(*) AS frac
              |  FROM graft_orders_apx o JOIN apx a USING (o_orderstatus)
              |  GROUP BY o.o_orderstatus)
              |SELECT e.o_orderstatus, e.p50_exact,
              |  CAST(r.frac BETWEEN 0.45 AND 0.55 AS BIGINT) AS p50_rank_ok
              |FROM exact e JOIN rk r USING (o_orderstatus)""".stripMargin)
    }),

    // Statistical aggregates (corr/covar/stddev/var). Rounded to 2dp:
    // both engines use streaming moment formulas whose last-ulp noise
    // must not flip the hash compare on ~1e4-magnitude values.
    "q54_stats_agg" -> ((s, d) => {
      lineitem(s, d).groupBy(col("l_returnflag"))
        .agg(
          round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("qty_price_corr"),
          round(covar_samp(col("l_quantity"), col("l_extendedprice")), 2).as("qty_price_covar"),
          round(stddev_samp(col("l_extendedprice")), 2).as("price_stddev"),
          round(var_samp(col("l_quantity")), 2).as("qty_var"))
    }),

    // Pivot (conditional aggregation over a known value set).
    "q32_pivot" -> ((s, d) => {
      events(s, d)
        .withColumn("cohort", pmod(col("user_id"), lit(10)))
        .groupBy(col("cohort"))
        .pivot("event_type", Seq("view", "click", "signup", "purchase", "error"))
        .count()
        .na.fill(0)
    })
  )

  val oracles: Map[String, String] = Map(
    "q150_generator_outer" ->
      s"""WITH w AS (
         |  SELECT doc_id,
         |    list_filter(${TextOps.wordsSql}, x -> length(x) >= 8) AS a
         |  FROM documents),
         |g AS (
         |  SELECT doc_id, a,
         |    unnest(CASE WHEN len(a) = 0 THEN [CAST(NULL AS BIGINT)]
         |           ELSE range(len(a)) END) AS i
         |  FROM w)
         |SELECT doc_id, CAST(i AS BIGINT) AS pos, a[i + 1] AS word
         |FROM g""".stripMargin,

    "q126_bloom_semijoin" ->
      """SELECT l_returnflag, count(*) AS n,
        |  round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey IN (
        |  SELECT o_orderkey FROM orders WHERE o_totalprice > 200000)
        |GROUP BY 1""".stripMargin,

    "q123_constraints" ->
      """WITH a AS (
        |  SELECT count(*) AS n_rows,
        |    count(o_custkey) AS n_cust,
        |    count(DISTINCT o_orderkey) AS n_keys,
        |    sum(CASE WHEN o_totalprice > 0 AND o_totalprice < 1000000
        |        THEN 1 ELSE 0 END) AS n_price_ok,
        |    sum(CASE WHEN o_orderstatus IN ('O','F','P')
        |        THEN 1 ELSE 0 END) AS n_status_ok
        |  FROM orders)
        |SELECT 'completeness_custkey' AS check_name,
        |  round(CAST(n_cust AS DOUBLE) / nullif(n_rows, 0), 6) AS metric,
        |  CAST(n_cust = n_rows AS BIGINT) AS passed FROM a
        |UNION ALL
        |SELECT 'uniqueness_orderkey',
        |  round(CAST(n_keys AS DOUBLE) / nullif(n_rows, 0), 6),
        |  CAST(n_keys = n_rows AS BIGINT) FROM a
        |UNION ALL
        |SELECT 'range_totalprice',
        |  round(CAST(n_price_ok AS DOUBLE) / nullif(n_rows, 0), 6),
        |  CAST(n_price_ok = n_rows AS BIGINT) FROM a
        |UNION ALL
        |SELECT 'set_orderstatus',
        |  round(CAST(n_status_ok AS DOUBLE) / nullif(n_rows, 0), 6),
        |  CAST(n_status_ok = n_rows AS BIGINT) FROM a
        |UNION ALL
        |SELECT 'min_size_1', CAST(n_rows AS DOUBLE),
        |  CAST(n_rows >= 1 AS BIGINT) FROM a""".stripMargin,

    "q124_winsorize" ->
      """WITH cuts AS (
        |  SELECT l_returnflag,
        |    round(percentile_cont(0.05) WITHIN GROUP
        |      (ORDER BY l_extendedprice), 4) AS lo,
        |    round(percentile_cont(0.95) WITHIN GROUP
        |      (ORDER BY l_extendedprice), 4) AS hi
        |  FROM lineitem GROUP BY l_returnflag),
        |w AS (
        |  SELECT l.l_returnflag, c.lo, c.hi,
        |    CASE WHEN l.l_extendedprice < c.lo THEN 1 ELSE 0 END AS is_lo,
        |    CASE WHEN l.l_extendedprice > c.hi THEN 1 ELSE 0 END AS is_hi,
        |    CAST(round(CASE WHEN l.l_extendedprice < c.lo THEN c.lo
        |               WHEN l.l_extendedprice > c.hi THEN c.hi
        |               ELSE l.l_extendedprice END * 100) AS BIGINT) AS cents
        |  FROM lineitem l JOIN cuts c USING (l_returnflag))
        |SELECT l_returnflag, lo, hi,
        |  CAST(sum(is_lo) AS BIGINT) AS n_clipped_lo,
        |  CAST(sum(is_hi) AS BIGINT) AS n_clipped_hi,
        |  round(CAST(sum(cents) AS DOUBLE) / 100.0 / count(*), 4) AS winsorized_mean
        |FROM w GROUP BY l_returnflag, lo, hi""".stripMargin,

    "q83_regex_funcs" ->
      """SELECT doc_id,
        |  regexp_extract(text, '(s[a-z]+)', 1) AS first_s_word,
        |  regexp_replace(text, '[aeiou]+', '_', 'g') AS devoweled,
        |  CAST(regexp_matches(text, 'stream [a-z]+ window') AS BIGINT)
        |    AS has_pattern,
        |  CAST(len(regexp_extract_all(text, '(^| )b[a-z]*')) AS BIGINT)
        |    AS n_b_words
        |FROM documents""".stripMargin,

    "q81_profile" -> {
      val cols = Seq("l_returnflag", "l_linestatus", "l_quantity", "l_discount")
      cols.map { c =>
        s"""SELECT '$c' AS col_name, count(*) AS n_rows,
           |  count(*) - count($c) AS n_nulls,
           |  count(DISTINCT $c) AS n_distinct
           |FROM lineitem""".stripMargin
      }.mkString("\nUNION ALL\n")
    },

    "q76_anonymize" ->
      """WITH c AS (
        |  SELECT substring(sha256(c_name), 1, 16) AS pseudonym,
        |    c_nationkey,
        |    CAST(floor(c_acctbal / 5000) AS BIGINT) AS bal_band,
        |    c_mktsegment
        |  FROM customer),
        |g AS (SELECT c_nationkey, bal_band, c_mktsegment, count(*) AS group_n
        |      FROM c GROUP BY 1, 2, 3)
        |SELECT c.pseudonym,
        |  CASE WHEN g.group_n >= 3 THEN c.c_nationkey END AS nationkey,
        |  CASE WHEN g.group_n >= 3 THEN c.bal_band END AS bal_band,
        |  CASE WHEN g.group_n >= 3 THEN c.c_mktsegment END AS mktsegment,
        |  g.group_n
        |FROM c JOIN g USING (c_nationkey, bal_band, c_mktsegment)""".stripMargin,

    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
        |  round(avg(l_quantity), 6) AS avg_qty,
        |  round(avg(l_discount), 6) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1999-06-30'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q02_filter_project" ->
      """SELECT l_orderkey, l_linenumber,
        |  round(l_extendedprice * (1 - l_discount), 4) AS net_price
        |FROM lineitem
        |WHERE l_quantity BETWEEN 30 AND 40 AND l_returnflag = 'R'""".stripMargin,

    "q03_segment_revenue" ->
      """SELECT c_mktsegment,
        |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
        |  count(DISTINCT o_orderkey) AS n_orders
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,

    "q04_left_join_counts" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders,
        |  round(coalesce(sum(o_totalprice), 0), 2) AS spend
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey""".stripMargin,

    "q58_full_outer_join" ->
      """WITH cn AS (
        |  SELECT c_nationkey AS nationkey, count(*) AS n_cust
        |  FROM customer WHERE c_acctbal > 8000 GROUP BY 1),
        |sn AS (
        |  SELECT s_nationkey AS nationkey, count(*) AS n_supp
        |  FROM supplier GROUP BY 1)
        |SELECT coalesce(cn.nationkey, sn.nationkey) AS nationkey,
        |  CAST(coalesce(cn.n_cust, 0) AS BIGINT) AS n_cust,
        |  CAST(coalesce(sn.n_supp, 0) AS BIGINT) AS n_supp
        |FROM cn FULL OUTER JOIN sn ON cn.nationkey = sn.nationkey""".stripMargin,

    "q59_right_join" ->
      """SELECT c_custkey, c_mktsegment, count(o_orderkey) AS n_orders,
        |  round(coalesce(sum(o_totalprice), 0), 2) AS spend
        |FROM orders RIGHT JOIN customer
        |  ON o_custkey = c_custkey AND o_orderstatus = 'F'
        |GROUP BY c_custkey, c_mktsegment""".stripMargin,

    "q112_regression_aggs" ->
      """SELECT l_returnflag, count(*) AS n,
        |  round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
        |  round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
        |  round(regr_r2(l_extendedprice, l_quantity), 6) AS r2
        |FROM lineitem GROUP BY 1""".stripMargin,

    "q111_robust_stats" ->
      """WITH med AS (
        |  SELECT o_orderstatus,
        |    percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice) AS med
        |  FROM orders GROUP BY o_orderstatus),
        |dev AS (
        |  SELECT o.o_orderstatus, m.med,
        |    abs(o.o_totalprice - m.med) AS adev
        |  FROM orders o JOIN med m ON o.o_orderstatus = m.o_orderstatus)
        |SELECT o_orderstatus,
        |  round(min(med), 4) AS median_price,
        |  round(percentile_cont(0.5) WITHIN GROUP (ORDER BY adev), 4) AS mad
        |FROM dev GROUP BY o_orderstatus""".stripMargin,

    "q110_string_agg" ->
      """SELECT s_nationkey, count(*) AS n_supp,
        |  string_agg(s_name, ',' ORDER BY s_name) AS names
        |FROM supplier GROUP BY 1""".stripMargin,

    "q108_conditional_aggs" ->
      """SELECT o_orderstatus,
        |  CAST(count_if(o_totalprice > 200000) AS BIGINT) AS n_big,
        |  bool_or(o_totalprice > 400000) AS any_huge,
        |  bool_and(o_totalprice > 0) AS all_positive,
        |  (max(struct_pack(p := round(o_totalprice, 2), k := o_orderkey))).k
        |    AS top_order,
        |  (max(struct_pack(p := round(o_totalprice, 2), k := o_orderkey))).p
        |    AS top_price
        |FROM orders GROUP BY 1""".stripMargin,

    "q107_gaps_islands" ->
      """WITH r AS (
        |  SELECT o_orderkey,
        |    row_number() OVER (ORDER BY o_orderkey) AS rn
        |  FROM orders)
        |SELECT min(o_orderkey) AS island_start,
        |  max(o_orderkey) AS island_end, count(*) AS n
        |FROM (SELECT o_orderkey, o_orderkey - rn AS grp FROM r)
        |GROUP BY grp""".stripMargin,

    "q100_nullsafe_join" ->
      """WITH c AS (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_nationkey END AS c_nk
        |  FROM customer),
        |n AS (
        |  SELECT CASE WHEN n_nationkey % 7 = 0 THEN NULL
        |              ELSE n_nationkey END AS n_nk,
        |    n_name
        |  FROM nation)
        |SELECT n.n_name, count(*) AS n_cust,
        |  CAST(sum(CASE WHEN c.c_nk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_null_matched
        |FROM c JOIN n ON c.c_nk IS NOT DISTINCT FROM n.n_nk
        |GROUP BY 1""".stripMargin,

    "q101_unpivot" ->
      """WITH m AS (
        |  SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty,
        |    round(sum(l_extendedprice), 2) AS sum_price,
        |    CAST(count(*) AS DOUBLE) AS n_lines
        |  FROM lineitem GROUP BY 1)
        |UNPIVOT m ON sum_qty, sum_price, n_lines
        |INTO NAME metric VALUE value""".stripMargin,

    "q93_upsert_latest" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price,
        |    1 AS version
        |  FROM orders),
        |upd AS (
        |  SELECT o_orderkey, o_custkey, round(o_totalprice + 100.0, 2) AS price,
        |    2 AS version
        |  FROM orders WHERE o_orderkey % 10 = 0),
        |u AS (SELECT * FROM base UNION ALL SELECT * FROM upd)
        |SELECT o_orderkey, o_custkey, price, CAST(version AS BIGINT) AS version
        |FROM (SELECT *, row_number() OVER (PARTITION BY o_orderkey
        |        ORDER BY version DESC) AS rn
        |      FROM u)
        |WHERE rn = 1""".stripMargin,

    "q95_snapshot_diff" ->
      """WITH v1 AS (
        |  SELECT o_orderkey, round(o_totalprice, 2) AS price FROM orders),
        |v2 AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 10 = 0 THEN round(price + 100.0, 2)
        |         ELSE price END AS price
        |  FROM v1 WHERE o_orderkey % 97 <> 0
        |  UNION ALL
        |  SELECT -o_orderkey - 1 AS o_orderkey, price
        |  FROM v1 WHERE o_orderkey % 50 = 0),
        |j AS (
        |  SELECT coalesce(a.o_orderkey, b.o_orderkey) AS o_orderkey,
        |    a.price AS old_price, b.price AS new_price
        |  FROM v1 a FULL OUTER JOIN v2 b ON a.o_orderkey = b.o_orderkey)
        |SELECT o_orderkey,
        |  CASE WHEN new_price IS NULL THEN 'removed'
        |       WHEN old_price IS NULL THEN 'added'
        |       ELSE 'changed' END AS status,
        |  old_price, new_price
        |FROM j
        |WHERE new_price IS NULL OR old_price IS NULL
        |   OR old_price <> new_price""".stripMargin,

    "q94_histogram" ->
      """WITH b AS (SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx
        |           FROM orders)
        |SELECT CAST(least(floor((o_totalprice - mn) / ((mx - mn) / 20.0)), 19.0)
        |         AS BIGINT) AS bin,
        |  count(*) AS n,
        |  round(min(o_totalprice), 2) AS bin_min,
        |  round(max(o_totalprice), 2) AS bin_max
        |FROM orders CROSS JOIN b
        |GROUP BY 1""".stripMargin,

    // The plain join — salting must be result-invisible.
    "q87_salted_join" ->
      """SELECT l_orderkey, l_linenumber, l_suppkey, s_name,
        |  round(l_extendedprice, 2) AS price
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey""".stripMargin,

    "q66_sql_surface" ->
      """SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue_delta,
        |  count(*) AS n_lines
        |FROM lineitem
        |WHERE l_quantity < 24 AND l_discount BETWEEN 0.05 AND 0.07""".stripMargin,

    "q68_correlated_subquery" ->
      """SELECT c_custkey, c_mktsegment
        |FROM customer c
        |WHERE (SELECT count(*) FROM orders o
        |       WHERE o.o_custkey = c.c_custkey
        |         AND o.o_totalprice > 250000) >= 2""".stripMargin,

    "q05_semi_join" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_orderstatus = 'F')""".stripMargin,

    "q06_anti_join" ->
      """SELECT c_custkey, c_nationkey FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'P')""".stripMargin,

    "q07_broadcast_join" ->
      """SELECT p_brand, round(sum(l_quantity), 2) AS promo_qty, count(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_type = 'PROMO'
        |GROUP BY p_brand""".stripMargin,

    "q08_range_join" ->
      """SELECT p_brand, count(*) AS n_near_size,
        |  round(sum(l_extendedprice), 2) AS price_sum
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |  AND l_quantity >= p_size - 2 AND l_quantity <= p_size + 2
        |GROUP BY p_brand""".stripMargin,

    "q09_star_join" ->
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name""".stripMargin,

    "q10_agg_distinct" ->
      """SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_custs,
        |  count(*) AS n_orders, round(sum(o_totalprice), 2) AS total
        |FROM orders GROUP BY o_orderstatus""".stripMargin,

    // The oracle pins the exact counts and PREDICTS the envelope flags:
    // Spark's HLL at rsd=1% is deterministic per dataset, and its error
    // on these fixtures sits far inside the 5% bound.
    "q11_approx_distinct" ->
      """SELECT count(DISTINCT l_partkey) AS exact_parts,
        |  count(DISTINCT l_orderkey) AS exact_orders,
        |  CAST(1 AS BIGINT) AS parts_within_5pct,
        |  CAST(1 AS BIGINT) AS orders_within_5pct
        |FROM lineitem""".stripMargin,

    "q12_rollup" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""".stripMargin,

    "q133_grouping_id" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
        |  CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_prio,
        |  CAST(2 * GROUPING(o_orderstatus) + GROUPING(o_orderpriority)
        |    AS BIGINT) AS gid
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""".stripMargin,

    "q13_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  round(sum(l_quantity), 2) AS qty
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,

    "q14_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin,

    "q21_union_all" ->
      """SELECT o_custkey, count(*) AS n FROM (
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |  UNION ALL
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |) GROUP BY o_custkey""".stripMargin,

    "q22_intersect" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'""".stripMargin,

    "q23_except" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'""".stripMargin,

    "q132_map_funcs" ->
      """WITH c AS (
        |  SELECT user_id, event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT user_id, count(*) AS n_types FROM c GROUP BY 1)
        |SELECT c.user_id, t.n_types, c.event_type,
        |  CAST(c.n * 2 AS BIGINT) AS doubled_n
        |FROM c JOIN t USING (user_id)
        |WHERE c.n * 2 >= 4""".stripMargin,

    "q136_union_by_name" ->
      """WITH a AS (
        |  SELECT o_custkey, round(o_totalprice, 2) AS price,
        |    CAST(NULL AS VARCHAR) AS tag
        |  FROM orders),
        |b AS (
        |  SELECT CAST(NULL AS BIGINT) AS o_custkey,
        |    round(o_totalprice + 50.0, 2) AS price, 'rev' AS tag
        |  FROM orders WHERE o_orderkey % 7 = 0),
        |u AS (SELECT * FROM a UNION ALL SELECT * FROM b)
        |SELECT tag, count(*) AS n, count(o_custkey) AS n_with_cust,
        |  round(sum(price), 2) AS sum_price
        |FROM u GROUP BY 1""".stripMargin,

    "q131_set_ops_all" ->
      """SELECT 'except_all' AS op, o_custkey, count(*) AS n_copies FROM (
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |  EXCEPT ALL
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
        |GROUP BY 1, 2
        |UNION ALL
        |SELECT 'intersect_all', o_custkey, count(*) FROM (
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |  INTERSECT ALL
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
        |GROUP BY 1, 2""".stripMargin,

    "q24_string_funcs" ->
      """SELECT p_partkey,
        |  lower(p_name) AS name_lower,
        |  upper(p_brand) AS brand_upper,
        |  substring(p_type, 1, 3) AS type_pfx,
        |  CAST(length(p_name) AS BIGINT) AS name_len,
        |  concat_ws('-', p_brand, p_type) AS brand_type,
        |  regexp_extract(p_brand, '#(\d+)', 1) AS brand_num,
        |  string_split(p_name, ' ')[1] AS first_word,
        |  trim('  pad  ') AS trimmed
        |FROM part""".stripMargin,

    "q25_date_funcs" ->
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS BIGINT) AS yr,
        |  CAST(month(o_orderdate) AS BIGINT) AS mo,
        |  CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
        |  CAST(day(o_orderdate) AS BIGINT) AS dom,
        |  CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
        |  CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since
        |FROM orders""".stripMargin,

    "q26_math_funcs" ->
      """SELECT l_orderkey, l_linenumber,
        |  round(l_extendedprice, 0) AS price_round,
        |  CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
        |  CAST(ceil(l_extendedprice) AS BIGINT) AS price_ceil,
        |  round(abs(l_discount - 0.05), 4) AS disc_dev,
        |  round(sqrt(l_quantity), 6) AS qty_sqrt,
        |  round(ln(l_extendedprice), 6) AS price_ln,
        |  l_orderkey % 7 AS key_mod
        |FROM lineitem WHERE l_orderkey < 100""".stripMargin,

    "q27_array_funcs" ->
      """SELECT vec_id,
        |  CAST(len(embedding) AS BIGINT) AS dim,
        |  round(list_sum(list_transform(embedding[1:8], x -> CAST(x AS DOUBLE))), 6) AS head_sum,
        |  round(CAST(list_max(embedding) AS DOUBLE), 6) AS vmax,
        |  round(CAST(list_min(embedding) AS DOUBLE), 6) AS vmin,
        |  round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 6) AS sq_norm
        |FROM embeddings WHERE vec_id < 100""".stripMargin,

    "q104_hof_predicates" ->
      s"""WITH t AS (SELECT doc_id, ${graft.queries.TextOps.wordsSql} AS ws
         |           FROM documents)
         |SELECT doc_id,
         |  CAST(len(list_filter(ws, w -> length(w) >= 6)) AS BIGINT)
         |    AS n_long_words,
         |  CAST(len(list_filter(ws, w -> w = 'merge')) > 0 AS BIGINT)
         |    AS has_merge,
         |  CAST(len(list_filter(ws, w -> length(w) > 12)) = 0 AS BIGINT)
         |    AS all_short,
         |  CAST(coalesce(list_sum(list_transform(
         |    list_filter(ws, w -> length(w) >= 6), w -> length(w))), 0)
         |    AS BIGINT) AS long_chars
         |FROM t""".stripMargin,

    "q28_json_funcs" ->
      """SELECT event_type,
        |  CAST(sum(k) AS BIGINT) AS k_sum, count(*) AS n, max(k) AS k_max
        |FROM (SELECT event_type,
        |        CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) AS k
        |      FROM events)
        |GROUP BY event_type""".stripMargin,

    "q29_word_freq" ->
      """SELECT word, count(*) AS n FROM (
        |  SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |WHERE length(word) > 0
        |GROUP BY word ORDER BY n DESC, word LIMIT 20""".stripMargin,

    "q30_distinct_pairs" ->
      "SELECT DISTINCT c_mktsegment, c_nationkey FROM customer",

    "q187_k_anonymity" ->
      """WITH classes AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_bucket,
        |    count(*) AS class_size
        |  FROM customer GROUP BY 1, 2, 3),
        |k AS (SELECT CAST(min(class_size) AS BIGINT) AS k_dataset FROM classes)
        |SELECT c_nationkey, c_mktsegment, bal_bucket,
        |  CAST(class_size AS BIGINT) AS class_size,
        |  class_size < 5 AS violates_k5, k_dataset
        |FROM classes CROSS JOIN k""".stripMargin,

    "q31_scalar_subquery" ->
      """SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
        |FROM orders
        |WHERE o_totalprice > 1.5 * (SELECT avg(o_totalprice) FROM orders)""".stripMargin,

    "q56_conditional_funcs" ->
      """SELECT l_orderkey, l_linenumber,
        |  CASE WHEN l_quantity >= 25 THEN 'bulk'
        |       WHEN l_quantity >= 10 THEN 'mid'
        |       ELSE 'small' END AS qty_band,
        |  nullif(l_returnflag, 'N') AS rf_or_null,
        |  coalesce(nullif(l_returnflag, 'N'), 'none') AS rf_coalesced,
        |  round(greatest(l_extendedprice, 20000.0), 2) AS price_floor20k,
        |  round(least(l_quantity, 25.0), 2) AS qty_cap25
        |FROM lineitem WHERE l_orderkey < 200""".stripMargin,

    "q53_percentiles" ->
      """SELECT o_orderstatus,
        |  round(percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice), 4) AS p50,
        |  round(percentile_cont(0.9) WITHIN GROUP (ORDER BY o_totalprice), 4) AS p90,
        |  round(percentile_cont(0.99) WITHIN GROUP (ORDER BY o_totalprice), 4) AS p99
        |FROM orders GROUP BY o_orderstatus""".stripMargin,

    // The oracle pins the envelope flag to 1 (like q11): the exact p50
    // anchors the hash; a sketch whose element drifts outside the
    // [0.45, 0.55] rank band fails the hash check.
    "q72_approx_percentile" ->
      """SELECT o_orderstatus,
        |  round(percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice), 4) AS p50_exact,
        |  CAST(1 AS BIGINT) AS p50_rank_ok
        |FROM orders GROUP BY o_orderstatus""".stripMargin,

    "q54_stats_agg" ->
      """SELECT l_returnflag,
        |  round(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
        |  round(covar_samp(l_quantity, l_extendedprice), 2) AS qty_price_covar,
        |  round(stddev_samp(l_extendedprice), 2) AS price_stddev,
        |  round(var_samp(l_quantity), 2) AS qty_var
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q32_pivot" ->
      """SELECT user_id % 10 AS cohort,
        |  count(*) FILTER (WHERE event_type = 'view') AS view,
        |  count(*) FILTER (WHERE event_type = 'click') AS click,
        |  count(*) FILTER (WHERE event_type = 'signup') AS signup,
        |  count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |  count(*) FILTER (WHERE event_type = 'error') AS error
        |FROM events GROUP BY cohort""".stripMargin
  )
}
