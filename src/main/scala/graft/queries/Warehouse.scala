package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SessionCache
import graft.Tables._

/** Warehouse-maintenance operators over the orders change log: the
  * dimension-history and distribution-profiling ops a lakehouse runs
  * next to the q93 upsert / q95 snapshot-diff family.
  *
  * Both queries keep every window partitioned (SCD2) or two-phase
  * (equi-depth via [[graft.plans.Ranks]]) — no single-partition global
  * window on a fact table at any scale.
  */
object Warehouse {

  /** q152 as-of instant: mid-range of the fixture's order dates at
    * every SF (1995–2001), so the reconstructed state is non-trivial
    * (some customers mid-history, some before their first order).
    */
  val TimeTravelAsOf = "1998-06-15 00:00:00"

  /** The SCD2 interval build behind q113 AND the q152 point-in-time
    * lookup (one definition, so the two views of the dimension cannot
    * drift): change-detect via lag, validity intervals via lead, one
    * o_custkey exchange shared by both windows.
    */
  def scd2Intervals(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"),
        col("o_orderdate"), col("o_orderpriority"))
      .withColumn("prev_p", lag(col("o_orderpriority"), 1).over(w))
      .filter(col("prev_p").isNull ||
        col("prev_p") =!= col("o_orderpriority"))
      .withColumn("version", row_number().over(w).cast("long"))
      .withColumn("valid_to", lead(col("o_orderdate"), 1).over(w))
      .select(col("o_custkey"), col("version"),
        col("o_orderpriority").as("priority"),
        col("o_orderdate").as("valid_from"),
        col("valid_to"),
        col("valid_to").isNull.as("is_current"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // SCD2 (slowly-changing-dimension type 2) interval build: treat
    // each customer's order stream as a change log of its priority
    // attribute and derive validity intervals — collapse consecutive
    // identical values (change detection via lag), then
    // [valid_from, valid_to) via lead, open interval = current row.
    // One shuffle by o_custkey: the change-detect window, the filter,
    // and the version/lead window all share the same partitioning, so
    // Catalyst reuses the exchange. Deterministic: (o_orderdate,
    // o_orderkey) is a unique sort key per customer.
    "q113_scd2_intervals" -> ((s, d) => scd2Intervals(s, d)),

    // Point-in-time ("time travel") lookup over the SCD2 dimension —
    // the read side every slowly-changing dimension exists for:
    // reconstruct the attribute state AS OF a timestamp by selecting
    // the one validity interval covering it (valid_from <= t < valid_to,
    // open interval = current). Same single o_custkey exchange as the
    // interval build; the as-of filter is a pure post-window projection,
    // so the lookup costs exactly the q113 plan plus a map-side filter
    // at any scale. Customers whose history starts after t correctly
    // have no row.
    "q152_time_travel" -> ((s, d) => {
      val asOf = lit(TimeTravelAsOf).cast("timestamp")
      scd2Intervals(s, d)
        .filter(col("valid_from") <= asOf &&
          (col("valid_to").isNull || col("valid_to") > asOf))
        .select(col("o_custkey"), col("version"), col("priority"),
          col("valid_from"), col("valid_to"))
    }),

    // Equi-depth (equal-frequency) histogram — the quantile complement
    // to q94's equal-width bins, and the profile a cost-based optimizer
    // actually wants (equal-width bins collapse under skew; equi-depth
    // bins track the mass). Exact, not sketched: bin = floor((rank-1)*B
    // / n) over the GLOBAL order — computed with the two-phase
    // range-partitioned rank (plans/Ranks.scala), never a
    // single-partition window. The bin arithmetic stays exact in IEEE:
    // (rank-1)*B and n are exact integers < 2^53 and x/y with x = k*y
    // rounds to exactly k, so the floor cannot flip between engines.
    "q116_equidepth_histogram" -> ((s, d) => {
      val o = orders(s, d).select(col("o_orderkey"), col("o_totalprice"))
      val ranked = graft.plans.Ranks.withGlobalRanks(o,
        Seq(col("o_totalprice"), col("o_orderkey")),
        Seq(col("o_totalprice"), col("o_orderkey")),
        rankCol = "r", denseCol = "dr")
      val n = o.agg(count(lit(1)).as("n_total"))
      ranked.crossJoin(broadcast(n))
        .withColumn("bin",
          floor((col("r") - 1) * 20.0 / col("n_total")).cast("long"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"),
          round(min(col("o_totalprice")), 2).as("bin_min"),
          round(max(col("o_totalprice")), 2).as("bin_max"))
    }),

    // Chi-square test of independence (lang × source over documents) —
    // the drift/correlation detector a curation pipeline runs on its
    // metadata: χ² = Σ (obs − exp)²/exp over the FULL contingency grid
    // (zero cells included via a dims cross join — dropping them
    // understates the statistic). One corpus shuffle builds the
    // contingency table; everything after is grid-sized. Parity: each
    // cell term is rounded at 6dp and summed in exact integer
    // micro-units with integer half-up rounding (the q114 rule).
    "q120_chi_square" -> ((s, d) => {
      val counts = documents(s, d)
        .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("obs"))
        .transform(SessionCache.persist)
      val rows = counts.groupBy(col("lang")).agg(sum(col("obs")).as("n_l"))
      val cols = counts.groupBy(col("source")).agg(sum(col("obs")).as("n_s"))
      val tot = counts.agg(sum(col("obs")).as("n_tot"))
      // delta·delta, NOT pow(delta, 2): multiplication is correctly
      // rounded by IEEE and identical in both engines; pow is a libm
      // call with no such guarantee.
      val grid = rows.crossJoin(cols).crossJoin(broadcast(tot))
        .join(counts, Seq("lang", "source"), "left")
        .na.fill(0L, Seq("obs"))
        .withColumn("exp",
          (col("n_l") * col("n_s")) / col("n_tot").cast("double"))
        .withColumn("delta", col("obs") - col("exp"))
        .select(col("lang"), col("source"), col("n_tot"),
          round(col("delta") * col("delta") / col("exp"), 6).as("term"))
      grid.groupBy(col("n_tot"))
        .agg(countDistinct(col("lang")).as("n_langs"),
          countDistinct(col("source")).as("n_sources"),
          (floor((sum(round(col("term") * 1e6).cast("long")) + 50L)
            / 100.0) / 10000.0).as("chi2"))
        .select(col("n_langs"), col("n_sources"),
          ((col("n_langs") - 1) * (col("n_sources") - 1)).as("dof"),
          col("chi2"))
    }),

    // Benford first-significant-digit profile — the classic
    // fabricated/synthetic-amounts detector an audit or data-quality
    // pass runs over any monetary column: digit shares vs the Benford
    // expectation log10(1+1/d), plus each digit's chi-square
    // contribution (a synthetic uniform-ish price column — like this
    // fixture's — lights up immediately; organic amounts don't).
    // Digit extraction is STRING-based over an exact integer
    // (first char of the BIGINT floor) — floor(log10(x)) would hang
    // engine-divergent libm behavior on exact powers of ten. Scale
    // shape: one map-side-combinable 9-key aggregate + a broadcast
    // 1-row total (the q73/q94 bounds-agg pattern); the chi-square
    // term is delta*delta, never libm pow (the q120 discipline).
    "q147_benford" -> ((s, d) => {
      val counts = orders(s, d)
        .filter(col("o_totalprice") >= 1.0)
        .select(substring(floor(col("o_totalprice")).cast("string"), 1, 1)
          .cast("long").as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n"))
      val total = counts.agg(sum(col("n")).as("n_total"))
      val p = log(lit(1.0) + lit(1.0) / col("digit")) / log(lit(10.0))
      val delta = col("n") - col("n_total") * p
      counts.crossJoin(broadcast(total))
        .select(col("digit"), col("n"),
          round(col("n") / col("n_total"), 6).as("share"),
          round(p, 6).as("benford_p"),
          round(delta * delta / (col("n_total") * p), 6).as("chi2_term"))
    }),

    // CDC log apply with TOMBSTONES — the consumer of a q95-style
    // change feed and the delete-aware half the q93 upsert lacks:
    // replay an ordered insert/update/delete log per key and emit the
    // final table state, where a key whose LAST entry is a delete is
    // ABSENT (not null-valued) — MERGE-with-deletes semantics
    // (Delta/Hudi CDC apply) without a table format. The log derives
    // in-plan from orders (each order = one change to its customer's
    // record; status 'F' = tombstone) so the oracle replays the
    // identical feed. Scale shape: ONE o_custkey exchange shared by
    // the latest-row window and the op-count window (same partition
    // key); output is key-sized, never log-sized.
    "q164_cdc_apply" -> ((s, d) => {
      val log = orders(s, d).select(col("o_custkey").as("key"),
        col("o_orderdate").as("ts"), col("o_orderkey").as("seq"),
        when(col("o_orderstatus") === "F", lit("D")).otherwise(lit("U"))
          .as("op"),
        round(col("o_totalprice"), 2).as("val"))
      val latest = Window.partitionBy(col("key"))
        .orderBy(col("ts").desc, col("seq").desc)
      log.withColumn("rn", row_number().over(latest))
        .withColumn("n_ops", count(lit(1)).over(
          Window.partitionBy(col("key"))))
        .filter(col("rn") === 1 && col("op") =!= "D")
        .select(col("key").as("o_custkey"), col("val").as("last_value"),
          col("ts").as("last_ts"), col("n_ops"))
    }),

    // Z-order (Morton) layout audit — the multi-dimension file-
    // clustering technique behind lakehouse OPTIMIZE ZORDER: min-max
    // normalize two query dimensions (event hour, user id) to 16 bits,
    // interleave their bits into one sort key, and cut the key space
    // into 64 "files"; the per-file min/max column stats this emits
    // are exactly what a reader prunes on, and under z-order BOTH
    // dimensions get tight per-file ranges (a single-column sort gives
    // one tight and one full-width range — ZorderSpec quantifies the
    // bounding-area win). Everything is integer arithmetic — the bit
    // interleave is div/mod by powers of two, so both engines compute
    // identical keys. One 1-row bounds broadcast + one 64-group
    // aggregate; the actual rewrite is q91's clustered write sorted by
    // z_key, unchanged at any scale.
    "q185_zorder_layout" -> ((s, d) =>
      zorderLayout(events(s, d).select(
        expr("unix_micros(ts) div 3600000000").as("x"),
        col("user_id").as("y"))))
  )

  /** q185 body over any (x, y) integer frame — split out so the spec
    * can plant a degenerate (constant-dimension) input.
    */
  def zorderLayout(e: DataFrame): DataFrame = {
    val bounds = e.agg(min(col("x")).as("xmin"), max(col("x")).as("xmax"),
      min(col("y")).as("ymin"), max(col("y")).as("ymax"))
    // greatest(range, 1): a degenerate dimension (all events in one
    // hour / one user) maps to 0 instead of a div-by-zero — Spark
    // would emit silent nulls where DuckDB errors (ADVICE r7)
    e.crossJoin(broadcast(bounds))
      .select(
        expr("((x - xmin) * 65535) div greatest(xmax - xmin, 1)").as("x16"),
        expr("((y - ymin) * 65535) div greatest(ymax - ymin, 1)").as("y16"))
      .withColumn("z", expr(ZOrder.interleaveExpr("div")))
      .select(col("x16"), col("y16"),
        expr(s"z div ${1L << 26}").as("file_id"))
      .groupBy(col("file_id"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("x16")).as("x_lo"), max(col("x16")).as("x_hi"),
        min(col("y16")).as("y_lo"), max(col("y16")).as("y_hi"))
  }

  /** Bit-interleave of two 16-bit ints as pure div/mod arithmetic —
    * ONE expression string valid in both engines modulo the integer-
    * division operator (`div` in Spark, `//` in DuckDB).
    */
  object ZOrder {
    def interleaveExpr(idiv: String): String =
      (0 until 16).map { b =>
        s"((x16 $idiv ${1L << b}) % 2) * ${1L << (2 * b)}" +
          s" + ((y16 $idiv ${1L << b}) % 2) * ${1L << (2 * b + 1)}"
      }.mkString(" + ")
  }

  val oracles: Map[String, String] = Map(

    "q113_scd2_intervals" ->
      """WITH c AS (
        |  SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority,
        |    lag(o_orderpriority) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS prev_p
        |  FROM orders),
        |ch AS (
        |  SELECT * FROM c
        |  WHERE prev_p IS NULL OR prev_p <> o_orderpriority)
        |SELECT o_custkey,
        |  CAST(row_number() OVER w AS BIGINT) AS version,
        |  o_orderpriority AS priority,
        |  o_orderdate AS valid_from,
        |  lead(o_orderdate) OVER w AS valid_to,
        |  (lead(o_orderdate) OVER w IS NULL) AS is_current
        |FROM ch
        |WINDOW w AS (PARTITION BY o_custkey
        |             ORDER BY o_orderdate, o_orderkey)""".stripMargin,

    "q116_equidepth_histogram" ->
      """WITH r AS (
        |  SELECT o_totalprice,
        |    row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS r,
        |    count(*) OVER () AS n_total
        |  FROM orders)
        |SELECT CAST(floor((r - 1) * 20.0 / n_total) AS BIGINT) AS bin,
        |  count(*) AS n,
        |  round(min(o_totalprice), 2) AS bin_min,
        |  round(max(o_totalprice), 2) AS bin_max
        |FROM r GROUP BY 1""".stripMargin,

    "q120_chi_square" ->
      """WITH counts AS (
        |  SELECT lang, source, count(*) AS obs
        |  FROM documents GROUP BY 1, 2),
        |rows_t AS (SELECT lang, CAST(sum(obs) AS BIGINT) AS n_l
        |           FROM counts GROUP BY 1),
        |cols_t AS (SELECT source, CAST(sum(obs) AS BIGINT) AS n_s
        |           FROM counts GROUP BY 1),
        |tot AS (SELECT CAST(sum(obs) AS BIGINT) AS n_tot FROM counts),
        |grid AS (
        |  SELECT r.lang, c.source, t.n_tot,
        |    COALESCE(k.obs, 0) AS obs,
        |    (r.n_l * c.n_s) / CAST(t.n_tot AS DOUBLE) AS exp
        |  FROM rows_t r CROSS JOIN cols_t c CROSS JOIN tot t
        |  LEFT JOIN counts k ON k.lang = r.lang AND k.source = c.source),
        |terms AS (
        |  SELECT lang, source, n_tot,
        |    round((obs - exp) * (obs - exp) / exp, 6) AS term
        |  FROM grid)
        |SELECT count(DISTINCT lang) AS n_langs,
        |  count(DISTINCT source) AS n_sources,
        |  (count(DISTINCT lang) - 1) * (count(DISTINCT source) - 1) AS dof,
        |  floor((CAST(sum(CAST(round(term * 1000000.0) AS BIGINT))
        |         AS BIGINT) + 50) / 100.0) / 10000.0 AS chi2
        |FROM terms GROUP BY n_tot""".stripMargin,

    "q152_time_travel" ->
      s"""WITH c AS (
         |  SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority,
         |    lag(o_orderpriority) OVER (PARTITION BY o_custkey
         |      ORDER BY o_orderdate, o_orderkey) AS prev_p
         |  FROM orders),
         |ch AS (
         |  SELECT * FROM c
         |  WHERE prev_p IS NULL OR prev_p <> o_orderpriority),
         |iv AS (
         |  SELECT o_custkey,
         |    CAST(row_number() OVER w AS BIGINT) AS version,
         |    o_orderpriority AS priority,
         |    o_orderdate AS valid_from,
         |    lead(o_orderdate) OVER w AS valid_to
         |  FROM ch
         |  WINDOW w AS (PARTITION BY o_custkey
         |               ORDER BY o_orderdate, o_orderkey))
         |SELECT o_custkey, version, priority, valid_from, valid_to
         |FROM iv
         |WHERE valid_from <= TIMESTAMP '$TimeTravelAsOf'
         |  AND (valid_to IS NULL
         |       OR valid_to > TIMESTAMP '$TimeTravelAsOf')""".stripMargin,

    "q147_benford" ->
      """WITH dg AS (
        |  SELECT CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT)
        |    AS VARCHAR), 1, 1) AS BIGINT) AS digit
        |  FROM orders WHERE o_totalprice >= 1.0),
        |cnt AS (SELECT digit, count(*) AS n FROM dg GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM cnt),
        |terms AS (
        |  SELECT digit, n, n_total,
        |    ln(1.0 + 1.0 / digit) / ln(10.0) AS p
        |  FROM cnt CROSS JOIN tot)
        |SELECT digit, n,
        |  round(CAST(n AS DOUBLE) / n_total, 6) AS share,
        |  round(p, 6) AS benford_p,
        |  round((n - n_total * p) * (n - n_total * p)
        |        / (n_total * p), 6) AS chi2_term
        |FROM terms""".stripMargin,

    "q164_cdc_apply" ->
      """WITH log AS (
        |  SELECT o_custkey AS key, o_orderdate AS ts, o_orderkey AS seq,
        |    CASE WHEN o_orderstatus = 'F' THEN 'D' ELSE 'U' END AS op,
        |    round(o_totalprice, 2) AS val
        |  FROM orders),
        |r AS (
        |  SELECT key, ts, op, val,
        |    row_number() OVER (PARTITION BY key
        |      ORDER BY ts DESC, seq DESC) AS rn,
        |    count(*) OVER (PARTITION BY key) AS n_ops
        |  FROM log)
        |SELECT key AS o_custkey, val AS last_value, ts AS last_ts, n_ops
        |FROM r WHERE rn = 1 AND op <> 'D'""".stripMargin,

    "q185_zorder_layout" ->
      s"""WITH e AS (
         |  SELECT epoch_us(ts) // 3600000000 AS x, user_id AS y FROM events),
         |b AS (
         |  SELECT min(x) AS xmin, max(x) AS xmax,
         |    min(y) AS ymin, max(y) AS ymax FROM e),
         |n AS (
         |  SELECT ((x - xmin) * 65535) // greatest(xmax - xmin, 1) AS x16,
         |    ((y - ymin) * 65535) // greatest(ymax - ymin, 1) AS y16
         |  FROM e CROSS JOIN b),
         |z AS (
         |  SELECT x16, y16,
         |    (${ZOrder.interleaveExpr("//")}) // ${1L << 26} AS file_id
         |  FROM n)
         |SELECT file_id, count(*) AS n_rows,
         |  min(x16) AS x_lo, max(x16) AS x_hi,
         |  min(y16) AS y_lo, max(y16) AS y_hi
         |FROM z GROUP BY file_id""".stripMargin
  )
}
