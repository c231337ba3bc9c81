package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SessionCache
import graft.Tables._
import graft.plans.AsOfJoin

/** Event-stream semantics in batch form (SURVEY.md §2.2 Streaming row):
  * tumbling/sliding/session windows, gap sessionization, and an as-of
  * join. The same `window()`/`session_window()` expressions run
  * unchanged under Structured Streaming with a watermark — see
  * graft.streaming.StreamingJobs and its specs; these batch forms are
  * the oracle-checkable variants.
  */
object EventsQueries {

  /** KMV sketch size (q156/q157): (k−1)/h_(k) has ~1/√k relative
    * error — 64 gives ~12%, plenty to demonstrate the algebra while
    * keeping the oracle's LIMIT cheap; production tunes k to the
    * error budget (state is k hashes total, regardless of corpus).
    */
  val KmvK = 64

  /** q186 body over any events-shaped frame (event_id, ts, user_id,
    * event_type, value) — split out so AuditSpec can plant a
    * known-weights multi-touch purchase. See the catalog entry's doc.
    */
  def attributionDecay(ev: DataFrame): DataFrame = {
    val winUs = 3600L * 1000000L
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("vu"), unix_micros(col("ts")).as("v_us"),
        col("event_id").as("view_id"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("p_us"),
        col("event_id").as("purchase_id"), col("value"))
    // pairs feeds the per-purchase totals AND the final credit join —
    // persist it or the user-keyed range join executes twice
    val pairs = p.join(v, col("user_id") === col("vu") &&
        col("v_us") <= col("p_us") &&
        col("v_us") > col("p_us") - winUs)
      .withColumn("w", lit(winUs) - (col("p_us") - col("v_us")))
      .transform(SessionCache.persist)
    val tot = pairs.groupBy(col("purchase_id"))
      .agg(sum(col("w")).as("w_tot"), count(lit(1)).as("n_touches"))
    pairs.join(tot, Seq("purchase_id"))
      .select(col("purchase_id"), col("view_id"), col("user_id"),
        col("n_touches"),
        round(col("w").cast("double") / col("w_tot"), 6).as("credit"),
        round(col("value") * (col("w").cast("double") / col("w_tot")), 4)
          .as("value_credit"))
  }

  /** q33/q106's as-of: each error event `(event_id, user_id, ts)` with
    * `p_id` and `name` (`value` over the purchase row) of its user's
    * latest purchase at or before its `ts` (ties on `ts`: the larger
    * `p_id`), both taken from that one purchase; null when there is none.
    */
  private def purchaseAsOfError(s: SparkSession, d: String,
                                name: String, value: Column): DataFrame = {
    val e = events(s, d)
    AsOfJoin.asof(
      e.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), col("ts")),
      e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id").as("p_id"),
          value.as(name)),
      "user_id", "ts", Seq("p_id", name), tieBreak = col("p_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Per-group HLL next to the exact distinct count — the grouped form
    // of q11 (cardinality profiling per event type: distinct users per
    // type is the first question asked of any event table). Same
    // envelope pattern: emit the exact value plus a within-5% flag
    // (deterministic for a fixed dataset), oracle pins the flag to 1 —
    // so a sketch drifting out of envelope is a hash FAILURE, not a
    // silent degradation. Same ONE-scan rule as q11's r16 form: an
    // explicit (event_type, user_id) distinct keeps the exchange
    // carrying distinct keys only, count(*) over the distinct non-null
    // rows IS the grouped countDistinct, and the HLL sketch folds into
    // the SAME pass — HLL register updates are idempotent max-folds,
    // so the per-group sketch over distinct keys is bit-identical to
    // the sketch over raw rows. 2 events scans + a join -> 1 scan.
    // Fixture invariant: NULL user_ids are filtered before the
    // group-by, so an event_type whose user_ids are all NULL emits no
    // row, where the oracle's count(DISTINCT) emits it with n_exact = 0.
    // The row sets agree because the fixtures have no NULL user_id.
    "q129_grouped_approx_distinct" -> ((s, d) => {
      events(s, d).select(col("event_type"), col("user_id"))
        .where(col("user_id").isNotNull).distinct()
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_exact"),
          approx_count_distinct(col("user_id"), 0.01).as("n_approx"))
        .select(col("event_type"), col("n_exact"),
          (abs(col("n_approx") - col("n_exact")).cast("double")
            / col("n_exact") <= 0.05).cast("long").as("within_5pct"))
    }),

    // As-of join: each error event picks the latest purchase of the same
    // user at-or-before its timestamp (ties on ts: the larger event_id),
    // through the one as-of operator: ONE shuffle on user_id, no
    // range-explosion join. The purchase id and value come from the
    // SAME latest purchase, even when its value is null.
    "q33_asof_join" -> ((s, d) => {
      purchaseAsOfError(s, d, "p_value", col("value"))
        .select(col("event_id"), col("user_id"), col("p_id").as("asof_purchase_id"),
          round(col("p_value"), 2).as("asof_value"))
    }),

    // As-of with a staleness TOLERANCE: like q33, but a purchase older
    // than 1 hour is too stale to attribute — the bounded-staleness
    // lookup real feature-serving uses (an unbounded as-of happily
    // joins a year-old record). The tolerance is a null-out after the
    // as-of, equivalent to bounding the search window itself: if the
    // latest purchase is stale, every earlier one is too.
    "q106_asof_tolerance" -> ((s, d) => {
      val gapUs = unix_micros(col("ts")) - col("p_us")
      val fresh = gapUs <= 3600L * 1000000L
      purchaseAsOfError(s, d, "p_us", unix_micros(col("ts")))
        .select(col("event_id"), col("user_id"),
          when(fresh, col("p_id")).as("asof_purchase_id"),
          when(fresh, floor(gapUs / 1000000.0).cast("long")).as("gap_s"))
    }),

    // Gap sessionization (30-min inactivity): lag + cumulative new-session
    // flags. Gap math in integer microseconds on both engines.
    "q34_sessionize" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val flagged = events(s, d)
        .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
        .withColumn("new_session",
          when(col("prev_us").isNull ||
            unix_micros(col("ts")) - col("prev_us") > 1800L * 1000000L, 1L)
            .otherwise(0L))
        .withColumn("session_idx",
          sum(col("new_session")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      flagged.groupBy(col("user_id"), col("session_idx"))
        .agg(min(col("ts")).as("session_start"),
          count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("value_sum"))
    }),

    // Tumbling 1h window (batch form of the streaming agg).
    "q35_tumbling_window" -> ((s, d) => {
      events(s, d)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("value_sum"))
        .select(col("window.start").as("window_start"), col("event_type"),
          col("n"), col("value_sum"))
    }),

    // Sliding 1h window every 30min: each event lands in two windows.
    "q36_sliding_window" -> ((s, d) => {
      events(s, d)
        .groupBy(window(col("ts"), "1 hour", "30 minutes"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("value_sum"))
        .select(col("window.start").as("window_start"), col("n"), col("value_sum"))
    }),

    // Native session_window operator (same semantics as q34; start only —
    // the session end extends 30min past the last event by definition).
    "q37_session_window" -> ((s, d) => {
      events(s, d)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("session_window.start").as("session_start"),
          col("n_events"))
    }),

    // Temporal debounce — keep only BURST INITIATORS per (user, type):
    // an event survives iff the previous same-key event is more than
    // the window (5 min) behind it, so bursts CHAIN (a long burst with
    // sub-window gaps collapses to its first event — the gap-based
    // debounce, consistent with q34's session-start flag). The
    // duplicate-click / double-submit / retry-storm scrub that runs
    // before any funnel or billing aggregate; distinct from
    // dropDuplicates (identity = temporal proximity, not equality).
    // One lag in exact epoch-micros over the (user_id, event_type)
    // partition — bounded by per-user activity, never corpus-wide.
    "q158_debounce" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      events(s, d)
        .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
        .filter(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > 300L * 1000000L)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("ts"), col("value"))
    }),

    // KMV (k-minimum-values) distinct sketch, estimate vs exact — the
    // SET-ALGEBRA distinct sketch next to q11/q129's HLL envelopes:
    // keep the k smallest hash values of the key set; the kth smallest
    // h_(k) estimates the cardinality as (k-1)/h_(k). Deterministic
    // given the hash (the q130/q148 discipline), so estimates are fully
    // hash-checked cross-engine — no envelope flags. Scale shape: the
    // q149 trick bounds the per-type ranking window to O(k) rows — a
    // 4k/n hash pre-filter from a types-sized broadcast rate dim keeps
    // every true sketch member (h < rate by construction whenever
    // n > 4k... the pre-filter keeps ~4k uniform-smallest hashes), and
    // a type with fewer than k keys degenerates to the EXACT count.
    "q156_kmv_distinct" -> ((s, d) => {
      val K = KmvK
      val du = events(s, d).select(col("event_type"), col("user_id"))
        .distinct()
        .withColumn("h", TextAnalytics.hashFraction(col("user_id")))
      val counts = du.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_exact"))
      val rates = counts.select(col("event_type"),
        least(lit(1.0), lit(4.0 * K) / col("n_exact")).as("rate"))
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("h"), col("user_id"))
      val sk = du.join(broadcast(rates), Seq("event_type"))
        .filter(col("h") < col("rate"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= K)
        .groupBy(col("event_type"))
        .agg(max(col("h")).as("h_k"), count(lit(1)).as("k_actual"))
      counts.join(sk, Seq("event_type"))
        .select(col("event_type"), col("n_exact"),
          round(when(col("k_actual") < K, col("n_exact").cast("double"))
            .otherwise(lit((K - 1).toDouble) / col("h_k")), 6).as("kmv_est"))
    }),

    // KMV set algebra over two key sets — the operation HLL cannot do:
    // the union sketch is just the k smallest of the merged sketches,
    // and the intersection estimate is |union-sketch ∩ A ∩ B|/k times
    // the union estimate (the standard KMV Jaccard form). One pass
    // builds both membership sets; everything downstream is k-sized.
    "q157_kmv_set_algebra" -> ((s, d) => {
      val K = KmvK
      val e = events(s, d)
        .filter(col("event_type").isin("view", "purchase"))
        .select(col("event_type"), col("user_id")).distinct()
        .transform(SessionCache.persist)
      val both = e.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_types"))
        .transform(SessionCache.persist)
      val exact = both.agg(
        count(lit(1)).as("n_union_exact"),
        sum((col("n_types") === 2).cast("long")).as("n_inter_exact"))
      val un = both.select(col("user_id"), col("n_types"),
        TextAnalytics.hashFraction(col("user_id")).as("h"))
      // global k-smallest via orderBy+limit: plans as TakeOrdered —
      // per-partition partial top-k then a k-sized merge, no global
      // sort, no single-partition window, at any corpus size
      val sk = un.orderBy(col("h"), col("user_id"))
        .limit(K)
        .agg(max(col("h")).as("h_k"), count(lit(1)).as("k_actual"),
          sum((col("n_types") === 2).cast("long")).as("rho_k"))
      exact.crossJoin(broadcast(sk))
        .select(col("n_union_exact"), col("n_inter_exact"),
          round(when(col("k_actual") < K,
            col("n_union_exact").cast("double"))
            .otherwise(lit((K - 1).toDouble) / col("h_k")), 6)
            .as("union_est"),
          round(when(col("k_actual") < K,
            col("n_inter_exact").cast("double"))
            .otherwise(col("rho_k").cast("double") / col("k_actual") *
              (lit((K - 1).toDouble) / col("h_k"))), 6)
            .as("inter_est"))
    }),

    // Interval-overlap join — the range-join family member beyond the
    // as-of lookup (q33/q106): per user, which browsing ("view")
    // sessions overlap which buying ("purchase") sessions in wall time.
    // Attribution wants temporal CO-PRESENCE of two interval sets, not
    // a nearest event. Sessionization is the q34 gap discipline applied
    // per (user, type); the join is an EQUI-join on user_id with the
    // overlap predicate (a.start <= b.end AND b.start <= a.end) as a
    // residual filter, so it shuffles once on the user key and never
    // plans as a nested loop — per-user session counts are bounded by
    // user activity, not corpus size. Overlap lengths in exact integer
    // epoch-microseconds on both engines.
    "q154_interval_join" -> ((s, d) => {
      def sess(tpe: String) = {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        events(s, d).filter(col("event_type") === tpe)
          .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
          .withColumn("new_session",
            when(col("prev_us").isNull ||
              unix_micros(col("ts")) - col("prev_us") > 1800L * 1000000L, 1L)
              .otherwise(0L))
          .withColumn("session_idx",
            sum(col("new_session")).over(
              w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy(col("user_id"), col("session_idx"))
          // a session extends one gap past its last event (the
          // session_window convention, q37) — without the extension
          // most sessions are point intervals and overlap degenerates
          .agg(min(unix_micros(col("ts"))).as("start_us"),
            (max(unix_micros(col("ts"))) + 1800L * 1000000L).as("end_us"))
      }
      val v = sess("view")
        .select(col("user_id"), col("session_idx").cast("long").as("v_idx"),
          col("start_us").as("v_start"), col("end_us").as("v_end"))
      val p = sess("purchase")
        .select(col("user_id"), col("session_idx").cast("long").as("p_idx"),
          col("start_us").as("p_start"), col("end_us").as("p_end"))
      v.join(p, Seq("user_id"))
        .filter(col("v_start") <= col("p_end") &&
          col("p_start") <= col("v_end"))
        .select(col("user_id"), col("v_idx"), col("p_idx"),
          (least(col("v_end"), col("p_end")) -
            greatest(col("v_start"), col("p_start"))).as("overlap_us"))
    }),

    // Sequential funnel: per user, the first view and the first purchase
    // AT OR AFTER it (event-order conversion, not mere co-occurrence).
    // Two filtered scans pre-aggregated/narrowed before the single
    // user-keyed join; the ordering constraint is a conditional min, so
    // no window over the raw event stream is needed.
    "q65_funnel" -> ((s, d) => {
      val e = events(s, d)
      val firstView = e.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("first_view"))
      val purch = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("p_ts"))
      firstView.join(purch, Seq("user_id"), "left")
        .groupBy(col("user_id"), col("first_view"))
        .agg(min(when(col("p_ts") >= col("first_view"), col("p_ts")))
          .as("first_purchase"))
        .select(col("user_id"), col("first_view"), col("first_purchase"),
          col("first_purchase").isNotNull.cast("long").as("converted"))
    }),

    // Batch twin of the stream-stream interval join (the SAME
    // StreamingJobs.attributionJoin definition — withWatermark is a
    // no-op on batch inputs). StreamingSpec asserts the streaming run
    // emits identical rows.
    "q71_view_attribution" -> ((s, d) => {
      val e = events(s, d)
      graft.streaming.StreamingJobs.attributionJoin(e, e)
    }),

    // q71's LEFT-OUTER twin: purchases with no qualifying view in the
    // preceding hour are KEPT with null view columns — the
    // conversion-without-exposure rows an attribution report needs.
    // Same single definition runs as the watermark-driven streaming
    // outer join (StreamingSpec proves the null rows emit exactly when
    // both watermarks close the window) and, here on batch frames, as
    // an ordinary left range join.
    "q196_attribution_outer" -> ((s, d) => {
      val e = events(s, d)
      graft.streaming.StreamingJobs.attributionJoinOuter(e, e)
    }),

    // Cohort retention: users grouped by first-active day, activity
    // counted at each day offset — the standard retention triangle.
    // Everything shuffles by user_id (distinct days, first-day cohort,
    // the join), then collapses to the tiny cohort x offset grid.
    "q79_cohort_retention" -> ((s, d) => {
      val active = events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val cohorts = active.groupBy(col("user_id"))
        .agg(min(col("day")).as("cohort_day"))
      active.join(cohorts, Seq("user_id"))
        .groupBy(col("cohort_day"),
          datediff(col("day"), col("cohort_day")).cast("long").as("day_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
    }),

    // 7-day rolling distinct active users. count(DISTINCT) cannot ride
    // a sliding window, and per-day HLL merges would be approximate —
    // the exact scalable form is a BOUNDED expansion: each (user, day)
    // activity fact contributes to exactly 7 window-end days, so the
    // shuffle grows 7x (a constant), never quadratically, and the
    // final count-distinct shuffles by day.
    "q82_rolling_dau" -> ((s, d) => {
      val active = events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val lastDay = active.agg(max(col("day")).as("max_day"))
      active
        .select(col("user_id"),
          explode(sequence(lit(0), lit(6))).as("k"), col("day"))
        .groupBy(date_add(col("day"), col("k")).as("day"))
        .agg(countDistinct(col("user_id")).as("dau_7d"))
        // clamp the expansion's tail: no phantom rows past the last
        // observed activity day (1-row bounds agg, broadcast)
        .join(broadcast(lastDay), col("day") <= col("max_day"))
        .select(col("day"), col("dau_7d"))
    }),

    // Concurrent-session curve by sweep line: each session (q34's gap
    // definition, closed interval [first event, last event]) emits
    // +1/-1 deltas at its endpoints; the concurrency at each change
    // instant is the global running sum of deltas in time order —
    // computed with GlobalOrder.runningSum, the two-phase distributed
    // prefix sum (per-partition totals -> one local cumulative pass
    // from each partition's offset; the grouped deltas are hash-
    // partitioned, so it range-partitions them by time first), so no
    // single-partition window exists even with billions of sessions.
    "q80_session_concurrency" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val flagged = events(s, d)
        .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
        .withColumn("new_session",
          when(col("prev_us").isNull ||
            unix_micros(col("ts")) - col("prev_us") > 1800L * 1000000L, 1L)
            .otherwise(0L))
        .withColumn("session_idx",
          sum(col("new_session")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val sessions = flagged.groupBy(col("user_id"), col("session_idx"))
        .agg(unix_micros(min(col("ts"))).as("start_us"),
          unix_micros(max(col("ts"))).as("end_us"))
      // both endpoint deltas explode out of ONE pass over sessions — a
      // union of two selects would run the window+aggregate twice
      val deltas = sessions
        .select(explode(array(
          struct(col("start_us").as("t_us"), lit(1L).as("delta")),
          struct((col("end_us") + 1L).as("t_us"), lit(-1L).as("delta"))))
          .as("d"))
        .groupBy(col("d.t_us").as("t_us"))
        .agg(sum(col("d.delta")).as("delta"))
      graft.plans.GlobalOrder.runningSum(deltas, Seq(col("t_us")), "delta", "n_active")
    }),

    // Time-series gap-fill: dense hourly series per event type with
    // zero-filled missing hours (dashboards and anomaly detectors need
    // the gaps, not just the observed buckets). The spine is generated
    // from a 1-row bounds aggregate — hours x types stays tiny relative
    // to the event volume it summarizes, and the left join shuffles
    // only the aggregated counts, never raw events.
    "q73_gapfill_hourly" -> ((s, d) => {
      val e = events(s, d)
        .select(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      val counts = e.groupBy(col("h"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      // bounds and the type dim derive from the aggregated counts, not
      // the raw events — one fact scan total, identical results
      val spine = counts.agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
        .select(explode(sequence(col("h0"), col("h1"),
          expr("INTERVAL 1 HOUR"))).as("h"))
      val types = counts.select(col("event_type")).distinct()
      spine.crossJoin(broadcast(types))
        .join(counts, Seq("h", "event_type"), "left")
        .na.fill(0L, Seq("n"))
        .select(col("h").as("hour_start"), col("event_type"), col("n"))
    }),

    // Hourly linear-interpolation resample — the time-series
    // REGULARIZATION step (model features and joins want a dense,
    // evenly-spaced series; q73 gapfills COUNTS with zeros, but a
    // missing hour's VALUE is not zero — it's "between its
    // neighbors"): per event type, the hourly mean where observed, and
    // prev + (next − prev)·gap-fraction through interior gaps. The
    // spine spans each type's own observed range, so every gap row has
    // both sandwich endpoints by construction (no edge-null cases).
    // Neighbor carry is two IGNORE-NULLS window walks (last observed
    // value/hour looking back, first looking forward) over
    // type-partitioned windows; hour arithmetic is exact integer epoch
    // math. One aggregate + one generator + one windowed projection —
    // no joins against the raw events after the first aggregate.
    "q184_interpolate_hourly" -> ((s, d) => {
      val e = events(s, d).select(date_trunc("hour", col("ts")).as("h"),
        col("event_type"), col("value"))
      val obs = e.groupBy(col("event_type"), col("h"))
        .agg(count(lit(1)).as("n_obs"), round(avg(col("value")), 4).as("avg_obs"))
      val bounds = obs.groupBy(col("event_type"))
        .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
      val spine = bounds.select(col("event_type"),
        explode(sequence(col("h0"), col("h1"), expr("INTERVAL 1 HOUR"))).as("h"))
      val grid = spine.join(obs, Seq("event_type", "h"), "left")
        .na.fill(0L, Seq("n_obs"))
        .withColumn("hi", expr("unix_micros(h) div 3600000000"))
      val back = Window.partitionBy(col("event_type")).orderBy(col("h"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val fwd = Window.partitionBy(col("event_type")).orderBy(col("h"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val obsHi = when(col("avg_obs").isNotNull, col("hi"))
      grid
        .withColumn("pv", last(col("avg_obs"), ignoreNulls = true).over(back))
        .withColumn("ph", last(obsHi, ignoreNulls = true).over(back))
        .withColumn("nv", first(col("avg_obs"), ignoreNulls = true).over(fwd))
        .withColumn("nh", first(obsHi, ignoreNulls = true).over(fwd))
        .select(col("event_type"), col("h").as("hour_start"),
          col("n_obs"), col("avg_obs"),
          when(col("avg_obs").isNotNull, col("avg_obs"))
            .otherwise(round(col("pv") + (col("nv") - col("pv")) *
              ((col("hi") - col("ph")).cast("double") / (col("nh") - col("ph"))),
              6)).as("value_interp"))
    }),

    // Multi-touch attribution with linear time decay — the label-
    // construction op on top of q71's attribution JOIN (which finds
    // the touches; this one divides the credit): each purchase's
    // preceding-hour views get weight (window − Δt), normalized per
    // purchase. EXACT integer parity by construction: weights and
    // their per-purchase sums are epoch-microsecond LONGS (no float
    // sum-order anywhere), and the only division is one long/long →
    // double at the end. The boundary touch (Δt = window) is excluded
    // so a purchase's weight sum is always positive. Same single
    // user-keyed range join as q71 + one purchase-keyed aggregate.
    "q186_attribution_decay" -> ((s, d) => attributionDecay(events(s, d))),

    // Per-user ordered event sequences — the "build journey paths /
    // sequence-model inputs" op. collect_list order is UNDEFINED under
    // distributed aggregation, so the deterministic form is the sorted
    // struct array: sort_array over (ts, event_id, type) tuples, then
    // project the type path. One shuffle on user_id; the path is
    // truncated to the first 5 events so output rows stay small.
    "q109_event_paths" -> ((s, d) => {
      val seqs = events(s, d).groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sort_array(collect_list(struct(
            unix_micros(col("ts")).as("t"),
            col("event_id").as("id"),
            col("event_type").as("et")))).as("seq"))
      seqs.select(col("user_id"), col("n_events"),
        concat_ws(">",
          slice(transform(col("seq"), s => s.getField("et")), 1, 5))
          .as("path5"))
    }),

    // Session transition matrix: event-type bigram counts WITHIN gap
    // sessions (q34's definition) — the Markov structure behind "what
    // do users do after a view". Transitions never cross a session
    // boundary (the lead window is keyed by session), and the output
    // is types², independent of event volume.
    "q102_event_transitions" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val flagged = events(s, d)
        .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
        .withColumn("new_session",
          when(col("prev_us").isNull ||
            unix_micros(col("ts")) - col("prev_us") > 1800L * 1000000L, 1L)
            .otherwise(0L))
        .withColumn("session_idx",
          sum(col("new_session")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val ws = Window.partitionBy(col("user_id"), col("session_idx"))
        .orderBy(col("ts"), col("event_id"))
      flagged
        .withColumn("next_type", lead(col("event_type"), 1).over(ws))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("from_type"),
          col("next_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
    }),

    // Event-rate anomaly detection: hourly counts per type over a
    // DENSE gap-filled spine (q73's construction — a baseline over
    // observed hours only could never score an outage, the most severe
    // rate anomaly, and would silently stitch its "24 h" across gaps),
    // each hour z-scored against its trailing-24-hours baseline
    // (current hour EXCLUDED — the baseline must not contain the point
    // it judges; < 12 baseline hours → NULL z, cold start). The window
    // slides over the dense hours x types aggregate, never raw events,
    // so the wide work is one groupBy and the window input is tiny at
    // any event volume. z is rounded at 4dp — the window mean is exact
    // (integer counts), and the stddev agrees across engines well past
    // 4dp (q54 precedent).
    "q88_rate_anomaly" -> ((s, d) => {
      val e = events(s, d)
        .select(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      val counts = e.groupBy(col("h"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val spine = counts.agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
        .select(explode(sequence(col("h0"), col("h1"),
          expr("INTERVAL 1 HOUR"))).as("h"))
      val types = counts.select(col("event_type")).distinct()
      val dense = spine.crossJoin(broadcast(types))
        .join(counts, Seq("h", "event_type"), "left")
        .na.fill(0L, Seq("n"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
        .rowsBetween(-24, -1)
      dense
        .withColumn("n_base", count(col("n")).over(w))
        .withColumn("mu", avg(col("n")).over(w))
        .withColumn("sd", stddev_samp(col("n")).over(w))
        .select(col("h").as("hour_start"), col("event_type"), col("n"),
          round(col("mu"), 4).as("mean_24h"),
          round(col("sd"), 4).as("sd_24h"),
          round(when(col("n_base") >= 12 && col("sd") > 0,
            (col("n") - col("mu")) / col("sd")), 4).as("z"),
          (col("n_base") >= 12 && col("sd") > 0 &&
            abs((col("n") - col("mu")) / col("sd")) > 3).cast("long")
            .as("is_anomaly"))
    }),

    // Exponentially-weighted moving average of hourly event rates —
    // q88's flat 24h mean replaced by exponential decay (half-life =
    // 1 hour), the smoother a drift/alerting pipeline actually runs.
    // FORMULATION: not a range join and not a window — each hourly
    // count SCATTERS its 12 future contributions (lag 0..11, weight
    // 2^-lag) via a map-side explode, and one (hour, type)-keyed
    // aggregate gathers them; an inner join back to the counts keeps
    // exactly the observed hours. At 100 TB that is: pre-aggregated
    // input (hours x types, tiny vs raw events), a x12 flatMap, one
    // hash aggregate — no self-join, no per-type skew (the shuffle key
    // is (hour, type), never type alone).
    // EXACTNESS: alpha = 1/2 makes every weight 2^-lag, exact in IEEE;
    // n * 2^-lag is exact (n < 2^41); the partial sums stay dyadic
    // rationals well under 53 bits, so SUM IS EXACT REGARDLESS OF
    // ORDER — the one float aggregation in the catalog that needs no
    // micro-unit trick. Hours travel as epoch seconds (bigint) to
    // dodge interval-arithmetic divergence; ewma is normalized over
    // the OBSERVED buckets in the 12-hour tail (documented semantics:
    // missing hours contribute neither weight nor count).
    "q162_ewma_hourly" -> ((s, d) => {
      val c = events(s, d)
        .select(date_trunc("hour", col("ts")).as("h"), col("event_type"))
        .groupBy(col("h"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("he", unix_timestamp(col("h")))
        .transform(SessionCache.persist)
      val contrib = c
        .select(col("event_type").as("et"), col("n"), col("he"),
          explode(sequence(lit(0), lit(11))).as("lag"))
        .select(col("et"),
          (col("he") + col("lag") * 3600L).as("te"),
          (col("n") * pow(lit(0.5), col("lag"))).as("wn"),
          pow(lit(0.5), col("lag")).as("w"))
      val ew = contrib.groupBy(col("te"), col("et"))
        .agg(sum(col("wn")).as("num"), sum(col("w")).as("den"))
      c.join(ew, col("he") === col("te") && col("event_type") === col("et"))
        .select(col("h").as("hour_start"), col("event_type"), col("n"),
          round(col("num") / col("den"), 6).as("ewma"))
    })
  )

  /** Shared CTE: gap-based sessions, microsecond-exact. */
  // Both windows order by (ts, event_id): the cumulative sum MUST use
  // the same total order as the lag pass, or a tied-timestamp event
  // could land on the wrong side of a session boundary in one engine
  // but not the other (Spark pins the tiebreak; so must the oracle).
  private val sessionsCte =
    """WITH flagged AS (
      |  SELECT user_id, ts, event_id, value,
      |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
      |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), sessions AS (
      |  SELECT user_id, ts, value,
      |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
      |  FROM flagged
      |)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q158_debounce" ->
      """SELECT event_id, user_id, event_type, ts, value FROM (
        |  SELECT event_id, user_id, event_type, ts, value,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts, event_id) AS prev_us,
        |    epoch_us(ts) AS us
        |  FROM events)
        |WHERE prev_us IS NULL OR us - prev_us > 300000000""".stripMargin,

    "q156_kmv_distinct" -> {
      val K = KmvK
      s"""WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
         |hs AS (SELECT event_type, user_id,
         |         ${TextAnalytics.hashFractionSql("user_id")} AS h
         |       FROM du),
         |counts AS (SELECT event_type, count(*) AS n_exact
         |           FROM du GROUP BY 1),
         |rates AS (SELECT event_type,
         |            least(1.0, ${4.0 * K} / n_exact) AS rate
         |          FROM counts),
         |sk AS (
         |  SELECT event_type, h FROM (
         |    SELECT hs.event_type, hs.h,
         |      row_number() OVER (PARTITION BY hs.event_type
         |        ORDER BY hs.h, hs.user_id) AS rn
         |    FROM hs JOIN rates r ON r.event_type = hs.event_type
         |    WHERE hs.h < r.rate)
         |  WHERE rn <= $K),
         |agg AS (SELECT event_type, max(h) AS h_k, count(*) AS k_actual
         |        FROM sk GROUP BY 1)
         |SELECT c.event_type, c.n_exact,
         |  round(CASE WHEN a.k_actual < $K THEN CAST(c.n_exact AS DOUBLE)
         |        ELSE ${(K - 1).toDouble} / a.h_k END, 6) AS kmv_est
         |FROM counts c JOIN agg a ON a.event_type = c.event_type""".stripMargin
    },

    "q157_kmv_set_algebra" -> {
      val K = KmvK
      s"""WITH e AS (SELECT DISTINCT event_type, user_id FROM events
         |           WHERE event_type IN ('view', 'purchase')),
         |both_t AS (SELECT user_id, count(*) AS n_types
         |           FROM e GROUP BY 1),
         |x AS (SELECT count(*) AS n_union_exact,
         |        CAST(sum(CASE WHEN n_types = 2 THEN 1 ELSE 0 END)
         |          AS BIGINT) AS n_inter_exact
         |      FROM both_t),
         |un AS (SELECT user_id, n_types,
         |         ${TextAnalytics.hashFractionSql("user_id")} AS h
         |       FROM both_t),
         |sk AS (SELECT * FROM un ORDER BY h, user_id LIMIT $K),
         |a AS (SELECT max(h) AS h_k, count(*) AS k_actual,
         |        CAST(sum(CASE WHEN n_types = 2 THEN 1 ELSE 0 END)
         |          AS BIGINT) AS rho_k
         |      FROM sk)
         |SELECT x.n_union_exact, x.n_inter_exact,
         |  round(CASE WHEN a.k_actual < $K
         |        THEN CAST(x.n_union_exact AS DOUBLE)
         |        ELSE ${(K - 1).toDouble} / a.h_k END, 6) AS union_est,
         |  round(CASE WHEN a.k_actual < $K
         |        THEN CAST(x.n_inter_exact AS DOUBLE)
         |        ELSE CAST(a.rho_k AS DOUBLE) / a.k_actual
         |             * (${(K - 1).toDouble} / a.h_k) END, 6) AS inter_est
         |FROM x CROSS JOIN a""".stripMargin
    },

    "q154_interval_join" ->
      """WITH se AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events WHERE event_type IN ('view', 'purchase')
        |  WINDOW w AS (PARTITION BY user_id, event_type
        |               ORDER BY ts, event_id)),
        |sx AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us,
        |    sum(new_session) OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS session_idx
        |  FROM se),
        |iv AS (
        |  SELECT user_id, event_type,
        |    CAST(session_idx AS BIGINT) AS session_idx,
        |    min(us) AS start_us, max(us) + 1800000000 AS end_us
        |  FROM sx GROUP BY 1, 2, 3)
        |SELECT v.user_id, v.session_idx AS v_idx, p.session_idx AS p_idx,
        |  least(v.end_us, p.end_us) - greatest(v.start_us, p.start_us)
        |    AS overlap_us
        |FROM iv v JOIN iv p ON p.user_id = v.user_id
        |WHERE v.event_type = 'view' AND p.event_type = 'purchase'
        |  AND v.start_us <= p.end_us AND p.start_us <= v.end_us""".stripMargin,

    "q129_grouped_approx_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_exact,
        |  CAST(1 AS BIGINT) AS within_5pct
        |FROM events GROUP BY 1""".stripMargin,

    "q33_asof_join" ->
      """SELECT e.event_id, e.user_id,
        |  (SELECT p.event_id FROM events p
        |   WHERE p.event_type = 'purchase' AND p.user_id = e.user_id
        |     AND p.ts <= e.ts
        |   ORDER BY p.ts DESC, p.event_id DESC LIMIT 1) AS asof_purchase_id,
        |  round((SELECT p.value FROM events p
        |   WHERE p.event_type = 'purchase' AND p.user_id = e.user_id
        |     AND p.ts <= e.ts
        |   ORDER BY p.ts DESC, p.event_id DESC LIMIT 1), 2) AS asof_value
        |FROM events e WHERE e.event_type = 'error'""".stripMargin,

    // Latest purchase WITHIN the hour — equivalent to null-out-if-
    // stale: if the overall latest purchase is older than 1h, none
    // exists inside the window either.
    "q106_asof_tolerance" ->
      """SELECT e.event_id, e.user_id,
        |  (SELECT p.event_id FROM events p
        |   WHERE p.event_type = 'purchase' AND p.user_id = e.user_id
        |     AND p.ts <= e.ts AND p.ts >= e.ts - INTERVAL 1 HOUR
        |   ORDER BY p.ts DESC, p.event_id DESC LIMIT 1) AS asof_purchase_id,
        |  CAST((epoch_us(e.ts) - (SELECT epoch_us(p.ts) FROM events p
        |   WHERE p.event_type = 'purchase' AND p.user_id = e.user_id
        |     AND p.ts <= e.ts AND p.ts >= e.ts - INTERVAL 1 HOUR
        |   ORDER BY p.ts DESC, p.event_id DESC LIMIT 1)) // 1000000
        |   AS BIGINT) AS gap_s
        |FROM events e WHERE e.event_type = 'error'""".stripMargin,

    "q34_sessionize" ->
      s"""$sessionsCte
         |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
         |  min(ts) AS session_start, count(*) AS n_events,
         |  round(sum(value), 2) AS value_sum
         |FROM sessions GROUP BY user_id, session_idx""".stripMargin,

    "q35_tumbling_window" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  count(*) AS n, round(sum(value), 2) AS value_sum
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q36_sliding_window" ->
      """WITH buckets AS (
        |  SELECT time_bucket(INTERVAL '30 minutes', ts) AS window_start, value FROM events
        |  UNION ALL
        |  SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes', value FROM events
        |)
        |SELECT window_start, count(*) AS n, round(sum(value), 2) AS value_sum
        |FROM buckets GROUP BY 1""".stripMargin,

    "q37_session_window" ->
      s"""$sessionsCte
         |SELECT user_id, min(ts) AS session_start, count(*) AS n_events
         |FROM sessions GROUP BY user_id, session_idx""".stripMargin,

    "q65_funnel" ->
      """WITH fv AS (
        |  SELECT user_id, min(ts) AS first_view FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase')
        |SELECT user_id, first_view, first_purchase,
        |  CAST(first_purchase IS NOT NULL AS BIGINT) AS converted
        |FROM (
        |  SELECT fv.user_id, fv.first_view,
        |    min(CASE WHEN p.ts >= fv.first_view THEN p.ts END) AS first_purchase
        |  FROM fv LEFT JOIN p ON p.user_id = fv.user_id
        |  GROUP BY 1, 2)""".stripMargin,

    "q71_view_attribution" ->
      """SELECT p.event_id AS purchase_id, v.event_id AS view_id,
        |  p.user_id, p.ts AS p_ts, v.ts AS v_ts,
        |  round(p.value, 2) AS value
        |FROM events p JOIN events v
        |  ON p.user_id = v.user_id
        | AND p.event_type = 'purchase' AND v.event_type = 'view'
        | AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 1 HOUR""".stripMargin,

    "q196_attribution_outer" ->
      """SELECT p.event_id AS purchase_id, v.event_id AS view_id,
        |  p.user_id, p.ts AS p_ts, v.ts AS v_ts,
        |  round(p.value, 2) AS value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
        |  ON p.user_id = v.user_id
        | AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 1 HOUR""".stripMargin,

    "q79_cohort_retention" ->
      """WITH a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |c AS (SELECT user_id, min(day) AS cohort_day FROM a GROUP BY 1)
        |SELECT c.cohort_day,
        |  CAST(date_diff('day', c.cohort_day, a.day) AS BIGINT) AS day_offset,
        |  count(DISTINCT a.user_id) AS n_users
        |FROM a JOIN c USING (user_id)
        |GROUP BY 1, 2""".stripMargin,

    "q82_rolling_dau" ->
      """WITH a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |b AS (SELECT max(day) AS max_day FROM a)
        |SELECT a.day + CAST(k.k AS INT) AS day,
        |  count(DISTINCT a.user_id) AS dau_7d
        |FROM a CROSS JOIN (SELECT unnest(range(0, 7)) AS k) k CROSS JOIN b
        |WHERE a.day + CAST(k.k AS INT) <= b.max_day
        |GROUP BY 1""".stripMargin,

    "q80_session_concurrency" ->
      s"""$sessionsCte,
         |s AS (
         |  SELECT user_id, session_idx,
         |    min(epoch_us(ts)) AS start_us, max(epoch_us(ts)) AS end_us
         |  FROM sessions GROUP BY 1, 2),
         |d AS (
         |  SELECT start_us AS t_us, 1 AS delta FROM s
         |  UNION ALL
         |  SELECT end_us + 1, -1 FROM s),
         |agg AS (SELECT t_us, CAST(sum(delta) AS BIGINT) AS delta
         |        FROM d GROUP BY 1)
         |SELECT t_us, delta,
         |  CAST(sum(delta) OVER (ORDER BY t_us
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS n_active
         |FROM agg""".stripMargin,

    "q186_attribution_decay" ->
      """WITH v AS (
        |  SELECT user_id AS vu, epoch_us(ts) AS v_us, event_id AS view_id
        |  FROM events WHERE event_type = 'view'),
        |p AS (
        |  SELECT user_id, epoch_us(ts) AS p_us, event_id AS purchase_id,
        |    value
        |  FROM events WHERE event_type = 'purchase'),
        |pairs AS (
        |  SELECT p.purchase_id, v.view_id, p.user_id, p.value,
        |    3600000000 - (p.p_us - v.v_us) AS w
        |  FROM p JOIN v ON p.user_id = v.vu
        |    AND v.v_us <= p.p_us AND v.v_us > p.p_us - 3600000000),
        |tot AS (
        |  SELECT purchase_id, CAST(sum(w) AS BIGINT) AS w_tot,
        |    count(*) AS n_touches
        |  FROM pairs GROUP BY 1)
        |SELECT pr.purchase_id, pr.view_id, pr.user_id, t.n_touches,
        |  round(CAST(pr.w AS DOUBLE) / t.w_tot, 6) AS credit,
        |  round(pr.value * (CAST(pr.w AS DOUBLE) / t.w_tot), 4)
        |    AS value_credit
        |FROM pairs pr JOIN tot t ON t.purchase_id = pr.purchase_id""".stripMargin,

    "q184_interpolate_hourly" ->
      """WITH e AS (
        |  SELECT date_trunc('hour', ts) AS h, event_type, value FROM events),
        |obs AS (
        |  SELECT event_type, h, count(*) AS n_obs,
        |    round(avg(value), 4) AS avg_obs
        |  FROM e GROUP BY 1, 2),
        |bounds AS (
        |  SELECT event_type, min(h) AS h0, max(h) AS h1 FROM obs GROUP BY 1),
        |spine AS (
        |  SELECT event_type,
        |    unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
        |  FROM bounds),
        |grid AS (
        |  SELECT s.event_type, s.h,
        |    CAST(coalesce(o.n_obs, 0) AS BIGINT) AS n_obs, o.avg_obs,
        |    epoch_us(s.h) // 3600000000 AS hi
        |  FROM spine s LEFT JOIN obs o
        |    ON o.event_type = s.event_type AND o.h = s.h),
        |walked AS (
        |  SELECT event_type, h, n_obs, avg_obs, hi,
        |    last_value(avg_obs IGNORE NULLS) OVER back AS pv,
        |    last_value(CASE WHEN avg_obs IS NOT NULL THEN hi END IGNORE NULLS)
        |      OVER back AS ph,
        |    first_value(avg_obs IGNORE NULLS) OVER fwd AS nv,
        |    first_value(CASE WHEN avg_obs IS NOT NULL THEN hi END IGNORE NULLS)
        |      OVER fwd AS nh
        |  FROM grid
        |  WINDOW back AS (PARTITION BY event_type ORDER BY h
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  fwd AS (PARTITION BY event_type ORDER BY h
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT event_type, h AS hour_start, n_obs, avg_obs,
        |  CASE WHEN avg_obs IS NOT NULL THEN avg_obs
        |       ELSE round(pv + (nv - pv) *
        |         (CAST(hi - ph AS DOUBLE) / (nh - ph)), 6) END AS value_interp
        |FROM walked""".stripMargin,

    "q73_gapfill_hourly" ->
      """WITH e AS (SELECT date_trunc('hour', ts) AS h, event_type FROM events),
        |counts AS (SELECT h, event_type, count(*) AS n FROM e GROUP BY 1, 2),
        |bounds AS (SELECT min(h) AS h0, max(h) AS h1 FROM e),
        |spine AS (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
        |          FROM bounds),
        |types AS (SELECT DISTINCT event_type FROM e)
        |SELECT s.h AS hour_start, t.event_type, CAST(coalesce(c.n, 0) AS BIGINT) AS n
        |FROM spine s CROSS JOIN types t
        |LEFT JOIN counts c ON c.h = s.h AND c.event_type = t.event_type""".stripMargin,

    "q109_event_paths" ->
      """SELECT user_id, count(*) AS n_events,
        |  array_to_string(list(event_type ORDER BY ts, event_id)[1:5], '>')
        |    AS path5
        |FROM events GROUP BY user_id""".stripMargin,

    // Same session construction as sessionsCte, widened with
    // event_type (the shared CTE projects it away).
    "q102_event_transitions" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
        |  FROM flagged),
        |t AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id, session_idx
        |      ORDER BY ts, event_id) AS to_type
        |  FROM sess)
        |SELECT from_type, to_type, count(*) AS n
        |FROM t WHERE to_type IS NOT NULL GROUP BY 1, 2""".stripMargin,

    "q88_rate_anomaly" ->
      """WITH c AS (
        |  SELECT date_trunc('hour', ts) AS h, event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |bounds AS (SELECT min(h) AS h0, max(h) AS h1 FROM c),
        |spine AS (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
        |          FROM bounds),
        |types AS (SELECT DISTINCT event_type FROM c),
        |dense AS (
        |  SELECT s.h, t.event_type, CAST(coalesce(c.n, 0) AS BIGINT) AS n
        |  FROM spine s CROSS JOIN types t
        |  LEFT JOIN c ON c.h = s.h AND c.event_type = t.event_type),
        |b AS (
        |  SELECT h, event_type, n,
        |    count(n) OVER w AS n_base,
        |    avg(n) OVER w AS mu,
        |    stddev_samp(n) OVER w AS sd
        |  FROM dense
        |  WINDOW w AS (PARTITION BY event_type ORDER BY h
        |    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
        |SELECT h AS hour_start, event_type, n,
        |  round(mu, 4) AS mean_24h,
        |  round(sd, 4) AS sd_24h,
        |  round(CASE WHEN n_base >= 12 AND sd > 0 THEN (n - mu) / sd END, 4)
        |    AS z,
        |  CAST((n_base >= 12 AND sd > 0 AND abs((n - mu) / sd) > 3) AS BIGINT)
        |    AS is_anomaly
        |FROM b""".stripMargin,

    "q162_ewma_hourly" ->
      """WITH c AS (
        |  SELECT date_trunc('hour', ts) AS h, event_type, count(*) AS n,
        |    CAST(epoch_us(date_trunc('hour', ts)) / 1000000 AS BIGINT) AS he
        |  FROM events GROUP BY 1, 2),
        |contrib AS (
        |  SELECT event_type, he + lag * 3600 AS te,
        |    n * power(0.5, lag) AS wn, power(0.5, lag) AS w
        |  FROM c CROSS JOIN (SELECT unnest(range(0, 12)) AS lag) l),
        |ew AS (
        |  SELECT te, event_type, sum(wn) AS num, sum(w) AS den
        |  FROM contrib GROUP BY 1, 2)
        |SELECT c.h AS hour_start, c.event_type, c.n,
        |  round(ew.num / ew.den, 6) AS ewma
        |FROM c JOIN ew ON ew.te = c.he AND ew.event_type = c.event_type""".stripMargin
  )
}
