package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingJobs

/** Stream-batch parity: the streaming window jobs must produce exactly
  * the batch catalog's q35/q37 results on the same data (sf0.001) —
  * same expressions, two execution modes (mirrors the SURVEY §5 plan).
  */
class StreamingSpec extends AnyFunSuite with CacheCleanup {
  import TestSpark.spark

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq

  /** Runs `mkPlan` over `batches` as separate micro-batches and returns
    * the state rows (summed over the stateful operators) after each
    * data batch, in batch order, read from the progress events of the
    * query named `name`.
    */
  private def stateRowsPerBatch(batches: Seq[org.apache.spark.sql.DataFrame],
      mkPlan: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
      name: String): Seq[Long] = {
    import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.name == name) seen.add(e.progress)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try {
      StreamingJobs.runIncremental(spark, batches, mkPlan, name)
      org.apache.spark.graft.ListenerBusHook
        .waitUntilListenerBusEmpty(spark.sparkContext, 30000)
    } finally spark.streams.removeListener(listener)
    seen.toArray(Array.empty[StreamingQueryProgress]).toSeq
      .filter(_.numInputRows > 0).sortBy(_.batchId)
      .map(_.stateOperators.map(_.numRowsTotal).sum)
  }

  test("streaming tumbling window == batch q35") {
    val stream = StreamingJobs.eventsStream(spark, TestSpark.sf0001)
    val got = StreamingJobs.runToCompletion(spark,
      StreamingJobs.tumblingCounts(stream), "t_tumbling")
    val want = graft.queries.EventsQueries.queries("q35_tumbling_window")(
      spark, TestSpark.sf0001)
    assert(canon(got) == canon(want))
    assert(got.count() > 0)
  }

  test("stream-stream interval join == batch q71 range join") {
    val stream = StreamingJobs.eventsStream(spark, TestSpark.sf0001)
    val got = StreamingJobs.runAppend(spark,
      StreamingJobs.attributionJoin(stream, stream), "t_ssjoin")
    val want = graft.queries.EventsQueries.queries("q71_view_attribution")(
      spark, TestSpark.sf0001)
    assert(canon(got) == canon(want))
    assert(got.count() > 0)
  }

  test("stream-stream LEFT OUTER interval join: null rows emit exactly " +
    "when the watermark closes the window") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def evs(rows: (Long, String, Long, String, Double)*) =
      rows.toSeq.toDF("event_id", "ts_s", "user_id", "event_type", "value")
        .select(col("event_id"), to_timestamp(col("ts_s")).as("ts"),
          col("user_id"), col("event_type"), col("value"))
    // b1: a matched purchase (view 1 @10:00 precedes purchase 2 @10:30)
    // and an unmatched one (user 2 never viewed)
    val b1 = evs(
      (1L, "2024-01-01 10:00:00", 1L, "view", 0.0),
      (2L, "2024-01-01 10:30:00", 1L, "purchase", 5.0),
      (3L, "2024-01-01 10:40:00", 2L, "purchase", 7.0))
    // b2: user 1 purchases again at 12:30 — their only view is 2.5h
    // old, OUTSIDE the 1h window, so this row must come out null too
    val b2 = evs((4L, "2024-01-01 12:30:00", 1L, "purchase", 9.0))
    // b3/b4: far-future ticks on BOTH sides push BOTH watermarks past
    // every earlier join window (view + purchase, different users, and
    // a second round so eviction results from the first flush batch
    // have a batch to be emitted in). b4 also closes b3's window, so
    // unmatched purchase 10 emits too; b4's own purchase 12 stays
    // open-window and must NOT appear.
    val b3 = evs(
      (9L, "2024-01-03 10:00:00", 7L, "view", 0.0),
      (10L, "2024-01-03 10:00:00", 8L, "purchase", 1.0))
    val b4 = evs(
      (11L, "2024-01-04 10:00:00", 7L, "view", 0.0),
      (12L, "2024-01-04 10:00:00", 8L, "purchase", 1.0))
    val batches = Seq(b1, b2, b3, b4)
    val got = StreamingJobs.runIncremental(spark, batches,
      df => StreamingJobs.attributionJoinOuter(df, df), "t_outer_attr")
      .collect()
      .map(r => r.getAs[Long]("purchase_id") ->
        Option(r.getAs[java.lang.Long]("view_id")).map(_.toLong))
      .toMap
    // matched row joined; unmatched purchases emitted with nulls ONLY
    // because the watermark closed their windows; the open-window
    // flush purchase (12) withheld
    assert(got == Map(2L -> Some(1L), 3L -> None, 4L -> None, 10L -> None),
      s"got $got")
    // and the streamed rows are exactly the batch left-join twin
    // restricted to closed windows
    val all = batches.reduce(_.unionAll(_))
    val batch = StreamingJobs.attributionJoinOuter(all, all)
      .filter(col("p_ts") < to_timestamp(lit("2024-01-04 00:00:00")))
      .collect()
      .map(r => r.getAs[Long]("purchase_id") ->
        Option(r.getAs[java.lang.Long]("view_id")).map(_.toLong))
      .toMap
    assert(got == batch)
  }

  test("stream-static enrichment join == batch broadcast join") {
    import spark.implicits._
    val dim = Seq(
      ("view", "browse", 1.0), ("click", "browse", 2.0),
      ("purchase", "buy", 10.0), ("error", "ops", 0.5))
      .toDF("event_type", "category", "weight")
    val stream = StreamingJobs.eventsStream(spark, TestSpark.sf0001)
    val got = StreamingJobs.runAppend(spark,
      StreamingJobs.enrichStream(stream, dim), "t_enrich")
    val want = StreamingJobs.enrichStream(
      Tables.events(spark, TestSpark.sf0001), dim)
    assert(canon(got) == canon(want))
    assert(got.count() > 0)
  }

  test("typed flatMapGroupsWithState sessionizer == batch q34") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val evs = Tables.events(spark, TestSpark.sf0001)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"), col("value"))
      .as[graft.streaming.SessionEvent]
    val got = graft.streaming.StatefulSessions.sessionize(evs)
      .select(col("user_id"), col("session_idx"),
        timestamp_micros(col("session_start_us")).as("session_start"),
        col("n_events"), round(col("value_sum"), 2).as("value_sum"))
    val want = graft.queries.EventsQueries.queries("q34_sessionize")(
      spark, TestSpark.sf0001)
      .select(col("user_id"), col("session_idx"), col("session_start"),
        col("n_events"), col("value_sum"))
    assert(canon(got) == canon(want))
    assert(got.count() > 0)
  }

  test("incremental multi-batch stream: watermark drops the late event, " +
    "finalized windows match batch") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def evs(rows: (String, String, Double)*) =
      rows.toSeq.toDF("ts_s", "event_type", "value")
        .select(to_timestamp(col("ts_s")).as("ts"), col("event_type"), col("value"))
    // batch 1: on-time events across hours 0..5 (max event time 05:30)
    val b1 = evs(
      ("2024-01-01 00:10:00", "view", 1.0), ("2024-01-01 00:40:00", "view", 2.0),
      ("2024-01-01 01:15:00", "view", 3.0), ("2024-01-01 02:20:00", "click", 4.0),
      ("2024-01-01 05:30:00", "view", 5.0))
    // batch 2 advances the watermark to 03:30 (05:30 - 2h): at its end
    // the hour-0..2 windows are emitted and their state EVICTED
    val b2 = evs(("2024-01-01 06:30:00", "view", 6.0))
    // batch 3 is ONLY the late event: its window was already finalized,
    // so the watermark must drop the row — if it leaked it would re-open
    // hour-0 state and a duplicate hour-0 row would be emitted later
    val b3 = evs(("2024-01-01 00:20:00", "view", 99.0))
    // batch 4 advances the clock further so any leaked state would flush
    val b4 = evs(("2024-01-01 08:00:00", "view", 7.0))
    val got = StreamingJobs.runIncremental(spark, Seq(b1, b2, b3, b4),
      StreamingJobs.tumblingCounts, "t_incremental")
    val all = got.collect()
    val rows = all.map(r => (String.valueOf(r.get(0)), r.getString(1)) ->
      (r.getLong(2), r.getDouble(3))).toMap
    // append emitted each finalized window exactly once (a leaked late
    // row would re-open evicted state and emit hour-0 twice)
    assert(all.length == rows.size, s"duplicate window emission: ${all.toSeq}")
    // hour-0 "view" finalized with the TWO batch-1 events only: the late
    // 99.0-value event was dropped by the watermark
    assert(rows(("2024-01-01 00:00:00.0", "view")) == ((2L, 3.0)),
      s"late event leaked into a finalized window: $rows")
    // finalized windows match the batch aggregation over on-time events
    val onTime = evs(
      ("2024-01-01 00:10:00", "view", 1.0), ("2024-01-01 00:40:00", "view", 2.0),
      ("2024-01-01 01:15:00", "view", 3.0), ("2024-01-01 02:20:00", "click", 4.0),
      ("2024-01-01 05:30:00", "view", 5.0), ("2024-01-01 06:30:00", "view", 6.0),
      ("2024-01-01 08:00:00", "view", 7.0))
    val batch = onTime.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("value_sum"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("value_sum"))
      .collect().map(r => (String.valueOf(r.get(0)), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    rows.foreach { case (k, v) =>
      assert(batch(k) == v, s"finalized window $k diverged from batch: $v vs ${batch(k)}")
    }
  }

  test("checkpoint restart: stopped query resumes exactly-once and equals " +
    "the uninterrupted run") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def evs(rows: (String, String, Double)*) =
      rows.toSeq.toDF("ts_s", "event_type", "value")
        .select(to_timestamp(col("ts_s")).as("ts"), col("event_type"), col("value"))
    val b1 = evs(
      ("2024-01-01 00:10:00", "view", 1.0), ("2024-01-01 00:40:00", "view", 2.0),
      ("2024-01-01 01:15:00", "view", 3.0), ("2024-01-01 02:20:00", "click", 4.0),
      ("2024-01-01 05:30:00", "view", 5.0))
    // b2 advances the watermark to 03:30 — hour-0..2 windows finalize,
    // emit, and their state is evicted BEFORE the stop
    val b2 = evs(("2024-01-01 06:30:00", "view", 6.0))
    // b3 arrives ONLY AFTER THE RESTART and is a late event for a window
    // finalized before the stop: dropping it requires the watermark to
    // have been RESTORED from the checkpoint, not recomputed from zero
    val b3 = evs(("2024-01-01 00:20:00", "view", 99.0))
    val b4 = evs(("2024-01-01 08:00:00", "view", 7.0))
    val batches = Seq(b1, b2, b3, b4)
    // run 1 processes b1+b2 then STOPS (AvailableNow caught up); run 2
    // starts a fresh query from the same checkpointLocation over b3+b4
    val restarted = StreamingJobs.runWithRestart(
      spark, batches, StreamingJobs.tumblingCounts, splitAt = 2)
    val uninterrupted = StreamingJobs.runIncremental(
      spark, batches, StreamingJobs.tumblingCounts, "t_ckpt_uninterrupted")
    // exactly-once across the stop/restart boundary: a re-read of the
    // pre-stop files, lost sink output, or a leaked late event would all
    // break this multiset equality
    assert(canon(restarted) == canon(uninterrupted),
      s"restarted run diverged from the uninterrupted run")
    val rows = restarted.collect().map(r =>
      (String.valueOf(r.get(0)), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
    val byWindow = rows.toMap
    assert(rows.length == byWindow.size, "duplicate window emission")
    // the restored watermark dropped the post-restart late event
    assert(byWindow(("2024-01-01 00:00:00.0", "view")) == ((2L, 3.0)),
      "late event leaked past the checkpoint-restored watermark")
    assert(rows.nonEmpty)
  }

  test("transformWithState running stats equal the batch cumulative window " +
    "across micro-batches") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def evs(rows: (Long, String, Long, Double)*) =
      rows.toSeq.toDF("event_id", "ts_s", "user_id", "value")
        .select(col("event_id"), to_timestamp(col("ts_s")).as("ts"),
          col("user_id"), col("value"))
    // two users interleaved across three micro-batches; values with
    // fractional parts so the sum ORDER is observable in the doubles
    val b1 = evs((1L, "2024-01-01 00:10:00", 7L, 1.25),
      (2L, "2024-01-01 00:20:00", 8L, 2.5),
      (3L, "2024-01-01 00:30:00", 7L, 0.1))
    val b2 = evs((4L, "2024-01-01 01:10:00", 7L, 3.3),
      (5L, "2024-01-01 01:20:00", 8L, 0.7))
    val b3 = evs((6L, "2024-01-01 02:10:00", 8L, 5.05),
      (7L, "2024-01-01 02:20:00", 7L, 2.2))
    val got = StreamingJobs.runIncremental(spark, Seq(b1, b2, b3),
      df => graft.streaming.StatefulRunning.runningStats(df).toDF(),
      "t_tws_running")
    val all = Seq(b1, b2, b3).reduce(_.unionAll(_))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val want = all.select(col("user_id"), col("event_id"),
      count(lit(1)).over(w).as("n_seen"), sum(col("value")).over(w).as("value_sum"))
    // the per-event running state must be IDENTICAL to the batch
    // cumulative window — same counts and bit-equal double sums (both
    // sides add in (ts, event_id) order)
    assert(canon(got.select("user_id", "event_id", "n_seen", "value_sum"))
      == canon(want))
    assert(got.count() == 7)
  }

  test("streaming dedup: replayed keys within the watermark emit once") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def evs(rows: (String, Long, Double)*) =
      rows.toSeq.toDF("ts_s", "event_id", "value")
        .select(to_timestamp(col("ts_s")).as("ts"), col("event_id"), col("value"))
    val b1 = evs(("2024-01-01 00:10:00", 1L, 1.0), ("2024-01-01 00:20:00", 2L, 2.0))
    // replay of event 1 in a LATER micro-batch (at-least-once delivery),
    // plus a fresh event
    val b2 = evs(("2024-01-01 00:10:00", 1L, 1.0), ("2024-01-01 00:40:00", 3L, 3.0))
    val got = StreamingJobs.runIncremental(spark, Seq(b1, b2),
      df => StreamingJobs.dedupStream(df, "event_id"), "t_dedup")
    val ids = got.select("event_id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L), s"replay must be suppressed: $ids")
  }

  test("foreachBatch streamed upsert converges to the batch latest-wins merge") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // versioned state dirs (v0, v1, ...) instead of overwrite-in-place:
    // each micro-batch merges the previous state with the batch, latest
    // version per key wins — MERGE INTO semantics per trigger
    val root = java.nio.file.Files
      .createTempDirectory("graft-feb-state").toString
    def latestWins(df: org.apache.spark.sql.DataFrame) = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("k")).orderBy(col("version").desc)
      df.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).drop("rn")
    }
    val b1 = Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("k", "v", "version")
    val b2 = Seq((1L, "a2", 2L), (3L, "c", 1L)).toDF("k", "v", "version")
    // b3 REPLAYS b2's (k=1, v2) update verbatim (at-least-once
    // delivery) alongside a fresh k=2 update
    val b3 = Seq((2L, "b3", 3L), (1L, "a2", 2L)).toDF("k", "v", "version")
    var lastId = -1L
    StreamingJobs.runForeachBatch(spark, Seq(b1, b2, b3), (batch, id) => {
      val prev =
        if (id == 0) batch.limit(0)
        else spark.read.parquet(s"$root/v${id - 1}")
      latestWins(prev.unionByName(batch)
        // deterministic tie-break inside latestWins needs unique
        // (k, version) rows; replayed same-version updates dedupe first
        .dropDuplicates("k", "version"))
        .write.mode("overwrite").parquet(s"$root/v$id")
      lastId = id
    })
    assert(lastId == 2L, s"expected 3 micro-batches, saw ${lastId + 1}")
    val streamed = spark.read.parquet(s"$root/v$lastId")
    val batchMerge = latestWins(
      b1.unionByName(b2).unionByName(b3).dropDuplicates("k", "version"))
    assert(canon(streamed) == canon(batchMerge))
    // the converged state: k=1 at v2, k=2 at v3, k=3 at v1
    val byKey = streamed.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(byKey == Map(1L -> "a2", 2L -> "b3", 3L -> "c"))
  }

  test("count-min counters are a LINEAR sketch: streamed per-batch " +
    "sums equal the full-corpus sketch") {
    // the property that makes CMS streamable/distributable at all:
    // counter tables from independent micro-batches merge by plain
    // addition into EXACTLY the sketch of the whole corpus — no
    // approximation is introduced by the split
    import org.apache.spark.sql.functions.{col, explode}
    import graft.queries.{TextAnalytics, TextOps}
    val docs = graft.Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"), col("text"))
    def counters(df: org.apache.spark.sql.DataFrame, k: Int) =
      df.select(explode(TextOps.wordsOf(col("text"))).as("word"))
        .groupBy(TextAnalytics.cmsBucket(k, col("word")).as("b"))
        .count()
        .collect().map(r => r.getAs[Long]("b") -> r.getAs[Long]("count"))
        .toMap
    val full = (0 until TextAnalytics.CmsD).map(k => counters(docs, k))
    val batches = (0 until 3).map(i => docs.filter(col("doc_id") % 3 === i))
    assert(batches.forall(_.count() > 0))
    val acc = Array.fill(TextAnalytics.CmsD)(
      scala.collection.mutable.Map.empty[Long, Long])
    StreamingJobs.runForeachBatch(spark, batches, (batch, _) => {
      for (k <- 0 until TextAnalytics.CmsD; (b, c) <- counters(batch, k))
        acc(k)(b) = acc(k).getOrElse(b, 0L) + c
    })
    (0 until TextAnalytics.CmsD).foreach { k =>
      assert(acc(k).toMap == full(k), s"row $k counters diverged")
    }
  }

  test("stateful debounce: multi-batch streaming output == batch q158") {
    // the carried last-timestamp state must bridge micro-batch
    // boundaries: chronological thirds, so most (user, type) groups
    // span all three batches
    import org.apache.spark.sql.functions.{col, unix_micros, min, max}
    import graft.streaming.{KeyedEvent, StatefulDebounce}
    val ev = graft.Tables.events(spark, TestSpark.sf0001)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"))
    val mm = ev.agg(min(col("ts_us")), max(col("ts_us"))).collect()(0)
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    val c1 = lo + (hi - lo) / 3
    val c2 = lo + 2 * ((hi - lo) / 3)
    val batches = Seq(
      ev.filter(col("ts_us") <= c1),
      ev.filter(col("ts_us") > c1 && col("ts_us") <= c2),
      ev.filter(col("ts_us") > c2))
    assert(batches.forall(_.count() > 0))
    import spark.implicits._
    val got = StreamingJobs.runIncremental(spark, batches,
      df => StatefulDebounce.debounce(df.as[KeyedEvent]).toDF,
      "t_debounce")
      .select("event_id").as[Long].collect().toSet
    val want = SparkEntry.queries("q158_debounce")(spark, TestSpark.sf0001)
      .select("event_id").as[Long].collect().toSet
    // (the fixture has no same-key bursts, so everything survives on
    // both sides — the parity still pins the plumbing; the planted
    // test below supplies the actual suppression)
    assert(got == want,
      s"streamed kept set diverged: ${got.size} vs ${want.size}")
    assert(got.nonEmpty)
  }

  test("stateful debounce: carried state suppresses across the batch " +
    "boundary") {
    import graft.streaming.{KeyedEvent, StatefulDebounce}
    import spark.implicits._
    val mUs = 60L * 1000000L
    // batch 1: t=0 (kept), t=4m (within 5m -> dropped);
    // batch 2: t=6m — only 2m after the DROPPED 4m event, so the
    //   checkpointed last-raw-ts must suppress it (chaining across the
    //   micro-batch boundary); t=30m is clear and survives
    val b1 = Seq(KeyedEvent(1L, "click", 10L, 0L),
      KeyedEvent(1L, "click", 11L, 4L * mUs)).toDF
    val b2 = Seq(KeyedEvent(1L, "click", 12L, 6L * mUs),
      KeyedEvent(1L, "click", 13L, 30L * mUs)).toDF
    val kept = StreamingJobs.runIncremental(spark, Seq(b1, b2),
      df => StatefulDebounce.debounce(df.as[KeyedEvent]).toDF,
      "t_debounce_planted")
      .select("event_id").as[Long].collect().toSet
    assert(kept == Set(10L, 13L), s"got $kept")
  }

  test("checkpoint restart: transformWithState running stats resume from " +
    "the restored state store") {
    // VERDICT r7 #6: extend the checkpoint-restart exactly-once proof
    // from windowed aggs to the arbitrary-state V2 API. The per-user
    // (count, sum) ValueState lives in the RocksDB store; a restart
    // must restore it, so a post-restart event CONTINUES its user's
    // running count instead of restarting from 1.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def evs(rows: (Long, String, Long, Double)*) =
      rows.toSeq.toDF("event_id", "ts_s", "user_id", "value")
        .select(col("event_id"), to_timestamp(col("ts_s")).as("ts"),
          col("user_id"), col("value"))
    val b1 = evs((1L, "2024-01-01 00:10:00", 7L, 1.25),
      (2L, "2024-01-01 00:20:00", 8L, 2.5),
      (3L, "2024-01-01 00:30:00", 7L, 0.1))
    val b2 = evs((4L, "2024-01-01 01:10:00", 7L, 3.3))
    // b3/b4 run only AFTER the restart
    val b3 = evs((5L, "2024-01-01 02:10:00", 8L, 0.7),
      (6L, "2024-01-01 02:20:00", 7L, 2.2))
    val b4 = evs((7L, "2024-01-01 03:10:00", 8L, 5.05))
    val batches = Seq(b1, b2, b3, b4)
    val mk = (df: org.apache.spark.sql.DataFrame) =>
      graft.streaming.StatefulRunning.runningStats(df).toDF()
    val restarted = StreamingJobs.runWithRestart(spark, batches, mk, splitAt = 2)
    val uninterrupted = StreamingJobs.runIncremental(
      spark, batches, mk, "t_tws_restart_base")
    // exactly-once: no pre-stop event re-read (which would double-count
    // into the state), no lost emission, bit-equal running sums
    assert(canon(restarted) == canon(uninterrupted),
      "transformWithState restart diverged from the uninterrupted run")
    val byEvent = restarted.collect()
      .map(r => r.getAs[Long]("event_id") ->
        ((r.getAs[Long]("n_seen"), r.getAs[Double]("value_sum")))).toMap
    assert(byEvent.size == 7, s"got ${byEvent.keySet}")
    // user 7's first post-restart event is their FOURTH — only true if
    // the (3, 4.65) state survived the stop
    assert(byEvent(6L) == ((4L, 1.25 + 0.1 + 3.3 + 2.2)), s"got ${byEvent(6L)}")
    // user 8's post-restart events continue 2.5 -> 3.2 -> 8.25
    assert(byEvent(5L) == ((2L, 2.5 + 0.7)))
    assert(byEvent(7L) == ((3L, 2.5 + 0.7 + 5.05)))
  }

  test("checkpoint restart: debounce's carried last-raw-ts survives and " +
    "keeps suppressing") {
    import graft.streaming.{KeyedEvent, StatefulDebounce}
    import spark.implicits._
    val mUs = 60L * 1000000L
    // pre-stop: t=0 kept, t=4m dropped (state advances to 4m regardless)
    val b1 = Seq(KeyedEvent(1L, "click", 10L, 0L),
      KeyedEvent(1L, "click", 11L, 4L * mUs)).toDF
    val b2 = Seq(KeyedEvent(2L, "view", 20L, 0L)).toDF // unrelated key
    // post-restart: t=6m is 2m after the DROPPED pre-stop event — it is
    // suppressed ONLY if the GroupState was restored from the
    // checkpoint (a from-zero restart would keep it); t=30m survives
    val b3 = Seq(KeyedEvent(1L, "click", 12L, 6L * mUs),
      KeyedEvent(1L, "click", 13L, 30L * mUs)).toDF
    val batches = Seq(b1, b2, b3)
    val mk = (df: org.apache.spark.sql.DataFrame) =>
      StatefulDebounce.debounce(df.as[KeyedEvent]).toDF
    val restarted = StreamingJobs.runWithRestart(spark, batches, mk, splitAt = 2)
    val kept = restarted.select("event_id").as[Long].collect().toSet
    assert(kept == Set(10L, 20L, 13L), s"got $kept")
    // and the restarted run equals the uninterrupted one exactly
    val uninterrupted = StreamingJobs.runIncremental(
      spark, batches, mk, "t_debounce_restart_base")
    assert(canon(restarted) == canon(uninterrupted))
  }

  test("stateful ewma: closed-hour streaming output == batch q162") {
    import org.apache.spark.sql.functions.{col, unix_micros, unix_timestamp}
    import graft.streaming.{StatefulEwma, TypedTick}
    import spark.implicits._
    val ev = graft.Tables.events(spark, TestSpark.sf0001)
      .select(col("event_type"), unix_micros(col("ts")).as("ts_us"))
    val mm = ev.agg(org.apache.spark.sql.functions.min(col("ts_us")),
      org.apache.spark.sql.functions.max(col("ts_us"))).collect()(0)
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    val c1 = lo + (hi - lo) / 3
    val c2 = lo + 2 * ((hi - lo) / 3)
    val batches = Seq(
      ev.filter(col("ts_us") <= c1),
      ev.filter(col("ts_us") > c1 && col("ts_us") <= c2),
      ev.filter(col("ts_us") > c2))
    assert(batches.forall(_.count() > 0))
    val got = StreamingJobs.runIncremental(spark, batches,
      df => StatefulEwma.smooth(df.as[TypedTick]).toDF, "t_ewma")
      .collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("hour_sec")) ->
        ((r.getAs[Long]("n"), r.getAs[Double]("ewma")))).toMap
    // the batch q162 rows for every hour that CLOSED in the stream
    // (each type's final observed hour never closes)
    val batch = SparkEntry.queries("q162_ewma_hourly")(spark, TestSpark.sf0001)
      .select(col("event_type"),
        unix_timestamp(col("hour_start")).as("hs"), col("n"), col("ewma"))
      .collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("hs")) ->
        ((r.getAs[Long]("n"), r.getAs[Double]("ewma")))).toMap
    val lastPerType = batch.keys.groupBy(_._1)
      .map { case (t, ks) => t -> ks.map(_._2).max }
    val want = batch.filter { case ((t, h), _) => h < lastPerType(t) }
    assert(got == want,
      s"streamed ewma diverged: got=${got.size} want=${want.size}")
    assert(got.nonEmpty)
  }

  test("streaming session window == batch q37") {
    val stream = StreamingJobs.eventsStream(spark, TestSpark.sf0001)
    val got = StreamingJobs.runToCompletion(spark,
      StreamingJobs.sessionCounts(stream), "t_session")
    val want = graft.queries.EventsQueries.queries("q37_session_window")(
      spark, TestSpark.sf0001)
    assert(canon(got) == canon(want))
    assert(got.count() > 0)
  }

  test("streaming near-dup gate == batch q208 across micro-batches, " +
    "including the list-state bucket cap") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.queries.Dedup
    val base = "alpha beta gamma delta epsilon zeta"
    val flood = "flood one two three four five six"
    def docs(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
    // arrival order = doc-id order: batch i's ids all precede batch
    // i+1's (the processor sorts within a batch; the harness stages
    // batches in sequence), so the batch twin's global doc order IS
    // the stream's arrival order
    val b1 = docs(1L -> base, 2L -> "totally unrelated words here now",
      3L -> "another different document entirely speaking", 5L -> base)
    val b2 = docs((Seq(7L -> "alpha beta gamma delta epsilon eta",
      12L -> base) ++ (100L to 139L).map(_ -> flood)): _*)
    val b3 = docs(((140L to 169L).map(_ -> flood) :+ (200L -> base)): _*)
    val all = Seq(b1, b2, b3).reduce(_ unionAll _)
    // the per-row band projection the stream uses must be bit-identical
    // to the batch aggregate form
    val perRow = Dedup.bandsPerRow(all, "doc_id", "text")
    assert(canon(perRow)
      == canon(Dedup.minhashBands(Dedup.shingleTable(all, "doc_id", "text"))))
    val got = StreamingJobs.runIncremental(spark, Seq(b1, b2, b3),
      df => graft.streaming.StatefulNeardupGate.gateStream(df).toDF(),
      "t_neardup_gate")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val want = Dedup.neardupGatePairs(perRow)
      .collect()
      .map(r => (r.getAs[Long]("doc"), r.getAs[Long]("partner"),
        r.getAs[Int]("band_idx"))).toSet
    assert(got == want, s"stream=${got.size} batch=${want.size}")
    // gate direction: a collision always points at an EARLIER arrival
    assert(got.forall { case (d, p, _) => p < d })
    // cross-batch identity: doc 200 (batch 3) collides with 1, 5
    // (batch 1) and 12 (batch 2) on all three bands
    for (p <- Seq(1L, 5L, 12L); b <- 0 until Dedup.MinhashBands)
      assert(got.contains((200L, p, b)), s"missing (200,$p,$b)")
    // the cap binds: the 70-doc flood bucket stops admitting members at
    // BandBucketCap, so the last flood doc sees exactly 64 partners
    // (ids 100..163) on each band, never 68
    val lastFlood = got.filter(c => c._1 == 169L && c._3 == 0).map(_._2)
    assert(lastFlood == (100L to 163L).toSet)
    graft.SessionCache.clear()
  }

  test("BOUNDED streaming gate == batch twin q218 across micro-batches: " +
    "event-time aging, LRU cap, and the evicted-partner recall trade") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.queries.Dedup
    val base = "alpha beta gamma delta epsilon zeta"
    val flood = "flood one two three four five six"
    val horizon = 300L
    // event time = doc_id ms (one arrival per ms), arrival = id order
    def docs(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
      .withColumn("ts", timestamp_millis(col("doc_id")))
    val b1 = docs(Seq(1L -> base,
      2L -> "totally unrelated words here now", 5L -> base))
    // a 70-doc flood bucket (LRU semantics) + a base dup still inside
    // the horizon of batch 1's copies
    val b2 = docs((100L to 169L).map(_ -> flood) :+ (250L -> base))
    // 700: every base partner (1, 5, 250) is aged out; 720 pairs with
    // the re-admitted 700 only
    val b3 = docs(Seq(700L -> base, 720L -> base))
    val all = Seq(b1, b2, b3).reduce(_ unionAll _)
    val got = StreamingJobs.runIncremental(spark, Seq(b1, b2, b3),
      df => graft.streaming.BoundedNeardupGate.gateStream(df, horizon).toDF(),
      "t_bounded_gate")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val perRow = Dedup.bandsPerRow(all, "doc_id", "text", Seq("ts"))
      .withColumn("ts_ms", unix_millis(col("ts")))
    val want = Dedup.boundedGatePairs(perRow, horizon).collect()
      .map(r => (r.getAs[Long]("doc"), r.getAs[Long]("partner"),
        r.getAs[Int]("band_idx"))).toSet
    assert(got == want, s"stream=${got.size} batch=${want.size}")
    // within-horizon pairs from earlier batches survive
    for (p <- Seq(1L, 5L); b <- 0 until Dedup.MinhashBands)
      assert(got.contains((250L, p, b)), s"missing (250,$p,$b)")
    // the recall trade, pinned: 700 IS a dup of 1/5/250, but all its
    // partners aged out of the index — it emits nothing...
    assert(!got.exists(_._1 == 700L),
      "a late dup against evicted partners must emit nothing")
    // ...and was re-admitted as new, so ITS later dup is caught
    for (b <- 0 until Dedup.MinhashBands)
      assert(got.contains((720L, 700L, b)), s"missing (720,700,$b)")
    // LRU vs admit-refusal: the last flood doc sees the 64 most RECENT
    // members (105..168), not the first 64 the unbounded gate keeps
    val lastFlood = got.filter(c => c._1 == 169L && c._3 == 0).map(_._2)
    assert(lastFlood == (105L to 168L).toSet)
    graft.SessionCache.clear()
  }

  test("keyed state grows with keys, not rows: transformWithState running " +
    "stats hold one state row per user") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // three micro-batches of `rows` events each, spread round-robin over
    // `keys` users
    def batches(rows: Int, keys: Int) = (0 until 3).map { b =>
      (0 until rows).map { i =>
        val id = (b * rows + i).toLong
        (id, id % keys, 1.0)
      }.toDF("event_id", "user_id", "value")
        .withColumn("ts", timestamp_seconds(col("event_id")))
    }
    def lastStateRows(rows: Int, keys: Int, name: String) = {
      val perBatch = stateRowsPerBatch(batches(rows, keys),
        df => graft.streaming.StatefulRunning.runningStats(df).toDF(), name)
      assert(perBatch.size == 3, s"$name: $perBatch")
      perBatch.last
    }
    val base = lastStateRows(8, 4, "t_keys_base")
    val rowsX4 = lastStateRows(32, 4, "t_keys_rows_x4")
    val keysX4 = lastStateRows(8, 16, "t_keys_keys_x4")
    assert(base > 0)
    assert(rowsX4 == base, s"4x rows on the same keys: $rowsX4 vs $base")
    assert(keysX4 == 4 * base, s"4x keys on the same rows: $keysX4 vs $base")
  }

  test("bounded gate state plateaus while the unbounded gate's grows " +
    "every batch on the same stream") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // six batches of ten unrelated docs (no two share a shingle), event
    // time ts = doc_id ms, so the horizon below spans two batches of ids
    val perBatch = 10
    val batches = (0 until 6).map { b =>
      (0 until perBatch).map { i =>
        val id = (b * perBatch + i).toLong
        (id, s"a$id b$id c$id d$id")
      }.toDF("doc_id", "text")
        .withColumn("ts", timestamp_millis(col("doc_id")))
    }
    val bounded = stateRowsPerBatch(batches, df => graft.streaming
      .BoundedNeardupGate.gateStream(df, horizonMs = 2L * perBatch).toDF(),
      "t_gate_state_bounded")
    val unbounded = stateRowsPerBatch(batches, df => graft.streaming
      .StatefulNeardupGate.gateStream(df.drop("ts")).toDF(),
      "t_gate_state_unbounded")
    assert(bounded.size == 6 && unbounded.size == 6, s"$bounded / $unbounded")
    // from batch 2 on (Spark numbers batches from 0) the state holds a
    // horizon's worth of docs: event-time timers clear the older ones
    // (measured 60, 120, 180, 180, 180, 180; with timers one ms late
    // the last doc of each batch stayed a batch longer: 186 from batch 3)
    assert(bounded.drop(2).forall(_ <= bounded(2)), s"bounded gate state rows: $bounded")
    assert(unbounded.zip(unbounded.tail).forall { case (a, b) => b > a },
      s"unbounded gate state rows: $unbounded")
    graft.SessionCache.clear()
  }
}
