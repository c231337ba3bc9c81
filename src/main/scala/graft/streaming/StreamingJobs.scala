package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Harness

/** Structured Streaming forms of the event-window queries (SURVEY.md
  * §2.2 Streaming): the SAME `window()` / `session_window()` expressions
  * as the batch catalog (graft.queries.EventsQueries q35/q37), run over
  * a parquet FILE SOURCE with an event-time watermark. StreamingSpec
  * asserts stream-batch parity on sf0.001 — the guarantee that matters:
  * one query definition, two execution modes.
  *
  * Scale notes: the file source lists and checkpoints file progress on
  * the driver but reads on executors; the windowed aggregation is
  * keyed state (window x key) in the state store, bounded by the
  * watermark, and shuffles exactly like its batch twin.
  *
  * Checkpoint portability: windowed state serializes event-time
  * values, so checkpoints written against one `ts` physical encoding
  * (the pre-r7 long-nanos testdata) are NOT portable to data loaded
  * under another (timestamp[us]); StreamingSpec proves restart
  * recovery from a FRESH checkpoint on the current encoding — resume
  * across a testdata regeneration by starting a new checkpoint dir.
  */
object StreamingJobs {

  private val stagingDirs =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()

  /** Streaming read of the events table. Schema comes from a batch
    * probe (file sources require an explicit schema); the `ts`
    * normalization is the SAME schema-adaptive branch as the batch
    * loader (graft.Tables.normalizeTs) — the probed schema makes the
    * branch statically decidable before the stream starts.
    */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    if (spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/events.parquet"
    val schema = spark.read.parquet(path).schema // long nanos OR timestamp[us]
    // The file source demands a DIRECTORY (in production the events
    // table is one); the fixture is a single file, so stage a symlink
    // dir under the JVM's temp root — memoized per source path so repeated streams don't
    // accumulate staging dirs. No data is copied.
    val src = java.nio.file.Paths.get(path)
    val stage =
      if (java.nio.file.Files.isDirectory(src)) src
      else stagingDirs.computeIfAbsent(src.toString, { _ =>
        val d = Harness.tempDir("stream-src")
        java.nio.file.Files.createSymbolicLink(d.resolve(src.getFileName), src)
        d
      })
    graft.Tables.normalizeTs(
      spark.readStream.schema(schema).parquet(stage.toString))
  }

  /** Tumbling 1h counts by event type — streaming twin of
    * q35_tumbling_window. Watermark bounds state: windows older than
    * (max event time - 2h) are finalized and dropped from the store.
    */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("value_sum"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("value_sum"))

  /** 30-minute-gap session counts per user — streaming twin of
    * q37_session_window, via the native session_window state merge.
    */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"))

  /** Streaming exact dedup: emit the FIRST occurrence of each key and
    * drop replays arriving within the watermark horizon — the streaming
    * form of exact dedup for an at-least-once ingest pipeline. State is
    * bounded: a key's dedup record is evicted once the watermark passes
    * its event time + delay (an unbounded dropDuplicates would grow
    * state forever at 100 TB/day).
    */
  def dedupStream(events: DataFrame, keyCol: String): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark(keyCol)

  /** Stream-stream interval join (view -> purchase attribution): each
    * purchase joined to the same user's views in the preceding hour.
    * One definition for both modes: on streams, the two watermarks plus
    * the event-time range condition bound the join state (views older
    * than the watermark minus the interval are evicted — without the
    * range bound this state would grow forever at ingest scale); on
    * batch DataFrames `withWatermark` is a no-op and the same plan is
    * an ordinary range join (catalog twin q71_view_attribution).
    */
  def attributionJoin(views: DataFrame, purchases: DataFrame): DataFrame = {
    val v = views.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("view_id"))
      .withWatermark("v_ts", "2 hours")
    val p = purchases.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"), col("value"))
      .withWatermark("p_ts", "2 hours")
    p.join(v, col("p_user") === col("v_user") &&
        col("v_ts") <= col("p_ts") &&
        col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("purchase_id"), col("view_id"),
        col("p_user").as("user_id"), col("p_ts"), col("v_ts"),
        round(col("value"), 2).as("value"))
  }

  /** LEFT-OUTER stream-stream interval join — [[attributionJoin]] with
    * purchases that have NO qualifying view retained as null-view rows
    * (the conversion-without-exposure report). On streams this is the
    * watermark-driven outer join Structured Streaming documents: an
    * unmatched purchase is withheld until BOTH watermarks pass the end
    * of its join window — state eviction doubles as the no-match
    * proof — and emitted with nulls in a later micro-batch, so a
    * finite run only emits outer rows for windows some staged tick
    * closed (StreamingSpec stages far-future flush ticks for exactly
    * that). On batch frames the identical definition is an ordinary
    * left range join (catalog twin q196_attribution_outer).
    */
  def attributionJoinOuter(views: DataFrame, purchases: DataFrame): DataFrame = {
    val v = views.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("view_id"))
      .withWatermark("v_ts", "2 hours")
    val p = purchases.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"), col("value"))
      .withWatermark("p_ts", "2 hours")
    p.join(v, col("p_user") === col("v_user") &&
        col("v_ts") <= col("p_ts") &&
        col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"),
      "left_outer")
      .select(col("purchase_id"), col("view_id"),
        col("p_user").as("user_id"), col("p_ts"), col("v_ts"),
        round(col("value"), 2).as("value"))
  }

  /** Stream–static enrichment join: the unbounded event stream joined
    * to a bounded reference dimension — the "attach reference data at
    * ingest" shape. No watermark and NO STATE: a static table is
    * re-readable, so the join is stateless per micro-batch (the dim is
    * broadcast under every trigger, and dim updates between triggers
    * are picked up on the next batch). On batch inputs the identical
    * definition is an ordinary broadcast join — the parity spec
    * asserts equal rows.
    */
  def enrichStream(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim), Seq("event_type"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("category"),
        round(col("value") * col("weight"), 2).as("weighted_value"))
}
