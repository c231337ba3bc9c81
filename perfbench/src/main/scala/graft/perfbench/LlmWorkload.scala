package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, sum}
import org.apache.spark.storage.StorageLevel

import graft.pipeline.{Chunker, Combine, MemoCache}
import graft.sources.TextCorpus

/** The user's path through `graft.Cli`: one text file through sources,
  * the cl100k pre-flight estimate, the chunker, the memoized map stage
  * and the ordered combine, called in the order `Cli.main` calls them.
  *
  * Set-up writes the seeded corpus and runs the same pipeline once over
  * the "previous" file with a zero-latency model: the whole corpus on a
  * cold workload (a warm-up; its memo is discarded), or the first
  * `memo_prefix` share of the records on a re-run workload, whose memo
  * every timed run then starts from. Each timed run gets its own copy of
  * that memo. The first set-up also warms the JVM, so `setup_s` reports
  * the median of [[LlmWorkload.SetupReps]] set-ups.
  */
final class LlmWorkload(spark: SparkSession, tracer: Tracer, spec: JsonNode, w: JsonNode,
                        seed: Long, seconds: Double, work: Path) {
  private val pipe = spec.path("pipeline")
  private val budget = Chunker.DefaultBudget
  private val prompt = pipe.path("prompt").asText
  private val keyword = pipe.path("keyword").asText
  private val modelId = s"simulated:$keyword"
  private val records = w.path("records").asInt
  private val oversized = w.path("oversized_records").asInt
  private val prefixShare = w.path("memo_prefix").asDouble(0)
  private val lat = spec.path("latency_model")
  private val model = SimulatedModel(keyword, seed,
    LatencyModel(lat.path("median_ms").asDouble, lat.path("sigma").asDouble, lat.path("cap_ms").asDouble))
  private val instant = model.copy(latency = LatencyModel(0, 0, 0))
  private val cores = Runtime.getRuntime.availableProcessors

  private val corpusPath = work.resolve("corpus.txt")
  private val previousPath = work.resolve("previous.txt")
  private val setupMemo = work.resolve("memo-setup")

  // A traced run persists and counts each layer's output at its boundary,
  // so lazy Spark work is charged to the layer that owns it.
  private val forced = ArrayBuffer.empty[DataFrame]
  private def force(df: DataFrame): DataFrame =
    if (!tracer.active) df
    else {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      p.count()
      forced += p
      p
    }

  /** One pipeline run, as `Cli.main` makes it. Returns the estimate and
    * the chunk table.
    */
  private def pipeline(file: Path, memo: Path, out: Path,
                       client: SimulatedModel): (Long, DataFrame) = {
    val corpus = tracer.span("sources")(force(TextCorpus.lines(spark, file.toString)))
    val tokens = tracer.span("expressions")(
      corpus.agg(sum(graft.functions.token_count_cl100k(col("text")).cast("long")))
        .collect()(0).getLong(0))
    val chunks = tracer.span("chunker")(force(Chunker.chunkTable(corpus, "line_id", "text")))
    val mapped = tracer.span("memo")(force(
      MemoCache.mapChunksWithMemo(chunks, client, prompt, modelId, memo.toString)))
    tracer.span("combine")(Combine.writeCombined(mapped, out.toString))
    (tokens, chunks)
  }

  private def release(): Unit = {
    forced.foreach(_.unpersist(true))
    forced.clear()
    Chunker.clearCaches()
  }

  private def setupOnce(): Array[String] = {
    val recs = Corpus.records(seed, records, oversized)
    Corpus.write(corpusPath, recs)
    val previous =
      if (prefixShare > 0) recs.take((recs.length * prefixShare).toInt) else recs
    Corpus.write(previousPath, previous)
    Main.deleteTree(setupMemo)
    val out = work.resolve("previous.combined")
    pipeline(previousPath, setupMemo, out, instant)
    Main.deleteTree(out)
    release()
    recs
  }

  private def readOutput(dir: Path): String = {
    val s = Files.list(dir)
    val parts = try s.iterator.asScala.filter(_.getFileName.toString.startsWith("part-")).toSeq
      finally s.close()
    parts.sortBy(_.getFileName.toString)
      .map(p => new String(Files.readAllBytes(p), StandardCharsets.UTF_8)).mkString
  }

  /** Seconds of [from, to] covered by the union of the calls' intervals. */
  private def covered(calls: Seq[Call], from: Long, to: Long): Double = {
    var total = 0L
    var curStart = 0L
    var curEnd = Long.MinValue
    calls.map(c => (math.max(c.startNs, from), math.min(c.endNs, to)))
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (s > curEnd) {
          if (curEnd > curStart) total += curEnd - curStart
          curStart = s; curEnd = e
        } else curEnd = math.max(curEnd, e)
      }
    if (curEnd > curStart) total += curEnd - curStart
    total / 1e9
  }

  def run(): Outcome = {
    val codegen0 = Codegen.read()
    val setupTimes = (1 to LlmWorkload.SetupReps).map { _ =>
      val t0 = System.nanoTime()
      setupOnce()
      val took = Stats.secondsSince(t0)
      Stats.log(f"set-up: $took%.3f s")
      took
    }
    val setupCodegen = Codegen.setupMetrics(codegen0, Codegen.read())
    val recs = Corpus.records(seed, records, oversized)
    val chunks = Corpus.chunkTexts(recs, budget)
    val expected = Corpus.combined(chunks, keyword) + "\n"
    val known =
      if (prefixShare > 0)
        Corpus.chunkTexts(recs.take((recs.length * prefixShare).toInt), budget).toSet
      else Set.empty[String]
    val expectedCalls = chunks.count(c => !known.contains(c)).toLong
    val inputBytes = Files.size(corpusPath)
    Stats.log(s"expected output computed: ${chunks.length} chunks, $expectedCalls model calls")

    var attempted = 0L
    var failed = 0L
    var checkFailures = List.empty[String]
    val untracedWalls = ArrayBuffer.empty[Double]
    val tracedWalls = ArrayBuffer.empty[Double]
    val layers = ArrayBuffer.empty[Map[String, Double]]
    var callsPerChunk = 0.0
    val latenciesMs = ArrayBuffer.empty[Double]

    var warmupWall = 0.0
    var windowStart = System.nanoTime()
    var unit = 0
    while (tracer.another(unit, Stats.secondsSince(windowStart), seconds)) {
      val traced = tracer.tracedUnit(unit)
      val memo = work.resolve(s"memo-$unit")
      val out = work.resolve(s"out-$unit")
      if (prefixShare > 0) Main.copyTree(setupMemo, memo)
      val memoBefore = Main.files(memo)
      CallLog.reset()
      CallLog.tracing = traced
      tracer.active = traced
      if (traced) tracer.engine.settle()
      val engine0 = if (traced) tracer.engine.snapshot() else Map.empty[String, Map[String, Long]]
      val compiles0 = Codegen.read().compiles
      tracer.spans.clear()

      val t0 = System.nanoTime()
      val (tokens, chunkTable) = tracer.span("pipeline")(pipeline(corpusPath, memo, out, model))
      val wall = Stats.secondsSince(t0)
      tracer.active = false
      Stats.log(f"pipeline run $unit (traced=$traced): $wall%.3f s")

      val calls = CallLog.calls.get()
      val callFailures = CallLog.failures.get()
      attempted += calls + 1
      failed += callFailures
      val outputOk = readOutput(out) == expected
      val callsOk = calls == expectedCalls
      if (!outputOk) checkFailures ::= s"unit $unit: combined output differs from the sequential recomputation"
      if (!callsOk) checkFailures ::= s"unit $unit: $calls model calls, expected $expectedCalls"
      if (!outputOk || !callsOk) failed += 1
      callsPerChunk = calls.toDouble / chunks.length

      if (traced) {
        tracedWalls += wall
        val eng = tracer.engine.since(engine0)
        val span = tracer.spans.map(s => s.name -> s).toMap
        val callSpans = CallLog.spans.asScala.toSeq
        latenciesMs ++= callSpans.map(c => (c.endNs - c.startNs) / 1e6)
        val busy = callSpans.map(c => (c.endNs - c.startNs) / 1e9).sum
        val mapWall =
          if (callSpans.isEmpty) 0.0
          else (callSpans.map(_.endNs).max - callSpans.map(_.startNs).min) / 1e9
        val memoSpan = span("memo")
        val memoAfter = Main.files(memo)
        val added = memoAfter.filter { case (n, _) => n.endsWith(".parquet") && !memoBefore.contains(n) }
        val misses =
          if (added.isEmpty) 0L
          else spark.read.parquet(added.keys.toSeq.map(n => memo.resolve(n).toString): _*).count()
        val nChunks = chunkTable.count() // persisted by force()
        tracer.keep(unit, callSpans.map(c => Span("model_call", "memo", c.startNs, c.endNs)))
        layers += Map(
          "sources.read_s" -> span("sources").seconds,
          "sources.input_bytes" -> eng("sources", "input_bytes"),
          "expressions.estimate_s" -> span("expressions").seconds,
          "expressions.tokens" -> tokens.toDouble,
          "chunker.s" -> span("chunker").seconds,
          "chunker.chunks" -> nChunks.toDouble,
          "chunker.shuffle_write_bytes" -> eng("chunker", "shuffle_write_bytes"),
          "llmmap.calls" -> calls.toDouble,
          "llmmap.busy_s" -> busy,
          "llmmap.map_wall_s" -> mapWall,
          "llmmap.inflight_max" -> CallLog.inflightMax.get().toDouble,
          "llmmap.tokens_in" -> callSpans.map(_.tokensIn).sum.toDouble,
          "llmmap.tokens_out" -> callSpans.map(_.tokensOut).sum.toDouble,
          "llmmap.failures" -> callFailures.toDouble,
          "memo.s" -> (memoSpan.seconds - covered(callSpans, memoSpan.startNs, memoSpan.endNs)),
          "memo.hits" -> (nChunks - misses).toDouble,
          "memo.misses" -> misses.toDouble,
          "memo.bytes_written" -> added.values.sum.toDouble,
          "memo.files" -> added.size.toDouble,
          "combine.s" -> span("combine").seconds,
          "combine.output_bytes" -> Main.files(out).filter(_._1.startsWith("part-")).values.sum.toDouble
        ) ++ Engine.sparkMetrics(eng, Codegen.read().compiles - compiles0, wall, cores)
      } else if (tracer.warmup(unit)) warmupWall = wall
      else untracedWalls += wall

      CallLog.tracing = false
      release()
      Main.deleteTree(memo)
      Main.deleteTree(out)
      if (tracer.warmup(unit)) windowStart = System.nanoTime()
      unit += 1
    }

    val nUntraced = untracedWalls.size
    val wall = Stats.median(untracedWalls.toSeq)
    val metrics = ListMap(
      "setup_s" -> Metric.of(Stats.median(setupTimes), "s", setupTimes.size),
      "wall_s" -> Metric.of(wall, "s", nUntraced),
      "warmup_s" -> Metric.of(warmupWall, "s"),
      "items_per_s" -> Metric.of(chunks.length / wall, "1/s", nUntraced),
      "model_calls_per_chunk" -> Metric.of(callsPerChunk, "ratio", unit),
      "corpus.records" -> Metric.of(records, "count"),
      "corpus.bytes" -> Metric.of(inputBytes.toDouble, "bytes"),
      "corpus.chunks" -> Metric.of(chunks.length, "count"),
      "corpus.expected_calls" -> Metric.of(expectedCalls.toDouble, "count")
    ) ++ setupCodegen ++ (if (!tracer.enabled) ListMap.empty else {
      val busy = layers.map(_("llmmap.busy_s"))
      val mapWall = layers.map(_("llmmap.map_wall_s"))
      val noCalls = "no model call was made"
      Engine.traced(layers.toSeq, tracedWalls.toSeq, wall) ++ ListMap(
        "llmmap.concurrency" ->
          (if (latenciesMs.isEmpty) Metric.missing("ratio", noCalls)
           else Metric.of(Stats.median(busy.zip(mapWall).map { case (b, m) => b / m }.toSeq),
             "ratio", layers.size)),
        "llmmap.latency_p50_ms" ->
          (if (latenciesMs.isEmpty) Metric.missing("ms", noCalls)
           else Metric.of(Stats.percentile(latenciesMs.toSeq, 0.5), "ms", latenciesMs.size)),
        "llmmap.latency_p99_ms" ->
          (if (latenciesMs.isEmpty) Metric.missing("ms", noCalls)
           else Metric.of(Stats.percentile(latenciesMs.toSeq, 0.99), "ms", latenciesMs.size)),
        "memo.hit_ratio" -> Metric.of(
          Stats.median(layers.map(l => l("memo.hits") / l("chunker.chunks")).toSeq), "ratio",
          layers.size))
    })
    Outcome(metrics, attempted, failed,
      ListMap("output_checks" -> unit, "check_failures" -> checkFailures.reverse))
  }
}

object LlmWorkload {
  /** Set-up runs this many times; `setup_s` takes the median. */
  val SetupReps = 3
}
