package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.expressions.TokenCount
import graft.pipeline._

/** Shared session for all suites (one JVM-wide session; local[4]).
  * maxFailures=2 (the `local[4, 2]` form) so RetryDeterminismSpec's
  * injected first-attempt task failures go through Spark's real retry
  * path instead of aborting the stage; a no-op for every other suite
  * (tasks that don't fail never retry).
  */
object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4, 2]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  val sf0001 = "/root/testdata/sf0.001"
}

/** Mirrors the reference's own test invariants
  * (/root/reference/internal/cli/mapreduce_test.go, estimation_test.go).
  */
class TokenCountSpec extends AnyFunSuite {
  test("empty string costs 0 tokens") { // estimation_test.go:16-24
    assert(TokenCount.count("") == 0)
    assert(TokenCount.count("   \n\t ") == 0)
  }
  test("simple text token ranges") { // estimation_test.go:25-51
    val n = TokenCount.count("Hello, world!")
    assert(n >= 2 && n <= 6, s"got $n")
    assert(TokenCount.count("word") == 1)
    assert(TokenCount.count("word " * 100) == 100)
  }
  test("deterministic") { // estimation_test.go:126-144
    val t = "The quick brown fox jumps over the lazy dog.\nSecond line."
    assert(TokenCount.count(t) == TokenCount.count(t))
  }
  test("native expression matches scala impl") {
    val spark = TestSpark.spark
    import spark.implicits._
    val texts = Seq("", "one", "a bb ccc dddd eeeee", "x " * 50).toDF("t")
    val got = texts.select(functions.token_count($"t")).as[Int].collect()
    assert(got.toSeq == Seq("", "one", "a bb ccc dddd eeeee", "x " * 50)
      .map(TokenCount.count))
  }
}

class ChunkerSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  test("greedy: every chunk <= 2x budget") { // mapreduce_test.go:402-417
    val text = ("word " * 1000).trim
    val chunks = Chunker.greedyPack(text, budget = 100)
    assert(chunks.nonEmpty)
    chunks.foreach { c =>
      assert(TokenCount.count(c) <= 200, s"chunk over 2x budget: ${c.take(50)}")
    }
    assert(chunks.size >= 5 && chunks.size <= 25, s"got ${chunks.size}")
  }

  test("greedy: recombination preserves word count") { // mapreduce_test.go:420-436
    val text = (1 to 500).map(i => s"line$i has some words w$i").mkString("\n")
    val words = text.split("\\s+").count(_.nonEmpty)
    val recombined = Chunker.greedyPack(text, budget = 50).mkString("\n")
    assert(recombined.split("\\s+").count(_.nonEmpty) == words)
  }

  test("greedy: oversized line falls back to word split") { // mapreduce_test.go:387-392
    val chunks = Chunker.greedyPack("This is a test sentence with multiple words", budget = 3)
    assert(chunks.size > 1)
    chunks.foreach(c => assert(TokenCount.count(c) <= 6))
  }

  test("greedy: empty input yields 0 or 1 chunks") { // mapreduce_test.go:441-451
    assert(Chunker.greedyPack("", 2000).size <= 1)
  }

  test("distributed chunking: word preservation + budget bound + dense ids") {
    val docs = (0L until 300L).map(i => (i, s"doc $i content " + ("w " * (i % 40).toInt).trim))
      .toDF("doc_id", "text")
    val budget = 50
    val chunks = Chunker.chunkTable(docs, "doc_id", "text", budget).cache()
    val rows = chunks.orderBy("chunk_id").collect()
    // chunk ids dense from 0
    assert(rows.map(_.getLong(0)).toSeq == (0L until rows.length).toSeq)
    // word preservation: all doc words present in chunk texts
    val inWords = docs.collect().map(_.getString(1)).mkString("\n").split("\\s+").count(_.nonEmpty)
    val outWords = rows.map(_.getString(1)).mkString("\n").split("\\s+").count(_.nonEmpty)
    assert(inWords == outWords)
    // every chunk except possibly those carrying a single oversized record
    // stays within budget + max single record cost
    val maxRec = docs.select(org.apache.spark.sql.functions.max(
      functions.token_count($"text"))).as[Int].head()
    rows.foreach(r => assert(r.getLong(2) <= budget + maxRec))
    chunks.unpersist()
  }

  test("distributed C3b: oversized record word-splits, <=2x-budget bound holds") {
    // mapreduce_test.go:413-417: every chunk <= 2x budget — including
    // when a single record exceeds the budget, at partition count > 1.
    val docs = ((0L until 20L).map(i => (i, s"doc $i small content")) :+
      (20L, ("big " * 500).trim) :+ (21L, "tail doc after the giant"))
      .toDF("doc_id", "text").repartition(5)
    val budget = 100
    val chunks = Chunker.chunkTable(docs, "doc_id", "text", budget).cache()
    val rows = chunks.collect()
    rows.foreach(r => assert(r.getAs[Long]("n_tokens") <= 2L * budget,
      s"chunk ${r.getAs[Long]("chunk_id")} over 2x budget: ${r.getAs[Long]("n_tokens")}"))
    // word preservation across the split
    val inWords = docs.collect().map(_.getString(1)).mkString(" ").split("\\s+").count(_.nonEmpty)
    val outWords = rows.map(_.getAs[String]("text")).mkString(" ").split("\\s+").count(_.nonEmpty)
    assert(inWords == outWords)
    // the giant record really was split across multiple chunks
    assert(rows.count(_.getAs[String]("text").contains("big")) > 1)
    chunks.unpersist()
  }

  test("distributed chunking is partition-count invariant") {
    val docs = (0L until 200L).map(i => (i, ("tok " * (1 + (i % 17)).toInt).trim)).toDF("doc_id", "text")
    val a = Chunker.assignChunks(docs.repartition(1), "doc_id", "text", 30)
      .select("doc_id", "chunk_id").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val b = Chunker.assignChunks(docs.repartition(7), "doc_id", "text", 30)
      .select("doc_id", "chunk_id").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(a == b)
  }
}

class PipelineSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  test("flagship entry: chunks with their filtered model results") {
    val out = SparkEntry.entry(spark)
    assert(out.columns.toSeq == Seq("chunk_id", "text", "n_tokens", "n_records", "result"))
    val results = out.select("result").as[String].collect()
    assert(results.nonEmpty)
    val lines = results.flatMap(_.split("\n")).filter(_.trim.nonEmpty)
    assert(lines.forall(_.contains("merge")), lines.filterNot(_.contains("merge")).take(3).mkString(" | "))
  }
}

class LlmMapSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  test("keyword filter client keeps matching lines only") {
    val c = KeywordFilterClient("keep")
    assert(c.complete("p", "keep me\ndrop me\nalso keep this") == "keep me\nalso keep this")
    assert(c.complete("p", "nothing matches") == "")
  }

  test("single-chunk corpus => exactly one model call") { // mapreduce_test.go:104-106
    CountingClient.reset()
    val chunks = Seq((0L, "only chunk")).toDF("chunk_id", "text")
    val out = LlmMap.mapChunks(chunks, CountingClient("only"), "p").collect()
    assert(out.length == 1)
    assert(CountingClient.calls.get() == 1)
  }

  test("map stage keeps several calls in flight per task, bounded, in input order") {
    WindowClient.reset()
    val chunks = (0L until 64L).map(i => (i, s"chunk $i")).toDF("chunk_id", "text").coalesce(1)
    val out = LlmMap.mapChunks(chunks, WindowClient(sleepMs = 20), "p").collect()
    val maxInFlight = WindowClient.maxInFlight.get()
    assert(maxInFlight > 1 && maxInFlight <= 16, s"max in flight: $maxInFlight")
    assert(WindowClient.callsByText.size == 64)
    WindowClient.callsByText.forEach((t, n) => assert(n.get() == 1, s"$t called ${n.get()} times"))
    assert(out.map(_.getLong(0)).toSeq == (0L until 64L))
    assert(out.map(_.getString(2)).toSeq == (0 until 64).map(i => s"CHUNK $i"))
  }

  test("a failing call names its chunk_id and cancels the task's other calls") {
    WindowClient.reset()
    // chunks before the failing one answer fast; those after it would
    // sleep a minute unless the failure cancels them
    val chunks = (0L until 32L).map(i => (i, s"chunk $i")).toDF("chunk_id", "text").coalesce(1)
    val client = WindowClient(sleepMs = 20, failOn = "chunk 5", slowAfter = 5, slowMs = 60000)
    val e = intercept[Exception](LlmMap.mapChunks(chunks, client, "p").collect())
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(t => String.valueOf(t.getMessage).contains("model call failed for chunk_id=5")),
      chain.map(_.getMessage).mkString(" | "))
    assert(chain.exists(t => t.isInstanceOf[IllegalStateException] &&
      t.getMessage == "simulated model failure on chunk 5"))
    val deadline = System.nanoTime() + 5000000000L
    while (WindowClient.inFlight.get() > 0 && System.nanoTime() < deadline) Thread.sleep(10)
    assert(WindowClient.inFlight.get() == 0, "a model call outlived its task")
  }

  test("combine preserves chunk order with no separator") { // mapreduce.go:131-146
    val results = Seq((2L, "C"), (0L, "A"), (1L, "B")).toDF("chunk_id", "result")
    val combined = Combine.combineAll(results).as[String].head()
    assert(combined == "ABC")
  }
}

/** Observable model-call counter (accumulator-free: local[*] = one JVM). */
object CountingClient {
  val calls = new java.util.concurrent.atomic.AtomicLong(0)
  def reset(): Unit = calls.set(0)
}
final case class CountingClient(keyword: String) extends ModelClient {
  override def complete(sys: String, text: String): String = {
    CountingClient.calls.incrementAndGet()
    KeywordFilterClient(keyword).complete(sys, text)
  }
}

/** Records how many calls run at once and how often each text is
  * called. Answers `text.toUpperCase` after `sleepMs`; the chunk whose
  * text is `failOn` throws at once, and chunk ids above `slowAfter`
  * sleep `slowMs` instead.
  */
object WindowClient {
  val inFlight = new java.util.concurrent.atomic.AtomicInteger(0)
  val maxInFlight = new java.util.concurrent.atomic.AtomicInteger(0)
  val callsByText =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicInteger]()
  def reset(): Unit = { inFlight.set(0); maxInFlight.set(0); callsByText.clear() }
}
final case class WindowClient(sleepMs: Long, failOn: String = null,
                              slowAfter: Long = Long.MaxValue, slowMs: Long = 0)
  extends ModelClient {
  override def complete(sys: String, text: String): String = {
    WindowClient.maxInFlight.accumulateAndGet(WindowClient.inFlight.incrementAndGet(), math.max)
    WindowClient.callsByText
      .computeIfAbsent(text, _ => new java.util.concurrent.atomic.AtomicInteger(0)).incrementAndGet()
    try {
      if (text == failOn) throw new IllegalStateException(s"simulated model failure on $text")
      Thread.sleep(if (text.stripPrefix("chunk ").toLong > slowAfter) slowMs else sleepMs)
      text.toUpperCase
    } finally WindowClient.inFlight.decrementAndGet()
  }
}

class MemoCacheSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  test("second run makes zero model calls") { // mapreduce_test.go:210-218
    val dir = java.nio.file.Files.createTempDirectory("graft-memo").toString + "/memo"
    val chunks = Seq((0L, "alpha keep"), (1L, "beta"), (2L, "gamma keep")).toDF("chunk_id", "text")
    CountingClient.reset()
    val r1 = MemoCache.mapChunksWithMemo(chunks, CountingClient("keep"), "p", "m", dir)
      .orderBy("chunk_id").select("result").as[String].collect().toSeq
    assert(CountingClient.calls.get() == 3)
    CountingClient.reset()
    val r2 = MemoCache.mapChunksWithMemo(chunks, CountingClient("keep"), "p", "m", dir)
      .orderBy("chunk_id").select("result").as[String].collect().toSeq
    assert(CountingClient.calls.get() == 0, "cached run must not call the model")
    assert(r1 == r2)
    assert(r1 == Seq("alpha keep", "", "gamma keep"))
  }

  test("changed prompt invalidates the memo (fixes reference hazard)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-memo2").toString + "/memo"
    val chunks = Seq((0L, "alpha keep")).toDF("chunk_id", "text")
    CountingClient.reset()
    MemoCache.mapChunksWithMemo(chunks, CountingClient("keep"), "p1", "m", dir).collect()
    MemoCache.mapChunksWithMemo(chunks, CountingClient("keep"), "p2", "m", dir).collect()
    assert(CountingClient.calls.get() == 2, "different prompt must be a cache miss")
  }

  test("a cold memo plans no join and no union: the fresh results alone") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, Union}
    import org.apache.spark.sql.execution.UnionExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val dir = java.nio.file.Files.createTempDirectory("graft-memo-cold").toString + "/memo"
    val chunks = Seq((0L, "alpha keep"), (1L, "beta")).toDF("chunk_id", "text")
    val out = MemoCache.mapChunksWithMemo(chunks, CountingClient("keep"), "p", "m", dir)
    val plan = out.queryExecution.optimizedPlan
    assert(plan.collect { case j: Join => j; case u: Union => u }.isEmpty, plan.treeString)
    // ... nor does the persisted map stage's own plan
    assert(graft.tools.PlanAudit.nodes(out.queryExecution.executedPlan)
      .collect { case j: BaseJoinExec => j; case u: UnionExec => u }.isEmpty)
    assert(out.orderBy("chunk_id").select("result").as[String].collect().toSeq ==
      Seq("alpha keep", ""))
  }

  test("clearMemo (C11): cleaned cache forces recompute; idempotent") { // mapreduce_test.go:303-355
    val dir = java.nio.file.Files.createTempDirectory("graft-memo3").toString + "/memo"
    val chunks = Seq((0L, "alpha keep"), (1L, "beta")).toDF("chunk_id", "text")
    CountingClient.reset()
    MemoCache.mapChunksWithMemo(chunks, CountingClient("keep"), "p", "m", dir).collect()
    assert(CountingClient.calls.get() == 2)
    MemoCache.clearMemo(spark, dir)
    MemoCache.clearMemo(spark, dir) // idempotent on a missing path
    CountingClient.reset()
    MemoCache.mapChunksWithMemo(chunks, CountingClient("keep"), "p", "m", dir).collect()
    assert(CountingClient.calls.get() == 2, "cleared cache must recompute")
  }

  test("compactMemo dedupes concurrent-append keys; read view unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("graft-memo4").toString + "/memo"
    val chunks = Seq((0L, "alpha keep"), (1L, "beta")).toDF("chunk_id", "text")
    // two full runs against an empty-then-populated memo, plus a forced
    // duplicate append (what concurrent writers produce)
    MemoCache.mapChunksWithMemo(chunks, CountingClient("keep"), "p", "m", dir).collect()
    spark.read.parquet(dir).write.mode("append").parquet(dir)
    val before = spark.read.parquet(dir)
    assert(before.count() == 4 && before.dropDuplicates("key").count() == 2)
    val viewBefore = MemoCache.mapChunksWithMemo(
      chunks, CountingClient("keep"), "p", "m", dir)
      .orderBy("chunk_id").select("result").as[String].collect().toSeq
    MemoCache.compactMemo(spark, dir)
    assert(spark.read.parquet(dir).count() == 2, "duplicates must be gone")
    CountingClient.reset()
    val viewAfter = MemoCache.mapChunksWithMemo(
      chunks, CountingClient("keep"), "p", "m", dir)
      .orderBy("chunk_id").select("result").as[String].collect().toSeq
    assert(CountingClient.calls.get() == 0, "compaction must not evict entries")
    assert(viewBefore == viewAfter)
    MemoCache.compactMemo(spark, dir) // idempotent
    MemoCache.compactMemo(spark, dir + "_missing") // no-op on absent path
    assert(spark.read.parquet(dir).count() == 2)
  }

  test("a memo path holding another table throws before any model call") {
    val dir = java.nio.file.Files.createTempDirectory("graft-memo5").toString + "/memo"
    Seq(1, 2).toDF("a").write.parquet(dir)
    def files() = new java.io.File(dir).list().sorted.toSeq
    val before = files()
    val chunks = Seq((0L, "alpha keep")).toDF("chunk_id", "text")
    CountingClient.reset()
    val e = intercept[IllegalArgumentException](
      MemoCache.mapChunksWithMemo(chunks, CountingClient("keep"), "p", "m", dir))
    assert(e.getMessage.contains("not a memo table"), e.getMessage)
    assert(CountingClient.calls.get() == 0)
    assert(files() == before, "the foreign table must not be appended to")
    intercept[IllegalArgumentException](MemoCache.compactMemo(spark, dir))
    assert(files() == before)
  }
}

class ProgressTrackerSpec extends AnyFunSuite {
  import TestSpark.spark

  test("C8: listener counts completed tasks across a job") {
    val reports = new java.util.concurrent.atomic.AtomicLong(0)
    val t = new ProgressTracker("spec", reportEvery = 2,
      report = _ => { reports.incrementAndGet(); () })
    spark.sparkContext.addSparkListener(t)
    try {
      spark.range(10000).repartition(8).count()
      // the listener bus delivers asynchronously; poll briefly
      val deadline = System.nanoTime() + 5e9.toLong
      while (t.completed < 8 && System.nanoTime() < deadline) Thread.sleep(50)
      assert(t.completed >= 8, s"got ${t.completed} task completions")
      assert(reports.get() >= 1)
    } finally ProgressTracker.detach(spark, t)
  }
}
