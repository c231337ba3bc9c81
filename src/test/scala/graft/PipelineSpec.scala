package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite

import graft.expressions.TokenCount
import graft.pipeline._
import graft.plans.GlobalOrder

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
      Harness.tempDir("warehouse").toString)
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

class ChunkerSpec extends AnyFunSuite with CacheCleanup {
  import TestSpark.spark
  import spark.implicits._

  test("greedy: every chunk <= 2x budget") { // mapreduce_test.go:402-417
    val text = ("word " * 1000).trim
    val chunks = ReferencePacker.greedyPack(text, budget = 100)
    assert(chunks.nonEmpty)
    chunks.foreach { c =>
      assert(TokenCount.count(c) <= 200, s"chunk over 2x budget: ${c.take(50)}")
    }
    assert(chunks.size >= 5 && chunks.size <= 25, s"got ${chunks.size}")
  }

  test("greedy: recombination preserves word count") { // mapreduce_test.go:420-436
    val text = (1 to 500).map(i => s"line$i has some words w$i").mkString("\n")
    val words = text.split("\\s+").count(_.nonEmpty)
    val recombined = ReferencePacker.greedyPack(text, budget = 50).mkString("\n")
    assert(recombined.split("\\s+").count(_.nonEmpty) == words)
  }

  test("greedy: oversized line falls back to word split") { // mapreduce_test.go:387-392
    val chunks = ReferencePacker.greedyPack("This is a test sentence with multiple words", budget = 3)
    assert(chunks.size > 1)
    chunks.foreach(c => assert(TokenCount.count(c) <= 6))
  }

  test("greedy: empty input yields 0 or 1 chunks") { // mapreduce_test.go:441-451
    assert(ReferencePacker.greedyPack("", 2000).size <= 1)
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

  /** The exchanges of `df`'s plan, persisted inputs included. */
  private def exchanges(df: DataFrame) =
    PlanAudit.nodes(df.queryExecution.executedPlan).collect {
      case e: ShuffleExchangeExec => e
    }

  private type IdWeightSum = (Option[Long], Option[Long], Option[Long])

  /** `df`'s (id, w, cum) rows, sorted by id then w, nulls first. */
  private def sorted(df: DataFrame): Seq[IdWeightSum] = {
    def opt(v: Any) = Option(v).map(_.toString.toLong)
    df.select("id", "w", "cum").collect().toSeq
      .map(r => (opt(r.get(0)), opt(r.get(1)), opt(r.get(2)))).sortBy(t => (t._1, t._2))
  }

  /** `sum(w) over (order by id)` on the driver, as [[sorted]] gives it:
    * equal ids share the sum through the last of them, a null weight
    * adds nothing, and the sum is null until the first weight.
    */
  private def driverCumsum(df: DataFrame): Seq[IdWeightSum] = {
    val rows = sorted(df.withColumn("cum", org.apache.spark.sql.functions.lit(null)))
    var acc = Option.empty[Long]
    rows.map(_._1).distinct.flatMap { id =>
      val peers = rows.filter(_._1 == id)
      peers.foreach(_._2.foreach(w => acc = Some(acc.getOrElse(0L) + w)))
      peers.map { case (i, w, _) => (i, w, acc) }
    }
  }

  test("runningSum over ordered partitions: a driver-side cumsum with no exchange") {
    val df = spark.range(0, 1000, 1, 8)
      .select($"id", ($"id" % 7 + 1).cast("int").as("w"))
    val out = GlobalOrder.runningSum(df, Seq($"id"), "w", "cum")
    assert(sorted(out) == driverCumsum(df))
    assert(exchanges(out).isEmpty, out.queryExecution.executedPlan.treeString)
  }

  test("runningSum over shuffled ids range-partitions them, with the same sums") {
    val df = spark.range(0, 1000, 1, 8)
      .select((($"id" * 7919) % 1000).as("id"), ($"id" % 5 + 1).as("w"))
    val out = GlobalOrder.runningSum(df, Seq($"id"), "w", "cum")
    assert(sorted(out) == driverCumsum(df))
    assert(exchanges(out).exists(_.outputPartitioning.isInstanceOf[RangePartitioning]))
  }

  test("runningSum: ties across a boundary, null ids and null weights match sum() over (order by id)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", LongType), StructField("w", LongType)))
    def frame(rows: Seq[Row]) =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    // partition 0 ends at id 3 and partition 1 starts at it
    val tie = frame(Seq(Row(1L, 1L), Row(2L, 2L), Row(3L, 4L), Row(3L, 8L), Row(4L, 16L), Row(5L, 32L)))
    val tieSums = GlobalOrder.runningSum(tie, Seq($"id"), "w", "cum")
    assert(sorted(tieSums) == driverCumsum(tie))
    assert(sorted(tieSums).flatMap(_._3) == Seq(1L, 3L, 15L, 15L, 31L, 63L))
    assert(exchanges(tieSums).nonEmpty, "a tie across partitions takes the range branch")
    // a null weight adds nothing; the sum is null before the first weight
    val nulls = frame(Seq(Row(null, null), Row(1L, null), Row(3L, 5L), Row(null, null),
      Row(2L, 4L), Row(4L, null)))
    val nullSums = GlobalOrder.runningSum(nulls, Seq($"id"), "w", "cum")
    assert(sorted(nullSums) == driverCumsum(nulls))
    assert(sorted(nullSums).map(_._3) == Seq(None, None, None, Some(4L), Some(9L), Some(9L)))
    assert(exchanges(nullSums).nonEmpty, "a null id takes the range branch")
  }

  test("withRanks: ties across a boundary, a desc key and null keys match rank() and dense_rank()") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{dense_rank, rank}
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("x", LongType), StructField("g", StringType)))
    // three rows per partition
    def frame(rows: Row*) =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val order = Seq($"x".desc, $"g")
    def ranks(df: DataFrame): Seq[String] =
      df.select("x", "g", "rank", "dense_rank").collect().map(_.toString).toSeq.sorted
    def byWindow(df: DataFrame): Seq[String] = {
      val w = Window.orderBy(order: _*)
      ranks(df.withColumn("rank", rank().over(w)).withColumn("dense_rank", dense_rank().over(w)))
    }
    // (x desc nulls last, g nulls first) increases from partition 0 to 1
    val inOrder = frame(Row(9L, "a"), Row(7L, null), Row(9L, "a"),
      Row(null, "c"), Row(5L, "b"), Row(5L, "b"))
    val kept = GlobalOrder.withRanks(inOrder, order)
    assert(ranks(kept) == byWindow(inOrder))
    assert(ranks(kept) == Seq("[5,b,4,3]", "[5,b,4,3]", "[7,null,3,2]", "[9,a,1,1]",
      "[9,a,1,1]", "[null,c,6,4]"))
    assert(exchanges(kept).isEmpty, kept.queryExecution.executedPlan.treeString)
    // the same order, but (7, null) ends partition 0 and starts partition 1
    val split = frame(Row(9L, "a"), Row(7L, null), Row(9L, "a"),
      Row(null, "c"), Row(7L, null), Row(5L, "b"))
    val ranged = GlobalOrder.withRanks(split, order)
    assert(ranks(ranged) == byWindow(split))
    assert(exchanges(ranged).exists(_.outputPartitioning.isInstanceOf[RangePartitioning]))
    // a key must be an input column, with or without a direction
    intercept[IllegalArgumentException](GlobalOrder.withRanks(split, Seq($"x" + 1)))
  }

  test("a text file read as 8 partitions or as 1 combines to the same bytes") {
    val dir = Harness.tempDir("corpus-parts")
    val file = dir.resolve("corpus.txt")
    val lines = (0 until 3000).map { i =>
      if (i == 1234) ("giant " * 900).trim
      else s"record $i " + (if (i % 3 == 0) "keep " else "") + ("w" + i % 11 + " ") * (i % 23)
    }
    java.nio.file.Files.write(file, lines.mkString("\n").getBytes("UTF-8"))
    def combined(maxPartitionBytes: Long, minPartitions: Int): (Int, Int, String) = {
      val s = spark.newSession()
      s.conf.set("spark.sql.files.maxPartitionBytes", maxPartitionBytes)
      s.conf.set("spark.sql.files.minPartitionNum", minPartitions.toLong)
      val corpus = graft.sources.TextCorpus.lines(s, file.toString)
      val chunks = Chunker.chunkTable(corpus, "line_id", "text", budget = 300)
      val ranged = exchanges(chunks).count(_.outputPartitioning.isInstanceOf[RangePartitioning])
      val tag = s"p$minPartitions"
      val mapped = MemoCache.mapChunksWithMemo(chunks, KeywordFilterClient("keep"), "p", "m",
        dir.resolve(s"memo-$tag").toString)
      val out = dir.resolve(s"out-$tag")
      Combine.writeCombined(mapped, out.toString)
      val parts = java.nio.file.Files.list(out).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.getFileName.toString.startsWith("part-")).sortBy(_.toString)
      (corpus.rdd.getNumPartitions, ranged,
        parts.map(p => new String(java.nio.file.Files.readAllBytes(p), "UTF-8")).mkString)
    }
    val (n8, ranged8, many) = combined(16 * 1024, 8)
    val (n1, _, one) = combined(1L << 30, 1)
    assert(n8 >= 8 && n1 == 1, s"partitions: $n8 and $n1")
    assert(ranged8 == 0, "line ids in partition order need no range exchange")
    assert(many.contains("keep") && many == one)
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
    assert(maxInFlight > 1 && maxInFlight <= 64, s"max in flight: $maxInFlight")
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

  test("a slow call does not stall the task's other calls") {
    WindowClient.reset()
    val chunks = (0L until 64L).map(i => (i, s"chunk $i")).toDF("chunk_id", "text").coalesce(1)
    val client = WindowClient(sleepMs = 10, slowOn = "chunk 0", slowMs = 500)
    val out = LlmMap.mapChunks(chunks, client, "p").collect()
    val called = WindowClient.calledWhenSlowReturned.get()
    assert(called > 16, s"calls started before chunk 0 returned: $called")
    val maxInFlight = WindowClient.maxInFlight.get()
    assert(maxInFlight <= 64, s"max in flight: $maxInFlight")
    WindowClient.callsByText.forEach((t, n) => assert(n.get() == 1, s"$t called ${n.get()} times"))
    assert(out.map(_.getLong(0)).toSeq == (0L until 64L))
    assert(out.map(_.getString(2)).toSeq == (0 until 64).map(i => s"CHUNK $i"))
  }

  test("a hung call holds at most 64 rows of its task") {
    WindowClient.reset()
    val chunks = (0L until 160L).map(i => (i, s"chunk $i")).toDF("chunk_id", "text").coalesce(1)
    val client = WindowClient(sleepMs = 10, slowOn = "chunk 0", slowMs = 1500)
    val out = LlmMap.mapChunks(chunks, client, "p").collect()
    val called = WindowClient.calledWhenSlowReturned.get()
    assert(called == 64, s"calls started while chunk 0 hung: $called")
    assert(WindowClient.maxInFlight.get() <= 64)
    assert(WindowClient.callsByText.size == 160)
    assert(out.map(_.getString(2)).toSeq == (0 until 160).map(i => s"CHUNK $i"))
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

/** Counts calls, keeps the lines holding "keep", and answers null for
  * the chunk whose text is `nullOn`.
  */
object NullOnClient {
  val calls = new java.util.concurrent.atomic.AtomicLong(0)
  def reset(): Unit = calls.set(0)
}
final case class NullOnClient(nullOn: String) extends ModelClient {
  override def complete(sys: String, text: String): String = {
    NullOnClient.calls.incrementAndGet()
    if (text == nullOn) null else KeywordFilterClient("keep").complete(sys, text)
  }
}

/** Throws on the `poison` text once `others` calls have returned
  * (counted JVM-wide), and otherwise keeps the lines holding "keep".
  */
object PoisonClient {
  val returned = new java.util.concurrent.atomic.AtomicInteger(0)
  def reset(): Unit = returned.set(0)
}
final case class PoisonClient(poison: String, others: Int) extends ModelClient {
  override def complete(sys: String, text: String): String =
    if (text == poison) {
      val deadline = System.nanoTime() + 10000000000L
      while (PoisonClient.returned.get() < others && System.nanoTime() < deadline) Thread.sleep(5)
      throw new IllegalStateException(s"poisoned chunk: $text")
    } else {
      val r = KeywordFilterClient("keep").complete(sys, text)
      PoisonClient.returned.incrementAndGet()
      r
    }
}

/** Records how many calls run at once and how often each text is
  * called. Answers `text.toUpperCase` after `sleepMs`; the chunk whose
  * text is `failOn` throws at once, and the chunk whose text is
  * `slowOn` and chunk ids above `slowAfter` sleep `slowMs` instead.
  * When the `slowOn` call returns, it records how many distinct texts
  * had been called by then.
  */
object WindowClient {
  val inFlight = new java.util.concurrent.atomic.AtomicInteger(0)
  val maxInFlight = new java.util.concurrent.atomic.AtomicInteger(0)
  val callsByText =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicInteger]()
  val calledWhenSlowReturned = new java.util.concurrent.atomic.AtomicInteger(-1)
  def reset(): Unit = {
    inFlight.set(0); maxInFlight.set(0); callsByText.clear(); calledWhenSlowReturned.set(-1)
  }
}
final case class WindowClient(sleepMs: Long, failOn: String = null,
                              slowAfter: Long = Long.MaxValue, slowMs: Long = 0,
                              slowOn: String = null)
  extends ModelClient {
  override def complete(sys: String, text: String): String = {
    WindowClient.maxInFlight.accumulateAndGet(WindowClient.inFlight.incrementAndGet(), math.max)
    WindowClient.callsByText
      .computeIfAbsent(text, _ => new java.util.concurrent.atomic.AtomicInteger(0)).incrementAndGet()
    try {
      if (text == failOn) throw new IllegalStateException(s"simulated model failure on $text")
      val slow = text == slowOn || text.stripPrefix("chunk ").toLong > slowAfter
      Thread.sleep(if (slow) slowMs else sleepMs)
      if (text == slowOn) WindowClient.calledWhenSlowReturned.set(WindowClient.callsByText.size)
      text.toUpperCase
    } finally WindowClient.inFlight.decrementAndGet()
  }
}

class MemoCacheSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  test("second run makes zero model calls") { // mapreduce_test.go:210-218
    val dir = Harness.tempDir("memo").toString + "/memo"
    val chunks = Seq((0L, "alpha keep"), (1L, "beta"), (2L, "gamma keep")).toDF("chunk_id", "text")
    CountingClient.reset()
    val r1 = MemoCache.mapChunksWithMemo(chunks, CountingClient("keep"), "p", "m", dir)
      .orderBy("chunk_id").select("result").as[String].collect().toSeq
    assert(CountingClient.calls.get() == 3)
    def files() = new java.io.File(dir).list().sorted.toSeq
    val before = files()
    CountingClient.reset()
    val r2 = MemoCache.mapChunksWithMemo(chunks, CountingClient("keep"), "p", "m", dir)
      .orderBy("chunk_id").select("result").as[String].collect().toSeq
    assert(CountingClient.calls.get() == 0, "cached run must not call the model")
    assert(files() == before, "a hit must not be committed again")
    assert(r1 == r2)
    assert(r1 == Seq("alpha keep", "", "gamma keep"))
  }

  test("changed prompt invalidates the memo (fixes reference hazard)") {
    val dir = Harness.tempDir("memo2").toString + "/memo"
    val chunks = Seq((0L, "alpha keep")).toDF("chunk_id", "text")
    CountingClient.reset()
    MemoCache.mapChunksWithMemo(chunks, CountingClient("keep"), "p1", "m", dir).collect()
    MemoCache.mapChunksWithMemo(chunks, CountingClient("keep"), "p2", "m", dir).collect()
    assert(CountingClient.calls.get() == 2, "different prompt must be a cache miss")
  }

  /** `run`'s result and the executed plan of each `localCheckpoint`
    * action it ran: the map jobs of [[MemoCache.mapChunksWithMemo]].
    */
  private def mapJobPlans[T](run: => T): (T, Seq[org.apache.spark.sql.execution.SparkPlan]) = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.execution.SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        if (funcName == "localCheckpoint") { plans.add(qe.executedPlan); () }
      override def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = run
      org.apache.spark.graft.ListenerBusHook.waitUntilListenerBusEmpty(spark.sparkContext, 30000L)
      (out, plans.toArray(Array.empty[org.apache.spark.sql.execution.SparkPlan]).toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  test("a cold memo plans no join and no union: the fresh results alone") {
    import org.apache.spark.sql.execution.{MapPartitionsExec, UnionExec}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val dir = Harness.tempDir("memo-cold").toString + "/memo"
    val chunks = Seq((0L, "alpha keep"), (1L, "beta")).toDF("chunk_id", "text")
    def joinsAndUnions(plan: org.apache.spark.sql.execution.SparkPlan) =
      PlanAudit.nodes(plan).collect { case j: BaseJoinExec => j; case u: UnionExec => u }
    val (out, Seq(cold)) = mapJobPlans(
      MemoCache.mapChunksWithMemo(chunks, CountingClient("keep"), "p", "m", dir))
    // the map job ran the model calls, and read nothing but the chunks
    assert(PlanAudit.nodes(cold).exists(_.isInstanceOf[MapPartitionsExec]), cold.treeString)
    assert(joinsAndUnions(cold).isEmpty, cold.treeString)
    assert(out.orderBy("chunk_id").select("result").as[String].collect().toSeq ==
      Seq("alpha keep", ""))
    // a warm memo's map job left-joins the chunks to it
    val (_, Seq(warm)) = mapJobPlans(
      MemoCache.mapChunksWithMemo(chunks, CountingClient("keep"), "p", "m", dir))
    assert(joinsAndUnions(warm).nonEmpty, warm.treeString)
  }

  test("a partly-warm run returns one checkpoint: the combine plans no join and reads no memo") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val dir = Harness.tempDir("memo-partly")
    val memo = dir.resolve("memo")
    val chunks = (0L until 12L).map(i => (i, s"chunk $i keep\nline $i")).toDF("chunk_id", "text")
    // the first run sees half the chunks; one of its answers is null
    NullOnClient.reset()
    MemoCache.mapChunksWithMemo(chunks.filter($"chunk_id" < 6),
      NullOnClient("chunk 2 keep\nline 2"), "p", "m", memo.toString)
    assert(NullOnClient.calls.get() == 6)
    NullOnClient.reset()
    val out = MemoCache.mapChunksWithMemo(chunks,
      NullOnClient("chunk 2 keep\nline 2"), "p", "m", memo.toString)
    assert(NullOnClient.calls.get() == 6, "the rerun calls only the chunks the memo lacks")
    val leaves = out.queryExecution.analyzed.collectLeaves()
    assert(leaves.size == 1 && leaves.head.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD],
      out.queryExecution.analyzed.treeString)
    val combine = PlanAudit.nodes(Combine.combineAll(out).queryExecution.executedPlan)
    assert(!combine.exists(p => p.isInstanceOf[BaseJoinExec] || p.isInstanceOf[FileSourceScanExec]),
      combine.mkString("\n"))
    // with the memo gone, the combine still has everything it needs
    Harness.deleteTree(memo)
    Combine.writeCombined(out, dir.resolve("out").toString)
    val combined = java.nio.file.Files.list(dir.resolve("out")).toArray
      .map(_.asInstanceOf[java.nio.file.Path]).filter(_.getFileName.toString.startsWith("part-"))
      .map(p => new String(java.nio.file.Files.readAllBytes(p), "UTF-8")).mkString
    assert(combined == (0 until 12).filter(_ != 2).map(i => s"chunk $i keep").mkString + "\n")
  }

  test("a warm rerun's map and combine start 6 jobs, a cold run's 3") {
    val dir = Harness.tempDir("memo-jobs")
    val chunks = (0L until 40L).map(i => (i, s"chunk $i keep\nline $i")).toDF("chunk_id", "text")
    // the jobs of one map and combine; the pass adds one for its write
    // of the returned empty frame
    def jobs(tag: String): Long = {
      val Seq((_, m)) = Harness.pass(spark, "", Seq(tag -> { (s: SparkSession, _: String) =>
        val mapped = MemoCache.mapChunksWithMemo(chunks, KeywordFilterClient("keep"), "p", "m",
          dir.resolve("memo").toString)
        Combine.writeCombined(mapped, dir.resolve(s"out-$tag").toString)
        s.emptyDataFrame
      }))
      assert(m.error.isEmpty, m.error)
      m.jobs - 1
    }
    // cold: the map job, and the combine's shuffle and write jobs
    assert(jobs("cold") == 3)
    // warm: also the memo's schema read, its dedup shuffle and its
    // broadcast to the join; the combine reads the checkpoint alone
    assert(jobs("warm") == 6)
  }

  test("a cold memo's map stage runs one task per slot, however small the chunk shuffle") {
    val dir = Harness.tempDir("memo-fanout").toString + "/memo"
    val docs = (0L until 200L).map(i => (i, s"doc $i keep " + ("w " * (i % 9).toInt).trim))
      .toDF("doc_id", "text")
    val chunks = Chunker.chunkTable(docs, "doc_id", "text", budget = 40)
    val stageTasks = new java.util.concurrent.ConcurrentLinkedQueue[Integer]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        stageTasks.add(e.stageInfo.numTasks); ()
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      MemoCache.mapChunksWithMemo(chunks, CountingClient("keep"), "p", "m", dir)
      org.apache.spark.graft.ListenerBusHook.waitUntilListenerBusEmpty(sc, 30000L)
    } finally sc.removeSparkListener(listener)
    // the map job's last stage is the map stage
    val mapStageTasks = stageTasks.toArray(Array.empty[Integer]).last.intValue
    assert(mapStageTasks == sc.defaultParallelism,
      s"map stage tasks: $mapStageTasks of ${sc.defaultParallelism} slots")
  }

  test("a failed run commits every call that returned: the resume makes only the failed call") {
    val dir = Harness.tempDir("memo-crash")
    val memo = dir.resolve("memo").toString
    // 17 chunks over 4 tasks; chunk 9's call throws once all others returned
    val chunks = (0L until 17L).map(i => (i, s"chunk $i keep\nline $i")).toDF("chunk_id", "text")
    PoisonClient.reset()
    val e = intercept[Exception](MemoCache.mapChunksWithMemo(
      chunks, PoisonClient("chunk 9 keep\nline 9", others = 16), "p", "m", memo))
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(t => String.valueOf(t.getMessage).contains("model call failed for chunk_id=9")),
      chain.map(_.getMessage).mkString(" | "))
    // tasks the failed job left running end (and commit) on their own
    val deadline = System.nanoTime() + 10000000000L
    def running = spark.sparkContext.statusTracker.getExecutorInfos.map(_.numRunningTasks).sum
    while (running > 0 && System.nanoTime() < deadline) Thread.sleep(10)
    val names = new java.io.File(memo).list().toSeq.filterNot(_.startsWith("."))
    assert(names.nonEmpty && names.forall(n => n.startsWith("part-") && n.endsWith(".parquet")),
      names.mkString(", "))
    def combined(memoPath: String, client: ModelClient, tag: String): String = {
      val out = dir.resolve(s"out-$tag")
      Combine.writeCombined(MemoCache.mapChunksWithMemo(chunks, client, "p", "m", memoPath),
        out.toString)
      java.nio.file.Files.list(out).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.getFileName.toString.startsWith("part-")).sortBy(_.toString)
        .map(p => new String(java.nio.file.Files.readAllBytes(p), "UTF-8")).mkString
    }
    CountingClient.reset()
    val resumed = combined(memo, CountingClient("keep"), "resumed")
    assert(CountingClient.calls.get() == 1, "the resume re-calls only the chunk that failed")
    val clean = combined(dir.resolve("memo-clean").toString, KeywordFilterClient("keep"), "clean")
    assert(resumed.contains("chunk 9 keep") && resumed == clean)
  }

  test("clearMemo (C11): cleaned cache forces recompute; idempotent") { // mapreduce_test.go:303-355
    val dir = Harness.tempDir("memo3").toString + "/memo"
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
    val dir = Harness.tempDir("memo4").toString + "/memo"
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
    val dir = Harness.tempDir("memo5").toString + "/memo"
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
