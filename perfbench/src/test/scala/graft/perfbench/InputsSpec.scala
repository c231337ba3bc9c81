package graft.perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.expressions.TokenCount
import graft.pipeline.Chunker
import graft.sources.TextCorpus

/** The benchmark's inputs are functions of the seed, and its output check
  * agrees with the program on a corpus that exercises the word-split path.
  */
class InputsSpec extends AnyFunSuite {

  private def bytes(seed: Long): Array[Byte] = {
    val f = Files.createTempFile("perfbench-corpus", ".txt")
    try { Corpus.write(f, Corpus.records(seed, 3000, 2)); Files.readAllBytes(f) }
    finally Files.delete(f)
  }

  test("the same seed gives a byte-identical corpus, another seed a different one") {
    assert(bytes(7).sameElements(bytes(7)))
    assert(!bytes(7).sameElements(bytes(8)))
  }

  test("every corpus has records over the token budget") {
    val recs = Corpus.records(7, 3000, 2)
    assert(recs.count(r => TokenCount.count(r) > Chunker.DefaultBudget) >= 1)
    assert(recs.forall(r => !r.contains('\n') && !r.contains('\r')))
  }

  test("latency is a pure, long-tailed function of (seed, chunk text)") {
    val m = LatencyModel(medianMs = 20, sigma = 0.6, capMs = 250)
    val texts = (0 until 4000).map(i => s"chunk $i")
    val a = texts.map(m.millis(1, _))
    assert(a == texts.map(m.millis(1, _)))
    assert(a != texts.map(m.millis(2, _)))
    val sorted = a.sorted
    assert(math.abs(sorted(sorted.size / 2) - 20) < 2)
    assert(sorted(sorted.size * 99 / 100) > 3 * 20)
    assert(a.forall(x => x > 0 && x <= 250))
  }

  test("the sequential recomputation matches Chunker.chunkTable") {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false").getOrCreate()
    val f = Files.createTempFile("perfbench-chunks", ".txt")
    try {
      val recs = Corpus.records(11, 3000, 3)
      Corpus.write(f, recs)
      val chunks = Chunker.chunkTable(TextCorpus.lines(spark, f.toString), "line_id", "text")
        .orderBy("chunk_id").collect().map(_.getAs[String]("text"))
      assert(chunks.length > 10)
      assert(chunks.toSeq == Corpus.chunkTexts(recs, Chunker.DefaultBudget).toSeq)
    } finally {
      Files.delete(f)
      spark.stop()
    }
  }
}
