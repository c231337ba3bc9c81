package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{Chunker, Combine, KeywordFilterClient, LlmMap}
import graft.sources.TextCorpus

/** C1 text source end-to-end (the reference's actual input format) and
  * sink round-trips for the chunk table.
  */
class SourcesSinksSpec extends AnyFunSuite {
  import TestSpark.spark

  private def tmp(name: String) =
    Harness.tempDir(name).toString

  test("text corpus: stable line ids, full pipeline matches reference semantics") {
    val lines = (1 to 300).map { i =>
      if (i % 7 == 0) s"line $i wants to merge branches" else s"line $i plain content"
    }
    val f = java.nio.file.Paths.get(tmp("graft-txt"), "corpus.txt")
    java.nio.file.Files.writeString(f, lines.mkString("\n"))

    val corpus = TextCorpus.lines(spark, f.toString)
    val got = corpus.orderBy("line_id").collect().map(_.getString(1)).toSeq
    assert(got == lines, "line ids must reproduce file order")

    // reference dataflow over the text source: chunk -> filter-map -> combine
    val chunks = Chunker.chunkTable(corpus, "line_id", "text", budget = 120)
    val mapped = LlmMap.mapChunks(chunks, KeywordFilterClient("merge"), "p")
      .orderBy("chunk_id").collect()
    // per chunk: result is exactly the kept lines of that chunk
    mapped.foreach { r =>
      val text = r.getAs[String]("text")
      val res = r.getAs[String]("result")
      assert(res == text.split("\n", -1).filter(_.contains("merge")).mkString("\n"))
    }
    // combined output: per-chunk results concatenated with NO separator
    // (reference semantics, mapreduce.go:131-136)
    val mapped2 = LlmMap.mapChunks(
      Chunker.chunkTable(corpus, "line_id", "text", budget = 120),
      KeywordFilterClient("merge"), "p")
    val combined = Combine.combineAll(mapped2).collect()(0).getString(0)
    assert(combined == mapped.map(_.getAs[String]("result")).mkString(""))
    assert(combined.contains("line 7 wants to merge branches"))
  }

  test("chunk table round-trips through parquet, json, and csv sinks") {
    val corpus = Tables.documents(spark, TestSpark.sf0001)
    val chunks = Chunker.chunkTable(corpus, "doc_id", "text", budget = 500)
      .orderBy("chunk_id")
    val want = chunks.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq

    val base = tmp("graft-sinks")
    chunks.write.mode("overwrite").parquet(s"$base/p")
    chunks.write.mode("overwrite").json(s"$base/j")
    chunks.write.mode("overwrite").option("header", "true")
      .option("multiLine", "true").csv(s"$base/c")

    def readBack(df: org.apache.spark.sql.DataFrame) =
      df.select(col("chunk_id").cast("long"), col("text"),
          col("n_tokens").cast("long"), col("n_records").cast("long"))
        .orderBy("chunk_id").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq

    assert(readBack(spark.read.parquet(s"$base/p")) == want)
    assert(readBack(spark.read.json(s"$base/j")) == want)
    assert(readBack(spark.read.option("header", "true")
      .option("multiLine", "true").option("inferSchema", "true")
      .csv(s"$base/c")) == want)
  }
}
