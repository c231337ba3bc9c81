package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import graft.expressions.TokenCount
import graft.pipeline.Chunker

/** Seeded synthetic corpus of newline-delimited, review-like records.
  *
  * The same (seed, records) always yields a byte-identical corpus; a
  * different seed yields a different one. Every record carries its index,
  * so no two chunks share a text (a shared text would be one memo key).
  * A few records are far over the token budget, so the chunker's
  * word-split path runs on every corpus.
  */
object Corpus {
  val Categories: Array[String] = Array(
    "kitchen", "clothing", "electronics", "garden", "toys", "books",
    "sports", "beauty")

  /** Fixed vocabulary (independent of the seed): consonant-vowel syllables
    * joined into 1- to 4-syllable words, so word lengths vary like prose.
    */
  private val Vocabulary: Array[String] = {
    val cons = "bcdfghklmnprstvwz"
    val vows = "aeiou"
    val rng = new SplittableRandom(0x5eed)
    Array.fill(600) {
      val syl = 1 + rng.nextInt(4)
      (0 until syl).map(_ => s"${cons(rng.nextInt(cons.length))}${vows(rng.nextInt(vows.length))}")
        .mkString
    }
  }

  /** Tokens of one oversized record: well over twice the budget, so it is
    * split into at least three pieces.
    */
  val OversizedTokens = 5200

  /** One record per element, in file order, for `n` records. */
  def records(seed: Long, n: Int, oversized: Int): Array[String] = {
    val rng = new SplittableRandom(seed)
    val bigAt = Array.fill(oversized)(rng.nextInt(n)).toSet
    Array.tabulate(n) { i =>
      val sb = new StringBuilder
      val cat = Categories(rng.nextInt(Categories.length))
      sb.append(i).append(" [").append(cat).append("] rating=")
        .append(1 + rng.nextInt(5)).append("/5 user=u").append(rng.nextInt(1000000))
      if (bigAt(i)) {
        var tokens = 0
        while (tokens < OversizedTokens) {
          val w = Vocabulary(rng.nextInt(Vocabulary.length))
          sb.append(' ').append(w)
          tokens += TokenCount.count(w)
        }
      } else {
        // 8 to ~70 words, skewed short like real reviews.
        val words = 8 + (rng.nextDouble() * rng.nextDouble() * 64).toInt
        var k = 0
        while (k < words) {
          sb.append(' ')
          // Other categories get mentioned too, so the keyword filter keeps
          // lines from every category, not only the tagged ones.
          if (rng.nextInt(40) == 0) sb.append(Categories(rng.nextInt(Categories.length)))
          else sb.append(Vocabulary(rng.nextInt(Vocabulary.length)))
          k += 1
        }
      }
      sb.toString
    }
  }

  /** Write records one per line ('\n' terminated), returning the byte size. */
  def write(path: Path, records: Array[String]): Long = {
    Files.createDirectories(path.getParent)
    val out = new java.io.BufferedWriter(
      new java.io.OutputStreamWriter(Files.newOutputStream(path), StandardCharsets.UTF_8),
      1 << 20)
    try records.foreach { r => out.write(r); out.write('\n') } finally out.close()
    Files.size(path)
  }

  /** Chunk texts computed sequentially on the driver: records are
    * word-split when over budget, then bucketed by the running token sum
    * as chunk = max(0, floor((cum - 1) / budget)), pieces joined by '\n'.
    */
  def chunkTexts(records: Array[String], budget: Int): Array[String] = {
    val chunks = Array.newBuilder[String]
    val cur = new StringBuilder
    var curId = 0L
    var cum = 0L
    def add(piece: String, tokens: Long): Unit = {
      cum += tokens
      val id = math.max(0L, Math.floorDiv(cum - 1, budget.toLong))
      if (id != curId && cur.nonEmpty) {
        chunks += cur.toString
        cur.clear()
      }
      curId = id
      if (cur.nonEmpty) cur.append('\n')
      cur.append(piece)
    }
    records.foreach { r =>
      val t = TokenCount.count(r)
      if (t <= budget) add(r, t)
      else Chunker.wordPack(r, budget).foreach(p => add(p, TokenCount.count(p)))
    }
    if (cur.nonEmpty) chunks += cur.toString
    chunks.result()
  }

  /** The keyword filter the simulated model applies to one chunk. */
  def filter(chunk: String, keyword: String): String =
    chunk.split("\n", -1).iterator.filter(_.contains(keyword)).mkString("\n")

  /** Expected combined output: per-chunk results in chunk order, no
    * separator.
    */
  def combined(chunks: Array[String], keyword: String): String = {
    val sb = new StringBuilder
    chunks.foreach(c => sb.append(filter(c, keyword)))
    sb.toString
  }
}
