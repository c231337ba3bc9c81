package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral proofs for the q114/q115/q117/q118 text signals on
  * PLANTED corpora (the catalog fixture is a shared random vocabulary,
  * so ranking/zero-point quality can only be asserted here — the same
  * planted-fixture pattern as lang-id and ANN recall). The catalog
  * entries read `documents.parquet` from a table dir, so each corpus
  * is staged into a temp dir and the REAL catalog query runs on it.
  */
class TextSignalsSpec extends AnyFunSuite with CacheCleanup {
  import TestSpark.spark
  import spark.implicits._

  private def stage(rows: Seq[(Long, String, String, String, Long)]): String = {
    val dir = Harness.tempDir("textsignals").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def doc(id: Long, text: String, source: String = "s0") =
    (id, text, "en", source, text.length.toLong)

  test("bm25: more query-term mass at equal length ranks higher") {
    // same length (8 words) so only term frequency separates them
    val dir = stage(Seq(
      doc(1L, "merge merge merge sort pad pad pad pad"),
      doc(2L, "merge sort pad pad pad pad pad pad"),
      doc(3L, "pad pad pad pad pad pad pad pad")))
    val out = SparkEntry.queries("q114_bm25")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(!out.contains(3L), "doc with no query terms must not score")
    assert(out(1L) > out(2L),
      s"tf=3+1 doc (${out(1L)}) must outrank tf=1+1 doc (${out(2L)})")
  }

  test("bm25: length normalization — same tf, shorter doc ranks higher") {
    val dir = stage(Seq(
      doc(1L, "merge pad pad pad"),
      doc(2L, "merge pad pad pad pad pad pad pad pad pad pad pad")))
    val out = SparkEntry.queries("q114_bm25")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out(1L) > out(2L),
      s"short doc (${out(1L)}) must outrank long doc (${out(2L)}) at equal tf")
  }

  test("word entropy: uniform doc = ln(k), constant doc = 0") {
    val dir = stage(Seq(
      doc(1L, "a b c d"),        // uniform over 4 words -> ln(4)
      doc(2L, "x x x x x")))     // single word -> 0
    val out = SparkEntry.queries("q115_word_entropy")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(math.abs(out(1L) - math.log(4.0)) < 2e-4, s"got ${out(1L)}")
    assert(out(2L) == 0.0)
  }

  test("kl divergence: identical source distributions score 0") {
    // both sources have the same word distribution == corpus
    val dir = stage(Seq(
      doc(1L, "a a b", "s1"), doc(2L, "a a b", "s1"),
      doc(3L, "a a b", "s2")))
    val out = SparkEntry.queries("q117_source_divergence")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(out("s1") == 0.0 && out("s2") == 0.0, s"got $out")
  }

  test("kl divergence: a shifted source scores strictly higher") {
    val dir = stage(
      (1L to 8L).map(i => doc(i, "a b c d", "balanced")) :+
        doc(9L, "a a a a", "skewed") :+ doc(10L, "a a a b", "skewed"))
    val out = SparkEntry.queries("q117_source_divergence")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(out("skewed") > out("balanced"),
      s"skewed (${out("skewed")}) must exceed balanced (${out("balanced")})")
    assert(out.values.forall(_ >= 0.0), s"KL must be non-negative: $out")
  }

  test("pmi: an always-together pair scores ln(N/k), independence ~0") {
    // 20 docs: "alpha beta" co-occur in 5; "gamma delta" appear
    // independently in overlapping halves (10 docs each, 5 together)
    val rows = (1L to 20L).map { i =>
      val words = Seq.newBuilder[String]
      if (i <= 5) { words += "alpha"; words += "beta" }
      if (i <= 10) words += "gamma"
      if (i > 5 && i <= 15) words += "delta"
      words += s"pad$i" // unique filler, never pairs above threshold
      doc(i, words.result().mkString(" "))
    }
    val dir = stage(rows)
    val out = SparkEntry.queries("q118_word_pmi")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3))
      .toMap
    // alpha+beta: c_a=c_b=c_ab=5, N=20 -> pmi = ln(20*5/25) = ln 4
    assert(math.abs(out(("alpha", "beta")) - math.log(4.0)) < 1e-4)
    // gamma+delta: c_ab=5, c_a=c_b=10 -> pmi = ln(20*5/100) = 0
    assert(math.abs(out(("delta", "gamma"))) < 1e-4)
  }

  test("bigram nll: scrambled word order scores worse than the " +
    "corpus-dominant order at identical unigram content") {
    // six docs repeat the natural pattern, one doc has the SAME word
    // multiset scrambled — a unigram model (q98) cannot tell them
    // apart; the bigram model must
    val natural = "the quick fox jumps over dogs " * 4
    val scrambled = "the the the the quick quick quick quick " +
      "fox fox fox fox jumps jumps jumps jumps over over over over " +
      "dogs dogs dogs dogs"
    val dir = stage((1L to 6L).map(i => doc(i, natural.trim)) :+
      doc(99L, scrambled))
    val out = SparkEntry.queries("q167_bigram_nll")(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Double]("mean_nll")).toMap
    assert(out.size == 7)
    val naturalNll = out(1L)
    assert((2L to 6L).forall(i => out(i) == naturalNll),
      "identical docs must score identically")
    assert(out(99L) > naturalNll + 0.5,
      s"scrambled ${out(99L)} must clearly exceed natural $naturalNll")
  }

  test("q182 BPE merges equal a sequential Sennrich recompute") {
    import org.apache.spark.sql.functions._
    val d = TestSpark.sf0001
    // sequential reference: the classic dict-of-symbol-lists BPE
    val vocab0: Map[List[String], Long] =
      graft.Tables.documents(spark, d).select(col("text")).collect()
        .flatMap(_.getString(0).toLowerCase
          .split("[ \t\n\r\f]+").filter(_.nonEmpty))
        .filter(_.matches("^[a-z]+$"))
        .groupBy(identity).map { case (w, occ) =>
          (w.map(_.toString).toList :+ "</w>") -> occ.length.toLong
        }
    var vocab = vocab0
    val expected = (1 to graft.queries.TextAnalytics.BpeMergeSteps).map { step =>
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (syms, n) =>
        syms.sliding(2).foreach {
          case List(a, b) => counts((a, b)) = counts.getOrElse((a, b), 0L) + n
          case _ =>
        }
      }
      // (count desc, wrapped-pair-string asc) — the engine's ranking
      val ((l, r), c) = counts.toSeq.minBy { case ((a, b), n) =>
        (-n, s"|$a| |$b|")
      }
      def mergeGreedy(syms: List[String]): List[String] = syms match {
        case a :: b :: rest if a == l && b == r =>
          (l + r) :: mergeGreedy(rest)
        case a :: rest => a :: mergeGreedy(rest)
        case Nil => Nil
      }
      vocab = vocab.groupBy { case (syms, _) => mergeGreedy(syms) }
        .map { case (k, vs) => k -> vs.values.sum }
      (step, l, r, c)
    }
    val got = SparkEntry.queries("q182_bpe_merges")(spark, d).collect()
      .map(row => (row.getAs[Int]("step"), row.getAs[String]("lhs"),
        row.getAs[String]("rhs"), row.getAs[Long]("pair_n")))
      .sortBy(_._1).toSeq
    assert(got == expected)
    // the recursive property: some later merge consumes an earlier
    // merge's output (multi-char symbol on either side)
    assert(got.exists(m => m._2.length > 1 || (m._3.length > 1 && m._3 != "</w>")),
      s"no merge built on a previous merge: $got")
  }
}
