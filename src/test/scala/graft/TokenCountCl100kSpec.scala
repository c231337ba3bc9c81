package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.expressions.TokenCountCl100k

/** Pins the cl100k-fidelity counter to the reference's OWN published
  * token-count expectations
  * (`/root/reference/internal/cli/estimation_test.go:8-75`) — every
  * range the reference asserts over the real cl100k_base tokenizer must
  * hold for this estimator (the coarse ceil(L/4) TokenCount fails two
  * of them, which is exactly why this surface exists).
  */
class TokenCountCl100kSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def n(s: String): Int = TokenCountCl100k.count(s)

  test("reference range: empty string = 0") {
    assert(n("") == 0)
  }

  test("reference range: 'Hello, world!' in [2, 5]") {
    val c = n("Hello, world!")
    assert(c >= 2 && c <= 5, s"got $c") // real cl100k_base: 4
  }

  test("reference range: longer sentence in [15, 25]") {
    val c = n("This is a longer text with multiple words and sentences. " +
      "It should have more tokens.")
    assert(c >= 15 && c <= 25, s"got $c") // real cl100k_base: 17
  }

  test("reference range: newline-separated lines in [8, 12]") {
    val c = n("Line 1\nLine 2\nLine 3")
    assert(c >= 8 && c <= 12, s"got $c") // real cl100k_base: 11
    // the coarse estimator is OUTSIDE the reference's range here —
    // documents why the estimation surface uses the cl100k counter
    assert(graft.expressions.TokenCount.count("Line 1\nLine 2\nLine 3") < 8)
  }

  test("reference range: 'test ' * 100 in [95, 105]") {
    val c = n("test " * 100)
    assert(c >= 95 && c <= 105, s"got $c") // real cl100k_base: 100
  }

  test("deterministic (reference TestTokenEstimationConsistency)") {
    val s = "This is a test sentence to verify consistency."
    assert(n(s) == n(s))
  }

  test("pre-tokenizer segmentation details: contractions, digits, unicode") {
    // contraction suffixes are their own pieces (cl100k branch 1)
    assert(n("don't") == 2) // "don" + "'t"
    assert(n("we'll've") == 3)
    // digit runs split every 3 digits (cl100k \p{N}{1,3})
    assert(n("1234567") == 3) // 123|456|7
    // unicode letters count as letter runs, not punctuation
    assert(n("héllo wörld") == 2)
    // null-safety through the Column surface + codegen path
    val df = Seq(Some("Hello, world!"), None).toDF("t")
      .select(graft.functions.token_count_cl100k(col("t")).as("c"))
    assert(df.collect().map(r => if (r.isNullAt(0)) -1 else r.getInt(0)).toSeq
      == Seq(4, -1))
  }

  // ---- exact-BPE stage ([[BpeRanks]]): algorithm proven on synthetic
  // ranks tables (the real cl100k data is zero-egress-unobtainable;
  // dropping it in via GRAFT_CL100K_RANKS makes count() bit-exact) ----

  private def ranksOf(pairs: (String, Int)*) = {
    val b64 = java.util.Base64.getEncoder
    graft.expressions.BpeRanks.parse(pairs.iterator.map { case (tok, r) =>
      s"${b64.encodeToString(tok.getBytes("UTF-8"))} $r"
    })
  }
  private val singles = "abcd ".toSeq.zipWithIndex.map { case (c, i) =>
    c.toString -> i
  }

  test("exact BPE: greedy lowest-rank adjacent merge to fixpoint") {
    import graft.expressions.{BpeRanks, TokenCountCl100k}
    val r = ranksOf(singles ++ Seq("ab" -> 10, "cd" -> 11, "abcd" -> 12): _*)
    // "abcd": ab(10) merges first -> [ab,c,d]; cd(11) -> [ab,cd];
    // ab+cd = "abcd"(12) -> one token
    assert(BpeRanks.countPiece("abcd", r) == 1)
    // "abdc": only ab merges -> [ab,d,c]
    assert(BpeRanks.countPiece("abdc", r) == 3)
    // "acbd": no adjacent pair in table -> 4 singles
    assert(BpeRanks.countPiece("acbd", r) == 4)
    // whole-piece hit short-circuits
    assert(BpeRanks.countPiece("ab", r) == 1)
    // bytes absent from a (synthetic) table survive as parts
    assert(BpeRanks.countPiece("az", r) == 2)
    // two-stage exact count: pre-tokenizer pieces "abcd" + " abcd"
    // (" abcd" not in table; ' '+a = " a" absent, so after ab/cd/abcd
    // merges the space survives -> 2 parts)
    assert(TokenCountCl100k.countExact("abcd abcd", r) == 1 + 2)
  }

  test("exact BPE: merge ORDER follows rank, not position") {
    import graft.expressions.BpeRanks
    // "bc" outranks "ab": "abc" -> [a, bc]; "abc" absent -> 2
    val r1 = ranksOf(singles ++ Seq("bc" -> 5, "ab" -> 6): _*)
    assert(BpeRanks.countPiece("abc", r1) == 2)
    // rank order decides the COUNT ("abcd" itself absent from both
    // tables, so the merge loop actually runs): the low-rank ab path
    // chains ab -> abc and lands on [abc, d]; flipping priority to bc
    // strands [a, bc, d] because neither abc nor bcd completes it
    val chain = ranksOf(singles ++ Seq("ab" -> 5, "abc" -> 6): _*)
    assert(BpeRanks.countPiece("abcd", chain) == 2) // [ab,c,d] -> [abc,d]
    val flip = ranksOf(singles ++ Seq("bc" -> 4, "ab" -> 5): _*)
    // bc first -> [a,bc,d]; a+bc="abc" absent, bc+d="bcd" absent -> 3
    assert(BpeRanks.countPiece("abcd", flip) == 3)
  }

  test("exact BPE: countPiece equals an independent reference merger on " +
    "random pieces and ranks tables") {
    import graft.expressions.BpeRanks
    import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
    // independent implementation: immutable part list, rescan for the
    // lowest-rank adjacent pair each round — obviously correct, O(n^3)
    def refCount(piece: String, ranks: java.util.HashMap[String, Integer]): Int = {
      val whole = new String(piece.getBytes(UTF_8), ISO_8859_1)
      if (whole.length <= 1) return whole.length
      if (ranks.containsKey(whole)) return 1
      var parts = whole.map(_.toString).toList
      var done = false
      while (!done && parts.length > 1) {
        val cands = parts.zip(parts.tail).zipWithIndex
          .map { case ((x, y), i) => (Option(ranks.get(x + y)), i) }
          .collect { case (Some(r), i) => (r.intValue(), i) }
        if (cands.isEmpty) done = true
        else {
          val (_, i) = cands.minBy(_._1)
          parts = parts.take(i) ::: (parts(i) + parts(i + 1)) :: parts.drop(i + 2)
        }
      }
      parts.length
    }
    for (seed <- Seq(7, 99, 2024)) {
      val rnd = new scala.util.Random(seed)
      val alphabet = "abcdef"
      // random table: every single byte plus a random sample of longer
      // substrings, with randomly ordered distinct ranks
      val longer = (for {
        len <- 2 to 4
        _ <- 1 to 12
      } yield Seq.fill(len)(alphabet(rnd.nextInt(alphabet.length))).mkString)
        .distinct
      val entries = rnd.shuffle(alphabet.map(_.toString) ++ longer)
        .zipWithIndex
      val table = ranksOf(entries.map { case (tok, r) => tok -> r }: _*)
      for (_ <- 1 to 200) {
        val piece = Seq.fill(rnd.nextInt(13))(
          alphabet(rnd.nextInt(alphabet.length))).mkString
        val got = BpeRanks.countPiece(piece, table)
        val want = refCount(piece, table)
        assert(got == want, s"seed=$seed piece='$piece': $got != $want")
      }
    }
  }

  test("exact BPE: ranks file round-trip through the env-file loader") {
    import graft.expressions.BpeRanks
    val b64 = java.util.Base64.getEncoder
    val lines = (singles ++ Seq("ab" -> 10, "cd" -> 11)).map { case (t, r) =>
      s"${b64.encodeToString(t.getBytes("UTF-8"))} $r"
    }
    val f = Harness.tempDir("ranks").resolve("ranks.tiktoken")
    java.nio.file.Files.write(f,
      scala.jdk.CollectionConverters.SeqHasAsJava(lines ++ Seq("")).asJava)
    val r = BpeRanks.loadFile(f.toString)
    assert(BpeRanks.countPiece("abcd", r) == 2) // [ab, cd], no "abcd"
  }

  test("SQL registration via GraftExtensions") {
    // sibling session with extensions installed (the TestSpark session
    // predates the function registry; conf-based extensions are static)
    val base = TestSpark.spark
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    try {
      val ext = org.apache.spark.sql.SparkSession.builder()
        .master("local[4]")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      val c = ext.sql("SELECT token_count_cl100k('Hello, world!')")
        .collect()(0).getInt(0)
      assert(c == n("Hello, world!"))
    } finally {
      org.apache.spark.sql.SparkSession.setActiveSession(base)
      org.apache.spark.sql.SparkSession.setDefaultSession(base)
    }
  }
}
