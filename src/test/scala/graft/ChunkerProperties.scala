package graft

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

import graft.expressions.TokenCount
import graft.pipeline.Chunker

/** ScalaCheck properties for the chunker (SURVEY §5): for all corpora
  * and budgets, every chunk stays within 2x budget and recombination
  * preserves the word multiset — the reference's own invariants
  * (mapreduce_test.go:402-436), quantified. Driver-side packers only
  * (the distributed path has example-based specs; these are the
  * fast ∀-checks over the shared packing logic).
  */
object ChunkerProperties extends Properties("Chunker") {

  // words <= 20 chars <= 5 tokens, so every word fits any budget >= 5
  // (a single word over budget is unsplittable by definition — the
  // reference has the same floor).
  private val word: Gen[String] = for {
    n <- Gen.choose(1, 20)
    cs <- Gen.listOfN(n, Gen.alphaNumChar)
  } yield cs.mkString

  private val line: Gen[String] = for {
    n <- Gen.choose(0, 40)
    ws <- Gen.listOfN(n, word)
  } yield ws.mkString(" ")

  private val corpus: Gen[String] = for {
    n <- Gen.choose(0, 60)
    ls <- Gen.listOfN(n, line)
  } yield ls.mkString("\n")

  private val budget: Gen[Int] = Gen.choose(5, 500)

  private def words(s: String): Seq[String] =
    s.split("\\s+").filter(_.nonEmpty).toSeq

  property("every chunk <= 2x budget") = forAll(corpus, budget) { (text, b) =>
    ReferencePacker.greedyPack(text, b).forall(c => TokenCount.count(c) <= 2 * b)
  }

  property("recombination preserves the word multiset") =
    forAll(corpus, budget) { (text, b) =>
      val in = words(text).sorted
      val out = words(ReferencePacker.greedyPack(text, b).mkString("\n")).sorted
      in == out
    }

  property("wordPack pieces each fit the budget") =
    forAll(line, budget) { (l, b) =>
      Chunker.wordPack(l, b).forall(p => TokenCount.count(p) <= b)
    }

  property("chunks are non-empty and token counts positive") =
    forAll(corpus, budget) { (text, b) =>
      ReferencePacker.greedyPack(text, b).forall(c =>
        c.nonEmpty && (words(c).isEmpty || TokenCount.count(c) > 0))
    }
}
