package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The native expressions must be reachable from pure SQL when the
  * extensions are installed — SQL-surface parity with the Column API.
  */
class GraftExtensionsSpec extends AnyFunSuite {

  /** Runs `body` in a SIBLING of TestSpark's session (same
    * SparkContext) with the extensions installed.
    */
  private def withExtensions(body: SparkSession => Unit): Unit = {
    val base = TestSpark.spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // withExtensions (not the spark.sql.extensions conf): that conf is
      // STATIC and ignored when the SparkContext already exists, as here
      body(SparkSession.builder()
        .master("local[4]")
        .withExtensions(new GraftExtensions)
        .getOrCreate())
    } finally {
      SparkSession.setActiveSession(base)
      SparkSession.setDefaultSession(base)
    }
  }

  test("token_count and vec_dot resolve and evaluate from SQL") {
    withExtensions { ext =>
      val r1 = ext.sql("SELECT token_count('hello world, tokenize me') AS n")
        .collect()(0).getInt(0)
      assert(r1 == graft.expressions.TokenCount.count("hello world, tokenize me"))
      val r2 = ext.sql(
        """SELECT vec_dot(CAST(array(1.0, 2.0, 3.0) AS array<float>),
          |               CAST(array(1.0, 2.0, 3.0) AS array<float>)) AS d""".stripMargin)
        .collect()(0).getDouble(0)
      assert(r2 == 14.0)
      val r3 = ext.sql("SELECT size(winnow_fps('abcdefghijk', 8, 4)) AS n")
        .collect()(0).getInt(0)
      assert(r3 == 1) // 11 chars, k=8, w=4: exactly one full window
      val r4 = ext.sql("SELECT hash_fraction('42') AS f")
        .collect()(0).getDouble(0)
      assert(r4 == graft.expressions.HashFraction.fraction(
        org.apache.spark.unsafe.types.UTF8String.fromString("42")))
      assert(r4 >= 0.0 && r4 < 1.0)
      val r5 = ext.sql("SELECT minhash_sigs(array('a b c', 'b c d'), 9) AS mhs")
        .collect()(0).getSeq[String](0)
      assert(r5.length == 9 && r5.forall(_.matches("[0-9a-f]{64}")))
      val r6 = ext.sql(
        "SELECT audio_stats(CAST(x'e8030000' AS BINARY)) AS st") // s16le [1000, 0]
        .collect()(0).getSeq[Long](0)
      assert(r6 == Seq(2L, 1000L, 1000000L, 0L, 0L))
      val r7 = ext.sql(
        "SELECT luma_resize(CAST(x'0a0a1414' AS BINARY), 2) AS cells")
        .collect()(0).getSeq[Long](0)
      assert(r7 == Seq(10L, 20L))
      // s16le [1000, 0]: window energies [1000, 0], only bit 0 above mean
      val r8 = ext.sql(
        "SELECT audio_phash(CAST(x'e803000000' AS BINARY), 2) AS ph")
        .collect()(0).getLong(0)
      assert(r8 == 1L)
      // bad arity is a clean analysis error, not a crash
      intercept[Exception](ext.sql("SELECT token_count('a', 'b')").collect())
      // non-literal k/w is rejected loudly, not silently defaulted
      intercept[Exception](
        ext.sql("SELECT winnow_fps('abc', length('abcdefgh'), 4)").collect())
    }
  }

  test("every registered function resolves from SQL and rejects a wrong arity and a non-literal integer") {
    // a sample SQL value per parameter name of the usage signatures
    val sample = Map(
      "str" -> "'a b c'", "bin" -> "CAST(x'0a0a1414' AS BINARY)",
      "arr" -> "array('a b c', 'b c d')",
      "a" -> "CAST(array(1.0, 2.0) AS array<float>)",
      "b" -> "CAST(array(1.0, 2.0) AS array<float>)",
      "v" -> "CAST(array(1.0, 2.0) AS array<float>)",
      "c" -> "CAST(array(1.0, 2.0) AS array<double>)")
    val intParams = Set("k", "w", "cells", "funcs", "frames")
    withExtensions { ext =>
      var nonLiteralChecked = 0
      for ((name, usage, arity, _) <- GraftExtensions.functions) {
        val params = usage.takeWhile(_ != ')').dropWhile(_ != '(').drop(1)
          .split(",").map(_.trim).toSeq
        assert(params.size == arity, s"$name: usage $usage vs arity $arity")
        val args = params.map(p => if (intParams(p)) "2" else sample(p))
        def call(as: Seq[String]) = ext.sql(s"SELECT $name(${as.mkString(", ")})").collect()
        assert(call(args).length == 1, name)
        intercept[Exception](call(args :+ args.last))
        params.zipWithIndex.filter(pi => intParams(pi._1)).foreach { case (_, i) =>
          intercept[Exception](call(args.updated(i, "length('ab')")))
          nonLiteralChecked += 1
        }
      }
      assert(GraftExtensions.functions.size == 14 && nonLiteralChecked == 7)
    }
  }
}
