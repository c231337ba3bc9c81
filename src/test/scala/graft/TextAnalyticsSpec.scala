package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.TextAnalytics

/** Behavioral proof for language-ID on PLANTED corpora with real
  * per-language vocabularies (the catalog fixture shares one vocabulary
  * across langs, so quality can only be measured here — same pattern as
  * the ANN recall bar in SimilaritySpec).
  */
class TextAnalyticsSpec extends AnyFunSuite with CacheCleanup {
  import TestSpark.spark
  import spark.implicits._

  test("q204 vocab OOV: top-k cut, tie-break, and ppm arithmetic are exact") {
    // global counts: aa=5, bb=4, cc=3, dd=3, ee=1. k=3 puts the cut on
    // the cc/dd tie — broken by word ascending, so vocab = {aa, bb, cc}
    // and dd is OUT despite equal count. srcA: 8 tokens, 0 oov; srcB:
    // 8 tokens, oov = dd(3) + ee(1) = 4 -> 500000 ppm exactly.
    val docs = Seq(
      ("aa aa aa bb bb cc cc aa", "srcA"),
      ("dd dd dd bb bb cc ee aa", "srcB")).toDF("text", "source")
    val out = TextAnalytics.vocabOov(docs, 3).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_oov"),
          r.getAs[Long]("oov_ppm"))).toMap
    assert(out("srcA") == ((8L, 0L, 0L)))
    assert(out("srcB") == ((8L, 4L, 500000L)))
    // flooring ppm: 1 oov of 3 tokens -> 333333, never rounded up
    val odd = Seq(("zz yy yy", "s")).toDF("text", "source")
    val o = TextAnalytics.vocabOov(odd, 1).collect()(0)
    assert(o.getAs[Long]("oov_ppm") == 333333L)
  }

  test("sequence packing: greedy bin boundaries are exact") {
    // greedy packing characterization: the cumulative token count
    // through bin b must land in (b*B, (b+1)*B] — the lower bound says
    // the bin closed only because the budget filled, the upper bound
    // says no bin claims tokens past its boundary. (Every fixture doc
    // is far under B, so bins are also contiguous.)
    val out = SparkEntry
      .queries("q144_sequence_packing")(spark, TestSpark.sf0001)
      .collect()
      .map(r => (r.getAs[Long]("bin"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("bin_tokens")))
      .sortBy(_._1)
    assert(out.nonEmpty && out.map(_._1).toSeq == (0L until out.length))
    val b = TextAnalytics.PackBudget
    var cum = 0L
    out.dropRight(1).foreach { case (bin, _, toks) =>
      cum += toks
      assert(cum > bin * b, s"bin $bin closed before the budget filled")
      assert(cum <= (bin + 1) * b, s"bin $bin spilled past its boundary")
    }
    assert(out.forall(_._2 > 0))
  }

  private val vocab = Map(
    "en" -> Seq("the", "and", "of", "house", "water", "light"),
    "es" -> Seq("el", "la", "de", "casa", "agua", "luz"),
    "de" -> Seq("der", "die", "das", "haus", "wasser", "licht"))

  /** 10 docs per language, each sampling its language's vocabulary with
    * a sprinkle of shared numerals (cross-language noise).
    */
  private lazy val planted = {
    val rnd = new scala.util.Random(99)
    val rows = for {
      (lang, words) <- vocab.toSeq.sortBy(_._1)
      i <- 0 until 10
    } yield {
      val body = Seq.fill(12)(words(rnd.nextInt(words.size))) ++
        Seq.fill(3)((rnd.nextInt(10) + 100).toString)
      ((lang.hashCode.toLong << 8) + i, rnd.shuffle(body).mkString(" "), lang)
    }
    rows.toDF("doc_id", "text", "lang")
  }

  test("lang-id: planted per-language vocabularies classify at accuracy 1.0") {
    val profiles = TextAnalytics.langProfiles(planted, 20)
    val langs = planted.select(col("lang")).distinct()
    val pred = TextAnalytics.predictLang(planted, profiles, langs)
      .join(planted.select(col("doc_id"), col("lang")), Seq("doc_id"))
    val n = pred.count()
    val correct = pred.filter(col("pred_lang") === col("lang")).count()
    assert(n == 30)
    assert(correct == n, s"accuracy ${correct.toDouble / n} < 1.0")
  }

  test("lang-id: prediction is deterministic on all-zero scores") {
    // a doc matching NO profile word must still get a prediction — the
    // lexicographically smallest language, via the (score desc, lang
    // asc) tie-break
    val docs = Seq((1L, "zzz qqq xxx", "en")).toDF("doc_id", "text", "lang")
    val profiles = Seq(("en", "hello"), ("es", "hola")).toDF("lang", "word")
    val langs = profiles.select(col("lang")).distinct()
    val out = TextAnalytics.predictLang(docs, profiles, langs).collect()
    assert(out.length == 1)
    assert(out(0).getString(1) == "en" && out(0).getLong(2) == 0L)
  }

  test("hash sampling: deterministic membership, rate near the fraction") {
    val docs = (1L to 2000L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val thr = lit(TextAnalytics.sampleThreshold(0.25))
    val a = TextAnalytics.sampleByHash(docs, "doc_id", thr)
      .select("doc_id").as[Long].collect().toSet
    val b = TextAnalytics.sampleByHash(docs, "doc_id", thr)
      .select("doc_id").as[Long].collect().toSet
    assert(a == b, "same input + threshold must sample identical rows")
    assert(math.abs(a.size / 2000.0 - 0.25) < 0.05, s"rate ${a.size / 2000.0}")
    // fraction monotonicity: a smaller threshold samples a subset
    val c = TextAnalytics.sampleByHash(docs, "doc_id",
      lit(TextAnalytics.sampleThreshold(0.1)))
      .select("doc_id").as[Long].collect().toSet
    assert(c.subsetOf(a))
  }

  test("profiles are bounded: langs x topK rows, frequency-ranked") {
    val profiles = TextAnalytics.langProfiles(planted, 3).collect()
    assert(profiles.length == 9) // 3 langs x top-3
    val en = profiles.filter(_.getString(0) == "en").map(_.getString(1)).toSet
    assert(en.subsetOf(vocab("en").toSet ++ (100 to 109).map(_.toString)))
  }

  test("group z-score: planted anchors and zero-variance NULL") {
    // {1,2,3}: z = (n·x−Σx)/sqrt(nΣx²−(Σx)²) = −3/√6, 0, +3/√6;
    // a constant stratum must yield NULL, never 0/0
    val tmp = Harness.tempDir("zscore").toString
    Seq((1L, "a", "x", "s", 1L), (2L, "a", "x", "s", 2L),
      (3L, "a", "x", "s", 3L),
      (10L, "b", "y", "s", 7L), (11L, "b", "y", "s", 7L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = SparkEntry.queries("q153_group_zscore")(spark, tmp)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        Option(r.getAs[java.lang.Double]("z")).map(_.toDouble)).toMap
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val a = r6(3.0 / math.sqrt(6.0))
    assert(out(1L) == Some(-a) && out(2L) == Some(0.0) &&
      out(3L) == Some(a), out.toString)
    assert(out(10L).isEmpty && out(11L).isEmpty,
      "zero-variance stratum must be NULL")
  }

  test("count-min sketch: never undercounts, exact when collision-free") {
    val out = SparkEntry
      .queries("q148_countmin_sketch")(spark, TestSpark.sf0001)
      .collect()
      .map(r => (r.getAs[String]("word"), r.getAs[Long]("n_exact"),
        r.getAs[Long]("cms_est"), r.getAs[Long]("overestimate_ok")))
    assert(out.nonEmpty)
    // the algebraic invariant: collisions only ADD, so est >= exact on
    // EVERY row — not an envelope, a certainty
    assert(out.forall(_._4 == 1L), "CMS undercounted a word")
    assert(out.forall { case (_, ex, est, _) => est >= ex })
    // min-of-d recovery: the estimate is exact for a solid majority of
    // the vocabulary even with a 64-bucket toy sketch
    val exact = out.count { case (_, ex, est, _) => est == ex }
    assert(exact * 2 > out.length,
      s"min-of-${TextAnalytics.CmsD} left only $exact/${out.length} exact")
  }

  test("stratified exact-n: exactly n per stratum, and the pre-filtered " +
    "top-n equals the unfiltered top-n") {
    val out = SparkEntry
      .queries("q149_stratified_exact_n")(spark, TestSpark.sf0001)
      .collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("doc_id")))
    val perLang = out.groupBy(_._1).view.mapValues(_.length).toMap
    assert(perLang.nonEmpty &&
      perLang.values.forall(_ == TextAnalytics.StratN),
      s"per-stratum sizes: $perLang")
    // semantics check: the 4x oversample pre-filter must not change the
    // selected set — rank ALL docs per lang without any pre-filter
    val docs = graft.Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"), col("lang"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
      .orderBy(TextAnalytics.hashFraction(col("doc_id")), col("doc_id"))
    val full = docs
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= TextAnalytics.StratN)
      .collect().map(r => (r.getAs[String]("lang"), r.getAs[Long]("doc_id")))
    assert(out.toSet == full.toSet,
      "pre-filtered selection diverged from the true per-stratum top-n")
  }

  test("q161 rrf fusion: rank lists well-formed, scores recomputable") {
    val rows = SparkEntry.queries("q161_rrf_fusion")(spark, TestSpark.sf0001)
      .collect()
    assert(rows.nonEmpty)
    def ranks(field: String): Seq[Long] =
      rows.filterNot(_.isNullAt(rows.head.fieldIndex(field)))
        .map(_.getAs[Long](field)).toSeq
    // each arm is a dense 1..n ranking, no gaps or duplicates
    Seq("sparse_rn", "dense_rn").foreach { f =>
      val rs = ranks(f).sorted
      assert(rs == (1L to rs.length).toSeq, s"$f not dense: $rs")
      assert(rs.length <= TextAnalytics.RrfN)
    }
    // the fused score is exactly 1/(c+rank) summed over present arms
    rows.foreach { r =>
      val s = if (r.isNullAt(r.fieldIndex("sparse_rn"))) 0.0
        else 1.0 / (TextAnalytics.RrfC + r.getAs[Long]("sparse_rn"))
      val dn = if (r.isNullAt(r.fieldIndex("dense_rn"))) 0.0
        else 1.0 / (TextAnalytics.RrfC + r.getAs[Long]("dense_rn"))
      val e = BigDecimal(java.math.BigDecimal.valueOf(s + dn))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getAs[Double]("rrf_score") == e,
        s"row $r: expected $e")
      assert(!(r.isNullAt(r.fieldIndex("sparse_rn")) &&
        r.isNullAt(r.fieldIndex("dense_rn"))))
    }
    // docs surfacing in BOTH arms must outrank a same-rank single-arm
    // doc — the whole point of fusion
    val both = rows.filter(r => !r.isNullAt(r.fieldIndex("sparse_rn")) &&
      !r.isNullAt(r.fieldIndex("dense_rn")))
    assert(both.nonEmpty, "fixture should have overlap between arms")
  }

  test("q169 agreement@k equals a recount over the fused table") {
    val d = TestSpark.sf0001
    val fused = SparkEntry.queries("q161_rrf_fusion")(spark, d).collect()
      .map { r =>
        def opt(f: String): Option[Long] =
          if (r.isNullAt(r.fieldIndex(f))) None else Some(r.getAs[Long](f))
        (opt("sparse_rn"), opt("dense_rn"))
      }
    def r6(x: Double) = BigDecimal(java.math.BigDecimal.valueOf(x))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = Seq(5L, 10L, 25L, 50L).map { k =>
      val nb = fused.count { case (s, dn) =>
        s.exists(_ <= k) && dn.exists(_ <= k) }.toLong
      val ns = fused.count(_._1.exists(_ <= k)).toLong
      val nd = fused.count(_._2.exists(_ <= k)).toLong
      k -> ((nb, r6(nb.toDouble / k), r6(nb.toDouble / (ns + nd - nb))))
    }.toMap
    val got = SparkEntry.queries("q169_retrieval_agreement")(spark, d)
      .collect().map(r => r.getAs[Long]("k") ->
        ((r.getAs[Long]("n_both"), r.getAs[Double]("overlap_at_k"),
          r.getAs[Double]("jaccard_at_k")))).toMap
    assert(got == expected, s"got $got\nexpected $expected")
  }

  test("q194 Gopher rule flags equal a sequential recompute, with variance") {
    def words(t: String): Seq[String] =
      t.toLowerCase.split("[ \t\n\r\f]+").filter(_.nonEmpty).toSeq
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), words(r.getString(2))))
    val expected = docs.map { case (id, src, ws) =>
      val n = ws.size.toLong
      val rWc = n >= TextAnalytics.GopherMinWords &&
        n <= TextAnalytics.GopherMaxWords
      val mwl = if (n > 0) ws.map(_.length).sum.toDouble / n else 0.0
      val rMwl = n > 0 && mwl >= 3.0 && mwl <= 10.0
      val rAlpha = n > 0 &&
        ws.count(_.exists(c => c >= 'a' && c <= 'z')).toDouble / n >= 0.8
      val rSym = n > 0 &&
        ws.count(w => w.contains("#") || w.contains("...")).toDouble / n <= 0.1
      val rStop = ws.distinct.count(TextAnalytics.Stopwords.contains) >= 2
      val flags = Seq(rWc, rMwl, rAlpha, rSym, rStop).map(b => if (b) 1L else 0L)
      (id, src, n, flags(0), flags(1), flags(2), flags(3), flags(4),
        flags.sum, if (flags.sum == 5L) 1L else 0L)
    }.toSet
    val got = SparkEntry.queries("q194_gopher_rules")(spark, TestSpark.sf0001)
      .as[(Long, String, Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toSet
    assert(got == expected)
    // the battery discriminates on this corpus: both keep outcomes occur
    assert(got.exists(_._10 == 1L) && got.exists(_._10 == 0L),
      "the rule battery should pass some docs and fail others on the fixture")
  }

  test("q195 lexical profile equals a sequential per-source recompute") {
    def words(t: String): Seq[String] =
      t.toLowerCase.split("[ \t\n\r\f]+").filter(_.nonEmpty).toSeq
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val expected = docs.groupBy(_._1).map { case (src, rows) =>
      val ws = rows.flatMap(r => words(r._2))
      val nW = ws.size.toLong
      val nTypes = ws.distinct.size.toLong
      val nTok = rows.map(r =>
        graft.expressions.TokenCount.count(r._2).toLong).sum
      (src, rows.size.toLong, nW, nTypes, nTok,
        r6(nTypes.toDouble / nW), r6(nTok.toDouble / nW),
        r6(ws.map(_.length).sum.toDouble / nW))
    }.toSet
    val got = SparkEntry.queries("q195_lexical_profile")(spark, TestSpark.sf0001)
      .as[(String, Long, Long, Long, Long, Double, Double, Double)]
      .collect().toSet
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("q198 repetition battery: planted loop fails, varied text passes") {
    import graft.queries.TextAnalytics.{repetitionBattery => rb}
    val loop = ("spam ham " * 30).trim              // one 2-gram IS the doc
    val varied = (1 to 60).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, loop), (2L, varied), (3L, "")).toDF("doc_id", "text")
    val out = rb(docs).collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    // doc 1: "spam ham" covers nearly every char -> all three rules fail
    assert(out(1L).getAs[Double]("top2_frac") > 0.85)
    assert(out(1L).getAs[Long]("keep") == 0L)
    // doc 2: every word unique -> top2 is one pair over the whole doc,
    // no duplicated 5-gram at all
    assert(out(2L).getAs[Double]("dup5_frac") == 0.0)
    assert(out(2L).getAs[Long]("keep") == 1L)
    // doc 3: empty text -> all fractions 0, all rules pass
    assert(out(3L).getAs[Double]("top2_frac") == 0.0 &&
      out(3L).getAs[Long]("keep") == 1L)
    // sequential re-derivation of doc 1's top-2-gram coverage
    val wsL = loop.toLowerCase.split(" ").toSeq
    val bigrams = wsL.sliding(2).map(_.mkString(" ")).toSeq
    // (count desc, gram asc) — the operator's deterministic tiebreak
    val (topG, topC) = bigrams.groupBy(identity).view.mapValues(_.size)
      .toSeq.minBy { case (g, c) => (-c, g) }
    val expect = BigDecimal(topC.toLong * topG.length.toLong)
      ./(BigDecimal(loop.length)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    assert(BigDecimal(out(1L).getAs[Double]("top2_frac")) == expect)
  }

  test("q198 per-doc kernel edges: deterministic tie-break on the smallest " +
    "gram, code-point char lengths, null/short inputs") {
    import graft.queries.TextAnalytics.repCoverageOf
    // three 2-grams tied at count 2 with different char lengths — the
    // (count desc, gram asc) tiebreak must pick "a b" (len 3), exactly
    // the oracle's row_number order, NOT the longest-coverage gram
    val tied = Seq("a", "b", "a", "b", "ccc", "ddd", "ccc", "ddd", "ccc")
    assert(repCoverageOf(tied).top2_chars == 2L * 3L)
    // gram char length counts CODE POINTS (Spark/DuckDB `length`),
    // not UTF-16 units: U+1D11E is one char but two UTF-16 units
    val clef = "𝄞"
    val astral = Seq(clef + clef, "x", clef + clef, "x")
    assert(repCoverageOf(astral).top2_chars == 2L * 4L,
      s"expected code-point length 4 for '$clef$clef x'")
    // dup-5 sums EVERY occurrence of duplicated 5-grams
    val loop5 = Seq.fill(3)(Seq("v", "w", "x", "y", "z")).flatten
    // 5-grams of the 15-word loop: "v w x y z" x3, the 4 rotations x2
    assert(repCoverageOf(loop5).dup5_chars ==
      3L * 9L + 2L * 9L * 4L)
    // null / empty / below-n inputs produce zero coverage, not nulls
    assert(repCoverageOf(null) ==
      graft.queries.TextAnalytics.RepCoverage(0L, 0L, 0L))
    assert(repCoverageOf(Seq.empty) ==
      graft.queries.TextAnalytics.RepCoverage(0L, 0L, 0L))
    assert(repCoverageOf(Seq("only")).top2_chars == 0L)
    assert(repCoverageOf(Seq("a", "b", "c", "d")).dup5_chars == 0L)
  }
}
