package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{Curation, Dedup}

/** Round-7 curation operators: each test recomputes the operator's
  * contract sequentially on collected sf0.001 data (or a planted
  * fixture) and asserts exact equality — the same independent-oracle
  * discipline as DedupSpec/SimilaritySpec.
  */
class CurationSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val d = TestSpark.sf0001

  private def words(text: String): Seq[String] =
    text.toLowerCase.split("[ \t\n\r\f]+").filter(_.nonEmpty).toSeq

  test("q174 postings equal a sequential tf/df recompute") {
    val docs = Tables.documents(spark, d).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> words(r.getString(1)))
    val tf = docs.flatMap { case (id, ws) => ws.map(w => (w, id)) }
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val df = tf.keys.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val expected = tf.collect {
      case ((term, doc), n)
        if df(term) >= Curation.IndexMinDf && df(term) <= Curation.IndexMaxDf =>
        (term, df(term), doc, n)
    }.toSet
    val got = SparkEntry.queries("q174_inverted_index")(spark, d)
      .as[(String, Long, Long, Long)].collect().toSet
    assert(got == expected)
  }

  test("q175 keep decisions follow the temperature-scaled rates exactly") {
    val docs = Tables.documents(spark, d).select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val bySource = docs.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    val wMicro = bySource.view.mapValues(ids =>
      math.round(math.sqrt(ids.size.toDouble) * 1e6)).toMap
    val wTot = wMicro.values.sum
    val nTot = docs.length.toLong
    def frac(id: Long) = expressions.HashFraction.fraction(
      org.apache.spark.unsafe.types.UTF8String.fromString(id.toString))
    val expected = bySource.flatMap { case (src, ids) =>
      val rate = math.min(1.0,
        (wMicro(src).toDouble / wTot) * (nTot * 0.5) / ids.size)
      val kept = ids.filter(frac(_) < rate)
      if (kept.isEmpty) None
      else Some((src, ids.size.toLong,
        BigDecimal(rate).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        kept.size.toLong, kept.min, kept.max))
    }.toSet
    val got = SparkEntry.queries("q175_temperature_mixture")(spark, d)
      .as[(String, Long, Double, Long, Long, Long)].collect().toSet
    assert(got == expected)
    // the temperature property itself: keep RATE is non-increasing in
    // source size (bigger sources damped harder) — the deterministic
    // form of "alpha < 1 flattens the mixture" (per-row hash noise at
    // 500 docs makes share-based assertions flaky, rate-based ones not)
    val bySize = got.toSeq.sortBy(_._2)
    bySize.sliding(2).foreach {
      case Seq(smaller, larger) =>
        assert(larger._3 <= smaller._3,
          s"rate must not increase with source size: $smaller vs $larger")
      case _ =>
    }
  }

  test("q191 epoch plan equals a sequential recompute and conserves the budget") {
    val docs = Tables.documents(spark, d).select("source", "text").collect()
      .map(r => (r.getString(0), graft.expressions.TokenCount.count(r.getString(1)).toLong))
    def r(x: Double, s: Int) = BigDecimal(x).setScale(s,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    val perSrc = docs.groupBy(_._1).map { case (src, rows) =>
      (src, rows.length.toLong, rows.map(_._2).sum)
    }.toSeq
    val wMicro = perSrc.map { case (s0, _, tok) =>
      s0 -> math.round(math.sqrt(tok.toDouble) * 1e6) }.toMap
    val (wTot, tokTot) = (wMicro.values.sum, perSrc.map(_._3).sum)
    val expected = perSrc.map { case (src, nd, tok) =>
      val share = wMicro(src).toDouble / wTot
      val epochs = (share * (tokTot * 2.0)) / tok
      (src, nd, tok, r(share, 6), r(epochs, 4), r(math.min(4.0, epochs), 4))
    }.toSet
    val got = SparkEntry.queries("q191_epoch_planner")(spark, d)
      .as[(String, Long, Long, Double, Double, Double)].collect().toSet
    assert(got == expected)
    // plan-level conservation: shares sum to 1 and the planned token
    // mass (epochs x source tokens) equals the 2x budget
    val shares = got.toSeq.map(_._4).sum
    assert(math.abs(shares - 1.0) < 1e-4, s"shares sum to $shares")
    val planned = got.toSeq.map(e => e._5 * e._3).sum
    assert(math.abs(planned - 2.0 * tokTot) < 0.001 * tokTot,
      s"planned $planned vs budget ${2.0 * tokTot}")
  }

  test("q176 deletion-neighborhood linkage = brute-force distance-1 pairs") {
    val names = Tables.customer(spark, d)
      .select(lower(col("c_name"))).distinct().as[String].collect()
    def lev(a: String, b: String): Int = {
      val m = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        m(i)(j) = math.min(math.min(m(i - 1)(j) + 1, m(i)(j - 1) + 1),
          m(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      m(a.length)(b.length)
    }
    val expected = (for {
      a <- names; b <- names
      if a < b && math.abs(a.length - b.length) <= 1 && lev(a, b) == 1
    } yield (a, b)).toSet
    val got = SparkEntry.queries("q176_fuzzy_linkage")(spark, d)
      .as[(String, String)].collect().toSet
    assert(got == expected, "deletion-neighborhood blocking must have EXACT recall at distance 1")
  }

  test("q177 shard manifest covers every doc exactly once with the right assignment") {
    val docs = Tables.documents(spark, d).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), words(r.getString(1)).size.toLong))
    def shard(id: Long) = math.floor(expressions.HashFraction.fraction(
      org.apache.spark.unsafe.types.UTF8String.fromString(id.toString))
      * Curation.ShardCount).toInt
    val expected = docs.groupBy(t => shard(t._1)).map { case (s, ds) =>
      (s, ds.length.toLong, ds.map(_._2).sum, ds.map(_._1).min, ds.map(_._1).max)
    }.toSet
    val got = SparkEntry.queries("q177_training_shards")(spark, d)
      .as[(Int, Long, Long, Long, Long)].collect().toSet
    assert(got == expected)
    assert(got.toSeq.map(_._2).sum == docs.length.toLong, "every doc in exactly one shard")
  }

  test("q178 per-source percentiles are rank-exact and deciles bounded") {
    val rows = SparkEntry.queries("q178_quantile_normalize")(spark, d)
      .as[(Long, String, Long, Double, Int)].collect()
    assert(rows.nonEmpty)
    rows.groupBy(_._2).foreach { case (_, grp) =>
      val n = grp.length
      val sorted = grp.sortBy(r => (r._3, r._1))
      sorted.zipWithIndex.foreach { case (r, i) =>
        val pct = if (n == 1) 0.0 else i.toDouble / (n - 1)
        assert(r._4 == BigDecimal(pct).setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble)
        assert(r._5 == math.min(9, math.floor(pct * 10).toInt))
      }
    }
  }

  test("q179 containment finds a planted short-in-long duplicate Jaccard misses") {
    val long = (1 to 60).map(i => s"w$i").mkString(" ")
    val short = (21 to 40).map(i => s"w$i").mkString(" ") // contained span
    val other = (100 to 160).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, long), (2L, short), (3L, other)).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, "doc_id", "text")
      .as[(Long, Long, Long, Long, Long, Double)].collect()
    assert(got.map(r => (r._1, r._2)).toSet == Set((1L, 2L)))
    val (_, _, nA, nB, nInter, c) = got.head
    assert(nA == 58L && nB == 18L && nInter == 18L && c == 1.0,
      s"short doc fully contained: got n_a=$nA n_b=$nB n_inter=$nInter c=$c")
    // symmetric Jaccard on the same pair would be 18/58 < the near-dup
    // threshold — the case this operator exists for
    assert(nInter.toDouble / (nA + nB - nInter) < 0.5)
  }

  test("q192 DSIR weights equal a sequential importance recompute") {
    val docs = Tables.documents(spark, d).select("doc_id", "source", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), words(r.getString(2))))
    def bucket(w: String): Long =
      math.floor(expressions.HashFraction.fraction(
        org.apache.spark.unsafe.types.UTF8String.fromString(w))
        * Curation.DsirBuckets).toLong
    val occ = docs.flatMap { case (id, src, ws) => ws.map(w => (id, src, bucket(w))) }
    val ct = occ.filter(_._2 == Curation.DsirTarget).groupBy(_._3)
      .view.mapValues(_.length.toLong).toMap.withDefaultValue(0L)
    val cr = occ.filter(_._2 != Curation.DsirTarget).groupBy(_._3)
      .view.mapValues(_.length.toLong).toMap.withDefaultValue(0L)
    val (nt, nr) = (ct.values.sum, cr.values.sum)
    // lr only exists for buckets SEEN in the corpus (the 256-row model
    // is built from observed occurrences)
    // HALF_UP (away from zero), matching Spark/DuckDB round() on the
    // NEGATIVE log-ratios too — math.round would round -x.5 upward
    val lrMicro = occ.map(_._3).distinct.map { b =>
      b -> BigDecimal((math.log((ct(b) + 1.0) / (nt + Curation.DsirBuckets))
        - math.log((cr(b) + 1.0) / (nr + Curation.DsirBuckets))) * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }.toMap
    def r(x: Double, s: Int) =
      BigDecimal(x).setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = docs.collect {
      case (id, src, ws) if src != Curation.DsirTarget && ws.nonEmpty =>
        val micro = ws.map(w => lrMicro(bucket(w))).sum
        (id, ws.size.toLong, r(micro / 1e6, 4), r(micro / 1e6 / ws.size, 6))
    }.toSet
    val got = SparkEntry.queries("q192_dsir_weights")(spark, d)
      .as[(Long, Long, Double, Double)].collect().toSet
    assert(got == expected)
    assert(got.nonEmpty)
    // the signal does its job on a planted contrast: a doc made of
    // target-exclusive vocabulary must outscore one of raw-exclusive
    // vocabulary (checked through the same model, per-word)
    val tOnly = occ.filter(o => ct(o._3) > 0 && cr(o._3) == 0).map(_._3)
    val rOnly = occ.filter(o => cr(o._3) > 0 && ct(o._3) == 0).map(_._3)
    if (tOnly.nonEmpty && rOnly.nonEmpty)
      assert(lrMicro(tOnly.head) > lrMicro(rOnly.head))
  }

  test("q193 CCNet buckets: exact scores, monotone tertiles, full coverage") {
    val docs = Tables.documents(spark, d).select("doc_id", "lang", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), words(r.getString(2))))
    val all = docs.flatMap(_._3)
    val cw = all.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val nTot = all.length.toLong
    def r(x: Double, s: Int) =
      BigDecimal(x).setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expectedScore = docs.collect { case (id, lang, ws) if ws.nonEmpty =>
      val micro = ws.map(w =>
        math.round(r(-math.log(cw(w).toDouble / nTot), 6) * 1e6)).sum
      (id, lang) -> ((ws.size.toLong, r(micro / 1e6 / ws.size, 4)))
    }.toMap
    val got = SparkEntry.queries("q193_ccnet_buckets")(spark, d)
      .as[(Long, String, Long, Double, String)].collect()
    // exact per-doc scores and full coverage of worded docs
    assert(got.map(g => (g._1, g._2) -> ((g._3, g._4))).toMap == expectedScore)
    // bucket assignment is monotone in score within each language and
    // uses all three labels' ordering (head <= middle <= tail)
    val ord = Map("head" -> 0, "middle" -> 1, "tail" -> 2)
    got.groupBy(_._2).foreach { case (lang, rows) =>
      rows.sortBy(_._4).map(x => ord(x._5)).toSeq.sliding(2).foreach {
        case Seq(a, b) => assert(a <= b, s"non-monotone buckets in $lang")
        case _ =>
      }
      // ties never straddle a boundary
      rows.groupBy(_._4).values.foreach(same =>
        assert(same.map(_._5).distinct.size == 1))
    }
    assert(got.map(_._5).distinct.toSet == Set("head", "middle", "tail"))
  }

  test("q179 catalog values match a sequential recompute on candidate pairs") {
    val docs = Tables.documents(spark, d).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> {
        val ws = words(r.getString(1))
        ws.sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSet
      }).toMap
    val got = SparkEntry.queries("q179_containment_dedup")(spark, d)
      .as[(Long, Long, Long, Long, Long, Double)].collect()
    assert(got.nonEmpty)
    got.foreach { case (a, b, nA, nB, nInter, c) =>
      val (sa, sb) = (docs(a), docs(b))
      assert(nA == sa.size && nB == sb.size && nInter == sa.intersect(sb).size)
      val raw = nInter.toDouble / math.min(nA, nB)
      assert(raw >= Dedup.ContainmentThreshold)
      assert(c == BigDecimal(raw).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
  }

  test("q199 decontaminate flags exactly the planted overlap") {
    // doc 17 hashes into the eval slice? Build the fixture AROUND the
    // hash: find one id in the eval band and two outside it, plant a
    // shared 5-gram between the eval doc and ONE train doc
    val ids = (1L to 200L)
    def frac(id: Long): Double = {
      val df = Seq(id).toDF("doc_id")
        .select(graft.queries.TextAnalytics.hashFraction(col("doc_id")).as("f"))
      df.collect().head.getDouble(0)
    }
    val evalId = ids.find(frac(_) < Curation.DecontamEvalFrac).get
    val trainIds = ids.filter(frac(_) >= Curation.DecontamEvalFrac).take(2)
    val shared = "alpha beta gamma delta epsilon"
    val docs = Seq(
      (evalId, s"intro words $shared closing words"),
      (trainIds(0), s"unrelated prefix then $shared and a suffix"),
      (trainIds(1), "completely different content with no overlap here"))
      .toDF("doc_id", "text")
    val out = Curation.decontaminate(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_shared_grams"), r.getAs[Long]("contaminated"))).toMap
    assert(!out.contains(evalId), "eval docs are excluded from the output")
    assert(out(trainIds(0))._2 == 1L && out(trainIds(0))._1 >= 1L)
    assert(out(trainIds(1)) == (0L, 0L))
  }

  test("q205 Bloom-gated decontamination equals q199's contaminated set") {
    // the sketch gate is a plan optimization: after the exact
    // confirming semi-join, q205's output must be exactly q199's
    // contaminated rows — false positives die in the join, and the
    // Bloom filter has no false NEGATIVES to lose a hit to. The
    // sf0.001 slice has no contamination, so plant the q199 fixture
    // (hash-aware eval/train split, one shared 5-gram) and compare
    // both paths on it.
    val ids = (1L to 200L)
    def frac(id: Long): Double = Seq(id).toDF("doc_id")
      .select(graft.queries.TextAnalytics.hashFraction(col("doc_id")).as("f"))
      .collect().head.getDouble(0)
    val evalId = ids.find(frac(_) < Curation.DecontamEvalFrac).get
    val trainIds = ids.filter(frac(_) >= Curation.DecontamEvalFrac).take(3)
    val shared = "alpha beta gamma delta epsilon"
    val docs = Seq(
      (evalId, s"intro words $shared closing words"),
      (trainIds(0), s"unrelated prefix then $shared and a suffix"),
      (trainIds(1), s"$shared repeated here too $shared again"),
      (trainIds(2), "completely different content with no overlap here"))
      .toDF("doc_id", "text")
    val exact = Curation.decontaminate(docs)
      .filter(col("contaminated") === 1L).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_shared_grams"))
      .toMap
    val gated = Curation.bloomDecontaminate(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_shared_grams"))
      .toMap
    assert(exact.keySet == Set(trainIds(0), trainIds(1)),
      s"fixture must contaminate exactly the two planted docs: $exact")
    assert(gated == exact)
    graft.SessionCache.clear()
  }

  test("q207 keep rule equals a sequential recompute AND the published Pareto form") {
    val docs = Tables.documents(spark, d).select("doc_id", "source", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), words(r.getString(2))))
    def frac(s: String): Double = expressions.HashFraction.fraction(
      org.apache.spark.unsafe.types.UTF8String.fromString(s))
    def bucket(w: String): Long =
      math.floor(frac(w) * Curation.DsirBuckets).toLong
    val occ = docs.flatMap { case (id, src, ws) =>
      ws.map(w => (id, src, bucket(w))) }
    val cp = occ.filter(_._2 == Curation.DsirTarget).groupBy(_._3)
      .view.mapValues(_.length.toLong).toMap.withDefaultValue(0L)
    val cn = occ.filter(_._2 != Curation.DsirTarget).groupBy(_._3)
      .view.mapValues(_.length.toLong).toMap.withDefaultValue(0L)
    val (np, nn) = (cp.values.sum, cn.values.sum)
    val lrMicro = occ.map(_._3).distinct.map { b =>
      b -> BigDecimal((math.log((cp(b) + 1.0) / (np + Curation.DsirBuckets))
        - math.log((cn(b) + 1.0) / (nn + Curation.DsirBuckets))) * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }.toMap
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = docs.collect { case (id, src, ws) if ws.nonEmpty =>
      val micro = ws.map(w => lrMicro(bucket(w))).sum
      val p = r6(1.0 / (1.0 + math.exp(-(micro / 1e6 / ws.size))))
      val d1 = 2.0 - p; val d2 = d1 * d1; val d4 = d2 * d2
      val kept =
        if (frac(id.toString) > 1.0 - 1.0 / ((d4 * d4) * d1)) 1L else 0L
      (id, src, ws.size.toLong, micro, p, kept)
    }.toSet
    val got = SparkEntry.queries("q207_quality_classifier")(spark, d)
      .as[(Long, String, Long, Long, Double, Long)].collect().toSet
    assert(got == expected)
    assert(got.nonEmpty)
    // the closed-form decision IS the published rule: for every doc,
    // kept <=> np.random.pareto(9) > 1 - score with the pareto draw
    // inverse-CDF'd from the same uniform
    for ((id, _, _, _, p, kept) <- got) {
      val u = frac(id.toString)
      val pareto = math.pow(1.0 - u, -1.0 / Curation.ParetoAlpha) - 1.0
      assert((pareto > 1.0 - p) == (kept == 1L),
        s"doc $id: u=$u p=$p kept=$kept pareto=$pareto")
    }
    // the Pareto smoothing admits SOME low-p docs and drops SOME
    // high-p docs — a stochastic, not truncation, rule; at minimum
    // both verdicts must occur
    assert(got.exists(_._6 == 1L) && got.exists(_._6 == 0L))
    // planted contrast: trained on curated-vs-junk vocabularies, a raw
    // doc written in the curated vocabulary must outscore a junk raw
    // doc through the same model
    val curated = (1L to 8L).map(i =>
      (i, "good", "signal lucid cogent precise clear"))
    val raw = Seq(
      (100L, "crawl", "signal lucid cogent precise clear"),
      (101L, "crawl", "zzspam qqjunk xxnoise wwblah vvgarbage"))
    val fx = (curated ++ raw).toDF("doc_id", "source", "text")
    val byId = Curation.qualityClassifier(fx, "good").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("p_curated")).toMap
    assert(byId(100L) > byId(101L),
      s"curated-vocab raw doc must outscore junk: $byId")
    graft.SessionCache.clear()
  }

  test("q211 budget cut equals the sequential greedy-by-density " +
    "knapsack on the fixture corpus") {
    val docs = Tables.documents(spark, d)
    // per-doc (source, n_tok, stop_n) under the ENGINE's own counter
    // (the token estimator is the operator's parameter, not under
    // test); the greedy cut is recomputed sequentially from there
    val stops = graft.queries.TextAnalytics.Stopwords.toSet
    val rows = docs.select(col("doc_id"), col("source"),
        graft.functions.token_count(col("text")).cast("long").as("n_tok"),
        col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        words(r.getString(3)).count(stops).toLong))
      .filter(_._3 > 0L)
    val ordered = rows.sortBy { case (id, _, tok, stop) =>
      (-(stop.toDouble / tok), id) }
    val budget = rows.map(_._3).sum / Curation.BudgetDenom
    var acc = 0L
    val selected = ordered.takeWhile { case (_, _, tok, _) =>
      acc += tok; acc <= budget }
    val expected = selected.groupBy(_._2).view.mapValues(g =>
      (g.length.toLong, g.map(_._3).sum)).toMap
    assert(selected.nonEmpty && selected.length < rows.length,
      "fixture budget must bind strictly inside the corpus")
    val got = Curation.budgetSelect(docs).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_sel"), r.getAs[Long]("tok_sel")))).toMap
    assert(got == expected,
      s"diverges: missing=${(expected.toSet -- got.toSet).take(3)} " +
        s"extra=${(got.toSet -- expected.toSet).take(3)}")
    graft.SessionCache.clear()
  }

  test("q211 budget cut equals the sequential greedy on RANDOM corpora " +
    "(density ties, zero-token docs, stopword-free docs fuzzed)") {
    // stresses exactly what the range-partitioned prefix sum must get
    // right: duplicated densities (tie-break on doc_id), docs with no
    // stopwords (density 0 — the -0.0/+0.0 edge), and empty texts
    // (zero tokens — excluded from both budget and selection).
    // Seeded => reproducible.
    val stopSeq = graft.queries.TextAnalytics.Stopwords
    for (seed <- Seq(13, 77, 501)) {
      val rnd = new scala.util.Random(seed)
      val vocab = Vector("alpha", "beta", "gamma", "delta") ++ stopSeq
      val docs = (0 until 50).map { i =>
        val n = rnd.nextInt(12) // 0..11 words; 0 => zero tokens
        (i.toLong, s"src${rnd.nextInt(3)}",
          Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }.toDF("doc_id", "source", "text")
      val stops = stopSeq.toSet
      val rows = docs.select(col("doc_id"), col("source"),
          graft.functions.token_count(col("text")).cast("long").as("n_tok"),
          col("text")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          words(r.getString(3)).count(stops).toLong))
        .filter(_._3 > 0L)
      val ordered = rows.sortBy { case (id, _, tok, stop) =>
        (-(stop.toDouble / tok), id) }
      val budget = rows.map(_._3).sum / Curation.BudgetDenom
      var acc = 0L
      val selected = ordered.takeWhile { case (_, _, tok, _) =>
        acc += tok; acc <= budget }
      val expected = selected.groupBy(_._2).view.mapValues(g =>
        (g.length.toLong, g.map(_._3).sum)).toMap
      val got = Curation.budgetSelect(docs).collect()
        .map(r => r.getAs[String]("source") ->
          ((r.getAs[Long]("n_sel"), r.getAs[Long]("tok_sel")))).toMap
      assert(got == expected, s"seed $seed diverges: got=$got want=$expected")
      graft.SessionCache.clear()
    }
  }
}
