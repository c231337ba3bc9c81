package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Similarity

/** Behavioral checks on planted vectors (the catalog queries are
  * oracle-locked; these document the semantics — in particular the ANN
  * recall bar on a planted-near-duplicate corpus, which the random
  * testdata embeddings cannot measure).
  */
class SimilaritySpec extends AnyFunSuite with CacheCleanup {
  import TestSpark.spark
  import spark.implicits._

  private val v = Array.tabulate(64)(i => (math.sin(i + 1)).toFloat)
  private val w = Array.tabulate(64)(i => (math.cos(i * 3 + 2)).toFloat)

  test("cosine: exact duplicates score 1.0; self-consistency of norms") {
    val df = Seq((1L, v.toSeq), (2L, v.toSeq), (3L, w.toSeq))
      .toDF("id", "emb")
    val pair = df.as("a").crossJoin(df.as("b"))
      .select(col("a.id").as("ia"), col("b.id").as("ib"),
        Similarity.cosine(col("a.emb"), col("b.emb")).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pair((1L, 2L)) == 1.0)
    assert(pair((1L, 1L)) == 1.0)
    assert(math.abs(pair((1L, 3L))) < 1.0)
  }

  test("duplicate vectors share the ANN signature bucket (always found)") {
    val df = Seq((1L, v.toSeq), (2L, v.toSeq), (3L, w.toSeq))
      .toDF("id", "emb")
    val sigs = df.select(col("id"),
      Similarity.hyperplaneSig(col("emb"), Similarity.Q52Bits).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(sigs(1L) == sigs(2L),
      "identical vectors must always land in the same bucket")
    assert(sigs(1L).length == Similarity.Q52Bits &&
      sigs(1L).forall(c => c == '0' || c == '1'))
  }

  /** Planted corpus: 20 query vectors (label 0), each with 3 near-
    * duplicates at cosine ≈ 0.995 (label 1), plus 200 random background
    * vectors (label 2). Brute-force top-3 per query is exactly its 3
    * plants (background cosines stay < 0.6), so recall@3 of the ANN
    * against brute force measures how often hyperplane-LSH buckets
    * recover a true near-duplicate.
    */
  private lazy val planted = {
    val rnd = new scala.util.Random(4242)
    def gauss(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Float], Int)]
    var id = 0L
    (0 until 20).foreach { _ =>
      val base = gauss()
      rows += ((id, base.toSeq, 0)); id += 1
      (0 until 3).foreach { _ =>
        val noise = gauss()
        val dup = base.zip(noise).map { case (x, n) => x + 0.1f * n }
        rows += ((id, dup.toSeq, 1)); id += 1
      }
    }
    (0 until 200).foreach { _ => rows += ((id, gauss().toSeq, 2)); id += 1 }
    rows.toSeq.toDF("vec_id", "embedding", "label")
      .withColumn("embedding", col("embedding").cast("array<float>"))
  }

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select(col("q_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("multi-probe ANN recall@3 >= 0.8 vs brute force on planted near-dups") {
    val brute = pairs(Similarity.bruteTopK(planted, 3))
    val ann = pairs(Similarity.annMultiprobe(planted, Similarity.Q52Bits, 3))
    assert(brute.size == 60)
    val recall = brute.intersect(ann).size.toDouble / brute.size
    assert(recall >= 0.8, s"recall@3 $recall < 0.8")
  }

  test("IVF ANN recall@3 >= 0.8 vs brute force on planted near-dups") {
    // near-duplicates land in the same centroid cell as their base with
    // high probability (their centroid cosines are ~equal), so IVF with
    // 2 probes recovers most planted pairs
    val brute = pairs(Similarity.bruteTopK(planted, 3))
    val ivf = pairs(Similarity.annIvf(planted, 3, 3))
    val recall = brute.intersect(ivf).size.toDouble / brute.size
    assert(recall >= 0.8, s"IVF recall@3 $recall < 0.8")
  }

  test("IVF cell layout: serving reads only the probed directories, top-k unchanged") {
    val out = Harness.tempDir("ivf-cells").toString + "/cells"
    Similarity.writeIvfCells(planted, out)
    // a serving request: TWO queries, nprobe=2 — at most 4 of the ~17
    // cells may be touched
    val qids = planted.filter(col("label") === 0)
      .select(col("vec_id")).orderBy(col("vec_id"))
      .limit(2).collect().map(_.getLong(0)).toSeq
    val qprobes = Similarity.ivfQueryProbes(planted, 2)
      .filter(col("q_id").isin(qids.map(Long.box): _*))
    val probeCells = qprobes.select(col("cent_id")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(probeCells.nonEmpty && probeCells.size <= 4)

    val served = Similarity.serveIvfTopK(spark, out, qprobes, 3)
    // plan-time pruning: the scan carries partition filters, and every
    // file it reads sits under a probed cell's directory
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan.take(800))
    val pruned = spark.read.parquet(out)
      .withColumn("cent_id", col("cent_id").cast("long"))
      .filter(col("cent_id").isin(probeCells.toSeq.map(Long.box): _*))
    val files = pruned.select(input_file_name()).distinct()
      .collect().map(_.getString(0))
    assert(files.nonEmpty &&
      files.forall(f => probeCells.exists(c => f.contains(s"cent_id=$c/"))),
      files.mkString(", "))
    val allCells = spark.read.parquet(out)
      .select(col("cent_id")).distinct().count()
    assert(probeCells.size < allCells,
      s"pruning vacuous: ${probeCells.size} of $allCells cells probed")

    // and the served rows are EXACTLY the in-memory annIvf rows for
    // the same queries — the layout changes the read cost, never the
    // answer
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("q_id").isin(qids.map(Long.box): _*))
        .select(col("q_id"), col("neighbor_id"), col("rn"), col("cosine"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
        .sortBy(t => (t._1, t._3))
        .toSeq
    assert(rows(served) == rows(Similarity.annIvf(planted, 2, 3)))
  }

  test("IVF centroid count is ~sqrt(N): sublinear, bounded broadcast") {
    // the round-4 design sampled every stride-th vector (N/16 centroids:
    // a linearly-growing broadcast and an O(N^2/stride) assignment);
    // the fix targets ceil(sqrt(N))/N, so quadrupling the corpus must
    // roughly DOUBLE the centroid set, not quadruple it. Hash sampling
    // is deterministic, so these counts are stable forever.
    def corpus(n: Int) = {
      val rnd = new scala.util.Random(7)
      (0 until n).map(i =>
        (i.toLong, Array.fill(64)(rnd.nextGaussian().toFloat).toSeq, 2))
        .toDF("vec_id", "embedding", "label")
        .withColumn("embedding", col("embedding").cast("array<float>"))
    }
    def nCents(n: Int): Long = {
      val e = corpus(n).withColumn("nrm", lit(1.0))
      Similarity.ivfCentroids(e).count()
    }
    val small = nCents(1024)  // expected ~32
    val big = nCents(4096)    // expected ~64
    assert(small >= 16 && small <= 64, s"centroids($small) for N=1024")
    assert(big >= 32 && big <= 128, s"centroids($big) for N=4096")
    assert(big < 3 * small,
      s"4x corpus must not ~4x the centroid set ($small -> $big)")
  }

  test("probing lifts recall over exact-bucket ANN (same width)") {
    val brute = pairs(Similarity.bruteTopK(planted, 3))
    val exact = pairs(Similarity.annBuckets(planted, Similarity.Q52Bits, 3))
    val probed = pairs(Similarity.annMultiprobe(planted, Similarity.Q52Bits, 3))
    assert(brute.intersect(probed).size > brute.intersect(exact).size)
  }

  test("ANN cosines are IDENTICAL to brute force on shared pairs") {
    // planted fixture: recall >= 0.8 GUARANTEES a non-empty overlap, so
    // this identity property can never pass vacuously
    def scoredPairs(df: org.apache.spark.sql.DataFrame) =
      df.select(col("q_id"), col("neighbor_id"), col("cosine"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val brute = scoredPairs(Similarity.bruteTopK(planted, 3))
    val ann = scoredPairs(
      Similarity.annMultiprobe(planted, Similarity.Q52Bits, 3))
    val shared = ann.keySet.intersect(brute.keySet)
    assert(shared.nonEmpty, "empty overlap would make this test vacuous")
    shared.foreach(k => assert(ann(k) == brute(k),
      s"cosine diverged on $k: same expression must give the same fold"))
    // and the catalog queries still produce rows on the real fixture
    val d = TestSpark.sf0001
    assert(graft.queries.Similarity.queries("q52_ann_multiprobe")(spark, d)
      .count() > 0)
  }

  test("q200 fixed-Q serving arm equals q38 restricted to its query slice") {
    // the fixed-Q arm must be the SAME exact computation as the full
    // brute baseline, just over a pinned benchmark-sized query set —
    // so q38's rows for the FixedQCount lowest label-0 vec_ids are
    // exactly q200's rows (same neighbors, same ranks, same cosines)
    val d = TestSpark.sf0001
    val emb = graft.Tables.embeddings(spark, d)
    val qIds = emb.filter(col("label") === 0)
      .select(col("vec_id")).orderBy(col("vec_id"))
      .limit(Similarity.FixedQCount)
      .collect().map(_.getLong(0)).toSet
    assert(qIds.nonEmpty && qIds.size <= Similarity.FixedQCount)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("q_id").isInCollection(qIds))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
        .toSet
    val full = rows(Similarity.bruteTopK(emb, 5))
    val fixed = rows(
      Similarity.bruteTopKFixedQ(emb, 5, Similarity.FixedQCount))
    assert(fixed == full,
      "fixed-Q arm diverged from the full baseline on its own slice")
  }

  test("q165 JL projection is bit-equal to a sequential recompute") {
    val d = TestSpark.sf0001
    def r6(x: Double) = BigDecimal(java.math.BigDecimal.valueOf(x))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val vecs = graft.Tables.embeddings(spark, d)
      .select("vec_id", "embedding").collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding").toArray).toMap
    val got = SparkEntry.queries("q165_jl_projection")(spark, d).collect()
    assert(got.length == vecs.size)
    got.foreach { r =>
      val v = vecs(r.getAs[Long]("vec_id"))
      // same left-to-right fold as VecDot: ((a0*b0)+a1*b1)+...
      val raw = (0 until Similarity.JlDim).map { j =>
        val p = Similarity.PlanePool(Similarity.JlOffset + j)
        var acc = 0.0
        for (i <- v.indices) acc += v(i).toDouble * p(i).toDouble
        acc / 4.0
      }
      // one scalar column per dim (p00..p15) — the array form broke
      // the driver's pandas oracle compare (VERDICT r6 #3)
      val proj = (0 until Similarity.JlDim)
        .map(j => r.getAs[Double](f"p$j%02d"))
      assert(proj == raw.map(r6),
        s"vec ${r.getAs[Long]("vec_id")} projection diverged")
      var sq = 0.0
      raw.foreach(x => sq += x * x)
      var nrm = 0.0
      v.foreach(x => nrm += x.toDouble * x.toDouble)
      assert(r.getAs[Double]("norm_ratio") ==
        r6(math.sqrt(sq) / math.sqrt(nrm)))
    }
    // JL concentration sanity: most norm ratios sit near 1
    val ratios = got.map(_.getAs[Double]("norm_ratio"))
    val near = ratios.count(x => x > 0.5 && x < 1.5)
    assert(near.toDouble / ratios.length > 0.8,
      s"JL distortion out of family: ${ratios.take(10).mkString(",")}")
  }

  test("q168 hard negatives equal a sequential argmax recompute") {
    val d = TestSpark.sf0001
    def r6(x: Double) = BigDecimal(java.math.BigDecimal.valueOf(x))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val vecs = graft.Tables.embeddings(spark, d)
      .select("vec_id", "embedding", "label").collect()
      .map(r => (r.getAs[Long]("vec_id"),
        r.getAs[scala.collection.Seq[Float]]("embedding").toArray,
        r.getAs[Int]("label")))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d0 = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        d0 += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
      }
      r6(d0 / (math.sqrt(na) * math.sqrt(nb)))
    }
    val expected = vecs.filter(_._3 == 0).map { case (qid, qv, ql) =>
      val others = vecs.filter(_._1 != qid)
      // argmax by (cos desc, id asc) — the engine's rounded tie-break
      def best(pred: Int => Boolean) =
        others.filter(v => pred(v._3))
          .map(v => (v._1, cos(qv, v._2)))
          .minBy { case (id, c) => (-c, id) }
      val p = best(_ == ql); val n = best(_ != ql)
      qid -> ((p._1, p._2, n._1, n._2, r6(p._2 - n._2)))
    }.toMap
    val got = SparkEntry.queries("q168_hard_negatives")(spark, d).collect()
      .map(r => r.getAs[Long]("q_id") ->
        ((r.getAs[Long]("pos_id"), r.getAs[Double]("pos_cos"),
          r.getAs[Long]("neg_id"), r.getAs[Double]("neg_cos"),
          r.getAs[Double]("margin")))).toMap
    assert(got == expected,
      s"sizes got=${got.size} expected=${expected.size}")
    // the mining is non-vacuous: some anchor's hardest negative beats
    // its positive (that is what "hard" means on a random corpus)
    assert(got.values.exists(_._5 < 0), "no hard confusions found")
  }

  test("q170 ann recall equals a recount of the two arms") {
    val d = TestSpark.sf0001
    val truth = SparkEntry.queries("q38_cosine_topk")(spark, d)
      .filter(col("rn") <= 3).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id")))
    val approx = SparkEntry.queries("q52_ann_multiprobe")(spark, d)
      .collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id")))
      .toSet
    def r6(x: Double) = BigDecimal(java.math.BigDecimal.valueOf(x))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = truth.groupBy(_._1).map { case (q, rows) =>
      val hits = rows.count(approx.contains).toLong
      q -> ((hits, r6(hits / 3.0)))
    }
    val got = SparkEntry.queries("q170_ann_recall")(spark, d).collect()
      .map(r => r.getAs[Long]("q_id") ->
        ((r.getAs[Long]("n_hits"), r.getAs[Double]("recall_at_3")))).toMap
    assert(got == expected, s"sizes got=${got.size} exp=${expected.size}")
    // Non-vacuity: the arms really intersect somewhere. (The VALUE is
    // honestly low on this fixture — uniform random vectors have weak
    // nearest neighbors, which hash-bucket LSH misses; measuring that
    // is exactly what the surface is for. The planted-near-dup recall
    // >= 0.8 spec above is the quality bar where recall is earnable.)
    assert(got.values.exists(_._1 > 0), "no overlap at all between arms")
  }

  test("q180 k-center greedy equals a sequential Gonzalez recompute") {
    val d = TestSpark.sf0001
    def r6(x: Double) = BigDecimal(java.math.BigDecimal.valueOf(x))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val vecs = graft.Tables.embeddings(spark, d)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getAs[Long]("vec_id"),
        r.getAs[scala.collection.Seq[Float]]("embedding").toArray))
      .sortBy(_._1)
    def cosDist(a: Array[Float], b: Array[Float]): Double = {
      var d0 = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        d0 += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
      }
      1.0 - r6(d0 / (math.sqrt(na) * math.sqrt(nb)))
    }
    var chosen = Vector((vecs.head._1, Option.empty[Double]))
    val mind = scala.collection.mutable.Map(
      vecs.map(v => v._1 -> cosDist(v._2, vecs.head._2)): _*)
    val byId = vecs.toMap
    while (chosen.size < graft.queries.Similarity.KCenterK) {
      val (nextId, radius) = vecs.map(v => (v._1, mind(v._1)))
        .minBy { case (id, m) => (-m, id) } // (mind desc, id asc)
      chosen = chosen :+ ((nextId, Some(radius)))
      vecs.foreach { v =>
        mind(v._1) = math.min(mind(v._1), cosDist(v._2, byId(nextId)))
      }
    }
    val expected = chosen.zipWithIndex
      .map { case ((id, r), i) => (i + 1, id, r.map(r6)) }
    val got = SparkEntry.queries("q180_kcenter_coreset")(spark, d).collect()
      .map(r => (r.getAs[Int]("step"), r.getAs[Long]("vec_id"),
        Option(r.getAs[java.lang.Double]("radius")).map(_.doubleValue)))
      .sortBy(_._1).toVector
    assert(got == expected)
    // greedy invariant: the coverage radius never increases
    val radii = got.flatMap(_._3)
    assert(radii == radii.sorted.reverse, s"radii must be non-increasing: $radii")
  }

  test("q180 running-min variant selects identically to the rescan form") {
    // the persisted-running-min implementation (O(N·d) per sweep; the
    // catalog's) must make exactly the choices of the rescan reference
    // (O(K·N·d)) — incremental least of the same rounded cosines
    val d = TestSpark.sf0001
    val emb = graft.Tables.embeddings(spark, d)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Int]("step"), r.getAs[Long]("vec_id"),
        Option(r.getAs[java.lang.Double]("radius")).map(_.doubleValue)))
      .sortBy(_._1).toVector
    val fast = rows(graft.queries.Similarity.kCenterCoreset(emb, 6))
    val slow = rows(graft.queries.Similarity.kCenterCoresetRescan(emb, 6))
    assert(fast == slow)
  }

  test("q190 IVF-PQ serving retrieves planted families through codes alone") {
    import spark.implicits._
    // four orthogonal 64-dim "families" (pattern f = one-hot blocks at
    // offset f within each 16-dim subspace); members carry small smooth
    // noise. Seeds for the PQ codebooks are the 4 smallest-hash ids, so
    // assign families such that each seed lands in a different family —
    // then every subspace codebook learns all four patterns and ADC
    // must rank same-family candidates first even though scoring never
    // touches the raw vectors.
    val ids = (1L to 44L)
    val hashOrder = ids.toDF("vec_id")
      .select(col("vec_id"),
        graft.queries.TextAnalytics.hashFraction(col("vec_id")).as("hf"))
      .orderBy(col("hf"), col("vec_id"))
      .collect().map(_.getLong(0)).toSeq
    val seedIds = hashOrder.take(4)
    val rest = ids.filterNot(seedIds.contains)
    val family: Map[Long, Int] =
      seedIds.zipWithIndex.toMap ++
        rest.zipWithIndex.map { case (id, i) => id -> (i % 4) }.toMap
    def pattern(f: Int): Array[Float] =
      Array.tabulate(64)(i => if (i % 16 == f * 4) 10f else 0f)
    // one query per family: the 4 largest ids, label 0
    val queryIds = ids.toSeq.sortBy(-_).take(4)
    val emb = ids.map { id =>
      val base = pattern(family(id))
      val noisy = if (seedIds.contains(id)) base
        else base.zipWithIndex.map { case (x, j) =>
          x + 0.1f * math.sin(id * 13.0 + j * 5.0).toFloat }
      (id, noisy, if (queryIds.contains(id)) 0 else 1)
    }.toDF("vec_id", "embedding", "label")
    val out = graft.queries.Similarity.ivfPqServe(emb).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rank"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("adc_d2")))
    assert(out.nonEmpty)
    out.groupBy(_._1).foreach { case (q, rows) =>
      // ADC ordering is sane and every retrieved neighbor shares the
      // query's family — the codes alone carried the structure
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._4).toSeq == sorted.map(_._4).sorted.toSeq)
      sorted.foreach { case (_, _, n, _) =>
        assert(family(n) == family(q),
          s"query $q (family ${family(q)}) retrieved $n (family ${family(n)})")
      }
    }
    assert(out.groupBy(_._1).size == 4, "every planted query must answer")
  }

  test("q183 flags a planted garbage vector and spares the population") {
    import spark.implicits._
    // 40 well-behaved vectors (small deterministic noise around a
    // fixed pattern) + one encoder-failure row (a constant huge spike)
    val normal = (1L to 40L).map { id =>
      id -> Array.tabulate(64)(j =>
        (math.sin(j + 1) + 0.05 * math.sin(id * 31.0 + j * 7.0)).toFloat)
    }
    val garbage = 99L -> Array.fill(64)(50f)
    val emb = (normal :+ garbage).toDF("vec_id", "embedding")
    val out = graft.queries.Similarity.embeddingOutliers(spark, emb)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Double]("score"), r.getAs[Boolean]("is_outlier")))).toMap
    assert(out.size == 41)
    assert(out(99L)._2, s"garbage vector not flagged: score=${out(99L)._1}")
    val normalFlagged = normal.map(_._1).filter(id => out(id)._2)
    assert(normalFlagged.isEmpty,
      s"population rows falsely flagged: $normalFlagged")
    // and the ordering is meaningful: garbage scores far above everyone
    assert(out(99L)._1 > 2 * normal.map(n => out(n._1)._1).max)
  }

  test("q197 nDCG/RR equal a sequential recompute from the two arms' lists") {
    import graft.queries.Similarity
    val d = TestSpark.sf0001
    val e = Tables.embeddings(TestSpark.spark, d)
    val k = Similarity.NdcgK
    def lists(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Int]("rn")))
      .groupBy(_._1).map { case (q, v) =>
        q -> v.map(x => x._2 -> x._3).toMap
      }
    val truth = lists(Similarity.bruteTopK(e, k))
    val approx = lists(Similarity.annMultiprobe(e, Similarity.Q52Bits, k))
    def micro(x: Double) =
      BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    def log2(x: Double) = math.log(x) / math.log(2.0)
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = approx.collect { case (q, al) if truth.contains(q) =>
      val tl = truth(q)
      val idcg = tl.values.map(tr => micro((k + 1.0 - tr) / log2(tr + 1.0) * 1e6)).sum
      val dcg = al.collect { case (n, ar) if tl.contains(n) =>
        micro((k + 1.0 - tl(n)) / log2(ar + 1.0) * 1e6)
      }.sum
      val overlap = al.keys.count(tl.contains).toLong
      val rr = tl.find(_._2 == 1).flatMap { case (n1, _) =>
        al.get(n1).map(p => micro(1e6 / p))
      }.getOrElse(0L)
      (q, overlap, r6(dcg.toDouble / idcg), r6(rr / 1e6))
    }.toSet
    val got = SparkEntry.queries("q197_ann_ndcg")(TestSpark.spark, d)
      .as[(Long, Long, Double, Double)].collect().toSet
    assert(got == expected)
    assert(got.nonEmpty)
    // sanity on the metric itself: nDCG and RR live in [0, 1], and a
    // query whose approx list perfectly matches truth scores 1.0
    got.foreach { case (q, _, ndcg, rr) =>
      assert(ndcg >= 0.0 && ndcg <= 1.0 + 1e-9, s"q$q ndcg=$ndcg")
      assert(rr >= 0.0 && rr <= 1.0, s"q$q rr=$rr")
    }
  }
}
