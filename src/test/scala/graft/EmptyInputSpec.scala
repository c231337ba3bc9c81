package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Dedup

/** Empty corpora must produce empty (not crashing) results everywhere —
  * the reference tolerates empty input (mapreduce_test.go:441-451); the
  * engine's operators must too.
  */
class EmptyInputSpec extends AnyFunSuite with CacheCleanup {
  import TestSpark.spark
  import spark.implicits._

  private val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
  private val noVecs = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")

  test("dedup family on an empty corpus") {
    assert(Dedup.exactDedup(noDocs, "doc_id", "text").count() == 0)
    assert(Dedup.minhashCandidates(noDocs, "doc_id", "text").count() == 0)
    assert(Dedup.simhash(noDocs, "doc_id", "text").count() == 0)
    assert(Dedup.ngramJaccard(noDocs, "doc_id", "text").count() == 0)
    assert(Dedup.embeddingNearDups(noVecs, 0.5).count() == 0)
    assert(Dedup.winnowFingerprints(noDocs, "doc_id", "text").count() == 0)
    val noPairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.neardupClusters(noDocs, noPairs, "doc_id").count() == 0)
    assert(Dedup.keepNearDupSurvivors(noDocs, "doc_id", "text").count() == 0)
  }

  test("chunker on an empty corpus: zero rows, the chunk table's columns") {
    val chunks = graft.pipeline.Chunker.chunkTable(noDocs, "doc_id", "text")
    assert(chunks.columns.toSeq == Seq("chunk_id", "text", "n_tokens", "n_records"))
    assert(chunks.count() == 0)
  }

  test("map stage on an empty chunk table: zero rows, zero model calls") {
    CountingClient.reset()
    val noChunks = Seq.empty[(Long, String)].toDF("chunk_id", "text")
    val out = graft.pipeline.LlmMap.mapChunks(noChunks, CountingClient("keep"), "p")
    assert(out.columns.toSeq == Seq("chunk_id", "text", "result"))
    assert(out.collect().isEmpty)
    assert(CountingClient.calls.get() == 0)
  }

  test("similarity and lang-id on an empty corpus") {
    val noLabeled = Seq.empty[(Long, Seq[Float], Int)]
      .toDF("vec_id", "embedding", "label")
    assert(graft.queries.Similarity.bruteTopK(noLabeled, 3).count() == 0)
    assert(graft.queries.Similarity.annMultiprobe(noLabeled, 10, 3).count() == 0)
    assert(graft.queries.Similarity.annIvf(noLabeled, 2, 3).count() == 0)
    val noLangDocs = Seq.empty[(Long, String, String)]
      .toDF("doc_id", "text", "lang")
    val profiles = graft.queries.TextAnalytics.langProfiles(noLangDocs, 20)
    val langs = noLangDocs.select(col("lang")).distinct()
    assert(graft.queries.TextAnalytics
      .predictLang(noLangDocs, profiles, langs).count() == 0)
  }

  test("round-7 operators on empty and degenerate inputs") {
    // prefix-filter join: empty corpus and a corpus of ONE doc (no
    // pairs) both yield empty candidate sets, not crashes
    assert(Dedup.prefixFilterJoin(noDocs, "doc_id", "text", 0.6)
      .count() == 0)
    val one = Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
    assert(Dedup.prefixFilterJoin(one, "doc_id", "text", 0.6).count() == 0)
    // sssp on an empty edge set: the source is 0, everything else NULL
    val ns = Seq(0L, 1L).toDF("node")
    val noEdges = Seq.empty[(Long, Long, Long)].toDF("src", "dst", "cost")
    val d = graft.queries.Graph.sssp(ns, noEdges, 0L, 2).collect()
      .map(r => r.getAs[Long]("node") ->
        Option(r.getAs[java.lang.Long]("dist"))).toMap
    assert(d == Map(0L -> Some(0L), 1L -> None))
    // semDeDup: empty corpus -> empty; singleton corpus -> kept whole
    assert(graft.queries.Clustering.semDeDup(noVecs, 2, 2, 0.5).count() == 0)
    val lone = Seq((1L, Seq(1f, 0f))).toDF("vec_id", "embedding")
    val kept = graft.queries.Clustering.semDeDup(lone, 2, 2, 0.5).collect()
    assert(kept.length == 1 && kept.head.getAs[Long]("kept") == 1L)
  }

  test("round-8 degenerate inputs: zorder constant dim, MAD=0 outlier, 1-centroid silhouette") {
    // q185 guard: a constant dimension (every event in one hour) maps
    // to x16 = 0 instead of dividing by zero / emitting silent nulls —
    // the layout degrades to a single-key sort on the other dimension
    val flat = Seq((5L, 1L), (5L, 2L), (5L, 900L)).toDF("x", "y")
    val zr = graft.queries.Warehouse.zorderLayout(flat).collect()
    assert(zr.nonEmpty)
    assert(zr.forall(r => r.getAs[Long]("x_lo") == 0L &&
      r.getAs[Long]("x_hi") == 0L))
    assert(zr.map(_.getAs[Long]("n_rows")).sum == 3L)
    // q183 fallback: 11 identical vectors + 1 extreme — every projected
    // dim has MAD 0 (12 of 12 values at the median except the planted
    // one), so without the meanAD fallback the outlier would score 0
    // and hide; with it, it must flag
    val base = Seq.fill(64)(0.5f)
    val vecs = (1L to 11L).map(i => (i, base)) :+ (99L, Seq.fill(64)(25f))
    val out = graft.queries.Similarity
      .embeddingOutliers(spark, vecs.toDF("vec_id", "embedding"))
      .collect().map(r => r.getAs[Long]("vec_id") ->
        r.getAs[Boolean]("is_outlier")).toMap
    assert(out(99L), "planted extreme vector must be flagged despite MAD=0")
    assert((1L to 11L).forall(i => !out(i)))
    // q189 guard: k = 1 leaves no "nearest other centroid" — empty
    // result (matching the oracle's rn = 2 inner join), not null rows
    val few = Seq((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)), (3L, Seq(1f, 1f)))
      .toDF("vec_id", "embedding")
    assert(graft.queries.Clustering.clusterSilhouette(few, 1, 1).count() == 0)
  }

  test("round-8 operators (q194-q197) on empty and degenerate inputs") {
    // q194: empty corpus -> empty battery; an empty-text doc has
    // n_words = 0, so every n_words-guarded rule is 0 and keep = 0
    // (never a divide-by-zero or a null verdict)
    val noSrcDocs = Seq.empty[(Long, String, String)]
      .toDF("doc_id", "text", "source")
    assert(graft.queries.TextAnalytics.gopherRules(noSrcDocs).count() == 0)
    val blank = Seq((1L, "", "web")).toDF("doc_id", "text", "source")
    val br = graft.queries.TextAnalytics.gopherRules(blank).collect()
    assert(br.length == 1)
    assert(br.head.getAs[Long]("n_rules_passed") == 0L &&
      br.head.getAs[Long]("keep") == 0L)
    // q195: empty corpus -> no profile rows; a source whose only doc
    // has zero words drops out of the inner word-join entirely (the
    // oracle's semantics), rather than emitting a null-ratio row
    assert(graft.queries.TextAnalytics.lexicalProfile(noSrcDocs).count() == 0)
    assert(graft.queries.TextAnalytics.lexicalProfile(blank).count() == 0)
    // q196: no events -> no attribution rows; a purchase with no view
    // anywhere still surfaces once as a null-view outer row
    val noEvents = Seq.empty[(Long, java.sql.Timestamp, Long, String, Double)]
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    assert(graft.streaming.StreamingJobs
      .attributionJoinOuter(noEvents, noEvents).count() == 0)
    val purchaseOnly = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 7L,
        "purchase", 5.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val po = graft.streaming.StreamingJobs
      .attributionJoinOuter(purchaseOnly, purchaseOnly).collect()
    assert(po.length == 1 && po.head.isNullAt(po.head.fieldIndex("view_id")))
    // q197: empty corpus -> empty eval; and a QUERY SET LARGER THAN
    // THE CORPUS REMAINDER (all rows are label-0 queries, k far above
    // corpus size) must yield valid [0,1] nDCG rows, not a crash or
    // a >1 score from a short ideal list
    val noLabeled = Seq.empty[(Long, Seq[Float], Int)]
      .toDF("vec_id", "embedding", "label")
    assert(graft.queries.Similarity.annNdcg(noLabeled, 10,
      graft.queries.Similarity.Q52Bits).count() == 0)
    val allQueries = Seq(
      (1L, Seq.fill(64)(1f), 0), (2L, Seq.fill(64)(0.9f), 0),
      (3L, Seq.fill(64)(-1f), 0))
      .toDF("vec_id", "embedding", "label")
    val nd = graft.queries.Similarity
      .annNdcg(allQueries, 10, graft.queries.Similarity.Q52Bits).collect()
    assert(nd.nonEmpty)
    assert(nd.forall { r =>
      val s = r.getAs[Double]("ndcg_at_10"); s >= 0.0 && s <= 1.0 })
  }

  test("round-9 operators (q198/q199) on empty corpora") {
    // repetition battery: no docs -> no rows (empty-text behavior is
    // covered by TextAnalyticsSpec's planted fixture)
    val noSrcDocs2 = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(graft.queries.TextAnalytics.repetitionBattery(noSrcDocs2)
      .count() == 0)
    // decontamination: no docs -> no rows; a corpus whose every doc is
    // SHORTER than the n-gram width has no grams on either side, so
    // every training doc comes back clean rather than dropping out
    assert(graft.queries.Curation.decontaminate(noSrcDocs2).count() == 0)
    val short = (1L to 20L).map(i => (i, "too short")).toDF("doc_id", "text")
    val sr = graft.queries.Curation.decontaminate(short).collect()
    assert(sr.nonEmpty)
    assert(sr.forall(r => r.getAs[Long]("contaminated") == 0L &&
      r.getAs[Long]("n_shared_grams") == 0L))
  }

  test("round-10 operators (q201-q206) on empty and degenerate corpora") {
    // the line/substring family reads from a dir — stage empty and
    // tiny parquet corpora
    def stage(df: org.apache.spark.sql.DataFrame): String = {
      val dir = Harness.tempDir("empty10")
      df.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      dir.toString
    }
    val emptyDir = stage(
      Seq.empty[(Long, String, String)].toDF("doc_id", "text", "source"))
    for (q <- Seq("q201_c4_line_removal", "q202_source_boilerplate",
        "q203_exactsubstr_trim", "q206_dup_profile"))
      assert(Dedup.queries(q)(spark, emptyDir).count() == 0L, q)
    // a single-doc corpus: its planted line occurs once (< the C4
    // occurrence bar), so NOTHING is removed; for q202 a lone doc's
    // every line is >= half its source by definition; a doc shorter
    // than the shingle width has no shingles -> fully kept by the
    // trim and absent from the gram profile
    val soloDir = stage(Seq((1L, "ax bx cx dx ex fx", "s1"))
      .toDF("doc_id", "text", "source"))
    val s201 = Dedup.queries("q201_c4_line_removal")(spark, soloDir).collect()
    assert(s201.length == 1 && s201.head.getAs[Long]("n_lines_removed") == 0L)
    assert(Dedup.queries("q202_source_boilerplate")(spark, soloDir)
      .count() == 2L) // plant + the doc's own line
    val tinyDir = stage(Seq((1L, "one two", "s1")).toDF("doc_id", "text", "source"))
    val t203 = Dedup.queries("q203_exactsubstr_trim")(spark, tinyDir).collect()
    assert(t203.length == 1 && t203.head.getAs[Long]("n_words_kept") == 2L)
    assert(Dedup.queries("q206_dup_profile")(spark, tinyDir).count() == 0L)
    // function forms: vocab smaller/larger than the word set; empty
    // eval slice feeding the Bloom build must yield "no contamination",
    // not a null-sketch crash
    val noSrcDocs3 = Seq.empty[(Long, String, String)]
      .toDF("doc_id", "text", "source")
    assert(graft.queries.TextAnalytics.vocabOov(noSrcDocs3, 5).count() == 0)
    val oneSrc = Seq((1L, "aa bb aa", "s")).toDF("doc_id", "text", "source")
    val ov = graft.queries.TextAnalytics.vocabOov(oneSrc, 100).collect()
    assert(ov.length == 1 && ov.head.getAs[Long]("n_oov") == 0L)
    val noDocs2 = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(graft.queries.Curation.bloomDecontaminate(noDocs2).count() == 0)
    assert(graft.queries.Curation.qualityClassifier(noSrcDocs3, "src0")
      .count() == 0)
    assert(Dedup.neardupGate(
      Dedup.bandsPerRow(noDocs2, "doc_id", "text")).count() == 0)
    assert(graft.queries.Multimodal.phashNeardup(noDocs2).count() == 0)
    val short2 = (1L to 20L).map(i => (i, "too short")).toDF("doc_id", "text")
    assert(graft.queries.Curation.bloomDecontaminate(short2).count() == 0)
    graft.SessionCache.clear()
  }

  test("round-7 wave-3+ operators on empty inputs") {
    // containment dedup: empty corpus and single-doc corpus pair nothing
    assert(Dedup.containmentPairs(noDocs, "doc_id", "text").count() == 0)
    val solo = Seq((1L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    assert(Dedup.containmentPairs(solo, "doc_id", "text").count() == 0)
    // attribution: no events -> no credits; views with no purchase too
    val noEvents = Seq.empty[(Long, java.sql.Timestamp, Long, String, Double)]
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    assert(graft.queries.EventsQueries.attributionDecay(noEvents).count() == 0)
    val viewsOnly = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"),
      7L, "view", 1.0)).toDF("event_id", "ts", "user_id", "event_type", "value")
    assert(graft.queries.EventsQueries.attributionDecay(viewsOnly).count() == 0)
    // outlier sweep: empty corpus -> empty, never a percentile crash
    assert(graft.queries.Similarity.embeddingOutliers(spark,
      Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")).count() == 0)
  }

  test("round-6 operators on empty and degenerate inputs") {
    // kmeans: empty corpus -> empty assignment; corpus smaller than K
    // -> every point is its own seed at distance 0
    assert(graft.queries.Clustering.kmeans(noVecs, 3, 2).count() == 0)
    val two = Seq((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)))
      .toDF("vec_id", "embedding")
    val small = graft.queries.Clustering.kmeans(two, k = 5, iters = 2)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("cluster"), r.getAs[Double]("dist_sq"))).toMap
    assert(small == Map(1L -> (1L, 0.0), 2L -> (2L, 0.0)))
    // priority dedup on empty
    assert(Dedup.priorityDedup(noDocs, "doc_id", "text", lit(0))
      .count() == 0)
    // connected components with zero edges: every node an isolate
    val noEdges = Seq.empty[(Long, Long)].toDF("a", "b")
    val ns = Seq(7L, 8L).toDF("node")
    val iso = graft.queries.Graph.connectedComponents(ns, noEdges, 2)
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("comp"))
    assert(iso.toMap == Map(7L -> 7L, 8L -> 8L))
    val isoFast = graft.queries.Graph
      .connectedComponentsFast(ns, noEdges, 2)
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("comp"))
    assert(isoFast.toMap == Map(7L -> 7L, 8L -> 8L))
    // triangle count on empty edges: zero edges, zero triangles
    val tri = graft.queries.Graph
      .triangleCount(graft.queries.Graph.degreeOrientEdges(noEdges))
      .collect()(0)
    assert(tri.getAs[Long]("n_edges") == 0L &&
      tri.getAs[Long]("n_triangles") == 0L)
  }

  test("docs below the shingle floor are excluded, not fatal") {
    val tiny = Seq((1L, "two words"), (2L, "")).toDF("doc_id", "text")
    assert(Dedup.shingleTable(tiny, "doc_id", "text").count() == 0)
    assert(Dedup.minhashCandidates(tiny, "doc_id", "text").count() == 0)
    // simhash has no floor: one doc has words, one doesn't
    assert(Dedup.simhash(tiny, "doc_id", "text").count() == 1)
  }

  test("round-4 pipeline operators on an empty corpus") {
    assert(Dedup.decontaminate(noDocs, "doc_id", "text",
      doc => doc % 20 === 0, minShared = 2L).count() == 0)
    assert(Dedup.boilerplateShingles(noDocs, "doc_id", "text", 5L).count() == 0)
    assert(Dedup.appendDedup(noDocs, noDocs, "doc_id", "text").count() == 0)
    // append of a non-empty batch onto an EMPTY corpus keeps survivors
    val batch = Seq((1L, "alpha beta"), (2L, "beta alpha")).toDF("doc_id", "text")
    assert(Dedup.appendDedup(noDocs, batch, "doc_id", "text").count() == 1)
    // runningSum over an empty frame is empty, not a crash
    val noDeltas = Seq.empty[(Long, Long)].toDF("t_us", "delta")
    assert(graft.plans.GlobalOrder.runningSum(
      noDeltas, Seq(col("t_us")), "delta", "n_active").count() == 0)
  }

  test("late round-4 operators on empty input") {
    assert(Dedup.capDuplicates(noDocs, "doc_id", "text", k = 2).count() == 0)
    val noIds = Seq.empty[(Long, String)].toDF("doc_id", "source")
    // hashFraction on an empty frame plans and evaluates to no rows
    assert(noIds.select(graft.queries.TextAnalytics
      .hashFraction(col("doc_id")).as("f")).count() == 0)
    val out = Harness.tempDir("empty").toString
    graft.sinks.LayoutWriter.writeRangeClustered(
      noDocs, s"$out/rc", numFiles = 4, col("doc_id"))
    assert(spark.read.parquet(s"$out/rc").count() == 0)
  }

  test("round-8 selection operators on empty and single-stratum inputs") {
    import graft.queries.Curation
    val noDocs3 = Seq.empty[(Long, String, String, String)]
      .toDF("doc_id", "source", "lang", "text")
    assert(Curation.dsirWeights(noDocs3, "src0").count() == 0)
    assert(Curation.ccnetBuckets(noDocs3).count() == 0)
    // all-target corpus: the raw pool is empty -> no weights, no crash
    val allTarget = Seq((1L, "src0", "en", "alpha beta gamma"))
      .toDF("doc_id", "source", "lang", "text")
    assert(Curation.dsirWeights(allTarget, "src0").count() == 0)
    // single doc per lang: tertile boundaries collapse to the doc's own
    // score -> it lands in 'head' (score <= b1), one row out
    val one = Curation.ccnetBuckets(allTarget).collect()
    assert(one.length == 1 && one(0).getAs[String]("ppl_bucket") == "head")
  }

  test("stateful sessionizer and ranks on empty input") {
    val noEvents = Seq.empty[graft.streaming.SessionEvent].toDS()
    assert(graft.streaming.StatefulSessions.sessionize(noEvents).count() == 0)
    val noRows = Seq.empty[(Long, Double)].toDF("id", "x")
    val ranked = graft.plans.GlobalOrder.withRanks(noRows, Seq(col("x").desc, col("id")))
    assert(ranked.count() == 0)
  }
}
