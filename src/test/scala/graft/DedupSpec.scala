package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{Dedup, Graph}

/** Plants known duplicates/near-duplicates and asserts each dedup
  * operator surfaces them — the fixture corpus has no dups by
  * construction, so these are the functional proofs.
  */
class DedupSpec extends AnyFunSuite with CacheCleanup {
  import TestSpark.spark
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog " * 4

  test("exact dedup groups normalized copies under the min-id survivor") {
    val docs = Seq(
      (10L, base), (11L, "  " + base.toUpperCase + "  "), // same after lower+trim
      (12L, "something else entirely different here"))
      .toDF("doc_id", "text")
    val out = Dedup.exactDedup(docs, "doc_id", "text")
      .orderBy("survivor_id").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Long]("survivor_id") == 10L)
    assert(out(0).getAs[Long]("n_copies") == 2L)
    assert(out(1).getAs[Long]("n_copies") == 1L)
  }

  test("priority dedup keeps the best-ranked copy, not the min id") {
    // same text from three sources; priority = source rank. The min-id
    // copy (1, rank 5) must LOSE to the rank-0 copy (id 3); the
    // id tie-break only applies within equal ranks (ids 10/11).
    val docs = Seq(
      (1L, "The Same Text", 5), (2L, "the same text", 2),
      (3L, " THE SAME TEXT ", 0),
      (10L, "other text", 1), (11L, "Other Text", 1),
      (20L, "unique", 7)).toDF("doc_id", "text", "rank")
    val out = Dedup.priorityDedup(docs, "doc_id", "text", col("rank"))
      .collect()
      .map(r => r.getAs[Long]("survivor_id") ->
        (r.getAs[Long]("survivor_prio"), r.getAs[Long]("n_copies"))).toMap
    assert(out == Map(3L -> (0L, 3L), 10L -> (1L, 2L), 20L -> (7L, 1L)),
      out.toString)
  }

  test("keepSurvivors returns the deduped corpus with min-id survivors") {
    val docs = Seq(
      (10L, base), (11L, base.toUpperCase), (12L, "different text here entirely"))
      .toDF("doc_id", "text")
    val kept = Dedup.keepSurvivors(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(10L, 12L))
  }

  test("minhash surfaces near-duplicates, not unrelated docs") {
    // 36-word doc vs a copy with ONE word changed: shingle sets overlap
    // ~92%, so all 9 minhashes almost surely agree => all 3 bands match.
    val nearA = base.trim
    val nearB = base.trim.replaceFirst("lazy", "sleepy")
    val other = ((1 to 40).map(i => s"uniqueword$i").mkString(" "))
    val docs = Seq((1L, nearA), (2L, nearB), (3L, other)).toDF("doc_id", "text")
    val pairs = Dedup.minhashCandidates(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"expected (1,2) in $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      s"unrelated doc must not pair: $pairs")
  }

  test("identical docs share all bands; simhash fingerprints match") {
    val docs = Seq((1L, base), (2L, base)).toDF("doc_id", "text")
    val pair = Dedup.minhashCandidates(docs, "doc_id", "text").collect()
    assert(pair.length == 1 && pair(0).getAs[Long]("n_shared_bands") == 3L)
    val fps = Dedup.simhash(docs, "doc_id", "text")
      .collect().map(_.getAs[String]("simhash")).toSeq
    assert(fps.length == 2 && fps(0) == fps(1))
    assert(fps(0).length == Dedup.SimhashBits && fps(0).forall(c => c == '0' || c == '1'))
  }

  test("simhash of near-dups differs in few bits; unrelated in many") {
    def ham(a: String, b: String) = a.zip(b).count { case (x, y) => x != y }
    val docs = Seq(
      (1L, base), (2L, base.replaceFirst("lazy", "sleepy")),
      (3L, (1 to 40).map(i => s"zz$i").mkString(" ")))
      .toDF("doc_id", "text")
    val fp = Dedup.simhash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(ham(fp(1L), fp(2L)) <= 4, s"near-dup hamming: ${ham(fp(1L), fp(2L))}")
    assert(ham(fp(1L), fp(3L)) > ham(fp(1L), fp(2L)))
  }

  test("ngram jaccard verify stage scores candidates exactly") {
    val nearA = base.trim
    val nearB = base.trim.replaceFirst("lazy", "sleepy")
    val docs = Seq((1L, nearA), (2L, nearB), (3L, nearA)).toDF("doc_id", "text")
    val scored = Dedup.ngramJaccard(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // identical docs: jaccard exactly 1.0
    assert(scored.get((1L, 3L)).contains(1.0), s"got $scored")
    // one word changed (the base repeats, so the distinct-shingle set is
    // small and one edit dents it visibly): clearly similar but < 1
    scored.get((1L, 2L)).foreach(j => assert(j > 0.5 && j < 1.0, s"j=$j"))
  }

  test("neardup clusters: transitive pairs collapse to the min-id component") {
    // candidate graph: 1-2, 2-3 (a chain: 1 and 3 never pair directly),
    // 5-6; docs 4 and 7 untouched singletons
    val docs = (1L to 7L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    val out = Dedup.neardupClusters(docs, pairs, "doc_id")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L) == ((1L, 1L)) && out(2L) == ((1L, 0L)) && out(3L) == ((1L, 0L)),
      s"chain must fully collapse: $out")
    assert(out(5L) == ((5L, 1L)) && out(6L) == ((5L, 0L)))
    assert(out(4L) == ((4L, 1L)) && out(7L) == ((7L, 1L)))
  }

  test("neardup clusters match a reference union-find on random graphs") {
    for (seed <- Seq(7, 42, 1234)) {
      val rnd = new scala.util.Random(seed)
      val n = 40
      val edges = Seq.fill(25)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      // reference union-find, driver-side
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = (0 until n).map(i => i.toLong -> find(i).toLong).toMap
      val docs = (0L until n.toLong).map(i => (i, s"d$i")).toDF("doc_id", "text")
      val pairs = edges.toDF("doc_a", "doc_b")
      val got = Dedup.neardupClusters(docs, pairs, "doc_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"seed $seed: distributed clustering != union-find")
    }
  }

  /** Driver-side union-find: every id's component minimum. */
  private def unionFindMin[T](ids: Seq[T], edges: Seq[(T, T)])
                             (implicit ord: Ordering[T]): Map[T, T] = {
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: T): T = if (parent(x) == x) x else find(parent(x))
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ord.max(ra, rb)) = ord.min(ra, rb)
    }
    ids.map(i => i -> find(i)).toMap
  }

  test("neardup clusters on string ids match a reference union-find") {
    // lexicographic order differs from numeric here ("d10" < "d9"), so
    // the cluster id must be the string minimum of each component
    val rnd = new scala.util.Random(11)
    val ids = (0 until 30).map(i => s"d$i")
    val edges = Seq.fill(20)((ids(rnd.nextInt(30)), ids(rnd.nextInt(30))))
      .filter { case (a, b) => a != b }
    val docs = ids.map(i => (i, s"text $i")).toDF("doc_id", "text")
    val got = Dedup.neardupClusters(docs, edges.toDF("doc_a", "doc_b"), "doc_id")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == unionFindMin(ids, edges))
  }

  test("neardup clusters on a seeded shuffled-id path match a reference union-find") {
    val ids = new scala.util.Random(5).shuffle((0L until 48L).toVector)
    val edges = ids.zip(ids.tail)
    val docs = ids.map(i => (i, s"d$i")).toDF("doc_id", "text")
    val got = Dedup.neardupClusters(docs, edges.toDF("doc_a", "doc_b"), "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == unionFindMin(ids, edges))
  }

  /** A sorted-id path of `n` docs: its labels settle after n-1 rounds,
    * and one more round finds the fixpoint.
    */
  private def sortedPath(n: Long) =
    Dedup.neardupClusters((0L until n).map(i => (i, s"d$i")).toDF("doc_id", "text"),
      (0L until n - 1).map(i => (i, i + 1)).toDF("doc_a", "doc_b"), "doc_id")

  test("neardup clusters: a 64-node path converges at the 64-round cap") {
    val out = sortedPath(64L).collect()
    assert(Graph.lastSweepsRun.get() == Dedup.MaxClusterIters)
    assert(out.length == 64 && out.forall(_.getLong(1) == 0L))
  }

  test("neardup clusters: a 65-node path throws at the 64-round cap") {
    val e = intercept[IllegalStateException](sortedPath(65L))
    assert(e.getMessage == "label propagation did not converge in 64 rounds")
  }

  test("keepNearDupSurvivors emits one row per component plus singletons") {
    val nearA = base.trim
    val nearB = base.trim.replaceFirst("lazy", "sleepy")
    val other = (1 to 40).map(i => s"uniqueword$i").mkString(" ")
    val docs = Seq((1L, nearA), (2L, nearB), (3L, other)).toDF("doc_id", "text")
    val kept = Dedup.keepNearDupSurvivors(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 3L), s"got $kept")
  }

  test("winnow fingerprints: identical docs match; edits keep most prints") {
    // fingerprint SETS via the operator's internals: rerun with a join
    // on the digest for identity, and compare overlap via raw counts
    val nearA = base.trim
    val nearB = base.trim.replaceFirst("lazy", "sleepy")
    val other = (1 to 40).map(i => s"uniqueword$i").mkString(" ")
    val docs = Seq((1L, nearA), (2L, nearA), (3L, nearB), (4L, other))
      .toDF("doc_id", "text")
    val out = Dedup.winnowFingerprints(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(out(1L) == out(2L), "identical docs must fingerprint identically")
    assert(out(1L)._3 != out(4L)._3, "unrelated docs must differ")
    // one-word edit: digest differs but the fingerprint COUNT stays
    // close (the repeated base text has few distinct grams)
    assert(out(1L)._3 != out(3L)._3)
    assert(out(3L)._2 <= out(1L)._2 + 6)
  }

  test("native winnow_fps == the array-HOF formulation, incl. edge lengths") {
    // Value parity of graft.expressions.WinnowFps against the
    // composable HOF definition it replaces, over texts spanning
    // no-full-window, exactly-one-window, and repetitive/mixed-case
    // shapes (k=8, w=4 -> min full-window length 11).
    val k = Dedup.WinnowK; val w = Dedup.WinnowW
    val texts = Seq(
      "abcdefghij",                       // 10 chars: no full window
      "abcdefghijk",                      // 11 chars: exactly one window
      "aaaaaaaaaaaaaaaaaaaaaa",           // all grams identical
      base.trim, base.trim.toUpperCase,
      (1 to 30).map(i => s"w$i").mkString(" "))
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "t")
      .select(col("id"), lower(col("t")).as("t"))
      .withColumn("n", length(col("t")) - k + 1)
    def winnowed(g: Column, n: Column) = array_sort(array_distinct(
      transform(sequence(lit(w), n), i => array_min(slice(g, i - w + 1, lit(w))))))
    val hof = df.filter(col("n") >= w).select(col("id"), element_at(
      transform(array(transform(sequence(lit(1), col("n")),
        p => md5(col("t").substr(p, lit(k)).cast("binary")))),
        g => winnowed(g, col("n"))), 1).as("fps"))
    val native = df.filter(col("n") >= w)
      .select(col("id"), graft.functions.winnow_fps(col("t"), k, w).as("fps"))
    val h = hof.collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val nv = native.collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(nv == h)
    assert(nv.nonEmpty && nv.keySet == texts.indices.filter(i =>
      texts(i).length - k + 1 >= w).map(_.toLong).toSet)
    // below-min-window input yields an empty set, not a crash
    val short = Seq((0L, "abcdefghij")).toDF("id", "t")
      .select(graft.functions.winnow_fps(col("t"), k, w).as("fps"))
      .head().getSeq[String](0)
    assert(short.isEmpty)
  }

  test("embedding near-dups: identical vectors pair at cosine 1.0") {
    val v = Array.tabulate(64)(i => (math.sin(i + 1) * 0.5).toFloat)
    val w = Array.tabulate(64)(i => (math.cos(i * 2 + 1) * 0.5).toFloat)
    val emb = Seq((1L, v.toSeq), (2L, v.toSeq), (3L, w.toSeq))
      .toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDups(emb, 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("decontaminate flags the planted eval copy at contamination 1.0") {
    val other = "completely unrelated words with zero gram overlap at all"
    val docs = Seq(
      (20L, base),          // eval doc (20 % 20 == 0)
      (1L, base),           // contaminated training copy
      (2L, other))          // clean training doc
      .toDF("doc_id", "text")
    val out = Dedup.decontaminate(docs, "doc_id", "text",
        doc => doc % 20 === 0, minShared = 2L).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("train_doc") == 1L)
    assert(r.getAs[Long]("eval_doc") == 20L)
    assert(r.getAs[Double]("contamination") == 1.0)
  }

  test("appendDedup drops bag-of-words matches, keeps min-id novelties") {
    val existing = Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val batch = Seq(
      (30L, "delta gamma beta alpha alpha"), // permutation + repeat of doc 1
      (31L, "epsilon zeta eta"),             // novel, same set as 32
      (32L, "zeta eta epsilon epsilon"),
      (33L, "totally new words here"))       // novel singleton
      .toDF("doc_id", "text")
    val kept = Dedup.appendDedup(existing, batch, "doc_id", "text")
      .collect().map(_.getAs[Long]("doc_id")).sorted
    assert(kept.toSeq == Seq(31L, 33L))
  }

  test("band-bucket cap bounds candidates on a 50%-duplicate flood; " +
    "never binds on collision-sized buckets") {
    val cap = Dedup.BandBucketCap
    // 120 IDENTICAL docs (a corpus that skipped exact-dedup, violating
    // the documented contract) + 30 distinct docs. Uncapped, the flood
    // bucket alone would emit C(120,2) = 7140 candidate pairs and grow
    // quadratically from there; the cap bounds it at C(cap,2).
    val flood = (0L until 120L).map(i => (i, base))
    val rest = (200L until 230L).map(i =>
      (i, s"unrelated document number $i with its own words ${i * 3} " +
        s"and more unique content ${i * 7} here"))
    val docs = (flood ++ rest).toDF("doc_id", "text")
    val cands = Dedup.minhashCandidates(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val floodPairs = cands.filter(_._1 < 200L)
    assert(floodPairs.length == cap * (cap - 1) / 2,
      s"flood bucket must yield exactly C($cap,2) pairs, got ${floodPairs.length}")
    // survivors are the FIRST cap ids (deterministic doc-id order, the
    // same rank the DuckDB oracle computes)
    assert(floodPairs.forall { case (a, b) => a < cap && b < cap })
    // the truncation is observable, not silent
    val overflow = Dedup.bucketOverflow(
      Dedup.minhashBands(Dedup.shingleTable(docs, "doc_id", "text")),
      Seq("band_idx", "band_hash")).collect()
    assert(overflow.nonEmpty &&
      overflow.forall(_.getAs[Long]("n_dropped") == 120L - cap))
    // and on a collision-sized corpus (the contract case) the cap is a
    // no-op: capped == uncapped candidates
    val small = Seq(
      (1L, base), (2L, base + " tail"), (3L, "different text entirely " * 5))
      .toDF("doc_id", "text")
    val capped = Dedup.minhashCandidates(small, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(capped.nonEmpty)
  }

  test("embedding band-bucket cap bounds q47 candidates on a vector flood") {
    val cap = Dedup.BandBucketCap
    val rnd = new scala.util.Random(99)
    val dup = Array.fill(64)(rnd.nextGaussian().toFloat).toSeq
    val flood = (0L until 100L).map(i => (i, dup))
    val bg = (500L until 540L).map(i =>
      (i, Array.fill(64)(rnd.nextGaussian().toFloat).toSeq))
    val emb = (flood ++ bg).toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val pairs = Dedup.embeddingNearDups(emb, 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val floodPairs = pairs.filter(_._1 < 500L)
    // identical vectors share every band signature: one bucket per band,
    // capped to the first `cap` vec_ids -> exactly C(cap,2) pairs
    assert(floodPairs.length == cap * (cap - 1) / 2,
      s"expected C($cap,2), got ${floodPairs.length}")
    assert(floodPairs.forall { case (a, b) => a < cap && b < cap })
  }

  test("line dedup: repeated synthesized lines collapse to first occurrence") {
    // "w1..w6 w1..w6 g" -> windows [w1..w6][w1..w6][g] + planted copy of
    // the first line = 4 lines in, 2 distinct out, 2 duplicates removed
    val six = "alpha beta gamma delta epsilon zeta"
    val docs = Seq((1L, s"$six $six omega"),
      (2L, "one two three four five six seven eight nine ten eleven twelve"))
      .toDF("doc_id", "text")
    val dir = Harness.tempDir("linededup").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Dedup.queries("q128_line_dedup")(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_lines_in"), r.getAs[Long]("n_lines_out"),
          r.getAs[Long]("n_dup_lines"))).toMap
    assert(out(1L) == ((4L, 2L, 2L)), s"got ${out(1L)}")
    // doc 2: two distinct 6-word lines + planted duplicate of line 1
    assert(out(2L) == ((3L, 2L, 1L)), s"got ${out(2L)}")
  }

  test("C4 cross-doc line removal drops corpus-frequent lines, keeps unique ones") {
    // hot: a 6-word line shared by 3 docs (hits the >= 3 occurrence
    // rule); each doc also carries a unique 6-word line that must
    // survive. The planted boilerplate line is removed from EVERY doc
    // (its count is the doc count), so n_lines_removed >= 1 everywhere.
    val hot = "common cookie banner shown every page"
    val docs = Seq(
      (1L, s"$hot apple river stone cloud ember glass"),
      (2L, s"$hot maple torch quill vapor ridge flint"),
      (3L, s"$hot orbit nectar prism walnut cinder moss"),
      (4L, "sable garnet tundra willow basalt fjord")).toDF("doc_id", "text")
    val dir = Harness.tempDir("c4line").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Dedup.queries("q201_c4_line_removal")(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_lines_in"), r.getAs[Long]("n_lines_kept"),
          r.getAs[Long]("n_lines_removed"))).toMap
    // docs 1-3: plant + hot + unique = 3 in; plant and hot removed
    (1L to 3L).foreach(i => assert(out(i) == ((3L, 1L, 2L)), s"doc $i: ${out(i)}"))
    // doc 4: plant + unique = 2 in; only the plant removed
    assert(out(4L) == ((2L, 1L, 1L)), s"doc 4: ${out(4L)}")
    // removal must preserve surviving-line ORDER: doc 1's kept hash is
    // the hash of exactly its unique line
    val kh = Dedup.queries("q201_c4_line_removal")(spark, dir)
      .filter(col("doc_id") === 1L).collect()(0).getAs[String]("kept_hash")
    val expect = docs.sparkSession.range(1)
      .select(sha2(lit("apple river stone cloud ember glass"), 256))
      .collect()(0).getString(0)
    assert(kh == expect)
  }

  test("ExactSubstr trim keeps the canonical first occurrence, cuts the rest") {
    // the shingle "alpha beta gamma" occurs at (doc1, pos0) and
    // (doc2, pos1): canonical is the global (doc, pos) minimum, so
    // doc1 keeps everything and doc2 loses positions 1-3. doc3 repeats
    // "x y z" WITHIN itself (suffix-array semantics count total
    // occurrences, not distinct docs) — the second occurrence at pos 3
    // is cut. doc4 is all-unique and untouched. doc5 IS exactly the
    // duplicated shingle, so every word is cut and it hashes "".
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "zeta alpha beta gamma eta"),
      (3L, "x y z x y z"),
      (4L, "sable garnet tundra willow"),
      (5L, "alpha beta gamma")).toDF("doc_id", "text")
    val dir = Harness.tempDir("substr").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Dedup.queries("q203_exactsubstr_trim")(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_words_in"), r.getAs[Long]("n_words_kept"),
          r.getAs[Long]("n_words_removed"), r.getAs[String]("kept_hash")))
      .toMap
    def h(sOpt: String): String = docs.sparkSession.range(1)
      .select(sha2(lit(sOpt), 256)).collect()(0).getString(0)
    assert(out(1L) == ((5L, 5L, 0L, h("alpha beta gamma delta epsilon"))))
    assert(out(2L) == ((5L, 2L, 3L, h("zeta eta"))))
    assert(out(3L) == ((6L, 3L, 3L, h("x y z"))))
    assert(out(4L) == ((4L, 4L, 0L, h("sable garnet tundra willow"))))
    assert(out(5L) == ((3L, 0L, 3L, h(""))))
  }

  test("per-source boilerplate catalogs the >=half-of-docs template lines") {
    // srcA (4 docs): a template line in 2 of 4 docs is EXACTLY at the
    // half threshold (2*2 >= 4, listed); a line in 1 of 4 is below
    // (dropped). srcB (1 doc): every line of its single doc is >= half
    // by definition — plant + its own lines all listed.
    val tmpl = "navigate home products pricing contact about"
    val docs = Seq(
      (1L, s"$tmpl apple river stone cloud ember glass", "srcA"),
      (2L, s"$tmpl maple torch quill vapor ridge flint", "srcA"),
      (3L, "orbit nectar prism walnut cinder moss", "srcA"),
      (4L, "sable garnet tundra willow basalt fjord", "srcA"),
      (5L, "lone doc lines all count here", "srcB")).toDF(
      "doc_id", "text", "source")
    val dir = Harness.tempDir("srcboiler").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Dedup.queries("q202_source_boilerplate")(spark, dir)
      .collect().map(r => (r.getAs[String]("source"), r.getAs[String]("line")) ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_source_docs"))).toMap
    assert(out(("srcA", "header line for srcA page top")) == ((4L, 4L)))
    assert(out(("srcA", tmpl)) == ((2L, 4L)))
    assert(!out.keySet.exists { case (s, l) =>
      s == "srcA" && l.startsWith("apple") }, "a 1-of-4 line is not template")
    assert(out(("srcB", "lone doc lines all count here")) == ((1L, 1L)))
    assert(out(("srcB", "header line for srcB page top")) == ((1L, 1L)))
  }

  test("boilerplate heavy-hitters are exact and partition-independent") {
    val hot = "common header line repeated on every single page here"
    val docs = (0L until 40L).map { i =>
      (i, s"$hot unique tail $i marker ${i * 7} salt ${i * 13}")
    }.toDF("doc_id", "text")
    // expected = plain doc-frequency threshold, no pruning
    val expected = Dedup.shingleTable(docs, "doc_id", "text")
      .groupBy(col("shingle")).agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 30)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(expected.nonEmpty) // the hot shingles really are hot
    for (parts <- Seq(1, 3, 16)) {
      val got = Dedup.boilerplateShingles(docs.repartition(parts),
          "doc_id", "text", minDocs = 30L)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(got == expected, s"parts=$parts")
    }
  }

  test("cluster canonicalization keeps the LONGEST member, min id on ties") {
    // 10 and 11 are near-dups; 11 is longer and must win despite the
    // larger id. 20/21 are identical-length near-dups: min id wins.
    val docs = Seq(
      (10L, base),
      (11L, base + " longer tail with extra detail words"),
      (20L, "one two three four five six seven eight nine ten " * 3),
      (21L, "one two three four five six seven eight nine ten " * 3 + " "),
      (30L, "totally unrelated content about catalyst plan rewrites here"))
      .toDF("doc_id", "text")
    val labels = Dedup.neardupClusters(docs,
      Dedup.minhashCandidates(docs, "doc_id", "text"), "doc_id")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Long]("cluster_id")).toMap
    assert(labels(10L) == labels(11L) && labels(20L) == labels(21L),
      s"planted near-dups must cluster: $labels")
    val out = SparkEntry.queries("q159_cluster_canonical")(
      spark, stage(docs))
      .collect().map(r => r.getAs[Long]("cluster_id") ->
        (r.getAs[Long]("survivor_id"), r.getAs[Long]("n_members"))).toMap
    assert(out(labels(10L))._1 == 11L,
      s"longest member must win the cluster: $out")
    assert(out(labels(10L))._2 == 2L)
    assert(out(labels(20L))._1 == 20L, "equal lengths fall back to min id")
    assert(out(labels(30L)) == ((30L, 1L)), "singletons survive as-is")
  }

  /** Stage a documents table for catalog-query entry points. */
  private def stage(docs: org.apache.spark.sql.DataFrame): String = {
    val dir = Harness.tempDir("dedup_stage").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("prefix-filter join is COMPLETE: finds every pair >= t that " +
    "brute force finds, and prunes the candidate space") {
    // 3 near-dup families (small edits) + unrelated filler docs
    val fam1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val fam2 = "one two three four five six seven eight nine ten eleven"
    val docs = Seq(
      (1L, fam1), (2L, fam1 + " extra"), (3L, "start " + fam1),
      (10L, fam2), (11L, fam2 + " twelve"),
      (20L, "totally different content about spark shuffles and joins"),
      (21L, "yet another unrelated document mentioning windows and sorts"),
      (22L, "filler text with its own private vocabulary entirely"))
      .toDF("doc_id", "text")
    val t = 0.6
    // brute force: exact Jaccard over ALL pairs, no pruning
    val sh = Dedup.shingleTable(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val ids = sh.keys.toSeq.sorted
    val brute = (for {
      a <- ids; b <- ids if a < b
      j = (sh(a) & sh(b)).size.toDouble / (sh(a) | sh(b)).size
      if j >= t
    } yield (a, b)).toSet
    assert(brute.nonEmpty, "fixture must contain qualifying pairs")
    val out = Dedup.prefixFilterJoin(docs, "doc_id", "text", t).collect()
    val found = out.filter(_.getAs[Long]("passes") == 1L)
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(found == brute,
      s"completeness: brute=$brute found=$found")
    // the prune is real: candidates strictly fewer than all pairs
    assert(out.length < ids.length * (ids.length - 1) / 2,
      s"prefix filter pruned nothing (${out.length} candidates)")
  }

  test("prefix-filter join completeness holds on RANDOM saturated corpora " +
    "(the filter bundle's rank argument, fuzzed)") {
    // The length + positional filters rest on a proof about per-doc
    // ranks under one global (df, shingle) order; fuzz it where it is
    // most stressed — tiny vocabularies (exactly the shingle-space
    // saturation the 10x probe exposed), duplicated docs, planted
    // near-dups, length outliers. Seeded => reproducible.
    val t = 0.6
    for (seed <- Seq(11, 42, 1337)) {
      val rnd = new scala.util.Random(seed)
      val vocab = Vector("a", "b", "c", "d", "e", "f", "g", "h")
      val base = (0 until 40).map { i =>
        val n = 3 + rnd.nextInt(15)
        (i.toLong, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      // planted structure: an exact dup, a one-word edit, a length outlier
      val docs0 = base ++ Seq(
        (100L, base(0)._2),
        (101L, base(1)._2.replaceFirst("\\w+$", "zz")),
        (102L, (base(2)._2 + " ") * 4))
      val docs = docs0.toDF("doc_id", "text")
      val sh = Dedup.shingleTable(docs, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getString(1)))
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
      val ids = sh.keys.toSeq.sorted
      val brute = (for {
        a <- ids; b <- ids if a < b
        j = (sh(a) & sh(b)).size.toDouble / (sh(a) | sh(b)).size
        if j >= t
      } yield (a, b)).toSet
      val out = Dedup.prefixFilterJoin(docs, "doc_id", "text", t).collect()
      val found = out.filter(_.getAs[Long]("passes") == 1L)
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
      assert(found == brute, s"seed=$seed: brute=$brute found=$found")
      // and every reported jaccard is the true one
      out.foreach { r =>
        val (a, b) = (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))
        val j = (sh(a) & sh(b)).size.toDouble / (sh(a) | sh(b)).size
        assert(r.getAs[Double]("jaccard") ==
          BigDecimal(j).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
          s"seed=$seed pair ($a,$b)")
      }
      graft.SessionCache.clear()
    }
  }

  test("ExactSubstr trim equals a sequential recomputation on RANDOM " +
    "tiny-vocab corpora (canonical selection fuzzed)") {
    // tiny vocabularies saturate the 3-gram space, so most shingles
    // duplicate and the canonical-(doc,pos)-min rule is exercised on
    // ties, overlaps, and within-doc repeats. Seeded => reproducible.
    // Docs shorter than 3 words carry no shingles and must survive
    // whole; 0-word docs are absent from the output in both paths.
    def sha(sOpt: String): String = java.security.MessageDigest
      .getInstance("SHA-256").digest(sOpt.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    for (seed <- Seq(7, 21, 99)) {
      val rnd = new scala.util.Random(seed)
      val vocab = Vector("a", "b", "c", "d", "e", "f")
      val docs = (0 until 30).map { i =>
        val n = rnd.nextInt(13) // 0..12 words
        (i.toLong, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      // sequential reference: same shingles, same canonical rule
      val wordsBy = docs
        .map { case (id, t) =>
          id -> t.toLowerCase.split("[ \t\n\r\f]+")
            .filter(_.nonEmpty).toVector }
        .filter(_._2.nonEmpty)
      val posh = wordsBy.flatMap { case (id, ws) =>
        (0 to ws.length - 3).map(i =>
          (id, i, ws.slice(i, i + 3).mkString(" "))) }
      val cut = scala.collection.mutable.Set.empty[(Long, Int)]
      for ((_, occs) <- posh.groupBy(_._3) if occs.size >= 2) {
        val canon = occs.map(o => (o._1, o._2)).min
        for ((id, p, _) <- occs if (id, p) != canon; o <- 0 to 2)
          cut += ((id, p + o))
      }
      val expected = wordsBy.map { case (id, ws) =>
        val kept = ws.indices.filterNot(i => cut((id, i))).map(ws)
        id -> ((ws.length.toLong, kept.length.toLong,
          sha(kept.mkString(" "))))
      }.toMap
      val dir = Harness.tempDir(s"substr_fuzz$seed").toString
      docs.toDF("doc_id", "text").write.mode("overwrite")
        .parquet(s"$dir/documents.parquet")
      val got = Dedup.queries("q203_exactsubstr_trim")(spark, dir)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_words_in"), r.getAs[Long]("n_words_kept"),
            r.getAs[String]("kept_hash")))).toMap
      assert(got == expected, s"seed=$seed")
      graft.SessionCache.clear()
    }
  }

  test("q206 dup profile counts cross-doc gram mass, ignores within-doc repeats") {
    val docs = Seq(
      (1L, "p q r s"),             // grams: "p q r", "q r s" — 1 of 2 shared
      (2L, "z p q r t u"),         // 4 grams, 1 shared -> 250000 ppm
      (3L, "m n o"),               // unique -> 0 ppm
      (4L, "p q r"),               // its only gram is shared -> 1000000 ppm
      (5L, "w1 w2 w3 w1 w2 w3"))   // repeats ONLY within itself -> 0 ppm
      .toDF("doc_id", "text")
    val dir = Harness.tempDir("dupprof").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Dedup.queries("q206_dup_profile")(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_grams"), r.getAs[Long]("n_dup_grams"),
          r.getAs[Long]("dup_ppm")))).toMap
    assert(out(1L) == ((2L, 1L, 500000L)))
    assert(out(2L) == ((4L, 1L, 250000L)))
    assert(out(3L) == ((1L, 0L, 0L)))
    assert(out(4L) == ((1L, 1L, 1000000L)))
    assert(out(5L) == ((4L, 0L, 0L)), "within-doc repeats are q198's domain")
  }

  test("q163 dup spans equal an independent sequential recomputation") {
    val d = TestSpark.sf0001
    val docs = Tables.documents(spark, d).select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text"))
    // the whole pipeline again, in plain Scala collections: positional
    // 3-gram shingles -> cross-doc duplicated set -> run-merge
    val posh = docs.flatMap { case (id, text) =>
      val ws = text.toLowerCase.split("[ \t\n\r\f]+").filter(_.nonEmpty)
      (0 to ws.length - 3).map(i =>
        (id, i, s"${ws(i)} ${ws(i + 1)} ${ws(i + 2)}"))
    }
    val dup = posh.groupBy(_._3)
      .filter(_._2.map(_._1).distinct.length >= 2).keySet
    val expected = posh.filter(p => dup(p._3)).groupBy(_._1)
      .flatMap { case (id, ps) =>
        val sorted = ps.map(_._2).sorted
        val runs = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int)]
        var start = sorted.head; var prev = sorted.head; var cnt = 1
        for (p <- sorted.tail) {
          if (p == prev + 1) { prev = p; cnt += 1 }
          else { runs += ((start, prev, cnt)); start = p; prev = p; cnt = 1 }
        }
        runs += ((start, prev, cnt))
        runs.map { case (a, b, c) =>
          (id, a.toLong, (b + 2).toLong, (b + 2 - a + 1).toLong, c.toLong) }
      }.toSet
    assert(expected.nonEmpty, "fixture must contain cross-doc duplicate spans")
    val got = SparkEntry.queries("q163_dup_spans")(spark, d).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("span_start"),
        r.getAs[Long]("span_end"), r.getAs[Long]("span_words"),
        r.getAs[Long]("n_grams"))).toSet
    assert(got == expected,
      s"spans diverge: missing=${(expected -- got).take(3)} " +
        s"extra=${(got -- expected).take(3)}")
  }

  test("q210 S-curve buckets, clamps, detection flags, and theo ppm " +
    "match a sequential recompute on a planted pair table") {
    // truth pairs spanning every stratum, incl. both boundary artifacts:
    // a 0.6 jaccard (could floor to bucket 5 — must clamp up to 6) and
    // an exact duplicate at 1.0 (bucket 10, not 9)
    val truth = Seq(
      (1L, 2L, 0.6), (1L, 3L, 0.65), // bucket 6
      (2L, 3L, 0.75), // bucket 7
      (4L, 5L, 0.85), (4L, 6L, 0.89), // bucket 8
      (5L, 6L, 0.95), // bucket 9
      (7L, 8L, 1.0) // bucket 10
    ).toDF("doc_a", "doc_b", "jaccard")
    // the band index "detects" a subset: one per bucket except 8
    val cands = Seq((1L, 2L), (2L, 3L), (5L, 6L), (7L, 8L))
      .toDF("doc_a", "doc_b")
    val got = Dedup.lshScurve(truth, cands).collect()
      .map(r => r.getAs[Long]("bucket") ->
        ((r.getAs[Long]("n_pairs"), r.getAs[Long]("n_detected"),
          r.getAs[Long]("theo_detect_ppm")))).toMap
    def theo(s: Double): Long =
      math.floor((1.0 - math.pow(1.0 - math.pow(s, 3), 3)) * 1e6).toLong
    assert(got == Map(
      6L -> ((2L, 1L, theo(0.65))), 7L -> ((1L, 1L, theo(0.75))),
      8L -> ((2L, 0L, theo(0.85))), 9L -> ((1L, 1L, theo(0.95))),
      10L -> ((1L, 1L, theo(1.0)))))
    // the embedded constants ARE the closed form
    assert(Dedup.ScurveTheoPpm.toMap ==
      Map(6L -> theo(0.65), 7L -> theo(0.75), 8L -> theo(0.85),
        9L -> theo(0.95), 10L -> theo(1.0)))
  }

  test("q210 S-curve equals a sequential recompute on RANDOM pair " +
    "tables (bucketing + detection fuzzed, incl. non-truth candidates)") {
    // candidates NOT in the truth set must never create rows (the
    // left join keeps the truth side), and every bucket/count must
    // match a sequential fold. Seeded => reproducible.
    for (seed <- Seq(5, 42, 271)) {
      val rnd = new scala.util.Random(seed)
      val truth = (0 until 120).map { i =>
        val a = rnd.nextInt(40).toLong
        val b = a + 1 + rnd.nextInt(40)
        // rounded like the q151 output; range crosses every stratum
        // and both clamp edges
        val j = math.rint((0.58 + rnd.nextDouble() * 0.42) * 1e6) / 1e6
        (a, b, math.min(j, 1.0))
      }.distinct
      val detected = truth.filter(_ => rnd.nextBoolean())
        .map { case (a, b, _) => (a, b) }
      val noise = (0 until 30).map { _ =>
        (100L + rnd.nextInt(20), 200L + rnd.nextInt(20)) }
      val got = Dedup.lshScurve(
        truth.toDF("doc_a", "doc_b", "jaccard"),
        (detected ++ noise).distinct.toDF("doc_a", "doc_b")).collect()
        .map(r => r.getAs[Long]("bucket") ->
          ((r.getAs[Long]("n_pairs"), r.getAs[Long]("n_detected"),
            r.getAs[Long]("theo_detect_ppm")))).toMap
      val det = detected.toSet
      val expected = truth.groupBy { case (_, _, j) =>
        math.max(6L, math.min(10L, math.floor(j * 10).toLong)) }
        .map { case (bk, ps) =>
          bk -> ((ps.size.toLong,
            ps.count(p => det((p._1, p._2))).toLong,
            Dedup.ScurveTheoPpm.toMap.apply(bk))) }
      assert(got == expected, s"seed $seed diverges")
    }
  }

  test("minhash_sigs is bit-equal to the legacy per-k sha2 column " +
    "formulation (the DuckDB oracle CTE shape)") {
    // The native expression must reproduce, byte for byte, the exact
    // formulation every dedup oracle mirrors in SQL:
    //   mh_k = min(sha256_hex(k || ':' || shingle)).
    // Tricky inputs on purpose: multi-byte UTF-8, a ':' inside the
    // shingle (the salt separator), the empty string, a 200-char
    // shingle spanning multiple SHA-256 blocks, and a 1-element array.
    val shingleSets = Seq(
      Seq("the quick brown", "quick brown fox", "brown fox jumps"),
      Seq("naïve café δοκιμή", "日本語 テスト 漢字", "a:b:c with colons"),
      Seq(""),
      Seq("x" * 200, "y" * 63, "z" * 64, "w" * 65),
      Seq("solo"))
    val df = shingleSets.zipWithIndex.map { case (sh, i) => (i.toLong, sh) }
      .toDF("doc", "sh")
    val native = df.select(col("doc"),
        graft.functions.minhash_sigs(col("sh"), Dedup.MinhashFuncs).as("mhs"))
      .collect().map(r => r.getAs[Long]("doc") ->
        r.getSeq[String](1)).toMap
    val legacy = df.select(col("doc") +: (0 until Dedup.MinhashFuncs).map(k =>
        array_min(transform(col("sh"), s =>
          sha2(concat_ws(":", lit(k.toString), s), 256))).as(s"mh$k")): _*)
      .collect().map(r => r.getAs[Long]("doc") ->
        (0 until Dedup.MinhashFuncs).map(k => r.getAs[String](s"mh$k"))).toMap
    assert(native.keySet == legacy.keySet)
    for (d <- native.keySet)
      assert(native(d) == legacy(d), s"doc $d: ${native(d)} vs ${legacy(d)}")
  }

  test("minhashTablePerRow is row-identical to the aggregate minhashTable") {
    // the shared corpus build switched to the per-doc form (r12); its
    // (doc, mh0..mh8, n_sh) rows must match the exploded-aggregate
    // form exactly, short docs excluded by both
    val docs = Seq(
      (1L, base), (2L, base + " extra words appended here"),
      (3L, "too short"), // < 3 words: excluded by both forms
      (4L, "naïve café δοκιμή tokens repeat tokens repeat tokens"),
      (5L, "a b c a b c a b c d")) // repeated shingles: distinct once
      .toDF("doc_id", "text")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.toSeq.map(String.valueOf).mkString("|"))
        .sorted.toSeq
    val perRow = Dedup.minhashTablePerRow(docs, "doc_id", "text")
    val agg = Dedup.minhashTable(Dedup.shingleTable(docs, "doc_id", "text"))
    assert(perRow.columns.toSeq == agg.columns.toSeq)
    assert(canon(perRow) == canon(agg))
  }

  test("q210 stratum marginals reproduce q188's aggregate recall " +
    "on the fixture corpus") {
    val d = TestSpark.sf0001
    val scurve = SparkEntry.queries("q210_lsh_scurve")(spark, d).collect()
    val nPairs = scurve.map(_.getAs[Long]("n_pairs")).sum
    val nDet = scurve.map(_.getAs[Long]("n_detected")).sum
    val r188 = SparkEntry.queries("q188_dedup_recall")(spark, d).collect().head
    assert(nPairs == r188.getAs[Long]("n_truth"),
      "q210 buckets must partition exactly the q188 truth set")
    assert(nDet == r188.getAs[Long]("n_tp"),
      "q210 detected mass must equal q188's true positives")
  }

  test("q218 batch twin with event-time order DIVERGING from doc-id order " +
    "matches a sequential LRU-gate simulation (ADVICE r13)") {
    // Two regimes in one shared bucket:
    //  - docs 0..99 with STRICTLY DECREASING ts (arrival order is the
    //    reverse of id order, so partners carry LARGER ids) — exercises
    //    event-time aging under the diverging order;
    //  - docs 200..269 all at ONE ts (ties order by doc) — exercises
    //    the LRU cap (70 > BandBucketCap members, no aging).
    val rows: Seq[(Long, Long)] =
      (0 until 100).map(d => (d.toLong, 1000L - 3L * d)) ++
        (200 until 270).map(d => (d.toLong, 50000L))
    val horizon = 40L
    val bands = rows.map { case (doc, ts) => (doc, ts, 0, "bucket0") }
      .toDF("doc", "ts_ms", "band_idx", "band_hash")
    val got = Dedup.boundedGatePairs(bands, horizon).collect()
      .map(r => (r.getAs[Long]("doc"), r.getAs[Long]("partner"))).toSet
    // sequential reference = the streaming processor's semantics: walk
    // arrivals in (ts, doc) order; age members past the horizon,
    // collide with the survivors, admit, evict the oldest past the cap
    var members = Vector.empty[(Long, Long)] // (doc, ts) in arrival order
    val want = scala.collection.mutable.Set.empty[(Long, Long)]
    for ((doc, ts) <- rows.sortBy { case (doc, ts) => (ts, doc) }) {
      members = members.filter(_._2 > ts - horizon)
      members.foreach(m => want += ((doc, m._1)))
      members = (members :+ ((doc, ts))).takeRight(Dedup.BandBucketCap)
    }
    assert(got == want.toSet, s"got=${got.size} want=${want.size}")
    // the diverging order is really exercised: partners with larger ids
    assert(got.exists { case (d, p) => p > d },
      "an earlier-in-event-time partner with a larger doc id must pair")
    // aging binds under the reversed order: doc 0 (ts 1000) pairs with
    // ids 1..13 (ts >= 961) but not 14 (ts 958 = 1000 - 42)
    assert(got.filter(_._1 == 0L).map(_._2) == (1L to 13L).toSet)
    // the LRU cap binds in the tied-ts flood: the last arrival (269)
    // sees the 64 most recent earlier members (205..268), not all 69
    assert(got.filter(_._1 == 269L).map(_._2) == (205L to 268L).toSet)
  }
}
