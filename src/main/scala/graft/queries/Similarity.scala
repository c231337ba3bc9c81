package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SessionCache
import graft.Tables._

/** Similarity search over the `embeddings` table (north star; SURVEY.md
  * §2.2): brute-force cosine top-k as the correctness baseline, and
  * hyperplane-LSH bucketed approximate variants as the 100 TB path.
  *
  * Numeric parity with the DuckDB oracle: every float element is cast to
  * double BEFORE multiplication, and sums run as sequential left folds in
  * BOTH engines (Spark `aggregate` HOF / native VecDot ≡ DuckDB
  * `list_sum` over `list_transform`), so the IEEE result is bit-identical;
  * ranking happens on the ROUNDED cosine with a vec_id tie-break so order
  * can never depend on sub-ulp noise.
  */
object Similarity {

  /** Sequential-fold dot product of two float vectors, as doubles —
    * the native codegen'd [[graft.expressions.VecDot]] (bit-equal to
    * the aggregate/zip_with HOF fold, minus its per-pair allocation).
    */
  def dot(a: Column, b: Column): Column = graft.functions.vec_dot(a, b)

  /** Sequential-fold squared L2 norm (dot with itself). */
  def sqNorm(v: Column): Column = graft.functions.vec_dot(v, v)

  /** L2 norm. Precompute this ONCE PER ROW before any pairwise join:
    * computing norms inside the pair projection triples the
    * higher-order-function work (N*Q folds instead of N+Q).
    */
  def norm(v: Column): Column = sqrt(sqNorm(v))

  /** cosine(a, b) rounded to 6 decimals (rank on this, never the raw). */
  def cosine(a: Column, b: Column): Column =
    round(dot(a, b) / (norm(a) * norm(b)), 6)

  /** cosine with precomputed per-row norms — identical IEEE result to
    * [[cosine]] (same folds over the same vectors), 3x less work per
    * pair.
    */
  def cosinePre(a: Column, b: Column, normA: Column, normB: Column): Column =
    round(dot(a, b) / (normA * normB), 6)

  /** Embedding dimensionality of the corpus (TESTDATA.md). */
  val Dim = 64

  /** Deterministic pseudo-random Rademacher (±1) hyperplanes, seeded
    * once and baked as LITERALS into both the Spark plan and the
    * generated oracle SQL — fully reproducible across runs AND across
    * engines (the SQL is generated from these exact values, so the two
    * sides cannot diverge). Signature bit j = sign(<v, plane_j>):
    * classic hyperplane LSH, where P[bit differs] = angle(a,b)/π — far
    * better spread than the round-3 axis-slice sums (which degenerated
    * near the axis hyperplanes and capped at 16 buckets).
    *
    * Products by ±1 are exact in IEEE, so the dot is a sequential
    * left fold of sign-flipped floats — bit-identical in VecDot and in
    * DuckDB's list_sum(list_transform(list_zip(...))).
    *
    * WIDTH SCALES WITH DATA: callers pick `bits ≈ log2(N / target
    * bucket size)`, so the bucket count (2^bits) grows with the corpus
    * instead of being a constant — the fix for the round-3 q47
    * N²/constant-bucket scale-killer. The pool holds enough planes for
    * every consumer (q39/q52 signatures, q47's banded sub-signatures).
    */
  val PlanePool: IndexedSeq[Array[Float]] = {
    val rnd = new java.util.Random(20260812L)
    IndexedSeq.fill(40)(Array.fill(Dim)(if (rnd.nextBoolean()) 1.0f else -1.0f))
  }

  /** `bits`-char '0'/'1' signature from planes [offset, offset+bits).
    * Computed map-side per row — at 100 TB this is a projection (native
    * codegen'd VecDot per bit), never a shuffle.
    */
  def hyperplaneSig(v: Column, bits: Int, offset: Int = 0): Column =
    concat((0 until bits).map { j =>
      when(graft.functions.vec_dot(v, typedlit(PlanePool(offset + j))) > 0,
        lit("1")).otherwise(lit("0"))
    }: _*)

  /** The signature plus its `bits` hamming-1 neighbors (one bit flipped
    * at a time) — the multi-probe candidate keys.
    */
  def probeSigs(sig: Column, bits: Int): Seq[Column] =
    sig +: (0 until bits).map { i =>
      concat(
        substring(sig, 1, i),
        when(substring(sig, i + 1, 1) === "1", lit("0")).otherwise(lit("1")),
        substring(sig, i + 2, bits - i - 1))
    }

  // ---- DuckDB mirrors (generated from the SAME PlanePool values) ----

  private def planeSql(p: Array[Float]): String =
    p.map(x => if (x > 0f) "1.0" else "-1.0").mkString("[", ",", "]")

  /** DuckDB fragment: identical signature, identical fold order. */
  def hyperplaneSigSql(vecCol: String, bits: Int, offset: Int = 0): String =
    (0 until bits).map { j =>
      s"""(CASE WHEN list_sum(list_transform(
         |    list_zip($vecCol, ${planeSql(PlanePool(offset + j))}),
         |    p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) > 0
         |  THEN '1' ELSE '0' END)""".stripMargin
    }.mkString("(", " ||\n ", ")")

  /** DuckDB fragment: LIST of the signature plus its hamming-1 flips
    * (mirrors [[probeSigs]]); unnest at the call site.
    */
  def probeSigsSql(sigCol: String, bits: Int): String =
    s"""list_prepend($sigCol, list_transform(range(0, $bits), i ->
       |      substring($sigCol, 1, CAST(i AS INT)) ||
       |      (CASE WHEN substring($sigCol, CAST(i + 1 AS INT), 1) = '1'
       |            THEN '0' ELSE '1' END) ||
       |      substring($sigCol, CAST(i + 2 AS INT), $bits - CAST(i AS INT) - 1)))""".stripMargin

  /** q39 signature width: 2^8 = 256 buckets ≈ N/bucket_size at the test
    * corpus; at 100 TB you widen (log2 rule above), you don't re-design.
    */
  val Q39Bits = 8

  /** q52 width: 2 more bits (4x buckets), recall recovered by probing. */
  val Q52Bits = 10

  /** q197 list depth (truth and approx arms both ranked to this k). */
  val NdcgK = 10

  // ---- Operators (DataFrame-in so specs can run planted fixtures) ----

  /** Brute-force cosine top-k: every query vector (label = 0) against
    * the whole table. The query set is broadcast, so the big side never
    * shuffles — but the work is inherently O(N·Q): this is the exact
    * BASELINE; the bucketed plans below are what you run at 100 TB.
    */
  def bruteTopK(emb: DataFrame, k: Int): DataFrame = {
    // the O(N*Q) cosine scan is the kernel-heavy map side — spread it
    val e = graft.Tables.spread(emb, "vec_id")
      .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
    val q = emb.filter(col("label") === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        norm(col("embedding")).as("q_nrm"))
    val scored = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        cosinePre(col("q_emb"), col("embedding"),
          col("q_nrm"), col("nrm")).as("cosine"))
    topK(scored, k)
  }

  /** q200 query-set size — a production serving/eval benchmark is a
    * FIXED request batch, not a corpus fraction.
    */
  val FixedQCount = 64

  /** q200 — the serving-shaped exact top-k: the same O(N·Q) brute
    * scan as [[bruteTopK]] but over a FIXED, benchmark-sized query set
    * (the [[FixedQCount]] lowest-vec_id label-0 vectors, a
    * deterministic TakeOrdered of Q rows — never data-sized). This is
    * the arm that makes the ScaleProbe `ExactBaselines` exemption a
    * MEASURED claim instead of an argued one: q38/q170/q197 scale
    * ~quadratically on the fixture ONLY because their query set is the
    * label-0 slice (a constant fraction of the corpus, so Q grows with
    * N); pin Q and the scan side is linear in N — the probe measures
    * exactly that at 10×.
    */
  def bruteTopKFixedQ(emb: DataFrame, k: Int, nQ: Int): DataFrame = {
    val e = graft.Tables.spread(emb, "vec_id") // O(N*Q) scan side: spread
      .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
    val q = emb.filter(col("label") === 0)
      .select(col("vec_id"), col("embedding"))
      .orderBy(col("vec_id")).limit(nQ)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        norm(col("embedding")).as("q_nrm"))
    val scored = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        cosinePre(col("q_emb"), col("embedding"),
          col("q_nrm"), col("nrm")).as("cosine"))
    topK(scored, k)
  }

  /** Bucketed ANN: signature computed map-side, candidates = same-bucket
    * rows only (~N/2^bits per query instead of N), exact cosine re-rank
    * inside the bucket. Never all-pairs: the join is an equi-join on the
    * signature, so at 100 TB each query touches one bucket's partition.
    * Recall is approximate by construction (a true neighbor in another
    * bucket is missed) — that is the documented ANN trade; q52 buys
    * recall back with probing.
    */
  def annBuckets(emb: DataFrame, bits: Int, k: Int): DataFrame = {
    val sigs = withSig(emb, bits)
    val q = sigs.filter(col("label") === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"), col("sig"))
    rerank(sigs, q, k)
  }

  /** Multi-probe ANN: each query also probes every bucket at hamming
    * distance 1 from its own signature (flip one bit) — ~(1+bits)x the
    * candidates of [[annBuckets]] for materially better recall, still an
    * equi-join on the signature, still never all-pairs. A candidate's
    * single signature matches at most one distinct probe per query, so
    * no pair dedup is needed.
    */
  def annMultiprobe(emb: DataFrame, bits: Int, k: Int): DataFrame = {
    val sigs = withSig(emb, bits)
    val q = sigs.filter(col("label") === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"),
        explode(array(probeSigs(col("sig"), bits): _*)).as("sig"))
    rerank(sigs, q, k)
  }

  /** IVF centroid set: a deterministic hash sample of the corpus at
    * rate ceil(sqrt(N))/N, where N comes from an IN-PLAN 1-row count
    * broadcast to every row — so the cell count is ~sqrt(N) (the
    * textbook IVF balance point: assignment cost N*sqrt(N), probe cost
    * nprobe*sqrt(N) per query) and, critically, the broadcast centroid
    * set is SUBLINEAR in the corpus: at 10^9 vectors it is ~31.6k rows
    * (~8 MB of 64-float embeddings), not N/stride (the round-4 design,
    * whose broadcast grew linearly and whose assignment was quadratic).
    * Membership via [[TextAnalytics.hashFraction]] needs no training
    * step, is stable across runs/engines, and the rate expression
    * (count -> sqrt -> ceil -> divide, all IEEE-exact-or-correctly-
    * rounded) is bit-identical in Spark and DuckDB.
    */
  def ivfCentroids(e: DataFrame): DataFrame = {
    val rate = e.agg(count(lit(1)).cast("double").as("n_vecs"))
      .select((ceil(sqrt(col("n_vecs"))).cast("double") / col("n_vecs"))
        .as("cent_rate"))
    e.crossJoin(broadcast(rate))
      .filter(TextAnalytics.hashFraction(col("vec_id")) < col("cent_rate"))
      .select(col("vec_id").as("cent_id"), col("embedding").as("c_emb"),
        col("nrm").as("c_nrm"))
  }

  /** IVF (inverted-file) ANN — the second classic ANN family next to
    * LSH: every vector is assigned to its nearest "centroid" (a
    * deterministic ~sqrt(N) hash sample of the corpus, see
    * [[ivfCentroids]] — no training step, oracle-reproducible);
    * a query probes its `nprobe` nearest cells and re-ranks exactly
    * inside them.
    *
    * Scale shape: the assignment is a map-side broadcast cross of each
    * row against ~sqrt(N) centroids (the IVF build cost — the broadcast
    * is bounded sublinearly, never N/const), the probe join is an
    * equi-join on cell id, and the quadratic re-rank is confined to
    * nprobe cells of ~sqrt(N) vectors each. The scored
    * (vector x centroid) intermediate feeds both the cell assignment
    * and the query probes — persisted, or the crossJoin lineage runs
    * twice.
    */
  /** Base relation for the IVF family: (vec_id, embedding, label, nrm),
    * persisted (everything downstream touches it at least twice).
    */
  def ivfBase(emb: DataFrame): DataFrame = {
    val e = emb.select(col("vec_id"), col("embedding"), col("label"),
        norm(col("embedding")).as("nrm"))
      .transform(SessionCache.persist)
    e
  }

  /** (vector × centroid) ranking: every row of `e` scored against the
    * broadcast ~sqrt(N) centroid set, ranked per vector by (cosine
    * desc, cent_id). crn=1 is the cell assignment; crn<=nprobe are a
    * query's probe cells. Persisted — it feeds both sides of the probe
    * join.
    *
    * Rank NARROW rows: the table carries only ids and the cosine
    * through the per-vector rank window — dragging the 64-float
    * embedding through that sort shuffle multiplies the bytes moved
    * for nothing. Embeddings re-join from the persisted base by vec_id
    * afterwards.
    */
  def ivfScored(e: DataFrame): DataFrame = {
    val cents = ivfCentroids(e)
    val scored = e.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("label"), col("cent_id"),
        cosinePre(col("embedding"), col("c_emb"),
          col("nrm"), col("c_nrm")).as("c_cos"))
      .withColumn("crn", row_number().over(
        Window.partitionBy(col("vec_id"))
          .orderBy(col("c_cos").desc, col("cent_id"))))
      .transform(SessionCache.persist)
    scored
  }

  def annIvf(emb: DataFrame, nprobe: Int, k: Int): DataFrame = {
    val e = ivfBase(emb)
    val scored = ivfScored(e)
    val cells = scored.filter(col("crn") === 1)
      .select(col("vec_id"), col("cent_id"))
      .join(e.select(col("vec_id"), col("embedding"), col("nrm")), Seq("vec_id"))
    val qprobes = scored.filter(col("label") === 0 && col("crn") <= nprobe)
      .select(col("vec_id").as("q_id"), col("cent_id"))
      .join(e.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm")), Seq("q_id"))
    val cands = cells.join(broadcast(qprobes), Seq("cent_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        cosinePre(col("q_emb"), col("embedding"),
          col("q_nrm"), col("nrm")).as("cosine"))
    topK(cands, k)
  }

  /** Persist the IVF cell assignment as a SERVING layout: one
    * directory per cell (`cent_id=<id>/`), each holding that cell's
    * vectors with their precomputed norms. Directory partitioning is
    * the right call here because the cell count is ~sqrt(N) — bounded,
    * never the small-files explosion — and it turns the index into
    * SCAN PRUNING: a query that probes nprobe cells reads nprobe
    * directories at plan time and zero bytes of any other cell
    * (LayoutWriterSpec's hive-partitioning argument, applied to the
    * ANN index). This is the serving-time half of IVF that
    * [[annIvf]]'s in-memory plan can't give you.
    */
  def writeIvfCells(emb: DataFrame, path: String): Unit = {
    val e = ivfBase(emb)
    val cells = ivfScored(e).filter(col("crn") === 1)
      .select(col("vec_id"), col("cent_id"))
      .join(e.select(col("vec_id"), col("embedding"), col("nrm")), Seq("vec_id"))
    graft.sinks.LayoutWriter.writeHivePartitioned(cells, path, "cent_id")
  }

  /** On-disk serving layout location for `d`'s IVF cells — the train
    * half of the q62 serving row ([[sharedIvfServing]] writes it; the
    * q140 side-effect entry keeps its own separate scratch leaf).
    */
  def ivfServingPath(d: String): String =
    FileFormats.scratch(d, "ivf_serving_cells")

  /** Train-once half of the q62 serving row, memoized per (session,
    * dir) and itemized as `shared:ivf_serving` in Bench/ScaleProbe:
    * builds the N·√N centroid assignment ONCE, persists it as the
    * hive-partitioned cell layout ([[writeIvfCells]]'s shape), and
    * returns the probe table for the FIXED serving request — the
    * [[FixedQCount]] lowest-vec_id label-0 queries (q200's pinned
    * request pattern), each with its `nprobe=2` nearest cells.
    *
    * This is the structural retirement of the r11 q62 exemption: the
    * measured catalog row is now the production serving shape (read
    * nprobe pruned cell directories per query, exact re-rank inside —
    * per-request cost ~2·√N rows regardless of corpus size), while the
    * index build cost sits in this shared row where train-once-serve-
    * many attribution belongs.
    */
  def sharedIvfServing(s: SparkSession, d: String): DataFrame =
    SessionCache.shared(s, s"similarity:ivf_serving:$d") {
      val e = ivfBase(embeddings(s, d))
      val cents = ivfCentroids(e)
      // Cell assignment as ONE partially-aggregating argmax, not a
      // row_number window: the scored relation is N·√N rows, and the
      // window must SORT all of it (measured at the 100× probe:
      // 3.2/1.2 GB spill, 98 s). A max_by/struct-key argmax is no
      // better — its non-primitive buffer falls back to SortAggregate
      // (measured: 4.0/1.3 GB spill, 87 s). So the ordering packs into
      // ONE long (the repo's integer micro-units move): cosinePre is
      // EXACT 6-decimal units, so
      //   key = (cos_micro + 1e6) * 2^41 + (2^40 - cent_id)
      // is max'd by a genuine primitive-buffer HashAggregate with
      // map-side combine — zero sort anywhere. key strictly orders by
      // (c_cos DESC, cent_id ASC) — cos_micro ↦ k is a bijection on
      // 6dp values and cent_ids are vec_ids in [0, 2^40) in every
      // fixture and generator — so the decoded winner is exactly the
      // window's crn=1 row the q62/q140 oracles rank in SQL.
      val packK = 1L << 41
      val packC = 1L << 40
      val key = (round(cosinePre(col("embedding"), col("c_emb"),
          col("nrm"), col("c_nrm")) * lit(1000000d), 0).cast("long")
        + lit(1000000L)) * lit(packK) + (lit(packC) - col("cent_id"))
      val assign = e.crossJoin(broadcast(cents))
        .select(col("vec_id"), key.as("k"))
        .groupBy(col("vec_id"))
        .agg(max(col("k")).as("k"))
        .select(col("vec_id"),
          (lit(packC) - pmod(col("k"), lit(packK))).as("cent_id"))
      val cells = assign
        .join(e.select(col("vec_id"), col("embedding"), col("nrm")), Seq("vec_id"))
      graft.sinks.LayoutWriter.writeHivePartitioned(
        cells, ivfServingPath(d), "cent_id")
      // probe ranking only for the FIXED request: FixedQCount queries
      // × √N centroids — window-sized by the request, not the corpus
      val qids = e.filter(col("label") === 0)
        .select(col("vec_id").as("q_id"))
        .orderBy(col("q_id")).limit(FixedQCount)
      e.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          col("nrm").as("q_nrm"))
        .join(broadcast(qids), Seq("q_id"))
        .crossJoin(broadcast(cents))
        .withColumn("c_cos", cosinePre(col("q_emb"), col("c_emb"),
          col("q_nrm"), col("c_nrm")))
        .withColumn("crn", row_number().over(
          Window.partitionBy(col("q_id"))
            .orderBy(col("c_cos").desc, col("cent_id"))))
        .filter(col("crn") <= 2)
        .select(col("q_id"), col("cent_id"), col("q_emb"), col("q_nrm"))
    }

  /** A query's probe set against the same centroid sample:
    * (q_id, cent_id, q_emb, q_nrm), one row per (query, probed cell).
    */
  def ivfQueryProbes(emb: DataFrame, nprobe: Int): DataFrame = {
    val e = ivfBase(emb)
    ivfScored(e).filter(col("label") === 0 && col("crn") <= nprobe)
      .select(col("vec_id").as("q_id"), col("cent_id"))
      .join(e.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm")), Seq("q_id"))
  }

  /** Serve top-k from the on-disk cell layout: read ONLY the probed
    * cells (literal partition filter → plan-time directory pruning),
    * exact re-rank inside them. The collected probe-cell id list is
    * queries×nprobe long — the serving request itself, not data. Must
    * return exactly [[annIvf]]'s rows for the same (nprobe, k):
    * SimilaritySpec asserts equality plus the pruning.
    */
  def serveIvfTopK(spark: SparkSession, path: String, qprobes: DataFrame,
                   k: Int): DataFrame = {
    val cellIds = qprobes.select(col("cent_id")).distinct()
      .collect().map(_.getLong(0)).sorted
    val cells = spark.read.parquet(path)
      // partition-column type inference may narrow cent_id to int
      .withColumn("cent_id", col("cent_id").cast("long"))
      .filter(col("cent_id").isin(cellIds.map(Long.box): _*))
    val cands = cells.join(broadcast(qprobes), Seq("cent_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        cosinePre(col("q_emb"), col("embedding"),
          col("q_nrm"), col("nrm")).as("cosine"))
    topK(cands, k)
  }

  private def withSig(emb: DataFrame, bits: Int): DataFrame =
    emb.select(col("vec_id"), col("embedding"), col("label"),
      norm(col("embedding")).as("nrm"),
      hyperplaneSig(col("embedding"), bits).as("sig"))

  private def rerank(sigs: DataFrame, q: DataFrame, k: Int): DataFrame = {
    val cands = sigs.select(col("vec_id"), col("embedding"), col("nrm"), col("sig"))
      .join(broadcast(q), Seq("sig"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        cosinePre(col("q_emb"), col("embedding"),
          col("q_nrm"), col("nrm")).as("cosine"))
    topK(cands, k)
  }

  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("neighbor_id"), col("rn"), col("cosine"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q38_cosine_topk" -> ((s, d) => bruteTopK(embeddings(s, d), 5)),
    "q200_topk_fixed_queries" ->
      ((s, d) => bruteTopKFixedQ(embeddings(s, d), 5, FixedQCount)),
    "q39_ann_buckets" -> ((s, d) => annBuckets(embeddings(s, d), Q39Bits, 3)),
    "q52_ann_multiprobe" -> ((s, d) => annMultiprobe(embeddings(s, d), Q52Bits, 3)),
    // IVF SERVING (re-planned r12, retiring the r11 superlinearity
    // exemption): the row measures the production request shape — the
    // FixedQCount pinned queries re-ranked exactly inside their nprobe=2
    // pruned cell directories of the persisted layout. The N·√N index
    // build runs once per pass under shared:ivf_serving. annIvf (the
    // inline build+probe twin) stays as the library operator;
    // SimilaritySpec pins served == annIvf row equality.
    "q62_ann_ivf" -> ((s, d) =>
      serveIvfTopK(s, ivfServingPath(d), sharedIvfServing(s, d), 3)),

    // IVF serving-layout round trip (side-effect entry, q91 pattern):
    // write the cell assignment hive-partitioned by cent_id via
    // writeIvfCells, read the layout back, and digest per-cell
    // membership (count + id-sum). The oracle recomputes the cell
    // assignment from the raw table, so a hash match proves the
    // directory layout is a LOSSLESS re-arrangement of the exact crn=1
    // assignment — pruning behavior is SimilaritySpec's half.
    "q140_ivf_cells_layout" -> ((s, d) => {
      val out = FileFormats.scratch(d, "ivf_cells")
      writeIvfCells(embeddings(s, d), out)
      s.read.parquet(out)
        .select(col("cent_id").cast("long").as("cent_id"), col("vec_id"))
        .groupBy(col("cent_id"))
        .agg(count(lit(1)).as("n_members"),
          sum(col("vec_id")).as("sum_vec_ids"))
    }),

    // Per-label centroid via the typed VecCentroid Aggregator (UDAF
    // surface): one hash aggregate with a fixed 8*dim buffer — no
    // collect_list of vectors, no dim× posexplode shuffle. The result
    // is exploded to (label, pos, value) rows only AFTER the 10-row
    // aggregate, so the explode is driver-cheap at any scale.
    "q70_vec_centroid" -> ((s, d) => {
      val centroid = udaf(graft.aggregates.VecCentroid)
      embeddings(s, d).groupBy(col("label"))
        .agg(centroid(col("embedding")).as("centroid"))
        .select(col("label"), posexplode(col("centroid")).as(Seq("pos", "cval")))
        .select(col("label"), col("pos"),
          round(col("cval"), 6).as("centroid_val"))
    }),

    // Int8 scalar quantization of the embedding column — the storage op
    // for 100 TB of vectors (4 bytes → 1 byte per dim + two doubles per
    // row): per-vector affine map to 0..255, dequantize, reconstruction
    // error envelope. A pure projection — zero shuffle at any scale.
    // Parity: every element is cast to double BEFORE arithmetic, ops run
    // in source order, round() operands are non-negative (HALF_UP and
    // half-away-from-zero agree), and the mean-error fold is the same
    // sequential left fold as the oracle's list_sum.
    "q86_vec_quantize" -> ((s, d) => {
      embeddings(s, d)
        .withColumn("mn", array_min(col("embedding")).cast("double"))
        .withColumn("mx", array_max(col("embedding")).cast("double"))
        .withColumn("scale", (col("mx") - col("mn")) / 255.0)
        .withColumn("qv", transform(col("embedding"), x =>
          when(col("scale") > 0,
            round((x.cast("double") - col("mn")) / col("scale")).cast("int"))
            .otherwise(lit(0))))
        .withColumn("deq", transform(col("qv"), q =>
          col("mn") + q.cast("double") * col("scale")))
        .withColumn("errs", zip_with(col("embedding"), col("deq"),
          (a, b) => abs(a.cast("double") - b)))
        .select(col("vec_id"),
          size(col("embedding")).cast("long").as("n_dims"),
          round(col("mn"), 6).as("v_min"),
          round(col("mx"), 6).as("v_max"),
          round(array_max(col("errs")), 6).as("max_err"),
          round(aggregate(col("errs"), lit(0.0), (acc, e) => acc + e)
            / size(col("embedding")), 6).as("mean_err"))
    }),

    // Johnson-Lindenstrauss random projection (64 -> 16 dims) — the
    // dimensionality-reduction pre-step of an ANN/clustering pipeline
    // (project once, index the short vectors, re-rank survivors in
    // full dimension). Dense Rademacher JL (Achlioptas 2003): proj_j =
    // <v, plane_j> / sqrt(m) over [[JlDim]] of the SAME PlanePool
    // planes the LSH family uses — products by ±1 are exact in IEEE,
    // and sqrt(16) = 4 makes the scale an exact power of two, so the
    // whole projection is bit-identical cross-engine. norm_ratio
    // (||proj|| / ||v||) is the per-row distortion JL bounds; its
    // sum-of-squares runs in the same left-to-right order as the
    // oracle's `+` chain. A pure projection: zero shuffle, native
    // codegen'd VecDot per output dim, trivially scale-free.
    "q165_jl_projection" -> ((s, d) => {
      val e = embeddings(s, d).select(col("vec_id"), col("embedding"))
      val raw = (0 until JlDim).map(j =>
        (dot(col("embedding"), typedlit(PlanePool(JlOffset + j))) / 4.0)
          .as(s"r$j"))
      val p = e.select(col("vec_id") +: col("embedding") +: raw: _*)
      val sq = (0 until JlDim).map(j => col(s"r$j") * col(s"r$j"))
        .reduce(_ + _)
      // Output shape: one SCALAR column per projected dim (p00..p15),
      // not an ARRAY — the driver's pandas-based oracle compare cannot
      // hash array cells (VERDICT r6 #3). Downstream ops that want the
      // vector form re-assemble with array(p00..p15).
      p.select(
        col("vec_id") +:
          (0 until JlDim).map(j => round(col(s"r$j"), 6).as(f"p$j%02d")) :+
          round(sqrt(sq) / norm(col("embedding")), 6).as("norm_ratio"): _*)
    }),

    // Hard-negative mining — the contrastive-training data op (triplet
    // construction for embedding fine-tuning): for every anchor (the
    // label-0 query set, as q38), the nearest SAME-label neighbor is
    // the positive, the nearest DIFFERENT-label neighbor the hard
    // negative, margin = pos − neg (negative margin = the anchor's
    // hardest confusions, exactly the pairs a contrastive batch
    // wants). Pairing is the documented exact O(N·Q) baseline (any
    // ANN family member substitutes the candidate step at scale); the
    // two argmax selections are per-anchor windows over the SAME
    // scored pairs (one scan), both partitioned by q_id.
    "q168_hard_negatives" -> ((s, d) =>
      hardNegTriplets(hardNegScoredExact(embeddings(s, d)))),

    // ANN index EVALUATION — recall@3 of the q52 multi-probe LSH
    // against the q38 exact baseline, per query, IN-ENGINE (the spec's
    // recall bar turned into a measurable catalog surface, the q130
    // estimate-vs-exact move for the dense family): an index rebuild /
    // parameter change shows up as a recall drop in this table, not as
    // a silent quality regression. Cost is the two arms it evaluates;
    // the comparison itself is one semi-join + one anchor-sized left
    // join.
    "q170_ann_recall" -> ((s, d) => {
      // Both eval arms ride the shared k=[[NdcgK]] tables q197 also
      // reads (guide §3 build-once): topK's row_number orders by the
      // TOTAL key (cosine desc, neighbor_id), so `rn <= 3` of the k=10
      // table is EXACTLY the k=3 result — same rows, same rns.
      val truth = sharedAnnTruth(s, d).filter(col("rn") <= 3)
        .select(col("q_id"), col("neighbor_id"))
      val approx = sharedAnnMultiprobe(s, d).filter(col("rn") <= 3)
        .select(col("q_id"), col("neighbor_id"))
      val hits = approx.join(truth, Seq("q_id", "neighbor_id"), "left_semi")
        .groupBy(col("q_id")).agg(count(lit(1)).as("n_hits"))
      truth.select(col("q_id")).distinct()
        .join(hits, Seq("q_id"), "left")
        .na.fill(0L, Seq("n_hits"))
        .select(col("q_id"), col("n_hits"),
          round(col("n_hits") / 3.0, 6).as("recall_at_3"))
    }),

    // Ranking-quality eval for the ANN arm — nDCG@10 + reciprocal rank
    // (Järvelin & Kekäläinen 2002; the ORDER-sensitive complement to
    // q170's set-based recall): graded gain of an approx-list item is
    // its true exact-cosine rank (gain 11−t_rn), discounted by its
    // APPROX position log2(a_rn+1); rr_of_top1 is 1/position of the
    // true nearest neighbor in the approx list (0 when dropped). A
    // probe/bits change that keeps recall but scrambles ORDER shows
    // up here and nowhere else. Per-position terms land in integer
    // micro-units (the q167 rule) so the ≤10-term sums are exact;
    // nDCG is one long/long division. Cost is the two arms it
    // evaluates; the comparison is anchor-sized joins.
    "q197_ann_ndcg" -> ((s, d) =>
      annNdcgFrom(sharedAnnTruth(s, d), sharedAnnMultiprobe(s, d), NdcgK)),

    // k-center greedy coreset (Gonzalez '85, the 2-approximation) —
    // the diversity-maximizing DATA-SELECTION op (pick K exemplars so
    // every vector is near one; the facility-location/coverage shape
    // fine-tuning-set selection and annotation budgeting use, vs
    // q139's density-seeking k-means). See [[kCenterCoreset]] for the
    // per-sweep-O(N·d) running-min implementation.
    "q180_kcenter_coreset" -> ((s, d) =>
      kCenterCoreset(embeddings(s, d), KCenterK)),

    // Embedding-space outlier sweep — the garbage-vector detector a
    // curation pipeline runs before clustering/dedup trusts the
    // embeddings (truncated inputs, encoder failures, and wrong-modal
    // rows land far outside the distribution on SOME axis): per-dim
    // robust z-scores (Iglewicz–Hoban modified z, median/MAD — mean/
    // stddev would let the outliers mask themselves) over the SAME
    // 16-dim JL projection q165 ships, score = max |z| across dims,
    // flagged above the standard 3.5 bar. Runs on the projection, not
    // the raw 64 dims: 4x fewer exploded rows and the JL distortion
    // bound says distances (hence outlyingness) survive.
    // Scale note: per-dim median/MAD is an EXACT percentile_cont over
    // JlDim groups (a 16-hot-key sort shape at extreme corpus sizes) —
    // production swaps approx_percentile (t-digest, map-combinable)
    // into the same plan; the fixture keeps the exact form because the
    // oracle needs bit-equal medians.
    "q183_embedding_outliers" -> ((s, d) =>
      embeddingOutliers(s, embeddings(s, d))),

    // IVF-PQ serving — the production ANN read path, composed from the
    // catalog's own parts (proof the pieces are an INDEX, not demos):
    // the q62 IVF prunes the corpus to nprobe probed cells, then
    // candidates are scored by ASYMMETRIC DISTANCE COMPUTATION over
    // the q181 PQ codes — per query, one tiny (m·k)-row table of
    // query-subvector→sub-centroid distances, and a candidate's
    // approximate distance is the SUM of m lookups into it (the
    // vectors themselves are never touched during scoring; at serving
    // scale the scan reads codes — one byte per vector — not floats).
    // Output: per query, the ADC top-3 with the exact cosine attached
    // as the audit column (the recall story of q170, inline).
    // Plan shape: the ADC lookups are m broadcast joins against
    // queries×k-row tables, candidates stay IVF-bounded, the final
    // exact cosine touches 3 rows per query.
    "q190_ivfpq_serving" -> ((s, d) => ivfPqServe(embeddings(s, d),
      codebook = Some(j => Clustering.sharedSubCentroids(
        s, d, j, 64 / Clustering.PqM, Clustering.PqK, Clustering.PqIters))))
  )

  /** q168 exact candidate generation: every anchor (label-0 query)
    * against the whole corpus via broadcast — the documented O(N·Q)
    * baseline. Returns (q_id, n_id, same, cos).
    */
  def hardNegScoredExact(emb: DataFrame): DataFrame = {
    val e = emb.select(col("vec_id"), col("embedding"), col("label"),
      norm(col("embedding")).as("nrm"))
    val q = e.filter(col("label") === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("label").as("q_label"), col("nrm").as("q_nrm"))
    e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        (col("label") === col("q_label")).as("same"),
        cosinePre(col("q_emb"), col("embedding"),
          col("q_nrm"), col("nrm")).as("cos"))
  }

  /** q168 candidate generation through the MULTI-PROBE LSH family —
    * the 100-TB substitution for [[hardNegScoredExact]] (same output
    * shape, candidates confined to each anchor's probed buckets
    * instead of the full corpus, so cost is anchors × bucket size).
    * AnnSubstitutionSpec measures the pos/neg recall this trade buys.
    */
  def hardNegScoredAnn(emb: DataFrame, bits: Int): DataFrame = {
    val sigs = withSig(emb, bits)
    val q = sigs.filter(col("label") === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("label").as("q_label"), col("nrm").as("q_nrm"),
        explode(array(probeSigs(col("sig"), bits): _*)).as("sig"))
    sigs.join(broadcast(q), Seq("sig"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        (col("label") === col("q_label")).as("same"),
        cosinePre(col("q_emb"), col("embedding"),
          col("q_nrm"), col("nrm")).as("cos"))
  }

  /** q168 triplet construction over any (q_id, n_id, same, cos)
    * candidate set: nearest same-label = positive, nearest
    * different-label = hard negative, margin = pos − neg. The two
    * argmax selections are per-anchor windows over the SAME scored
    * candidates (one scan), both partitioned by q_id.
    */
  def hardNegTriplets(scored: DataFrame): DataFrame = {
    def top1(same: Boolean, idc: String, cosc: String): DataFrame =
      scored.filter(col("same") === same)
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("q_id"))
            .orderBy(col("cos").desc, col("n_id"))))
        .filter(col("rn") === 1)
        .select(col("q_id"), col("n_id").as(idc), col("cos").as(cosc))
    top1(same = true, "pos_id", "pos_cos")
      .join(top1(same = false, "neg_id", "neg_cos"), Seq("q_id"))
      .select(col("q_id"), col("pos_id"), col("pos_cos"),
        col("neg_id"), col("neg_cos"),
        round(col("pos_cos") - col("neg_cos"), 6).as("margin"))
  }

  /** q197 body over any (vec_id, embedding, label) frame — nDCG@k +
    * reciprocal rank of the multi-probe ANN arm against the exact
    * brute-force ranking (see the catalog entry's doc); split out so
    * specs can drive planted/degenerate corpora.
    */
  def annNdcg(e: DataFrame, k: Int, bits: Int): DataFrame = {
    val truth = bruteTopK(e, k)
      .transform(SessionCache.persist)
    annNdcgFrom(truth, annMultiprobe(e, bits, k), k)
  }

  /** The q170/q197 eval arms, memoized (guide §3 build-once / the
    * shared:trade_edges pattern): the exact truth list and the q52
    * multi-probe approx list at k = [[NdcgK]]. Before this, each eval
    * row re-ran BOTH arms per evaluation (the O(N·Q) brute scan
    * twice + the multiprobe rerank twice per pass). q170 reads the
    * k ≤ 3 prefix (exact — topK's row_number orders by the total
    * (cosine desc, neighbor_id) key). The SERVING/baseline rows
    * (q38/q52/q200) deliberately do NOT ride these: their standalone
    * cost is the documented measured-baseline evidence. Itemized in
    * Bench/ScaleProbe; `clearAll()` drops them every pass.
    */
  def sharedAnnTruth(s: SparkSession, d: String): DataFrame =
    SessionCache.shared(s, s"sim:ann_eval_truth:$d") {
      bruteTopK(embeddings(s, d), NdcgK)
    }

  def sharedAnnMultiprobe(s: SparkSession, d: String): DataFrame =
    SessionCache.shared(s, s"sim:ann_eval_probe:$d") {
      annMultiprobe(embeddings(s, d), Q52Bits, NdcgK)
    }

  /** q197 body over pre-built arms: `truth`/`approx` are
    * (q_id, neighbor_id, rn, ...) at depth >= k.
    */
  def annNdcgFrom(truthIn: DataFrame, approxIn: DataFrame, k: Int): DataFrame = {
    val truth = truthIn.filter(col("rn") <= k)
      .select(col("q_id"), col("neighbor_id"), col("rn").as("t_rn"))
    val idcg = truth.groupBy(col("q_id"))
      .agg(sum(round((lit(k + 1) - col("t_rn"))
          / log2(col("t_rn") + lit(1)) * 1e6, 0).cast("long"))
        .as("idcg_micro"))
    val approx = approxIn.filter(col("rn") <= k)
      .select(col("q_id"), col("neighbor_id"), col("rn").as("a_rn"))
    approx.join(truth, Seq("q_id", "neighbor_id"), "left")
      .groupBy(col("q_id"))
      .agg(
        sum(when(col("t_rn").isNotNull,
          round((lit(k + 1) - col("t_rn"))
            / log2(col("a_rn") + lit(1)) * 1e6, 0).cast("long"))
          .otherwise(0L)).as("dcg_micro"),
        sum(when(col("t_rn").isNotNull, 1L).otherwise(0L)).as("n_overlap"),
        max(when(col("t_rn") === 1,
          round(lit(1e6) / col("a_rn"), 0).cast("long"))
          .otherwise(0L)).as("rr_micro"))
      .join(idcg, Seq("q_id"))
      .select(col("q_id"), col("n_overlap"),
        round(col("dcg_micro").cast("double") / col("idcg_micro"), 6)
          .as("ndcg_at_10"),
        round(col("rr_micro") / 1e6, 6).as("rr_of_top1"))
  }

  /** q190 body over any (vec_id, embedding[64], label) frame — see the
    * catalog entry's doc; split out so the spec can plant families.
    * `codebook(j)` supplies an already-trained sub-codebook (the
    * catalog passes [[Clustering.sharedSubCentroids]] — serving must
    * score against the SAME codebooks the q181 build wrote, and
    * training them twice per session was the bulk of this query's r8
    * wall); None trains in-line (specs).
    */
  def ivfPqServe(emb: DataFrame,
                 codebook: Option[Int => DataFrame] = None): DataFrame = {
      val m = Clustering.PqM; val pk = Clustering.PqK
      val it = Clustering.PqIters; val subDim = 64 / m
      val e = ivfBase(emb)
      val scored = ivfScored(e)
      val subs = (0 until m).map { j =>
        val sliced = e.select(col("vec_id"),
          slice(col("embedding"), j * subDim + 1, subDim).as("embedding"))
        val cj = codebook.map(_(j))
          .getOrElse(Clustering.kmeansCentroids(sliced, pk, it))
        val codes = Clustering.assign(sliced, cj)
          .select(col("vec_id"), col("cent_id").as(s"code$j"))
        val qd = e.filter(col("label") === 0)
          .select(col("vec_id").as("q_id"),
            slice(col("embedding"), j * subDim + 1, subDim).as("qe"))
          .crossJoin(broadcast(cj))
          .select(col("q_id"), col("cent_id").as(s"code$j"),
            round(Clustering.distSq(col("qe"), col("c_emb")), 6).as(s"d$j"))
        (codes, qd)
      }
      val codes = subs.map(_._1).reduce(_.join(_, Seq("vec_id")))
      val cells = scored.filter(col("crn") === 1)
        .select(col("vec_id"), col("cent_id"))
      val qprobes = scored.filter(col("label") === 0 && col("crn") <= 2)
        .select(col("vec_id").as("q_id"), col("cent_id"))
      var adc = cells.join(broadcast(qprobes), Seq("cent_id"))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("neighbor_id"))
        .join(codes.withColumnRenamed("vec_id", "neighbor_id"),
          Seq("neighbor_id"))
      subs.zipWithIndex.foreach { case ((_, qd), j) =>
        adc = adc.join(broadcast(qd), Seq("q_id", s"code$j"))
      }
      val ranked = adc.select(col("q_id"), col("neighbor_id"),
          round((0 until m).map(j => col(s"d$j")).reduce(_ + _), 6)
            .as("adc_d2"))
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("q_id"))
            .orderBy(col("adc_d2"), col("neighbor_id"))).cast("long"))
        .filter(col("rank") <= 3)
      ranked
        .join(e.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          col("nrm").as("q_nrm")), Seq("q_id"))
        .join(e.select(col("vec_id").as("neighbor_id"),
          col("embedding").as("n_emb"), col("nrm").as("n_nrm")),
          Seq("neighbor_id"))
        .select(col("q_id"), col("rank"), col("neighbor_id"), col("adc_d2"),
          cosinePre(col("q_emb"), col("n_emb"), col("q_nrm"), col("n_nrm"))
            .as("true_cos"))
  }

  /** q183 body over any (vec_id, embedding[64]) frame — see the
    * catalog entry's doc; split out so the spec can plant outliers.
    */
  def embeddingOutliers(s: SparkSession, emb: DataFrame): DataFrame = {
      // Pure DataFrame pipeline — no temp view, so concurrent/repeated
      // construction in one session can't collide on a global name
      // (ADVICE r7). `percentile(x, 0.5)` is the same exact interpolated
      // median percentile_cont computes.
      val e = emb.select(col("vec_id"), col("embedding"))
      val raw = (0 until JlDim).map(j =>
        round(dot(col("embedding"), typedlit(PlanePool(JlOffset + j))) / 4.0, 6)
          .as(s"r$j"))
      val p = e.select(col("vec_id") +: raw: _*)
      val long = p.select(col("vec_id"),
          posexplode(array((0 until JlDim).map(j => col(s"r$j")): _*)))
        .withColumnRenamed("pos", "dim").withColumnRenamed("col", "v")
        .transform(SessionCache.persist)
      val stats = long.groupBy(col("dim"))
        .agg(expr("percentile(v, 0.5D)").as("med"))
      val dev = long.join(broadcast(stats), Seq("dim"))
        .withColumn("adev", abs(col("v") - col("med")))
        .transform(SessionCache.persist)
      // Iglewicz–Hoban modified z; when a dimension's MAD is 0 (over
      // half the values sit exactly at the median) fall back to the
      // MEAN absolute deviation, 1.253313·(v−med)/meanAD, instead of
      // masking the dimension with a 0 score (ADVICE r7): an extreme
      // outlier on an otherwise near-constant projected dim now
      // registers. Both deviations come from the same `dev` pass.
      val mads = dev.groupBy(col("dim"))
        .agg(expr("percentile(adev, 0.5D)").as("mad"),
          avg(col("adev")).as("meanad"))
      val z = dev.join(broadcast(mads), Seq("dim"))
        .select(col("vec_id"),
          when(col("mad") =!= 0.0,
              abs(lit(0.6745) * (col("v") - col("med")) / col("mad")))
            .when(col("meanad") =!= 0.0,
              abs(lit(1.253313) * (col("v") - col("med")) / col("meanad")))
            .otherwise(lit(0.0)).as("az"))
      z.groupBy(col("vec_id")).agg(round(max(col("az")), 6).as("score"))
        .select(col("vec_id"), col("score"), (col("score") > 3.5).as("is_outlier"))
  }

  /** Coreset size for q180 — big enough to exercise the greedy, small
    * enough that the K distributed sweeps stay visibly cheap.
    */
  val KCenterK = 8

  /** Gonzalez greedy k-center with a STORED RUNNING MIN: each sweep
    * is one O(N·d) distributed pass — distance to the NEWEST center
    * only, `least()` against the materialized `mind` column, and a
    * TakeOrdered(1) argmax (per-partition top-1 + driver merge; the
    * driver collects exactly one row per sweep). The naive form
    * ([[kCenterCoresetRescan]], kept as the spec's reference) rebuilds
    * min-distance over ALL selected centers every sweep — O(K·N·d)
    * total, the r7 verdict's watch item; this is the documented
    * variant made real, selection-identical by construction
    * (incremental least of the same rounded cosines — least is
    * associative) and asserted in SimilaritySpec. The sweeps' tables
    * are [[Graph.Rounds]] states, so at most two corpus-wide (vec,
    * embedding, mind) tables are stored at once, and none after the
    * last sweep. Selection ranks on the ROUNDED cosine with a vec_id
    * tie-break — the house rule that keeps both engines' argmax off
    * sub-ulp noise.
    */
  def kCenterCoreset(emb: DataFrame, k: Int): DataFrame = {
    val sp = emb.sparkSession
    import sp.implicits._
    val e = emb.select(col("vec_id"), col("embedding"))
    val seedRows = e.orderBy(col("vec_id")).limit(1)
      .as[(Long, Seq[Float])].collect()
    var centers = Vector.empty[(Long, Option[Double])]
    if (seedRows.nonEmpty) {
      centers = Vector((seedRows.head._1, None))
      def dist(c: Seq[Float]) = lit(1.0) - cosine(col("embedding"), typedlit(c))
      val rounds = new Graph.Rounds(
        e.select(col("vec_id"), col("embedding"), dist(seedRows.head._2).as("mind")))
      while (centers.size < k) {
        // the argmax job reads the whole state, so the next advance may
        // release the state it came from
        val next = rounds.state.orderBy(col("mind").desc, col("vec_id")).limit(1)
          .as[(Long, Seq[Float], Double)].collect().head
        centers = centers :+ ((next._1, Some(next._3)))
        if (centers.size < k)
          rounds.advance(_.select(col("vec_id"), col("embedding"),
            least(col("mind"), dist(next._2)).as("mind")))
      }
      rounds.releaseAll()
    }
    centers.zipWithIndex.map { case ((id, r), i) =>
      (i + 1, id, r.map(x => BigDecimal(x).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble))
    }.toDF("step", "vec_id", "radius")
  }

  /** The rescan form of [[kCenterCoreset]] — min-distance over ALL
    * selected centers recomputed every sweep (O(K·N·d) total). Kept
    * ONLY as the independent reference implementation SimilaritySpec
    * checks the running-min variant against; not in the catalog.
    */
  def kCenterCoresetRescan(emb: DataFrame, k: Int): DataFrame = {
    val sp = emb.sparkSession
    import sp.implicits._
    val e = emb.select(col("vec_id"), col("embedding"))
      .transform(SessionCache.persist)
    val seed = e.orderBy(col("vec_id")).limit(1)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect().head
    var centers = Vector[(Long, Seq[Float], Option[Double])](
      (seed._1, seed._2, None))
    while (centers.size < k) {
      val mind = centers.map(c =>
        lit(1.0) - cosine(col("embedding"), typedlit(c._2))).reduce(least(_, _))
      val next = e.select(col("vec_id"), col("embedding"), mind.as("mind"))
        .orderBy(col("mind").desc, col("vec_id")).limit(1)
        .as[(Long, Seq[Float], Double)].collect().head
      centers = centers :+ ((next._1, next._2, Some(next._3)))
    }
    centers.zipWithIndex.map { case ((id, _, r), i) =>
      (i + 1, id, r.map(x => BigDecimal(x).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble))
    }.toDF("step", "vec_id", "radius")
  }

  /** q165 JL target dimensionality (sqrt(16) = 4 keeps the scale
    * exact) and the PlanePool offset (the tail 16 planes — disjoint
    * from every LSH consumer, though overlap would only correlate the
    * families, not break either).
    */
  val JlDim = 16
  val JlOffset = 24

  /** DuckDB fragment: cosine of two list columns, identical fold order
    * to [[cosine]].
    */
  private[queries] def cosineSql(a: String, b: String): String =
    s"""round(
       |  list_sum(list_transform(list_zip($a, $b),
       |           p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
       |  / (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       |   * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6)""".stripMargin

  /** Shared CTE prefix of the IVF oracles (q62, q140): corpus →
    * sampling rate → ~sqrt(N) centroid set → per-vector centroid
    * ranking. One definition so the two oracles can never drift.
    */
  private lazy val ivfRankedCteSql: String =
    s"""e AS (SELECT vec_id, embedding, label FROM embeddings),
       |r AS (
       |  SELECT ceil(sqrt(CAST(count(*) AS DOUBLE)))
       |           / CAST(count(*) AS DOUBLE) AS cent_rate
       |  FROM e),
       |cents AS (
       |  SELECT vec_id AS cent_id, embedding AS c_emb FROM e, r
       |  WHERE ${TextAnalytics.hashFractionSql("vec_id")} < r.cent_rate),
       |scored AS (
       |  SELECT e.vec_id, e.embedding, e.label, c.cent_id,
       |    ${cosineSql("e.embedding", "c.c_emb")} AS c_cos
       |  FROM e CROSS JOIN cents c),
       |ranked AS (
       |  SELECT vec_id, embedding, label, cent_id,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY c_cos DESC, cent_id) AS crn
       |  FROM scored)""".stripMargin

  private def topKSql(candsCte: String, k: Int): String =
    s"""SELECT q_id, neighbor_id, rn, cosine FROM (
       |  SELECT q_id, neighbor_id, cosine,
       |         CAST(row_number() OVER (PARTITION BY q_id
       |           ORDER BY cosine DESC, neighbor_id) AS INT) AS rn
       |  FROM $candsCte)
       |WHERE rn <= $k""".stripMargin

  /** q38 / q52 mirrors, hoisted so the q170 recall oracle can embed
    * the SAME two arms (a map self-reference inside the `oracles`
    * initializer would NPE — the bm25OracleSql rule).
    */
  private def bruteTopKOracleSql(k: Int): String =
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb
       |           FROM embeddings WHERE label = 0),
       |scored AS (
       |  SELECT q.q_id, e.vec_id AS neighbor_id,
       |         ${cosineSql("q.q_emb", "e.embedding")} AS cosine
       |  FROM embeddings e CROSS JOIN q
       |  WHERE e.vec_id <> q.q_id)
       |${topKSql("scored", k)}""".stripMargin

  private lazy val q38OracleSql: String = bruteTopKOracleSql(5)

  /** q200 mirror — identical scoring arms to q38, query set pinned to
    * the [[FixedQCount]] lowest vec_ids (deterministic: vec_id unique).
    */
  private lazy val q200OracleSql: String =
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb
       |           FROM embeddings WHERE label = 0
       |           ORDER BY vec_id LIMIT $FixedQCount),
       |scored AS (
       |  SELECT q.q_id, e.vec_id AS neighbor_id,
       |         ${cosineSql("q.q_emb", "e.embedding")} AS cosine
       |  FROM embeddings e CROSS JOIN q
       |  WHERE e.vec_id <> q.q_id)
       |${topKSql("scored", 5)}""".stripMargin

  private def multiprobeOracleSql(k: Int): String =
    s"""WITH sigs AS (
       |  SELECT vec_id, embedding, label,
       |    ${hyperplaneSigSql("embedding", Q52Bits)} AS sig
       |  FROM embeddings),
       |q AS (
       |  SELECT vec_id AS q_id, embedding AS q_emb,
       |    unnest(${probeSigsSql("sig", Q52Bits)}) AS sig
       |  FROM sigs WHERE label = 0),
       |cands AS (
       |  SELECT q.q_id, e.vec_id AS neighbor_id,
       |         ${cosineSql("q.q_emb", "e.embedding")} AS cosine
       |  FROM sigs e JOIN q ON e.sig = q.sig
       |  WHERE e.vec_id <> q.q_id)
       |${topKSql("cands", k)}""".stripMargin

  private lazy val q52OracleSql: String = multiprobeOracleSql(3)

  val oracles: Map[String, String] = Map(
    "q38_cosine_topk" -> q38OracleSql,
    "q200_topk_fixed_queries" -> q200OracleSql,

    "q39_ann_buckets" ->
      s"""WITH sigs AS (
         |  SELECT vec_id, embedding, label,
         |    ${hyperplaneSigSql("embedding", Q39Bits)} AS sig
         |  FROM embeddings),
         |q AS (SELECT vec_id AS q_id, embedding AS q_emb, sig
         |      FROM sigs WHERE label = 0),
         |cands AS (
         |  SELECT q.q_id, e.vec_id AS neighbor_id,
         |         ${cosineSql("q.q_emb", "e.embedding")} AS cosine
         |  FROM sigs e JOIN q ON e.sig = q.sig
         |  WHERE e.vec_id <> q.q_id)
         |${topKSql("cands", 3)}""".stripMargin,

    "q70_vec_centroid" ->
      """WITH e AS (
        |  SELECT label, embedding, unnest(range(0, len(embedding))) AS pos
        |  FROM embeddings)
        |SELECT label, CAST(pos AS INT) AS pos,
        |  round(sum(CAST(embedding[pos + 1] AS DOUBLE)) / count(*), 6) AS centroid_val
        |FROM e GROUP BY label, pos""".stripMargin,

    // q62 mirror (fixed-query serving, r12): same IVF lineage, the
    // request pinned to the FixedQCount lowest label-0 vec_ids — the
    // q200 pattern applied to the cell-pruned path.
    "q62_ann_ivf" ->
      s"""WITH $ivfRankedCteSql,
         |cells AS (
         |  SELECT vec_id, embedding, cent_id FROM ranked WHERE crn = 1),
         |qids AS (
         |  SELECT vec_id AS q_id FROM e WHERE label = 0
         |  ORDER BY vec_id LIMIT $FixedQCount),
         |qprobes AS (
         |  SELECT r.vec_id AS q_id, r.embedding AS q_emb, r.cent_id
         |  FROM ranked r JOIN qids ON r.vec_id = qids.q_id
         |  WHERE r.crn <= 2),
         |cands AS (
         |  SELECT q.q_id, c.vec_id AS neighbor_id,
         |         ${cosineSql("q.q_emb", "c.embedding")} AS cosine
         |  FROM cells c JOIN qprobes q ON c.cent_id = q.cent_id
         |  WHERE c.vec_id <> q.q_id)
         |${topKSql("cands", 3)}""".stripMargin,

    "q140_ivf_cells_layout" ->
      s"""WITH $ivfRankedCteSql
         |SELECT cent_id, count(*) AS n_members,
         |  CAST(sum(vec_id) AS BIGINT) AS sum_vec_ids
         |FROM ranked WHERE crn = 1
         |GROUP BY cent_id""".stripMargin,

    "q52_ann_multiprobe" -> q52OracleSql,

    "q86_vec_quantize" ->
      """WITH t AS (
        |  SELECT vec_id, embedding,
        |    CAST(list_min(embedding) AS DOUBLE) AS mn,
        |    CAST(list_max(embedding) AS DOUBLE) AS mx
        |  FROM embeddings),
        |s AS (SELECT vec_id, embedding, mn, mx, (mx - mn) / 255.0 AS scale
        |      FROM t),
        |q AS (
        |  SELECT vec_id, embedding, mn, mx, scale,
        |    list_transform(embedding, x -> CASE WHEN scale > 0
        |      THEN CAST(round((CAST(x AS DOUBLE) - mn) / scale) AS INT)
        |      ELSE 0 END) AS qv
        |  FROM s),
        |d AS (
        |  SELECT vec_id, embedding, mn, mx, scale,
        |    list_transform(qv, q -> mn + CAST(q AS DOUBLE) * scale) AS deq
        |  FROM q),
        |e AS (
        |  SELECT vec_id, embedding, mn, mx,
        |    list_transform(list_zip(embedding, deq),
        |      p -> abs(CAST(p[1] AS DOUBLE) - p[2])) AS errs
        |  FROM d)
        |SELECT vec_id, CAST(len(embedding) AS BIGINT) AS n_dims,
        |  round(mn, 6) AS v_min, round(mx, 6) AS v_max,
        |  round(list_max(errs), 6) AS max_err,
        |  round(list_sum(errs) / len(embedding), 6) AS mean_err
        |FROM e""".stripMargin,

    "q165_jl_projection" -> {
      val rawCols = (0 until JlDim).map { j =>
        s"""list_sum(list_transform(
           |      list_zip(embedding, ${planeSql(PlanePool(JlOffset + j))}),
           |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) / 4.0
           |      AS r$j""".stripMargin
      }.mkString(",\n    ")
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |p AS (
         |  SELECT vec_id, embedding,
         |    $rawCols
         |  FROM e)
         |SELECT vec_id,
         |  ${(0 until JlDim).map(j => f"round(r$j, 6) AS p$j%02d").mkString(", ")},
         |  round(sqrt(${(0 until JlDim).map(j => s"r$j * r$j").mkString(" + ")})
         |    / sqrt(list_sum(list_transform(embedding,
         |        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6)
         |    AS norm_ratio
         |FROM p""".stripMargin
    },

    "q168_hard_negatives" ->
      s"""WITH q AS (
         |  SELECT vec_id AS q_id, embedding AS q_emb, label AS q_label
         |  FROM embeddings WHERE label = 0),
         |scored AS (
         |  SELECT q.q_id, e.vec_id AS n_id,
         |    (e.label = q.q_label) AS same,
         |    ${cosineSql("q.q_emb", "e.embedding")} AS cos
         |  FROM embeddings e CROSS JOIN q
         |  WHERE e.vec_id <> q.q_id),
         |pos AS (
         |  SELECT q_id, n_id AS pos_id, cos AS pos_cos FROM (
         |    SELECT q_id, n_id, cos, row_number() OVER (PARTITION BY q_id
         |      ORDER BY cos DESC, n_id) AS rn
         |    FROM scored WHERE same)
         |  WHERE rn = 1),
         |neg AS (
         |  SELECT q_id, n_id AS neg_id, cos AS neg_cos FROM (
         |    SELECT q_id, n_id, cos, row_number() OVER (PARTITION BY q_id
         |      ORDER BY cos DESC, n_id) AS rn
         |    FROM scored WHERE NOT same)
         |  WHERE rn = 1)
         |SELECT q_id, pos_id, pos_cos, neg_id, neg_cos,
         |  round(pos_cos - neg_cos, 6) AS margin
         |FROM pos JOIN neg USING (q_id)""".stripMargin,

    "q170_ann_recall" ->
      s"""WITH truth AS (
         |  SELECT q_id, neighbor_id FROM ($q38OracleSql) WHERE rn <= 3),
         |approx AS (
         |  SELECT q_id, neighbor_id FROM ($q52OracleSql)),
         |hits AS (
         |  SELECT a.q_id, count(*) AS n_hits
         |  FROM approx a JOIN truth t
         |    ON t.q_id = a.q_id AND t.neighbor_id = a.neighbor_id
         |  GROUP BY a.q_id)
         |SELECT q.q_id, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
         |  round(coalesce(h.n_hits, 0) / 3.0, 6) AS recall_at_3
         |FROM (SELECT DISTINCT q_id FROM truth) q
         |LEFT JOIN hits h ON h.q_id = q.q_id""".stripMargin,

    "q197_ann_ndcg" -> {
      val k = NdcgK
      s"""WITH truth AS (
         |  SELECT q_id, neighbor_id, rn AS t_rn
         |  FROM (${bruteTopKOracleSql(k)})),
         |idcg AS (
         |  SELECT q_id,
         |    sum(CAST(round((${k + 1} - t_rn) / log2(t_rn + 1) * 1e6, 0)
         |      AS BIGINT)) AS idcg_micro
         |  FROM truth GROUP BY q_id),
         |approx AS (
         |  SELECT q_id, neighbor_id, rn AS a_rn
         |  FROM (${multiprobeOracleSql(k)})),
         |j AS (
         |  SELECT a.q_id, a.a_rn, t.t_rn
         |  FROM approx a LEFT JOIN truth t
         |    ON t.q_id = a.q_id AND t.neighbor_id = a.neighbor_id),
         |d AS (
         |  SELECT q_id,
         |    sum(CASE WHEN t_rn IS NOT NULL THEN
         |      CAST(round((${k + 1} - t_rn) / log2(a_rn + 1) * 1e6, 0)
         |        AS BIGINT) ELSE 0 END) AS dcg_micro,
         |    sum(CASE WHEN t_rn IS NOT NULL THEN 1 ELSE 0 END) AS n_overlap,
         |    max(CASE WHEN t_rn = 1 THEN
         |      CAST(round(1e6 / a_rn, 0) AS BIGINT) ELSE 0 END) AS rr_micro
         |  FROM j GROUP BY q_id)
         |SELECT d.q_id, CAST(d.n_overlap AS BIGINT) AS n_overlap,
         |  round(CAST(d.dcg_micro AS DOUBLE) / i.idcg_micro, 6)
         |    AS ndcg_at_10,
         |  round(d.rr_micro / 1e6, 6) AS rr_of_top1
         |FROM d JOIN idcg i ON i.q_id = d.q_id""".stripMargin
    },

    // The greedy unrolled: c_i = argmax of the running min-distance,
    // m_i = the min-distance table after adding c_i. Same rounded-
    // cosine distances, same (mind DESC, vec_id) ranking as the Spark
    // sweeps, so the SELECTIONS agree, not just the final numbers.
    "q180_kcenter_coreset" -> {
      val steps = (2 to KCenterK).map { i =>
        val cCte =
          s"""c$i AS (
             |  SELECT vec_id, embedding, mind FROM m${i - 1}
             |  ORDER BY mind DESC, vec_id LIMIT 1)""".stripMargin
        val mCte = if (i == KCenterK) "" else
          s""",
             |m$i AS (
             |  SELECT m.vec_id, m.embedding,
             |    least(m.mind,
             |      1.0 - ${cosineSql("m.embedding", s"c$i.embedding")}) AS mind
             |  FROM m${i - 1} m CROSS JOIN c$i)""".stripMargin
        cCte + mCte
      }.mkString(",\n")
      val unions = (2 to KCenterK).map(i =>
        s"UNION ALL SELECT $i, vec_id, round(mind, 6) FROM c$i").mkString("\n")
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |c1 AS (SELECT vec_id, embedding FROM e ORDER BY vec_id LIMIT 1),
         |m1 AS (
         |  SELECT e.vec_id, e.embedding,
         |    1.0 - ${cosineSql("e.embedding", "c1.embedding")} AS mind
         |  FROM e CROSS JOIN c1),
         |$steps
         |SELECT CAST(1 AS INTEGER) AS step, vec_id,
         |  CAST(NULL AS DOUBLE) AS radius FROM c1
         |$unions""".stripMargin
    },

    "q190_ivfpq_serving" -> {
      val m = Clustering.PqM
      val it = Clustering.PqIters
      val subDim = 64 / m
      val codeJoins = (1 until m)
        .map(j => s"JOIN fin$j f$j ON f$j.vec_id = f0.vec_id").mkString("\n")
      val qdCtes = (0 until m).map { j =>
        val sliceSql = s"list_slice(q.embedding, ${j * subDim + 1}, ${(j + 1) * subDim})"
        s"""qd$j AS (
           |  SELECT q.q_id, c.cent_id AS code$j,
           |    ${Clustering.distSqSql(sliceSql, "c.c_emb")} AS d$j
           |  FROM q CROSS JOIN c${j}x$it c)""".stripMargin
      }.mkString(",\n")
      val qdJoins = (0 until m)
        .map(j => s"JOIN qd$j ON qd$j.q_id = cd.q_id AND qd$j.code$j = k.code$j")
        .mkString("\n")
      s"""WITH $ivfRankedCteSql,
         |${Clustering.pqCteSql},
         |codes AS (
         |  SELECT f0.vec_id,
         |    ${(0 until m).map(j => s"f$j.cent_id AS code$j").mkString(", ")}
         |  FROM fin0 f0
         |$codeJoins),
         |q AS (SELECT vec_id AS q_id, embedding FROM e WHERE label = 0),
         |$qdCtes,
         |cells AS (SELECT vec_id, cent_id FROM ranked WHERE crn = 1),
         |qprobes AS (
         |  SELECT vec_id AS q_id, cent_id
         |  FROM ranked WHERE label = 0 AND crn <= 2),
         |cands AS (
         |  SELECT qp.q_id, c.vec_id AS neighbor_id
         |  FROM cells c JOIN qprobes qp ON c.cent_id = qp.cent_id
         |  WHERE c.vec_id <> qp.q_id),
         |adc AS (
         |  SELECT cd.q_id, cd.neighbor_id,
         |    round(${(0 until m).map(j => s"qd$j.d$j").mkString(" + ")}, 6)
         |      AS adc_d2
         |  FROM cands cd
         |  JOIN codes k ON k.vec_id = cd.neighbor_id
         |$qdJoins),
         |rk AS (
         |  SELECT q_id, neighbor_id, adc_d2,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY adc_d2, neighbor_id) AS rank
         |  FROM adc)
         |SELECT rk.q_id, CAST(rk.rank AS BIGINT) AS rank, rk.neighbor_id,
         |  rk.adc_d2,
         |  ${cosineSql("qe.embedding", "ne.embedding")} AS true_cos
         |FROM rk
         |JOIN e qe ON qe.vec_id = rk.q_id
         |JOIN e ne ON ne.vec_id = rk.neighbor_id
         |WHERE rk.rank <= 3""".stripMargin
    },

    "q183_embedding_outliers" -> {
      val rawCols = (0 until JlDim).map { j =>
        s"""round(list_sum(list_transform(
           |      list_zip(embedding, ${planeSql(PlanePool(JlOffset + j))}),
           |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) / 4.0, 6)
           |      AS r$j""".stripMargin
      }.mkString(",\n    ")
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |p AS (
         |  SELECT vec_id,
         |    $rawCols
         |  FROM e),
         |long AS (
         |  SELECT vec_id,
         |    unnest(range(0, $JlDim)) AS dim,
         |    unnest([${(0 until JlDim).map(j => s"r$j").mkString(", ")}]) AS v
         |  FROM p),
         |stats AS (
         |  SELECT dim,
         |    percentile_cont(0.5) WITHIN GROUP (ORDER BY v) AS med
         |  FROM long GROUP BY dim),
         |dev AS (
         |  SELECT l.vec_id, l.dim, l.v, s.med, abs(l.v - s.med) AS adev
         |  FROM long l JOIN stats s ON s.dim = l.dim),
         |mads AS (
         |  SELECT dim,
         |    percentile_cont(0.5) WITHIN GROUP (ORDER BY adev) AS mad,
         |    avg(adev) AS meanad
         |  FROM dev GROUP BY dim),
         |z AS (
         |  SELECT d.vec_id,
         |    CASE WHEN m.mad <> 0 THEN abs((0.6745 * (d.v - d.med)) / m.mad)
         |         WHEN m.meanad <> 0 THEN abs((1.253313 * (d.v - d.med)) / m.meanad)
         |         ELSE 0.0 END AS az
         |  FROM dev d JOIN mads m ON m.dim = d.dim),
         |sc AS (SELECT vec_id, round(max(az), 6) AS score FROM z GROUP BY vec_id)
         |SELECT vec_id, score, score > 3.5 AS is_outlier FROM sc""".stripMargin
    }
  )
}
