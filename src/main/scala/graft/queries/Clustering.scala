package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SessionCache
import graft.Tables._

/** k-means (Lloyd) over the `embeddings` table — the trained-centroid
  * complement to q62's hash-sampled IVF, and the classic
  * cluster-then-sample curation step of an LLM-data pipeline (cluster
  * the corpus, then sample per cluster for diversity / prune clusters
  * of junk).
  *
  * Everything is deterministic and oracle-reproducible:
  *  - SEEDS are the K corpus vectors with the smallest
  *    [[TextAnalytics.hashFraction]] (vec_id tie-break) — the existing
  *    sampling idiom, via a distributed TakeOrdered (never a driver
  *    sort);
  *  - ASSIGNMENT is a map-side argmin: the K centroids are packed into
  *    ONE array-of-structs row and broadcast, and each vector picks
  *    `array_min` over (dist, cent_id) structs — struct ordering gives
  *    the min-distance-then-min-id rule with NO shuffle and NO window,
  *    so the assign step is a pure projection at any corpus size;
  *  - RE-CENTROID is one hash aggregate via the typed
  *    [[graft.aggregates.VecCentroid]] Aggregator (fixed 8*dim buffer,
  *    map-side partials — same shape as q70);
  *  - distances are the same sequential double fold as the cosine
  *    family (bit-identical to DuckDB's list_sum over list_transform),
  *    ROUNDED to 6 decimals before the argmin, and centroid components
  *    are rounded to 6 decimals after each mean — so partial-sum
  *    ordering noise (~1e-12 at fixture magnitudes) can never flip an
  *    assignment across engines or runs;
  *  - a FIXED iteration count, unrolled in the DuckDB oracle as CTEs
  *    (the q119 PageRank discipline). Clusters keep their seed's
  *    vec_id as a stable label; a cluster that loses all members
  *    simply drops out of the centroid table on both engines.
  *
  * Scale shape per iteration: one broadcast (K rows ~ K*8*dim bytes),
  * one projection over the corpus, one hash aggregate with K groups.
  * No all-pairs anything; the corpus never shuffles except K-group
  * partial aggregation.
  */
object Clustering {

  val K = 8
  val Iters = 3

  /** Sequential-fold squared L2 distance between a float vector and a
    * double centroid — element cast BEFORE arithmetic, left fold, same
    * IEEE result as the DuckDB mirror.
    */
  def distSq(v: Column, c: Column): Column =
    graft.functions.vec_dist_sq(v, c)

  /** K seed centroids: smallest hashFraction(vec_id) first. Components
    * cast to double exactly (no rounding — float→double is lossless).
    */
  def seedCentroids(e: DataFrame, k: Int): DataFrame =
    e.orderBy(TextAnalytics.hashFraction(col("vec_id")), col("vec_id"))
      .limit(k)
      .select(col("vec_id").as("cent_id"),
        transform(col("embedding"), x => x.cast("double")).as("c_emb"))

  /** Nearest-centroid assignment as a pure projection: centroids packed
    * into one broadcast row, per-vector `array_min` over
    * (rounded dist, cent_id) structs. Returns
    * (vec_id, embedding, cent_id, dist_sq).
    */
  def assign(e: DataFrame, cents: DataFrame): DataFrame = {
    val packed = cents.agg(
      collect_list(struct(col("cent_id"), col("c_emb"))).as("cs"))
    e.crossJoin(broadcast(packed))
      .withColumn("best", array_min(transform(col("cs"), c =>
        struct(round(distSq(col("embedding"), c("c_emb")), 6).as("d"),
          c("cent_id").as("cent_id")))))
      .select(col("vec_id"), col("embedding"),
        col("best.cent_id").as("cent_id"), col("best.d").as("dist_sq"))
  }

  /** Element-wise mean per cluster via VecCentroid, components rounded
    * to 6 decimals (the cross-engine noise floor).
    */
  def recentroid(assigned: DataFrame): DataFrame = {
    val centroid = udaf(graft.aggregates.VecCentroid)
    assigned.groupBy(col("cent_id"))
      .agg(centroid(col("embedding")).as("m"))
      .select(col("cent_id"), transform(col("m"), v => round(v, 6)).as("c_emb"))
  }

  /** `iters` Lloyd sweeps from the hash seeds; the final assignment
    * WITH the embedding column retained
    * (vec_id, embedding, cent_id, dist_sq) — q160's pairwise stage
    * needs the vectors, q139/q142 project them away.
    */
  def kmeansFull(emb: DataFrame, k: Int, iters: Int): DataFrame =
    assignTrained(emb, kmeansCentroids(emb, k, iters))

  /** `iters` Lloyd sweeps from the hash seeds; returns the final
    * assignment (vec_id, cluster, dist_sq).
    */
  def kmeans(emb: DataFrame, k: Int, iters: Int): DataFrame =
    kmeansFull(emb, k, iters)
      .select(col("vec_id"), col("cent_id").as("cluster"), col("dist_sq"))

  /** Assignment against an ALREADY-TRAINED centroid table (normally
    * [[sharedCentroids]]) — one broadcast of K rows plus a pure
    * projection over the corpus; no training lineage in the plan.
    */
  def assignTrained(emb: DataFrame, cents: DataFrame): DataFrame =
    assign(emb.select(col("vec_id"), col("embedding")), cents)

  /** q160 cosine threshold (the q47 near-dup bar) and per-cluster
    * pairwise cap.
    */
  val SemDedupTau = 0.35
  val SemDedupCap = 256

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication by k-means BLOCKING — cluster the embeddings, then
    * compare pairs only WITHIN a cluster and drop every member that
    * has a more-central cluster-mate above the cosine threshold. The
    * survivor of a semantic group is its member CLOSEST to the
    * centroid (min (dist_sq, vec_id) — the canonical, least-outlying
    * copy), where q47 blocks by LSH signature and keeps min-id.
    *
    * Scale shape: the pairwise stage never sees a pair from different
    * clusters, so cost is sum(|c|^2) bounded by [[SemDedupCap]]^2 per
    * cluster (members ranked by centroid distance; ranks past the cap
    * are kept unexamined — the same deterministic, oracle-mirrored
    * truncation as Dedup's band-bucket cap). In production K grows
    * with N (SemDeDup uses N/K ~ 1e4), so clusters stay bounded and
    * the whole operator is: Lloyd (broadcast + projection + K-group
    * aggregate per sweep), one cluster-keyed window, one cluster-keyed
    * self-join of capped clusters, one anti-join.
    *
    * Returns every vector: (vec_id, cluster, kept 0/1).
    */
  def semDeDup(emb: DataFrame, k: Int, iters: Int, tau: Double): DataFrame =
    semDeDupAssigned(kmeansFull(emb, k, iters), tau)

  /** [[semDeDup]] starting from an existing assignment
    * (vec_id, embedding, cent_id, dist_sq) — the catalog entry feeds
    * it [[assignTrained]] over [[sharedCentroids]], so the Lloyd
    * training lineage appears once per session, not once per query.
    */
  def semDeDupAssigned(assigned: DataFrame, tau: Double): DataFrame = {
    val a = assigned
      .withColumn("nrm", Similarity.norm(col("embedding")))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("cent_id"))
          .orderBy(col("dist_sq"), col("vec_id"))))
      .transform(SessionCache.persist)
    val capped = a.filter(col("rn") <= SemDedupCap)
    val l = capped.select(col("cent_id"), col("embedding").as("emb_a"),
      col("nrm").as("nrm_a"), col("rn").as("rn_a"))
    val r = capped.select(col("cent_id").as("cent_b"),
      col("vec_id").as("id_b"), col("embedding").as("emb_b"),
      col("nrm").as("nrm_b"), col("rn").as("rn_b"))
    val removed = l.join(r,
        col("cent_id") === col("cent_b") && col("rn_a") < col("rn_b"))
      .filter(Similarity.cosinePre(col("emb_a"), col("emb_b"),
        col("nrm_a"), col("nrm_b")) >= tau)
      .select(col("id_b").as("vec_id")).distinct()
    a.join(removed.withColumn("rm", lit(1L)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cent_id").as("cluster"),
        col("rm").isNull.cast("long").as("kept"))
  }

  /** Per-cluster sample target for q142. */
  val SampleTarget = 20L

  /** Cluster-then-sample — the curation move k-means exists for in an
    * LLM-data pipeline: partition the corpus by semantic cluster, then
    * draw a BALANCED deterministic sample (up to `target` per cluster,
    * rate = min(1, target/|cluster|)) so dominant clusters stop
    * drowning out rare ones. Same shape as q99's source rebalance with
    * the stratum learned by q139 instead of read from a column.
    *
    * Scale shape: cluster sizes are a K-row aggregate joined back as a
    * broadcast; membership is the map-side hashFraction filter — no
    * extra shuffle beyond the kmeans assignment itself.
    */
  def clusterSample(assigned: DataFrame, target: Long): DataFrame = {
    // `assigned` feeds both the size aggregate and the membership
    // filter — persist it or its whole upstream (4 Lloyd passes when
    // fed from kmeans) executes twice
    val a = SessionCache.persist(assigned)
    val rates = a.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_c"))
      .select(col("cluster"),
        least(lit(1.0), lit(target).cast("double") / col("n_c")).as("rate"))
    a.join(broadcast(rates), Seq("cluster"))
      .filter(TextAnalytics.hashFraction(col("vec_id")) < col("rate"))
      .select(col("vec_id"), col("cluster"))
  }

  // ---- Product quantization (q181) ------------------------------------

  val PqM = 4      // subspaces (64 dims -> 4 x 16)
  val PqK = 4      // centroids per subspace (codebook size)
  val PqIters = 2  // Lloyd sweeps per sub-codebook

  /** Product quantization (Jégou et al., TPAMI'11) — the memory side
    * of a production ANN stack (IVF-PQ): split each vector into
    * [[PqM]] subvectors, learn a tiny k-means codebook PER SUBSPACE,
    * and represent the vector by its M nearest-sub-centroid ids. The
    * code is M·log2(K) bits (here 4x2 = one byte per vector vs 256
    * bytes of floats); distance queries scan codes against a
    * broadcast lookup table instead of raw vectors (q86's int8 scheme
    * compresses 4:1 with per-vector scales; PQ compresses 256:1 by
    * sharing TRAINED structure across vectors).
    *
    * Built entirely from the q139 Lloyd machinery run on slices —
    * deterministic hash seeds, broadcast-packed assignment
    * projections, K-group typed-Aggregator re-centroids — so every
    * scale property carries over; the M per-subspace runs join back
    * on vec_id (co-partitioned after the first exchange). Output per
    * vector: the code (one scalar column per subspace, labeled by the
    * winning sub-centroid's stable seed id) and the total squared
    * reconstruction error (sum of the M per-subspace assignment
    * distances — exactly the quantization distortion PQ trades for
    * memory).
    */
  def productQuantize(emb: DataFrame, m: Int, k: Int, iters: Int,
                      dim: Int = 64,
                      codebook: Option[Int => DataFrame] = None): DataFrame = {
    val subDim = dim / m
    val e = emb.select(col("vec_id"), col("embedding"))
      .transform(SessionCache.persist)
    val parts = (0 until m).map { j =>
      val sub = e.select(col("vec_id"),
        slice(col("embedding"), j * subDim + 1, subDim).as("embedding"))
      // codebook(j) = an already-trained sub-codebook (the catalog
      // passes [[sharedSubCentroids]] so build and serving train each
      // subspace once per session); None trains in-line
      val cj = codebook.map(_(j)).getOrElse(kmeansCentroids(sub, k, iters))
      assign(sub, cj)
        .select(col("vec_id"), col("cent_id").as(s"code$j"),
          col("dist_sq").as(s"err$j"))
    }
    parts.reduce(_.join(_, Seq("vec_id")))
      .select(col("vec_id") +:
        (0 until m).map(j => col(s"code$j")) :+
        round((0 until m).map(j => col(s"err$j")).reduce(_ + _), 6)
          .as("err_total"): _*)
  }

  /** The centroid table after `iters` Lloyd sweeps (the state
    * [[kmeansFull]] assigns against) — exposed for the q189 eval.
    */
  def kmeansCentroids(emb: DataFrame, k: Int, iters: Int): DataFrame = {
    val e = emb.select(col("vec_id"), col("embedding"))
      .transform(SessionCache.persist)
    var cents = seedCentroids(e, k)
    for (_ <- 1 to iters) cents = recentroid(assign(e, cents))
    cents
  }

  /** The corpus's trained centroid table, SHARED across the q139
    * family (q139 assignment, q142 sample, q160 SemDeDup, q189
    * silhouette) via [[SessionCache.shared]] — training
    * is a deterministic function of (corpus, k, iters), so every
    * consumer assigning against the same model must not re-derive the
    * Lloyd sweep lineage (VERDICT r8: q189 re-ran the full 7-shuffle
    * training plan that q139 had already executed). First caller per
    * session pays the training; Bench clears the memo between passes,
    * so every timed pass still pays it exactly once. This is the
    * production shape too: codebook/centroid training is an offline
    * step whose K-row output is reused by every downstream scan.
    */
  /** The (vec_id, embedding) corpus projection, persisted once per
    * session — every shared training run reads this instead of
    * re-scanning parquet (4 sub-codebooks = 4 scans otherwise).
    */
  private def sharedEmbBase(s: SparkSession, d: String): DataFrame =
    SessionCache.shared(s, s"cluster:embbase:$d")(
      embeddings(s, d).select(col("vec_id"), col("embedding")))

  def sharedCentroids(s: SparkSession, d: String, k: Int, iters: Int): DataFrame =
    SessionCache.shared(s, s"cluster:centroids:$d:$k:$iters")(
      kmeansCentroids(sharedEmbBase(s, d), k, iters))

  /** Shared per-subspace PQ codebook (subvector j of the corpus,
    * trained once per session): the q181 index BUILD and the q190
    * serving path train the IDENTICAL sub-codebooks — same slices,
    * same seeds, same sweep count — so they memo like
    * [[sharedCentroids]].
    */
  def sharedSubCentroids(s: SparkSession, d: String, j: Int, subDim: Int,
                         k: Int, iters: Int): DataFrame =
    SessionCache.shared(
      s, s"cluster:pqcents:$d:$j:$subDim:$k:$iters")(
      kmeansCentroids(sharedEmbBase(s, d).select(col("vec_id"),
        slice(col("embedding"), j * subDim + 1, subDim).as("embedding")),
        k, iters))

  /** Simplified (centroid-based) silhouette — the clustering-quality
    * eval surface (the q139-family twin of q170's ANN recall and
    * q188's dedup recall): per point, a = distance to its own
    * centroid, b = distance to the nearest OTHER centroid,
    * s = (b − a)/max(a, b) ∈ [0, 1] here since the argmin guarantees
    * a ≤ b; per cluster, the exact-integer-micro mean of the rounded
    * per-point scores (the q98 discipline — an unordered double mean
    * could straddle the rounding boundary). Low mean silhouette =
    * that cluster bleeds into a neighbor → raise K or prune. The
    * top-2 distances come from one O(K) `aggregate` fold over the
    * same packed broadcast centroid row the assignment uses (distances
    * computed once per centroid by a `transform`, then a constant-size
    * (best, second) accumulator — VERDICT r8: the previous array_sort
    * was O(K log K) per row for two consumed elements) — still a pure
    * projection, no shuffle beyond the K-group aggregate.
    */
  def clusterSilhouette(emb: DataFrame, k: Int, iters: Int): DataFrame =
    clusterSilhouetteFrom(emb, kmeansCentroids(emb, k, iters))

  /** [[clusterSilhouette]] against an already-trained centroid table
    * (the catalog feeds [[sharedCentroids]]).
    */
  def clusterSilhouetteFrom(emb: DataFrame, cents: DataFrame): DataFrame = {
    val packed = cents.agg(
      collect_list(struct(col("cent_id"), col("c_emb"))).as("cs"))
    // (+inf, maxId) sentinel: any real (rounded dist, cent_id) struct
    // compares below it, so after the fold b1/b2 are the two smallest
    // by the same (d, cent_id) order the assignment argmin uses
    val far = struct(lit(Double.PositiveInfinity).as("d"),
      lit(Long.MaxValue).as("cent_id"))
    val pts = emb.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(packed))
      // size >= 2 guard: with a single effective centroid (k = 1, or a
      // 1-point corpus) there is no "nearest OTHER centroid" — emit no
      // rows, exactly like the oracle's rn = 2 inner join (ADVICE r7:
      // ds[1] unguarded read emitted null db/sil rows the oracle lacks)
      .filter(size(col("cs")) >= 2)
      .withColumn("dc", transform(col("cs"), c =>
        struct(round(distSq(col("embedding"), c("c_emb")), 6).as("d"),
          c("cent_id").cast("long").as("cent_id"))))
      .withColumn("t2", aggregate(col("dc"),
        struct(far.as("b1"), far.as("b2")),
        (acc, x) =>
          when(x < acc("b1"), struct(x.as("b1"), acc("b1").as("b2")))
            .when(x < acc("b2"), struct(acc("b1").as("b1"), x.as("b2")))
            .otherwise(acc)))
      .select(
        col("t2.b1.cent_id").as("cluster"),
        col("t2.b1.d").as("da"),
        col("t2.b2.d").as("db"))
      .withColumn("sil", when(col("db") === 0.0, lit(0.0))
        .otherwise(round((col("db") - col("da")) / col("db"), 6)))
    pts.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("sil") * 1e6, 0).cast("long")).as("sil_micro"))
      .select(col("cluster"), col("n"),
        round((col("sil_micro").cast("double") / col("n")) / 1e6, 6)
          .as("mean_silhouette"))
  }

  // The q139 family (assignment, silhouette, sample, SemDeDup) all
  // assign against the SAME trained model — sharedCentroids trains it
  // once per session and every entry below is assignment-onward only.
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q139_kmeans" -> ((s, d) =>
      assignTrained(embeddings(s, d), sharedCentroids(s, d, K, Iters))
        .select(col("vec_id"), col("cent_id").as("cluster"), col("dist_sq"))),

    "q181_product_quantization" -> ((s, d) =>
      productQuantize(embeddings(s, d), PqM, PqK, PqIters,
        codebook = Some(j =>
          sharedSubCentroids(s, d, j, 64 / PqM, PqK, PqIters)))),

    "q189_cluster_silhouette" -> ((s, d) =>
      clusterSilhouetteFrom(embeddings(s, d), sharedCentroids(s, d, K, Iters))),

    "q142_cluster_sample" -> ((s, d) =>
      clusterSample(
        assignTrained(embeddings(s, d), sharedCentroids(s, d, K, Iters))
          .select(col("vec_id"), col("cent_id").as("cluster"), col("dist_sq")),
        SampleTarget)),

    "q160_semdedup" -> ((s, d) =>
      semDeDupAssigned(
        assignTrained(embeddings(s, d), sharedCentroids(s, d, K, Iters)),
        SemDedupTau))
  )

  // ---- DuckDB mirrors --------------------------------------------------

  /** Squared-distance fold, identical order to [[distSq]]. */
  private[queries] def distSqSql(v: String, c: String): String =
    s"""round(list_sum(list_transform(list_zip($v, $c),
       |  p -> (CAST(p[1] AS DOUBLE) - p[2]) * (CAST(p[1] AS DOUBLE) - p[2]))), 6)""".stripMargin

  /** One assignment CTE: argmin via row_number over (d, cent_id). */
  private def assignSql(name: String, cents: String,
                        base: String = "e"): String =
    s"""$name AS (
       |  SELECT vec_id, embedding, cent_id, d AS dist_sq FROM (
       |    SELECT vec_id, embedding, cent_id, d,
       |      row_number() OVER (PARTITION BY vec_id
       |        ORDER BY d, cent_id) AS rn
       |    FROM (
       |      SELECT e.vec_id, e.embedding, c.cent_id,
       |        ${distSqSql("e.embedding", "c.c_emb")} AS d
       |      FROM $base e CROSS JOIN $cents c))
       |  WHERE rn = 1)""".stripMargin

  /** One re-centroid CTE: per-dim mean (q70 pattern), reassembled into
    * an ordered list, components rounded to 6.
    */
  private def recentroidSql(name: String, assigned: String): String =
    s"""$name AS (
       |  SELECT cent_id, list(round(s, 6) ORDER BY pos) AS c_emb
       |  FROM (
       |    SELECT cent_id, pos,
       |      sum(CAST(embedding[pos + 1] AS DOUBLE)) / count(*) AS s
       |    FROM (SELECT cent_id, embedding,
       |            unnest(range(0, len(embedding))) AS pos
       |          FROM $assigned)
       |    GROUP BY cent_id, pos)
       |  GROUP BY cent_id)""".stripMargin

  /** The full unrolled Lloyd run as a WITH-body (seeds → `Iters`
    * assign/re-centroid pairs → final assignment `fin`) — shared by
    * the q139 and q142 oracles so they cannot drift.
    */
  private lazy val kmeansCteSql: String = {
    val steps = (1 to Iters).flatMap(i => Seq(
      assignSql(s"a$i", if (i == 1) "c0" else s"c${i - 1}"),
      recentroidSql(s"c$i", s"a$i"))).mkString(",\n")
    s"""e AS (SELECT vec_id, embedding FROM embeddings),
       |c0 AS (
       |  SELECT vec_id AS cent_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS c_emb
       |  FROM e
       |  ORDER BY ${TextAnalytics.hashFractionSql("vec_id")}, vec_id
       |  LIMIT $K),
       |$steps,
       |${assignSql("fin", s"c$Iters")}""".stripMargin
  }

  /** The PQ run unrolled: per subspace, the same seed → assign →
    * re-centroid CTE chain as [[kmeansCteSql]], over the sliced
    * embedding, joined back on vec_id at the end.
    */
  private[queries] lazy val pqCteSql: String = {
    val subDim = 64 / PqM
    (0 until PqM).map { j =>
      val steps = (1 to PqIters).flatMap(i => Seq(
        assignSql(s"a${j}x$i", if (i == 1) s"c${j}x0" else s"c${j}x${i - 1}",
          s"e$j"),
        recentroidSql(s"c${j}x$i", s"a${j}x$i"))).mkString(",\n")
      s"""e$j AS (
         |  SELECT vec_id,
         |    list_slice(embedding, ${j * subDim + 1}, ${(j + 1) * subDim})
         |      AS embedding
         |  FROM embeddings),
         |c${j}x0 AS (
         |  SELECT vec_id AS cent_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS c_emb
         |  FROM e$j
         |  ORDER BY ${TextAnalytics.hashFractionSql("vec_id")}, vec_id
         |  LIMIT $PqK),
         |$steps,
         |${assignSql(s"fin$j", s"c${j}x$PqIters", s"e$j")}""".stripMargin
    }.mkString(",\n")
  }

  val oracles: Map[String, String] = Map(
    "q139_kmeans" ->
      s"""WITH $kmeansCteSql
         |SELECT vec_id, cent_id AS cluster, dist_sq FROM fin""".stripMargin,

    "q189_cluster_silhouette" ->
      s"""WITH ${kmeansCteSql.replace(assignSql("fin", s"c$Iters"), s"""top2 AS (
         |  SELECT vec_id, cent_id, d, rn FROM (
         |    SELECT vec_id, cent_id, d,
         |      row_number() OVER (PARTITION BY vec_id
         |        ORDER BY d, cent_id) AS rn
         |    FROM (
         |      SELECT e.vec_id, c.cent_id,
         |        ${distSqSql("e.embedding", "c.c_emb")} AS d
         |      FROM e CROSS JOIN c$Iters c))
         |  WHERE rn <= 2)""".stripMargin)},
         |pts AS (
         |  SELECT a.cent_id AS cluster, a.d AS da, b.d AS db
         |  FROM top2 a JOIN top2 b
         |    ON a.vec_id = b.vec_id AND a.rn = 1 AND b.rn = 2),
         |scored AS (
         |  SELECT cluster,
         |    CASE WHEN db = 0 THEN 0.0
         |         ELSE round((db - da) / db, 6) END AS sil
         |  FROM pts)
         |SELECT cluster, CAST(count(*) AS BIGINT) AS n,
         |  round((CAST(sum(CAST(round(sil * 1e6, 0) AS BIGINT)) AS DOUBLE)
         |    / count(*)) / 1e6, 6) AS mean_silhouette
         |FROM scored GROUP BY cluster""".stripMargin,

    "q181_product_quantization" -> {
      val joins = (1 until PqM)
        .map(j => s"JOIN fin$j f$j ON f$j.vec_id = f0.vec_id").mkString("\n")
      s"""WITH $pqCteSql
         |SELECT f0.vec_id,
         |  ${(0 until PqM).map(j => s"f$j.cent_id AS code$j").mkString(", ")},
         |  round(${(0 until PqM).map(j => s"f$j.dist_sq").mkString(" + ")}, 6)
         |    AS err_total
         |FROM fin0 f0
         |$joins""".stripMargin
    },

    "q142_cluster_sample" ->
      s"""WITH $kmeansCteSql,
         |rates AS (
         |  SELECT cent_id,
         |    least(1.0, CAST($SampleTarget AS DOUBLE) / count(*)) AS rate
         |  FROM fin GROUP BY cent_id)
         |SELECT f.vec_id, f.cent_id AS cluster
         |FROM fin f JOIN rates r ON r.cent_id = f.cent_id
         |WHERE ${TextAnalytics.hashFractionSql("f.vec_id")} < r.rate""".stripMargin,

    "q160_semdedup" ->
      s"""WITH $kmeansCteSql,
         |rk AS (
         |  SELECT vec_id, embedding, cent_id, dist_sq,
         |    row_number() OVER (PARTITION BY cent_id
         |      ORDER BY dist_sq, vec_id) AS rn
         |  FROM fin),
         |removed AS (
         |  SELECT DISTINCT b.vec_id
         |  FROM rk a JOIN rk b
         |    ON a.cent_id = b.cent_id AND a.rn < b.rn
         |    AND a.rn <= $SemDedupCap AND b.rn <= $SemDedupCap
         |  WHERE ${Similarity.cosineSql("a.embedding", "b.embedding")}
         |          >= $SemDedupTau)
         |SELECT f.vec_id, f.cent_id AS cluster,
         |  CAST(r.vec_id IS NULL AS BIGINT) AS kept
         |FROM fin f LEFT JOIN removed r ON r.vec_id = f.vec_id""".stripMargin
  )
}
