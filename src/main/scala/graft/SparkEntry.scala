package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.pipeline.{Chunker, KeywordFilterClient, LlmMap}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` / `oracleSql` are assembled from per-domain modules under
  * graft.queries; every operator claimed in SURVEY.md §2 has an entry
  * here, and every SQL-expressible one has a DuckDB oracle.
  */
object SparkEntry {

  /** Flagship: the reference's full dataflow (read → tokenize → chunk →
    * LLM-map filter → per-chunk results) on sf0.001 documents. Driver
    * smoke-checks rows > 0.
    */
  def entry(spark: SparkSession): DataFrame = {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val chunks = Chunker.chunkTable(docs, "doc_id", "text")
    LlmMap.mapChunks(chunks, KeywordFilterClient("merge"),
      "Keep the lines about merging.")
  }

  private val modules: Seq[(Map[String, (SparkSession, String) => DataFrame], Map[String, String], String)] =
    Seq(
      (graft.queries.RefPipeline.queries, graft.queries.RefPipeline.oracles, "ref"),
      (graft.queries.Relational.queries, graft.queries.Relational.oracles, "relational"),
      (graft.queries.Windows.queries, graft.queries.Windows.oracles, "windows"),
      (graft.queries.EventsQueries.queries, graft.queries.EventsQueries.oracles, "events"),
      (graft.queries.Similarity.queries, graft.queries.Similarity.oracles, "similarity"),
      (graft.queries.Dedup.queries, graft.queries.Dedup.oracles, "dedup"),
      (graft.queries.TextAnalytics.queries, graft.queries.TextAnalytics.oracles, "text"),
      (graft.queries.Multimodal.queries, graft.queries.Multimodal.oracles, "multimodal"),
      (graft.queries.FileFormats.queries, graft.queries.FileFormats.oracles, "formats"),
      (graft.queries.Warehouse.queries, graft.queries.Warehouse.oracles, "warehouse"),
      (graft.queries.Graph.queries, graft.queries.Graph.oracles, "graph"),
      (graft.queries.Clustering.queries, graft.queries.Clustering.oracles, "clustering"),
      (graft.queries.Curation.queries, graft.queries.Curation.oracles, "curation")
    )

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.iterator.map(_._1).reduce(_ ++ _)

  /** Query name → owning module, for family columns in the scale
    * probe's full-catalog table.
    */
  def moduleOf: Map[String, String] =
    modules.flatMap { case (qs, _, name) => qs.keys.map(_ -> name) }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys = non-SQL-expressible ops
    * (driver records a weaker rows-only check).
    */
  def oracleSql: Map[String, String] =
    modules.iterator.map(_._2).reduce(_ ++ _)

  /** Session-memoized intermediates ([[SessionCache.shared]]) that
    * several catalog queries ride (train-once-serve-many). Bench and
    * ScaleProbe materialize these under their OWN named timers before
    * timing the consumers, so per-query numbers measure the query, not
    * whichever consumer happened to run first in alphabetical order
    * (VERDICT r9 "what's wrong" #1 / ADVICE r9). Order respects build
    * nesting: minhash builds on shingles, candidates on minhash, the
    * PQ codebooks on the shared embedding base the centroids also use.
    */
  def sharedBuilds: Seq[(String, (SparkSession, String) => DataFrame)] = {
    import graft.queries.{Clustering, Dedup}
    Seq(
      "shared:dedup_shingles" -> ((s: SparkSession, d: String) =>
        Dedup.corpusShingles(s, d)),
      "shared:dedup_pos_shingles" -> ((s: SparkSession, d: String) =>
        Dedup.corpusPosShingles(s, d)),
      "shared:dedup_minhash" -> ((s: SparkSession, d: String) =>
        Dedup.corpusMinhash(s, d)),
      "shared:dedup_candidates" -> ((s: SparkSession, d: String) =>
        Dedup.corpusCandidates(s, d)),
      "shared:dedup_prefixjoin" -> ((s: SparkSession, d: String) =>
        Dedup.corpusPrefixJoin(s, d)),
      "shared:ivf_serving" -> ((s: SparkSession, d: String) =>
        graft.queries.Similarity.sharedIvfServing(s, d)),
      "shared:cluster_centroids" -> ((s: SparkSession, d: String) =>
        Clustering.sharedCentroids(s, d, Clustering.K, Clustering.Iters)),
      "shared:cluster_pq_codebooks" -> ((s: SparkSession, d: String) =>
        (0 until Clustering.PqM).map(j =>
          Clustering.sharedSubCentroids(s, d, j, 64 / Clustering.PqM,
            Clustering.PqK, Clustering.PqIters)).reduce(_ union _)),
      "shared:trade_edges" -> ((s: SparkSession, d: String) =>
        graft.queries.Graph.sharedTradeWeights(s, d)),
      "shared:rrf_fused" -> ((s: SparkSession, d: String) =>
        graft.queries.TextAnalytics.sharedRrfFused(s, d)),
      "shared:ann_eval_truth" -> ((s: SparkSession, d: String) =>
        graft.queries.Similarity.sharedAnnTruth(s, d)),
      "shared:ann_eval_probe" -> ((s: SparkSession, d: String) =>
        graft.queries.Similarity.sharedAnnMultiprobe(s, d)),
      "shared:decontam_grams" -> ((s: SparkSession, d: String) =>
        graft.queries.Curation.sharedDecontamGrams(s, d)))
  }
}
