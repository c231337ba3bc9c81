package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.sources.FileSources

/** File-format interchange round trips: write the corpus out as JSONL /
  * CSV, read it back schema-first through [[FileSources]], and verify
  * losslessness against an oracle that NEVER SEES THE FILES — it
  * aggregates the original parquet directly, so any write- or
  * read-side corruption (mis-escaped text, dropped rows, type drift,
  * quarantined lines) breaks the hash match.
  *
  * The digest is MULTISET-sensitive: rows are bucketed by the first
  * two hex chars of their content hash (256 buckets), with per-bucket
  * counts, distinct-hash counts, and min/max hashes. A single altered
  * row moves to a different bucket with probability 255/256 (changing
  * two bucket counts), and a within-bucket duplicate swap drops the
  * distinct count — unlike a plain per-group min/max digest, which a
  * mid-distribution alteration can slip past.
  *
  * The round-trip entries do eager file writes per evaluation (the
  * round trip IS the operator), so they are registered in
  * `Bench.SideEffectQueries` and excluded from the headline plan
  * total, like `ref_memo_resume`.
  *
  * JSONL carries the full rows including raw text (escaped newlines);
  * the CSV entry round-trips the scalar columns only — the splittable
  * non-multiLine read is the only CSV path that scales, and it cannot
  * carry embedded newlines (object doc of [[FileSources]]).
  */
object FileFormats {

  /** Scratch dir per sf input under [[graft.Harness.tempRoot]];
    * re-evaluations overwrite.
    */
  private[graft] def scratch(d: String, leaf: String): String = {
    val key = java.security.MessageDigest.getInstance("SHA-256")
      .digest(d.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    graft.Harness.tempRoot.resolve(s"roundtrip_$key").resolve(leaf).toString
  }

  /** Hash-bucketed text digest (see object doc). `withCorrupt` adds the
    * quarantine counter the oracle pins to 0.
    */
  private def textDigest(back: DataFrame, withCorrupt: Boolean): DataFrame = {
    val h = sha2(col("text"), 256)
    val aggs = Seq(
      count(lit(1)).as("n_docs"),
      sum(col("n_chars")).as("sum_chars"),
      countDistinct(h).as("n_distinct"),
      min(h).as("min_hash"),
      max(h).as("max_hash")) ++
      (if (withCorrupt)
        Seq(sum(col(FileSources.CorruptCol).isNotNull.cast("long"))
          .as("n_corrupt"))
      else Nil)
    back.groupBy(substring(h, 1, 2).as("bucket"))
      .agg(aggs.head, aggs.tail: _*)
  }

  private def textDigestSql(withCorrupt: Boolean): String = {
    val corrupt =
      if (withCorrupt) ",\n  CAST(0 AS BIGINT) AS n_corrupt" else ""
    s"""SELECT substring(sha256(text), 1, 2) AS bucket,
       |  count(*) AS n_docs,
       |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       |  count(DISTINCT sha256(text)) AS n_distinct,
       |  min(sha256(text)) AS min_hash,
       |  max(sha256(text)) AS max_hash$corrupt
       |FROM documents GROUP BY 1""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q89_jsonl_roundtrip" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("lang"),
          col("n_chars"), col("text"))
      val out = scratch(d, "docs_jsonl")
      FileSources.writeJsonLines(docs, out)
      textDigest(FileSources.readJsonLines(s, out, docs.schema),
        withCorrupt = true)
    }),

    // Range-clustered parquet write (sinks/LayoutWriter) round trip:
    // the layout properties (disjoint per-file ranges, pushed filters,
    // partition pruning) are proven in LayoutWriterSpec; this entry
    // proves the clustered rewrite is LOSSLESS against the original
    // table's digest.
    "q91_clustered_write" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"),
          col("l_quantity"), col("l_extendedprice"))
      val out = scratch(d, "lineitem_clustered")
      graft.sinks.LayoutWriter.writeRangeClustered(li, out, numFiles = 8,
        col("l_shipdate"))
      s.read.parquet(out)
        .groupBy(date_trunc("month", col("l_shipdate")).cast("date")
          .as("ship_month"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_price"))
    }),

    // Small-files compaction round trip: fragment the documents table
    // into many tiny files (the streaming-append failure mode), compact
    // to ~256 KiB targets, digest the compacted copy. File-count
    // behavior is asserted in LayoutWriterSpec; this entry hash-checks
    // that compaction never alters a row.
    "q96_compacted_rewrite" -> ((s, d) => {
      val frag = scratch(d, "docs_fragmented")
      val comp = scratch(d, "docs_compacted")
      Tables.documents(s, d).repartition(32)
        .write.mode("overwrite").parquet(frag)
      graft.sinks.LayoutWriter.compact(s, frag, comp, 256L * 1024)
      textDigest(s.read.parquet(comp), withCorrupt = false)
    }),

    // ORC interchange round trip — the columnar format a data-
    // engineering user hands off to Hive/Trino estates (ORC is
    // Spark-native). Full rows including raw text; same
    // digest-vs-untouched-parquet pattern as q89: the oracle never sees
    // the ORC files, so write- or read-side corruption breaks the hash.
    "q125_orc_roundtrip" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("lang"),
          col("n_chars"), col("text"))
      val out = scratch(d, "docs_orc")
      docs.write.mode("overwrite").orc(out)
      textDigest(s.read.orc(out), withCorrupt = false)
    }),

    // Parquet schema evolution ON READ — the storage-side twin of q136:
    // two batches written with DIFFERENT schemas (a column retired, two
    // added) are read back through mergeSchema into one null-filled
    // unified table. The digest (row count, per-column presence counts,
    // sums over both schema eras) is pinned against the untouched
    // original — a dropped file, a misaligned column, or a non-null
    // where the evolved schema demands null all break the hash.
    "q137_merge_schema" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val out = scratch(d, "docs_evolving")
      docs.select(col("doc_id"), col("source"))
        .write.mode("overwrite").parquet(s"$out/batch1")
      docs.select(col("doc_id"), col("lang"), col("n_chars"))
        .write.mode("overwrite").parquet(s"$out/batch2")
      s.read.option("mergeSchema", "true")
        .parquet(s"$out/batch1", s"$out/batch2")
        .agg(count(lit(1)).as("n_rows"),
          count(col("source")).as("n_with_source"),
          count(col("lang")).as("n_with_lang"),
          sum(col("n_chars")).as("sum_chars"),
          sum(col("doc_id")).as("sum_ids"))
    }),

    // Avro interchange round trip — the row-oriented handoff format
    // (Kafka archives, Hive row tables). The spark-avro datasource
    // module is not resolvable in this zero-egress build, so the
    // engine carries its own container-file writer/splittable reader
    // over the public Avro generic API (sources/AvroIO). Full rows
    // including raw text; same digest-vs-untouched-parquet pattern as
    // q89/q125.
    "q212_avro_roundtrip" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("lang"),
          col("n_chars"), col("text"))
      val out = scratch(d, "docs_avro")
      graft.sources.AvroIO.writeAvro(docs, out)
      textDigest(graft.sources.AvroIO.readAvro(s, out, docs.schema),
        withCorrupt = false)
    }),

    // CSV carries no text column, so its digest buckets on the hash of
    // the FULL scalar tuple (id|source|lang) — any altered field moves
    // the row's bucket — with sum(doc_id)/sum(n_chars) as the numeric
    // cross-checks.
    "q90_csv_roundtrip" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
      val out = scratch(d, "docs_csv")
      FileSources.writeCsv(docs, out)
      val tuple = concat_ws("|",
        col("doc_id").cast("string"), col("source"), col("lang"))
      FileSources.readCsv(s, out, docs.schema)
        .groupBy(substring(sha2(tuple, 256), 1, 2).as("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("sum_ids"),
          sum(col("n_chars")).as("sum_chars"),
          sum(col(FileSources.CorruptCol).isNotNull.cast("long"))
            .as("n_corrupt"))
    })
  )

  // The oracles aggregate the ORIGINAL parquet — n_corrupt pinned to 0.
  val oracles: Map[String, String] = Map(
    "q89_jsonl_roundtrip" -> textDigestSql(withCorrupt = true),

    "q91_clustered_write" ->
      """SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS ship_month,
        |  count(*) AS n,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_price
        |FROM lineitem GROUP BY 1""".stripMargin,

    "q96_compacted_rewrite" -> textDigestSql(withCorrupt = false),

    "q125_orc_roundtrip" -> textDigestSql(withCorrupt = false),

    "q212_avro_roundtrip" -> textDigestSql(withCorrupt = false),

    "q137_merge_schema" ->
      """SELECT CAST(2 * count(*) AS BIGINT) AS n_rows,
        |  count(*) AS n_with_source,
        |  count(*) AS n_with_lang,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(2 * sum(doc_id) AS BIGINT) AS sum_ids
        |FROM documents""".stripMargin,

    "q90_csv_roundtrip" ->
      """SELECT substring(sha256(
        |    CAST(doc_id AS VARCHAR) || '|' || source || '|' || lang), 1, 2)
        |    AS bucket,
        |  count(*) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(0 AS BIGINT) AS n_corrupt
        |FROM documents GROUP BY 1""".stripMargin
  )
}
