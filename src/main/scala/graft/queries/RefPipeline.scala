package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.pipeline.{Chunker, Combine, KeywordFilterClient, LlmMap}

/** The reference's own dataflow (C1→C3→C4→C9, SURVEY.md §2.1) re-expressed
  * as declarative Spark queries over the `documents` table, each with a
  * DuckDB oracle. The "LLM" is the deterministic KeywordFilterClient —
  * the reference's flagship semantics are a line-level keep-filter
  * (`/root/reference/internal/cli/mapreduce.go:91`), modeled here as
  * keep-lines-containing-"merge".
  */
/** ModelClient that fails the job on ANY call — proves a resumed run
  * never touches the model (the distributed analog of counting calls).
  */
final case class FailOnCallClient() extends graft.pipeline.ModelClient {
  override def complete(systemPrompt: String, userText: String): String =
    throw new IllegalStateException(
      "memo resume must not invoke the model, but complete() was called")
}

object RefPipeline {

  private val Budget = Chunker.DefaultBudget
  private val Keyword = "merge"
  private val Prompt = "Keep the lines about merging."

  /** DuckDB fragment: the engine's canonical token count (must stay in
    * lockstep with graft.expressions.TokenCount).
    */
  def tokenCountSql(col: String): String =
    s"CAST(coalesce(list_sum(list_transform(" +
      s"list_filter(regexp_split_to_array($col, '\\s+'), w -> length(w) > 0), " +
      s"w -> CAST(ceil(length(w) / 4.0) AS BIGINT))), 0) AS BIGINT)"

  /** DuckDB CTE computing (doc_id, text, n_tokens, chunk_id) exactly like
    * Chunker.assignChunks — FOR CORPORA WHERE NO RECORD EXCEEDS THE
    * BUDGET (true of every fixture: docs are ~500 chars vs a
    * 2000-token budget). Greedy C3b word-packing is a sequential fold
    * and not cleanly ANSI-expressible; the oversized-record path is
    * covered by the ScalaTest/ScalaCheck invariants instead
    * (PipelineSpec "distributed C3b", ChunkerProperties).
    */
  private def chunksCte: String =
    s"""WITH toks AS (
       |  SELECT doc_id, text, ${tokenCountSql("text")} AS n_tokens
       |  FROM documents
       |), cum AS (
       |  SELECT doc_id, text, n_tokens,
       |         sum(n_tokens) OVER (ORDER BY doc_id) AS c
       |  FROM toks
       |), chunks AS (
       |  SELECT doc_id, text, n_tokens,
       |         CAST(greatest(0, floor((c - 1) / $Budget.0)) AS BIGINT) AS chunk_id
       |  FROM cum
       |)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // C2: corpus token estimation (estimation.go:13-36).
    "ref_tokens_total" -> ((s, d) => {
      Tables.documents(s, d).agg(
        sum(graft.functions.token_count(col("text")).cast("long")).as("total_tokens"),
        count(lit(1)).as("n_docs"))
    }),

    // C10: per-model cost table (estimation.go:39-44); models joined as a
    // broadcast-sized inline dimension.
    "ref_token_cost" -> ((s, d) => {
      val models = s.createDataFrame(Seq(
        ("gpt-5-nano", 0.05), ("gpt-5-mini", 0.25),
        ("gpt-5", 1.25), ("gpt-5.1", 1.25)))
        .toDF("model", "usd_per_mtok")
      val totals = Tables.documents(s, d)
        .agg(sum(graft.functions.token_count(col("text")).cast("long")).as("total_tokens"))
      totals.crossJoin(broadcast(models))
        .select(col("model"),
          round(col("total_tokens") * col("usd_per_mtok") / 1e6, 8).as("cost_usd"))
    }),

    // C3: chunk assignment stats (scale-safe running-sum bucketing).
    "ref_chunk_stats" -> ((s, d) => {
      Chunker.documentChunks(s, d, Budget)
        .select(col("chunk_id"), col("n_records"), col("n_tokens"),
          md5(col("text")).as("text_md5"))
    }),

    // C3b WITH an oracle: chunk stats over a derived corpus where every
    // word costs exactly 1 token ("ab" => ceil(2/4) = 1), record i has
    // k = 2 + doc_id % 7 words, and the budget is 4 — so records with
    // k > 4 take the oversized word-split path (greedy 4-word pieces,
    // remainder last) and records with k <= 4 flow through unsplit.
    // Uniform word cost makes the split ANSI-expressible: piece `pos`
    // of an oversized record carries least(4, k - 4*pos) tokens, which
    // the oracle reproduces exactly — closing the one invariant that
    // was previously ScalaTest/ScalaCheck-only (SURVEY §2.1 C3b).
    "ref_chunk_stats_oversized" -> ((s, d) => {
      val k = (lit(2) + pmod(col("doc_id"), lit(7))).cast("long")
      val docs = Tables.documents(s, d).select(col("doc_id"),
        array_join(transform(sequence(lit(1L), k), _ => lit("ab")), " ")
          .as("text"))
      Chunker.chunkTable(docs, "doc_id", "text", budget = 4)
        .select(col("chunk_id"), col("n_records"), col("n_tokens"),
          md5(col("text")).as("text_md5"))
    }),

    // C4+C5: map stage with the deterministic line-filter client.
    "ref_pipeline" -> ((s, d) => {
      val chunks = Chunker.documentChunks(s, d, Budget)
      LlmMap.mapChunks(chunks, KeywordFilterClient(Keyword), Prompt)
        .select(col("chunk_id"),
          md5(col("result")).as("result_md5"),
          length(col("result")).cast("long").as("result_len"))
    }),

    // C6: memo resume — populate the content-keyed memo, then rerun the
    // map stage with a client that THROWS on any model call. The query
    // only produces rows (and matches the ref_pipeline oracle) if every
    // chunk resolves from the memo: a cached second run makes zero model
    // calls (mapreduce_test.go:210-218), enforced inside the plan.
    "ref_memo_resume" -> ((s, d) => {
      // under the per-JVM scratch root: concurrent Verify/Bench
      // processes must never share a memo path — one process's
      // clearMemo would fire mid-query in the other
      val memoPath = FileFormats.scratch(d, "memo_resume")
      graft.pipeline.MemoCache.clearMemo(s, memoPath)
      val chunks = Chunker.documentChunks(s, d, Budget)
      // run 1: the append inside mapChunksWithMemo materializes eagerly
      graft.pipeline.MemoCache.mapChunksWithMemo(
        chunks, KeywordFilterClient(Keyword), Prompt, "local", memoPath)
      val resumed = graft.pipeline.MemoCache.mapChunksWithMemo(
        chunks, FailOnCallClient(), Prompt, "local", memoPath)
      resumed.select(col("chunk_id"),
        md5(col("result")).as("result_md5"),
        length(col("result")).cast("long").as("result_len"))
    }),

    // C9: ordered no-separator concat of all chunk results into one row.
    "ref_combined" -> ((s, d) => {
      val chunks = Chunker.documentChunks(s, d, Budget)
      val mapped = LlmMap.mapChunks(chunks, KeywordFilterClient(Keyword), Prompt)
      Combine.combineAll(mapped)
        .select(md5(col("combined")).as("combined_md5"),
          length(col("combined")).cast("long").as("combined_len"))
    })
  )

  val oracles: Map[String, String] = Map(
    "ref_tokens_total" ->
      s"""SELECT CAST(sum(${tokenCountSql("text")}) AS BIGINT) AS total_tokens,
         |       count(*) AS n_docs
         |FROM documents""".stripMargin,

    "ref_token_cost" ->
      s"""WITH t AS (SELECT CAST(sum(${tokenCountSql("text")}) AS BIGINT) AS total_tokens FROM documents),
         |m(model, usd_per_mtok) AS (VALUES
         |  ('gpt-5-nano', 0.05), ('gpt-5-mini', 0.25), ('gpt-5', 1.25), ('gpt-5.1', 1.25))
         |SELECT m.model AS model,
         |       round(t.total_tokens * m.usd_per_mtok / 1e6, 8) AS cost_usd
         |FROM t CROSS JOIN m""".stripMargin,

    "ref_chunk_stats" ->
      s"""$chunksCte
         |SELECT chunk_id,
         |       count(*) AS n_records,
         |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |       md5(string_agg(text, chr(10) ORDER BY doc_id)) AS text_md5
         |FROM chunks GROUP BY chunk_id""".stripMargin,

    // The word-split mirror: oversized records expand to
    // ceil(k/4) pieces of least(4, k - 4*pos) one-token words each;
    // the running sum then buckets PIECES in (doc_id, pos) order,
    // exactly like assignChunks' struct sort key.
    "ref_chunk_stats_oversized" ->
      s"""WITH d AS (
         |  SELECT doc_id, 2 + doc_id % 7 AS k FROM documents),
         |pieces AS (
         |  SELECT doc_id,
         |         unnest(range(0, CAST(ceil(k / 4.0) AS BIGINT))) AS pos,
         |         k
         |  FROM d),
         |pt AS (
         |  SELECT doc_id, pos,
         |         CAST(least(4, k - 4 * pos) AS BIGINT) AS n_tokens,
         |         array_to_string(list_transform(
         |           range(0, least(4, k - 4 * pos)), x -> 'ab'), ' ') AS text
         |  FROM pieces),
         |cum AS (
         |  SELECT doc_id, pos, n_tokens, text,
         |         sum(n_tokens) OVER (ORDER BY doc_id, pos) AS c
         |  FROM pt),
         |chunks AS (
         |  SELECT doc_id, pos, n_tokens, text,
         |         CAST(greatest(0, floor((c - 1) / 4.0)) AS BIGINT) AS chunk_id
         |  FROM cum)
         |SELECT chunk_id, count(*) AS n_records,
         |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |       md5(string_agg(text, chr(10) ORDER BY doc_id, pos)) AS text_md5
         |FROM chunks GROUP BY chunk_id""".stripMargin,

    // Identical output contract to ref_pipeline — resume must be
    // invisible to the consumer.
    "ref_memo_resume" ->
      s"""$chunksCte
         |SELECT chunk_id,
         |       md5(coalesce(string_agg(text, chr(10) ORDER BY doc_id)
         |                      FILTER (WHERE position('$Keyword' IN text) > 0), '')) AS result_md5,
         |       CAST(length(coalesce(string_agg(text, chr(10) ORDER BY doc_id)
         |                      FILTER (WHERE position('$Keyword' IN text) > 0), '')) AS BIGINT) AS result_len
         |FROM chunks GROUP BY chunk_id""".stripMargin,

    "ref_pipeline" ->
      s"""$chunksCte
         |SELECT chunk_id,
         |       md5(coalesce(string_agg(text, chr(10) ORDER BY doc_id)
         |                      FILTER (WHERE position('$Keyword' IN text) > 0), '')) AS result_md5,
         |       CAST(length(coalesce(string_agg(text, chr(10) ORDER BY doc_id)
         |                      FILTER (WHERE position('$Keyword' IN text) > 0), '')) AS BIGINT) AS result_len
         |FROM chunks GROUP BY chunk_id""".stripMargin,

    "ref_combined" ->
      s"""$chunksCte,
         |per_chunk AS (
         |  SELECT chunk_id,
         |         coalesce(string_agg(text, chr(10) ORDER BY doc_id)
         |                    FILTER (WHERE position('$Keyword' IN text) > 0), '') AS result
         |  FROM chunks GROUP BY chunk_id
         |)
         |SELECT md5(coalesce(string_agg(result, '' ORDER BY chunk_id), '')) AS combined_md5,
         |       CAST(length(coalesce(string_agg(result, '' ORDER BY chunk_id), '')) AS BIGINT) AS combined_len
         |FROM per_chunk""".stripMargin
  )
}
