package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.expressions.TokenCount
import graft.plans.GlobalOrder

/** Order-preserving chunk bucketing — the engine-native form of the
  * reference's greedy line packer (`/root/reference/internal/cli/
  * mapreduce.go:199-263`): consecutive records are grouped so that each
  * chunk carries roughly `budget` tokens, preserving record order.
  *
  * Two formulations:
  *
  *  1. [[assignChunks]] — the CANONICAL, scale-safe formulation: a global
  *     running token sum bucketed by `floor((cumsum - 1) / budget)`.
  *     Associative, shuffle-friendly, identical results at any
  *     parallelism. This is what all `SparkEntry.queries` use, and it is
  *     ANSI-SQL expressible for the DuckDB oracle
  *     (`sum(w) over (order by id)` + the same floor()). The sum is
  *     [[graft.plans.GlobalOrder.runningSum]]'s two-phase scan, never a
  *     single-partition window.
  *     Differs from greedy packing by at most one record at chunk
  *     boundaries — the reference's own tests only assert a <=2x-budget
  *     bound and word preservation, not exact boundaries
  *     (`mapreduce_test.go:402-436`).
  *
  *  2. Reference-exact sequential greedy packing, including the
  *     oversized-line word-split fallback (`mapreduce.go:228-254`): the
  *     test-side oracle `graft.ReferencePacker.greedyPack`, a
  *     driver-side fold that the chunker specs compare against; not a
  *     distributed operator by nature (greedy reset state is
  *     order-dependent and non-associative).
  */
object Chunker {

  val DefaultBudget = 2000 // tokens; mirrors mapreduce.go:46

  /** Forwards to [[graft.SessionCache.clear]]; kept only because the
    * perfbench/ harness calls it by this name.
    */
  def clearCaches(): Unit = graft.SessionCache.clear()

  /** Word-pack one oversized record into pieces of <= budget tokens
    * (whitespace collapsed), mirroring the reference's fallback
    * (mapreduce.go:228-254). Pure per-record function — no cross-record
    * state, so it distributes as a plain projection.
    */
  def wordPack(line: String, budget: Int): Seq[String] = {
    val pieces = Seq.newBuilder[String]
    val cur = new StringBuilder
    var wt = 0
    for (w <- line.trim.split("\\s+") if w.nonEmpty) {
      val c = TokenCount.count(w)
      if (wt + c > budget && cur.nonEmpty) {
        pieces += cur.toString.trim
        cur.clear(); wt = 0
      }
      cur.append(w).append(" ")
      wt += c
    }
    if (cur.nonEmpty) pieces += cur.toString.trim
    pieces.result()
  }

  /** Canonical chunk assignment: adds `n_tokens` (via the native
    * [[TokenCount]] expression), `_graft_pos` (piece index within the
    * record — 0 except for word-split pieces) and `chunk_id`.
    *
    * C3b runs IN the canonical distributed path: any record whose own
    * token count exceeds the budget is word-split into <= budget pieces
    * BEFORE the global running sum, so the reference's "every chunk
    * <= 2x budget" invariant (mapreduce_test.go:413-417) holds at any
    * parallelism. The running sum orders by (id, piece_pos).
    *
    * chunk_id = max(0, floor((running_token_sum - 1) / budget))
    */
  def assignChunks(records: DataFrame, idCol: String, textCol: String,
                   budget: Int = DefaultBudget): DataFrame = {
    val packUdf = udf((line: String) => wordPack(line, budget))
    val exploded = records
      .withColumn("n_tokens", graft.functions.token_count(col(textCol)).cast("long"))
      .select(col("*"),
        posexplode(
          // NULL text (null n_tokens) takes the no-split branch: the
          // row flows through with a null piece, as before C3b —
          // wordPack must never see null.
          when(col("n_tokens").isNull || col("n_tokens") <= budget,
            array(col(textCol)))
            .otherwise(packUdf(col(textCol))))
          .as(Seq("_graft_pos", "_graft_piece")))
      .withColumn(textCol, col("_graft_piece"))
      .withColumn("n_tokens",
        when(col("_graft_pos") === 0 && col("n_tokens") <= budget, col("n_tokens"))
          .otherwise(graft.functions.token_count(col("_graft_piece")).cast("long")))
      .drop("_graft_piece")
    GlobalOrder.runningSum(exploded, Seq(col(idCol), col("_graft_pos")), "n_tokens", "_graft_cum")
      .withColumn("chunk_id",
        greatest(lit(0L),
          floor((col("_graft_cum") - 1) / budget)).cast("long"))
      .drop("_graft_cum")
  }

  /** Chunk table: one row per chunk with its packed text (records joined
    * by '\n' in (id, piece) order), token and record counts. The
    * collect_list is made order-stable by sorting an array of
    * (id, pos, text) structs — never rely on partition order after a
    * shuffle.
    *
    * The table has one partition per task slot of the session
    * (`defaultParallelism`), so the map stage over it keeps every core
    * busy with model calls: a chunk table's shuffle is small, and AQE
    * would otherwise coalesce it into a single task.
    */
  def chunkTable(records: DataFrame, idCol: String, textCol: String,
                 budget: Int = DefaultBudget): DataFrame = {
    assignChunks(records, idCol, textCol, budget)
      .repartition(records.sparkSession.sparkContext.defaultParallelism, col("chunk_id"))
      .groupBy(col("chunk_id"))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col(idCol).as("id"),
              col("_graft_pos").as("pos"), col(textCol).as("t")))),
            s => s.getField("t")),
          "\n").as("text"),
        sum(col("n_tokens")).as("n_tokens"),
        count(lit(1)).as("n_records"))
  }

  /** [[chunkTable]] over `documents` at `dir`, built once per (session,
    * dir, budget) and served persisted thereafter: the catalog queries
    * that consume the same chunk table (the ref_* family) would otherwise
    * rebuild the tokenize, running-sum and chunk-aggregate lineage once
    * each.
    */
  def documentChunks(spark: SparkSession, dir: String,
                     budget: Int = DefaultBudget): DataFrame =
    graft.SessionCache.shared(spark, s"chunks:$dir:$budget")(
      chunkTable(graft.Tables.documents(spark, dir), "doc_id", "text", budget))
}
