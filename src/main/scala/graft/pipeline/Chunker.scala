package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.expressions.TokenCount

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
  *     (`sum(w) over (order by id)` + the same floor()).
  *     Differs from greedy packing by at most one record at chunk
  *     boundaries — the reference's own tests only assert a <=2x-budget
  *     bound and word preservation, not exact boundaries
  *     (`mapreduce_test.go:402-436`).
  *
  *  2. [[greedyPack]] — reference-exact sequential greedy packing
  *     including the oversized-line word-split fallback
  *     (`mapreduce.go:228-254`), as a driver-side fold. For parity tests
  *     and small corpora only; not a distributed operator by nature
  *     (greedy reset state is order-dependent and non-associative).
  *
  * SCALE NOTE on the running sum: a bare `Window.orderBy(id)` collapses
  * to ONE partition — correct but a straggler at 100 TB. [[runningSum]]
  * therefore uses the classic two-phase prefix sum: range-partition by
  * id, cumsum within each partition, then add per-partition offsets
  * (computed from one tiny row per partition, broadcast back). Only the
  * per-partition totals (numPartitions rows) ever touch the driver.
  */
object Chunker {

  val DefaultBudget = 2000 // tokens; mirrors mapreduce.go:46

  /** Forwards to [[graft.SessionCache.clear]]; kept only because the
    * perfbench/ harness calls it by this name.
    */
  def clearCaches(): Unit = graft.SessionCache.clear()

  /** Scalable global running sum of `weightCol` ordered by `idCol`
    * (ids must be globally unique; ties would make results ambiguous).
    * Adds column `outCol` = inclusive prefix sum; preserves all others.
    */
  def runningSum(df: DataFrame, idCol: String, weightCol: String,
                 outCol: String, numPartitions: Int = 0): DataFrame = {
    val spark = df.sparkSession
    val parts =
      if (numPartitions > 0) numPartitions
      else spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    // The upstream lineage (scan → tokenize → range shuffle) feeds BOTH
    // the per-partition-totals action below and the final window+join —
    // persist it so the most expensive stage of the pipeline runs once,
    // not twice (MEMORY_AND_DISK: spills instead of OOMing at scale).
    val parted = graft.SessionCache.persist(
      df.repartitionByRange(parts, col(idCol))
        .withColumn("_graft_pid", spark_partition_id()))
    // Phase 2 first (it is the materializing action): per-partition
    // totals -> exclusive prefix offsets. One row per partition; tiny at
    // any data scale. A plain groupBy — no window needed for totals.
    val totals = parted.groupBy(col("_graft_pid"))
      .agg(sum(col(weightCol)).as("_graft_total"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1)))
      .sortBy(_._1)
    var acc = 0L
    val offsets = totals.map { case (pid, tot) =>
      val off = acc; acc += tot; (pid, off)
    }
    val offsetsDf = spark.createDataFrame(offsets.toSeq)
      .toDF("_graft_pid", "_graft_offset")
    // Phase 1: local cumsum within each (now cached) range partition.
    val w = Window.partitionBy(col("_graft_pid")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    parted
      .withColumn("_graft_local", sum(col(weightCol)).over(w))
      .join(broadcast(offsetsDf), Seq("_graft_pid"))
      .withColumn(outCol, col("_graft_local") + col("_graft_offset"))
      .drop("_graft_pid", "_graft_local", "_graft_offset")
  }

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
    * parallelism. The running sum orders by (id, piece_pos) — a struct
    * sort key, range-partitionable like any other.
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
      .withColumn("_graft_oid", struct(col(idCol), col("_graft_pos")))
    runningSum(exploded, "_graft_oid", "n_tokens", "_graft_cum")
      .withColumn("chunk_id",
        greatest(lit(0L),
          floor((col("_graft_cum") - 1) / budget)).cast("long"))
      .drop("_graft_cum", "_graft_oid")
  }

  /** Chunk table: one row per chunk with its packed text (records joined
    * by '\n' in (id, piece) order), token and record counts. The
    * collect_list is made order-stable by sorting an array of
    * (id, pos, text) structs — never rely on partition order after a
    * shuffle.
    */
  def chunkTable(records: DataFrame, idCol: String, textCol: String,
                 budget: Int = DefaultBudget): DataFrame = {
    assignChunks(records, idCol, textCol, budget)
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
    * rebuild the tokenize+shuffle+window lineage once each.
    */
  def documentChunks(spark: SparkSession, dir: String,
                     budget: Int = DefaultBudget): DataFrame =
    graft.SessionCache.shared(spark, s"chunks:$dir:$budget")(
      chunkTable(graft.Tables.documents(spark, dir), "doc_id", "text", budget))

  // ---------------------------------------------------------------------
  // Reference-exact greedy packing (driver-side; parity tests only).
  // ---------------------------------------------------------------------

  /** Greedy packer with the reference's exact semantics
    * (mapreduce.go:199-263): pack consecutive lines while the running
    * token sum stays <= budget; a line whose own cost exceeds the budget
    * is word-split (whitespace collapsed) and word-packed
    * (mapreduce.go:228-254). Per-chunk trailing newline trimmed.
    */
  def greedyPack(text: String, budget: Int = DefaultBudget): Seq[String] = {
    val chunks = Seq.newBuilder[String]
    val cur = new StringBuilder
    var curTokens = 0
    def flush(): Unit = {
      if (cur.nonEmpty) {
        chunks += cur.toString.stripSuffix("\n")
        cur.clear(); curTokens = 0
      }
    }
    def add(piece: String, tokens: Int): Unit = {
      if (curTokens + tokens > budget) flush()
      cur.append(piece).append("\n")
      curTokens += tokens
    }
    for (line <- text.split("\n", -1)) {
      val t = TokenCount.count(line)
      if (t > budget) {
        // Oversized line: flush, then word-split (same packer as the
        // distributed C3b path in assignChunks).
        flush()
        chunks ++= wordPack(line, budget)
      } else {
        add(line, t)
      }
    }
    flush()
    chunks.result().filter(_.nonEmpty)
  }
}
