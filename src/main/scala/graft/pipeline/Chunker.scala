package graft.pipeline

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{InterpretedOrdering, UnsafeProjection}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType, StructField}

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
  * is a two-phase prefix sum instead: one job reads each partition's
  * (min id, max id, weight total), then one local pass sorts each
  * partition and adds its running sum to the weight of the partitions
  * before it. When the partitions already hold increasing, disjoint id
  * ranges (any source that numbers its rows in partition order, such
  * as `TextCorpus`), the input is never shuffled; otherwise it is
  * range-partitioned by id first. Only one small row per partition
  * ever touches the driver.
  */
object Chunker {

  val DefaultBudget = 2000 // tokens; mirrors mapreduce.go:46

  /** Forwards to [[graft.SessionCache.clear]]; kept only because the
    * perfbench/ harness calls it by this name.
    */
  def clearCaches(): Unit = graft.SessionCache.clear()

  /** Scalable global running sum of the integral `weightCol` ordered
    * by `idCol`: adds column `outCol` (LONG) and keeps all others. It
    * equals `sum(weightCol) over (order by idCol)`: rows with equal ids
    * all get the sum through the last of them, a null weight adds
    * nothing, and the sum stays null until the first non-null weight.
    *
    * The input is persisted as it is and one job reads each partition's
    * id range and weight total. If the non-empty partitions hold
    * strictly increasing, disjoint id ranges, that partitioning is kept;
    * otherwise (ids out of order, a tie across a partition boundary, a
    * null id) the input is range-partitioned by id and persisted, which
    * puts equal ids in one partition, and a second job reads the new
    * totals. Either way one local pass then sorts each partition by id
    * and runs its cumulative sum from the total of the partitions
    * before it.
    */
  def runningSum(df: DataFrame, idCol: String, weightCol: String,
                 outCol: String): DataFrame = {
    df.schema(weightCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
      case t => throw new IllegalArgumentException(
        s"runningSum needs an integral weight; $weightCol is ${t.simpleString}")
    }
    val idType = df.schema(idCol).dataType
    val input = graft.SessionCache.persist(df)
    val inputStats = partitionStats(input, idCol, weightCol)
    val (parted, stats) =
      if (increasingRanges(inputStats, idType)) (input, inputStats)
      else {
        val parts = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
        // persisted: the range bounds are sampled per execution, so the
        // totals and the local pass must read one materialization
        val ranged = graft.SessionCache.persist(input.repartitionByRange(parts, col(idCol)))
        (ranged, partitionStats(ranged, idCol, weightCol))
      }
    // per partition index: the weight before it, and whether any of
    // that weight was non-null
    val before = stats.scanLeft((0L, false)) { case ((acc, seen), s) =>
      (acc + s.total, seen || s.weighted > 0)
    }
    val idIdx = df.schema.fieldIndex(idCol)
    val wIdx = df.schema.fieldIndex(weightCol)
    val pidIdx = df.schema.length
    parted.withColumn("_graft_pid", spark_partition_id())
      .sortWithinPartitions(col(idCol))
      .mapPartitions { rows: Iterator[Row] =>
        val in = rows.buffered
        var acc = 0L
        var seen = false
        if (in.hasNext) {
          val (a, s) = before(in.head.getInt(pidIdx)); acc = a; seen = s
        }
        // one group of equal ids at a time: its rows share one sum
        Iterator.continually(in).takeWhile(_.hasNext).flatMap { _ =>
          val key = Row(in.head.get(idIdx))
          val group = Vector.newBuilder[Row]
          while (in.hasNext && Row(in.head.get(idIdx)) == key) {
            val r = in.next()
            if (!r.isNullAt(wIdx)) { acc += r.getAs[Number](wIdx).longValue; seen = true }
            group += r
          }
          val cum = if (seen) acc else null
          group.result().map(r => Row.fromSeq(r.toSeq.take(pidIdx) :+ cum))
        }
      }(Encoders.row(df.schema.add(StructField(outCol, LongType))))
  }

  /** One partition of a [[runningSum]] input: its row count, its
    * least and greatest non-null id (one-field rows), whether it holds
    * a null id, and the total and count of its non-null weights.
    */
  private final case class PartStat(rows: Long, lo: InternalRow, hi: InternalRow,
                                    nullId: Boolean, total: Long, weighted: Long)

  /** [[PartStat]] of every partition of `df`, by partition index. */
  private def partitionStats(df: DataFrame, idCol: String, weightCol: String): Array[PartStat] = {
    val idType = df.schema(idCol).dataType
    df.select(col(idCol), col(weightCol).cast("long")).queryExecution.toRdd
      .mapPartitions { it =>
        val ord = InterpretedOrdering.forSchema(Seq(idType))
        val key = UnsafeProjection.create(Array[DataType](idType))
        var rows, total, weighted = 0L
        var lo, hi: InternalRow = null
        var nullId = false
        it.foreach { r =>
          rows += 1
          if (r.isNullAt(0)) nullId = true
          else {
            if (lo == null || ord.lt(r, lo)) lo = key(r).copy()
            if (hi == null || ord.gt(r, hi)) hi = key(r).copy()
          }
          if (!r.isNullAt(1)) { total += r.getLong(1); weighted += 1 }
        }
        Iterator.single(PartStat(rows, lo, hi, nullId, total, weighted))
      }
      .collect()
  }

  /** Whether the non-empty partitions hold no null id and strictly
    * increasing, disjoint id ranges.
    */
  private def increasingRanges(stats: Array[PartStat], idType: DataType): Boolean = {
    val ord = InterpretedOrdering.forSchema(Seq(idType))
    val full = stats.filter(_.rows > 0)
    full.forall(!_.nullId) && full.zip(full.drop(1)).forall { case (a, b) => ord.lt(a.hi, b.lo) }
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
