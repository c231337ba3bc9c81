package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SessionCache

/** Scalable GLOBAL ranking. A bare `Window.orderBy(...)` collapses the
  * whole input to one partition — correct, but a straggler at scale
  * (and the source of Spark's "No Partition Defined" warning). This is
  * the two-phase formulation (per-partition totals turned into
  * offsets, like Chunker.runningSum's prefix sum):
  *
  *  1. range-partition by the sort key — equal keys land in ONE
  *     partition (RangePartitioner maps equal keys identically), so no
  *     tie ever straddles a boundary;
  *  2. rank/dense_rank WITHIN each partition;
  *  3. add per-partition offsets: earlier partitions' row count (rank)
  *     and distinct-key count (dense_rank). Only numPartitions tiny
  *     rows touch the driver; they broadcast back.
  *
  * local rank + offset == global rank, at any parallelism.
  */
object Ranks {

  /** Adds `rankCol` and `denseCol` (both INT, like Spark's rank()).
    * `sortCols` define the global order (may be desc); `keyCols` are
    * the same columns WITHOUT sort direction (for distinct counting).
    */
  def withGlobalRanks(df: DataFrame, sortCols: Seq[Column], keyCols: Seq[Column],
                      rankCol: String = "rank", denseCol: String = "dense_rank"): DataFrame = {
    val spark = df.sparkSession
    val parts = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val parted = df.repartitionByRange(parts, sortCols: _*)
      .withColumn("_graft_pid", spark_partition_id())
      .transform(SessionCache.persist)
    val totals = parted.groupBy(col("_graft_pid"))
      .agg(count(lit(1)).as("n"),
        countDistinct(struct(keyCols: _*)).as("nd"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    var accN = 0L
    var accD = 0L
    val offsets = totals.map { case (pid, n, nd) =>
      val row = (pid, accN, accD); accN += n; accD += nd; row
    }
    val offsetsDf = spark.createDataFrame(offsets.toSeq)
      .toDF("_graft_pid", "_graft_rank_off", "_graft_dense_off")
    val w = Window.partitionBy(col("_graft_pid")).orderBy(sortCols: _*)
    parted
      .withColumn("_graft_lr", rank().over(w))
      .withColumn("_graft_ldr", dense_rank().over(w))
      .join(broadcast(offsetsDf), Seq("_graft_pid"))
      .withColumn(rankCol, (col("_graft_lr") + col("_graft_rank_off")).cast("int"))
      .withColumn(denseCol, (col("_graft_ldr") + col("_graft_dense_off")).cast("int"))
      .drop("_graft_pid", "_graft_lr", "_graft_ldr",
        "_graft_rank_off", "_graft_dense_off")
  }
}
