package graft.plans

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, InterpretedOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ExprBridge
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StructField}

import graft.SessionCache

/** Global orders without a single-partition window (a bare
  * `Window.orderBy` funnels the whole input through one task): the
  * running sum behind every chunk table (the reference's greedy line
  * packer, `mapreduce.go:199-263`, as `sum(w) over (order by id)`) and
  * `rank`/`dense_rank`. SCALE NOTE: both are one two-phase [[scan]].
  * The input is persisted sorted within its partitions, and one job
  * reads each partition's totals and first and last key. When the
  * non-empty partitions' key ranges strictly increase (ids numbered in
  * partition order, as `TextCorpus` makes them, or one partition), that
  * partitioning is kept and nothing is shuffled; otherwise the input is
  * range-partitioned and sorted once, which puts equal keys in one
  * partition. One local pass then walks each partition's groups of
  * equal keys from the totals of the partitions before it. Only one
  * small row per partition ever touches the driver.
  */
object GlobalOrder {

  /** Adds `outCol` (LONG), the running sum of the integral `weightCol`
    * in `orderBy` order, and keeps all other columns. It equals
    * `sum(weightCol) over (order by orderBy)`: rows with equal keys all
    * get the sum through the last of them, a null weight adds nothing,
    * and the sum stays null until the first non-null weight.
    */
  def runningSum(df: DataFrame, orderBy: Seq[Column], weightCol: String,
                 outCol: String): DataFrame = {
    df.schema(weightCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
      case t => throw new IllegalArgumentException(
        s"runningSum needs an integral weight; $weightCol is ${t.simpleString}")
    }
    scan(df, orderBy, Some(weightCol), Seq(StructField(outCol, LongType))) {
      (_, through) => Seq(if (through.weighted > 0) through.weight else null)
    }
  }

  /** Adds `rankCol` and `denseCol` (INT, like Spark's `rank()` and
    * `dense_rank()`) over the global `orderBy` order, ties included.
    */
  def withRanks(df: DataFrame, orderBy: Seq[Column],
                rankCol: String = "rank", denseCol: String = "dense_rank"): DataFrame =
    scan(df, orderBy, None, Seq(StructField(rankCol, IntegerType, nullable = false),
      StructField(denseCol, IntegerType, nullable = false))) {
      (before, _) => Seq((before.rows + 1).toInt, (before.keys + 1).toInt)
    }

  /** Row count, distinct-key count, and total and count of the non-null
    * weights of a run of sorted rows.
    */
  private final case class Totals(rows: Long, keys: Long, weight: Long, weighted: Long) {
    def +(o: Totals): Totals =
      Totals(rows + o.rows, keys + o.keys, weight + o.weight, weighted + o.weighted)
  }
  private val Zero = Totals(0, 0, 0, 0)

  /** One sorted partition: its first and last key (null when empty) and
    * its [[Totals]].
    */
  private final case class PartStat(first: InternalRow, last: InternalRow, totals: Totals)

  /** The two-phase pass. `orderBy` must name input columns, each with
    * an optional direction and null order. `emit` turns the totals
    * before a group of equal keys and through it into the `out` values
    * every row of the group gets.
    */
  private def scan(df: DataFrame, orderBy: Seq[Column], weightCol: Option[String],
                   out: Seq[StructField])(emit: (Totals, Totals) => Seq[Any]): DataFrame = {
    val input = df.queryExecution.analyzed.output
    val bySort = df.sortWithinPartitions(orderBy: _*)
    val orders = bySort.queryExecution.analyzed match {
      case Sort(o, false, _, _) if o.forall(s => s.child.isInstanceOf[Attribute] &&
          input.exists(_.exprId == s.child.asInstanceOf[Attribute].exprId)) => o
      case _ => throw new IllegalArgumentException(
        s"a global order takes input columns with a direction, got ${orderBy.mkString(", ")}")
    }
    val keys = orders.map(_.child.asInstanceOf[Attribute]).distinct
    // the ordering of stats rows, whose first fields are `keys`
    val byKey = orders.map(o => BindReferences.bindReference(o, keys))
    val sorted = SessionCache.persist(bySort)
    val sortedStats = partitionStats(sorted, keys, weightCol, byKey)
    val ord = new InterpretedOrdering(byKey)
    val full = sortedStats.filter(_.totals.rows > 0)
    val (parted, stats) =
      if (full.zip(full.drop(1)).forall { case (a, b) => ord.lt(a.last, b.first) })
        (sorted, sortedStats)
      else {
        val parts = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
        // persisted: the range bounds are sampled per execution, so the
        // totals and the walk must read one materialization
        val ranged = SessionCache.persist(
          sorted.repartitionByRange(parts, orderBy: _*).sortWithinPartitions(orderBy: _*))
        (ranged, partitionStats(ranged, keys, weightCol, byKey))
      }
    val before = stats.map(_.totals).scanLeft(Zero)(_ + _)
    val keyIdx = keys.map(k => input.indexWhere(_.exprId == k.exprId))
    val wIdx = weightCol.map(df.schema.fieldIndex).getOrElse(-1)
    val pidIdx = df.schema.length
    parted.withColumn("_graft_pid", spark_partition_id())
      .mapPartitions { rows: Iterator[Row] =>
        val in = rows.buffered
        def keyOf(r: Row) = Row.fromSeq(keyIdx.map(r.get))
        var acc = if (in.hasNext) before(in.head.getInt(pidIdx)) else Zero
        // one group of equal keys at a time: its rows share one value
        Iterator.continually(in).takeWhile(_.hasNext).flatMap { _ =>
          val key = keyOf(in.head)
          val group = Vector.newBuilder[Row]
          var n, w, wn = 0L
          while (in.hasNext && keyOf(in.head) == key) {
            val r = in.next()
            n += 1
            if (wIdx >= 0 && !r.isNullAt(wIdx)) { w += r.getAs[Number](wIdx).longValue; wn += 1 }
            group += r
          }
          val through = acc + Totals(n, 1, w, wn)
          val values = emit(acc, through)
          acc = through
          group.result().map(r => Row.fromSeq(r.toSeq.take(pidIdx) ++ values))
        }
      }(Encoders.row(out.foldLeft(df.schema)(_ add _)))
  }

  /** [[PartStat]] of every partition of the sorted `df`, by partition
    * index, read in one job.
    */
  private def partitionStats(df: DataFrame, keys: Seq[Attribute], weightCol: Option[String],
                             byKey: Seq[SortOrder]): Array[PartStat] = {
    val k = keys.length
    val weighted = weightCol.isDefined
    val cols = keys.map(ExprBridge.column) ++ weightCol.map(col(_).cast("long"))
    df.select(cols: _*).queryExecution.toRdd
      .mapPartitions { it =>
        val ord = new InterpretedOrdering(byKey)
        val key = UnsafeProjection.create(keys.map(_.dataType).toArray)
        var rows, distinct, w, wn = 0L
        var first, last: InternalRow = null
        it.foreach { r =>
          if (last == null || ord.compare(r, last) != 0) {
            last = key(r).copy()
            if (first == null) first = last
            distinct += 1
          }
          rows += 1
          if (weighted && !r.isNullAt(k)) { w += r.getLong(k); wn += 1 }
        }
        Iterator.single(PartStat(first, last, Totals(rows, distinct, w, wn)))
      }
      .collect()
  }
}
