package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of join as a reusable operator: for every left row, attach the
  * LATEST right row of the same key with right.time <= left.time.
  *
  * Formulation: union both sides on the key, sort each key's timeline
  * once, and carry the last-seen right payload forward — ONE shuffle on
  * the key, state bounded by the window sort. The naive alternatives do
  * not survive scale: a range-condition join explodes to (left x right)
  * per key before its filter, and per-row subqueries are quadratic.
  * The catalog's as-of entries q33 and q106 run on it.
  */
object AsOfJoin {

  /** left(keyCol, timeCol, ...) asof right(keyCol, timeCol, payload...)
    * -> left columns + `payload` columns (null when no right row is at
    * or before the left row's time).
    *
    * `tieBreak`: orders right rows sharing (key, time) — the LAST one
    * in this order wins, matching "latest at-or-before". Must make the
    * right timeline unique per key or results are nondeterministic.
    */
  def asof(left: DataFrame, right: DataFrame,
           keyCol: String, timeCol: String,
           payload: Seq[String], tieBreak: Column): DataFrame = {
    val l = left.withColumn("_graft_side", lit(1))
    val r = right.withColumn("_graft_side", lit(0))
    val lCols = left.columns
    // align schemas: left gets null payload slots, right gets null
    // left-only slots
    val rAligned = lCols.foldLeft(r) { (df, c) =>
      if (df.columns.contains(c)) df
      else df.withColumn(c, lit(null).cast(left.schema(c).dataType))
    }
    val lAligned = payload.foldLeft(l) { (df, c) =>
      if (df.columns.contains(c)) df
      else df.withColumn(c, lit(null).cast(right.schema(c).dataType))
    }
    val all = lAligned.select((lCols ++ payload :+ "_graft_side").map(col): _*)
      .unionByName(rAligned.select((lCols ++ payload :+ "_graft_side").map(col): _*))
    // right rows sort BEFORE left rows at equal time (side 0 < 1), so a
    // purchase at exactly the event time is visible to it.
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(timeCol), col("_graft_side"), tieBreak)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // Carry ONE struct of the whole payload, not per-column lasts: a
    // genuinely-NULL field in the latest right row must win (not be
    // backfilled from an older row), and all fields must come from the
    // SAME right row. The struct is non-null for every right row, so
    // last(ignoreNulls) picks the latest right row atomically.
    val carried = all
      .withColumn("_graft_payload",
        last(when(col("_graft_side") === 0, struct(payload.map(col): _*)),
          ignoreNulls = true).over(w))
    payload.foldLeft(carried) { (df, c) =>
      df.withColumn(c, col(s"_graft_payload.$c"))
    }
      .filter(col("_graft_side") === 1)
      .select((lCols ++ payload).map(col): _*)
  }
}
