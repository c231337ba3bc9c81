package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec

/** Diagnostic (not a suite): print the BUILD-side subtree root chain of
  * every BroadcastNestedLoopJoin in the whitelisted catalog plans, to
  * calibrate PlanGuardSpec's boundedness checker.
  * Run: sbt "Test/runMain graft.PlanProbe"
  */
object PlanProbe {
  def main(args: Array[String]): Unit = {
    val spark = TestSpark.spark
    val d = TestSpark.sf0001
    val names = Seq("q38_cosine_topk", "q62_ann_ivf", "q139_kmeans",
      "q127_triangle_count", "q11_approx_distinct", "q43_tfidf_topterms",
      "q60_lang_id", "q73_gapfill_hourly", "q99_mixture_rebalance",
      "q105_weighted_sample", "q114_bm25", "q190_ivfpq_serving",
      "q173_proportional_sample", "ref_token_cost", "q185_zorder_layout",
      "q188_dedup_recall", "q161_rrf_fusion")
    names.foreach { n =>
      val plan = SparkEntry.queries(n)(spark, d).queryExecution.sparkPlan
      var i = 0
      plan.foreach {
        case b: BroadcastNestedLoopJoinExec =>
          i += 1
          val build = b.buildSide match {
            case org.apache.spark.sql.catalyst.optimizer.BuildLeft => b.left
            case _ => b.right
          }
          println(s"=== $n #$i buildSide=${b.buildSide} ===")
          println(chain(build).mkString(" -> "))
        case _ =>
      }
      SessionCache.clear()
    }
    spark.stop()
  }

  /** Root chain: class simple names walking down while unary. */
  private def chain(p: SparkPlan): Seq[String] = {
    val name = p.getClass.getSimpleName + (p match {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
        s"(grp=${a.groupingExpressions.size})"
      case _ => ""
    })
    if (p.children.size == 1) name +: chain(p.children.head)
    else if (p.children.isEmpty) Seq(name)
    else Seq(name + p.children.map(c => chain(c).mkString("[", " -> ", "]"))
      .mkString("{", " | ", "}"))
  }
}
