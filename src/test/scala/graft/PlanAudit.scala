package graft

import org.apache.spark.sql.catalyst.expressions.PlanExpression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** The one physical-plan walk: every plan inspection (PlanGuardSpec's
  * nested-loop and cartesian guard, the specs that count a plan's joins
  * or skew-split reads) folds over [[nodes]] instead of walking the plan
  * itself.
  */
object PlanAudit {

  /** Every node of `plan`, each visited once (by identity): the walk
    * goes through adaptive plans, query stages and reused exchanges to
    * the plans they hold as fields, into cached plans and into the
    * subquery plans in node expressions (a hand-embedded scalar
    * subquery — q126's bloom build — still carries a LOGICAL plan at
    * this stage and is planned first). A persisted lineage is thus
    * entered once however often the plan reads it — an iterative
    * query references round k-1's cached state from several places in
    * round k's plan, and re-walking it per reference multiplied the
    * counts (q143's 2 pointer-doubling rounds read as 110 shuffles
    * instead of 17).
    */
  def nodes(plan: SparkPlan): Seq[SparkPlan] = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    val out = Seq.newBuilder[SparkPlan]
    def visit(p: SparkPlan): Unit = if (seen.add(p)) {
      out += p
      val held = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case r: ReusedExchangeExec => Seq(r.child)
        case im: InMemoryTableScanExec => Seq(im.relation.cachedPlan)
        case _ => Nil
      }
      val subqueries = p.expressions.flatMap(_.collect {
        case pe: PlanExpression[_] => pe.plan
      }).collect {
        case sp: SparkPlan => sp
        case lp: LogicalPlan => p.session.sessionState.executePlan(lp).sparkPlan
      }
      (p.children ++ held ++ subqueries).foreach(visit)
    }
    visit(plan)
    out.result()
  }
}
