package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** The specs' walk over a physical plan: every node, through adaptive
  * stages, reused exchanges, cached relations and subqueries.
  */
object PlanNodes {

  def kids(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case r: ReusedExchangeExec => Seq(r.child)
    case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
    case other => other.children ++ other.subqueries
  }

  def nodes(p: SparkPlan): Seq[SparkPlan] = p +: kids(p).flatMap(nodes)
}
