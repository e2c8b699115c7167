package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** An executed tree as it ran: through AQE's final plan and its query
  * stages. */
object ExecutedPlan {
  def kids(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case _ => p.children
  }

  /** `p` and every node under it, parents first. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p +: kids(p).flatMap(nodes)
}
