package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

/** Every node of an executed plan, descending through AQE wrappers and
  * materialized query stages (their subtrees are not `children`) and,
  * with `intoCaches`, into the plan behind each in-memory table scan. */
object PlanNodes {
  def apply(p: SparkPlan, intoCaches: Boolean = false): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => apply(a.executedPlan, intoCaches)
    case q: QueryStageExec => q +: apply(q.plan, intoCaches)
    case m: InMemoryTableScanExec if intoCaches =>
      m +: apply(m.relation.cacheBuilder.cachedPlan, intoCaches)
    case other => other +: other.children.flatMap(apply(_, intoCaches))
  }
}
