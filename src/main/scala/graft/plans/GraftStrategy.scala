package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}

/** Plans the library's two custom logical nodes.
  *
  * [[AsOfJoinPlan]] picks by right-side STATS the way the built-in join
  * strategy picks BHJ vs SMJ: a right side under
  * `spark.sql.autoBroadcastJoinThreshold` broadcasts
  * ([[BroadcastAsOfJoinExec]] — the fact side is never shuffled OR
  * sorted), anything larger takes the co-partitioned sorted merge
  * ([[AsOfJoinExec]]). [[OrderedScan]] is always [[OrderedScanExec]]. */
final class GraftStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: AsOfJoinPlan =>
      val threshold = org.apache.spark.sql.internal.SQLConf.get
        .autoBroadcastJoinThreshold
      val exec =
        if (threshold > 0 && p.right.stats.sizeInBytes <= threshold)
          BroadcastAsOfJoinExec(p.leftKeys, p.rightKeys, p.leftTs, p.rightTs,
            p.rightTie, p.payload, p.payloadOut,
            planLater(p.left), planLater(p.right))
        else
          AsOfJoinExec(p.leftKeys, p.rightKeys, p.leftTs, p.rightTs,
            p.rightTie, p.payload, p.payloadOut,
            planLater(p.left), planLater(p.right))
      exec :: Nil
    case s: OrderedScan =>
      OrderedScanExec(s.order, s.groups, s.value, s.out, s.total,
        planLater(s.child)) :: Nil
    case _ => Nil
  }
}

object GraftStrategy {

  /** Register [[GraftStrategy]] once per session through the public
    * `experimental` hook, and with `asOfRules` [[AsOfFilterPushdown]] +
    * [[AsOfColumnPruning]] too. A session built with
    * [[graft.expressions.GraftExtensions]] already carries all three
    * (injected together), and gets nothing added: a rule added twice runs
    * twice per optimization pass. Only the as-of node needs the rules, so
    * a session that only ranks runs no extra optimizer rule. */
  def ensure(spark: SparkSession, asOfRules: Boolean): Unit = {
    // the injected strategies are the witness, not the extensions conf:
    // Spark logs and continues when an extensions class fails to
    // instantiate, so the conf naming GraftExtensions proves nothing
    if (spark.sessionState.planner.extraPlanningStrategies
        .exists(_.isInstanceOf[GraftStrategy])) return
    val x = spark.experimental
    if (!x.extraStrategies.exists(_.isInstanceOf[GraftStrategy]))
      x.extraStrategies = x.extraStrategies :+ new GraftStrategy
    if (asOfRules) Seq(AsOfFilterPushdown, AsOfColumnPruning).foreach { r =>
      if (!x.extraOptimizations.exists(_ eq r))
        x.extraOptimizations = x.extraOptimizations :+ r
    }
  }
}
