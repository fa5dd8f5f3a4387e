package graft.expressions

import org.apache.spark.sql.{Column, GraftSqlBridge, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction

/** The graft SQL functions. ONE table of (name, expression class,
  * builder) feeds both registration paths — per-session [[register]] and
  * the [[GraftExtensions]] plug-in — so adding a function is one line and
  * the two paths cannot drift. Scala callers use the typed Column
  * constructors below instead: they build the expression directly and
  * need no registration on the caller's session. */
object GraftFunctions {
  private[graft] val table: Seq[(String, Class[_ <: Expression], Seq[Expression] => Expression)] =
    Seq(
      ("cosine_sim", classOf[CosineSimilarity], a => CosineSimilarity(a(0), a(1))),
      ("priority_topk", classOf[PriorityTopK], a => PriorityTopK(a(0), a(1), a(2))),
      ("priority_topk_tie", classOf[PriorityTopK],
        a => PriorityTopK(a(0), a(1), a(2), a(3))),
      ("mat_vec_project", classOf[MatVecProject], a => MatVecProject(a(0), a(1), a(2))),
      ("bloom_might_contain", classOf[BloomMightContain],
        a => BloomMightContain(a(0), a(1))),
      ("freq_sketch", classOf[FreqSketch], a => FreqSketch(a(0), a(1))),
      ("edit_distance_capped", classOf[EditDistanceCapped],
        a => EditDistanceCapped(a(0), a(1), foldableInt(a(2)))))

  /** Idempotent per-session registration for SQL callers: any session
    * built without the extensions gains the functions. */
  def register(spark: SparkSession): Unit = table.foreach { case (name, _, builder) =>
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, builder, "built-in")
  }

  /** `cosine_sim(a, b)` — see [[CosineSimilarity]]. */
  def cosineSim(a: Column, b: Column): Column =
    GraftSqlBridge.column(CosineSimilarity(expr(a), expr(b)))

  /** `priority_topk(priority, payload, k)` — see [[PriorityTopK]]. */
  def priorityTopK(priority: Column, payload: Column, k: Int): Column =
    aggregate(PriorityTopK(expr(priority), expr(payload), Literal(k)))

  /** `priority_topk_tie(priority, tiebreak, payload, k)` — see [[PriorityTopK]]. */
  def priorityTopK(priority: Column, tiebreak: Column, payload: Column, k: Int): Column =
    aggregate(PriorityTopK(expr(priority), expr(tiebreak), expr(payload), Literal(k)))

  /** `mat_vec_project(vec, mat, center)` — see [[MatVecProject]]. */
  def matVecProject(vec: Column, mat: Column, center: Column): Column =
    GraftSqlBridge.column(MatVecProject(expr(vec), expr(mat), expr(center)))

  /** `freq_sketch(item, k)` — see [[FreqSketch]]. */
  def freqSketch(item: Column, k: Int): Column =
    aggregate(FreqSketch(expr(item), Literal(k)))

  private def expr(c: Column): Expression = GraftSqlBridge.expression(c)

  private def aggregate(f: AggregateFunction): Column =
    GraftSqlBridge.column(f.toAggregateExpression())

  /** Fold a literal int argument at registration time (the threshold of
    * edit_distance_capped is part of the expression, not a child). */
  private def foldableInt(e: Expression): Int = e.eval(null) match {
    case i: Int => i
    case l: Long => l.toInt
    case other => throw new IllegalArgumentException(
      s"expected a foldable integer literal, got $other")
  }
}

/** Plug-in registration for user sessions:
  * `--conf spark.sql.extensions=graft.expressions.GraftExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.table.foreach { case (name, cls, builder) =>
      ext.injectFunction(
        (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder))
    }
    // the custom operators: plans graft.plans.AsOfJoinPlan as the
    // sorted-merge/broadcast AsOfJoinExec and graft.plans.OrderedScan as
    // OrderedScanExec, with the injected pushdown rule restoring
    // scan-level filtering through the as-of node (GraftStrategy.ensure
    // registers the same three through the public experimental hooks for
    // sessions built without extensions)
    ext.injectPlannerStrategy(_ => new graft.plans.GraftStrategy)
    ext.injectOptimizerRule(_ => graft.plans.AsOfFilterPushdown)
    ext.injectOptimizerRule(_ => graft.plans.AsOfColumnPruning)
  }
}
