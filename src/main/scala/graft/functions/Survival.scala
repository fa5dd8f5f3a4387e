package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Kaplan–Meier product-limit estimator and log-rank test (reference:
  * `survfit(Surv(time, status) ~ strat)` + `ggsurvplot(pval=T)`,
  * surv_analysis_median_exp.R:129-155, drug_km_median_exp.R:103-117),
  * re-expressed as grouped aggregation + cumulative windows.
  *
  * Plan shape: [[kmCurve]] and [[logRankBy]] each plan ONE shuffle
  * exchange. The subject frame is hash-partitioned by its outer key (the
  * stratum, or the test's group), and every later aggregate and window is
  * keyed by that key plus more, so it needs no further exchange. Each
  * reads its input once and persists nothing: a caller whose input is
  * expensive and feeds several outputs persists it once for all of them
  * (`Tcga.kmByMedianExpression`). The exchange carries one row per subject
  * and a stratum (or group) sits in one task; on the TCGA paths that is
  * one row per (gene of interest, sample).
  *
  * Subjects with a NULL stratum, group, time or event are dropped, as
  * `survfit` drops NA rows.
  */
object Survival {

  /** KM curve per stratum.
    *
    * Degenerate inputs: a stratum with no event contributes no row, so an
    * all-censored (or empty) subject set gives an empty curve.
    *
    * @param df       one row per subject: (stratCol, timeCol, eventCol)
    * @param eventCol 1 = event (death), 0 = censored
    * @param confType CI transform — "log" (the `survfit` default:
    *                 S·exp(±1.96·se(log S)) with se(log S) = √Σd/(n(n−d)),
    *                 upper clipped at 1, NULL once the curve hits 0) or
    *                 "linear" (S ± 1.96·se clamped to [0,1])
    * @return per (stratum, death time): n_risk, n_event, n_censor,
    *         survival, se (Greenwood), ci_lo/ci_hi
    */
  def kmCurve(df: DataFrame, stratCol: String, timeCol: String,
      eventCol: String, confType: String = "log"): DataFrame = {
    require(confType == "log" || confType == "linear",
      s"confType must be log|linear, got $confType")
    // the one exchange: the per-time aggregate and the windows below are
    // keyed by the stratum first, so they keep this partitioning
    val perTime = complete(df, stratCol, timeCol, eventCol)
      .repartition(col(stratCol))
      .groupBy(col(stratCol), col(timeCol)).agg(
        sum(col(eventCol)).as("d"),
        sum(lit(1) - col(eventCol)).as("c"))
    val byTime = Window.partitionBy(stratCol).orderBy(timeCol)
    val wCum = byTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perTime
      .withColumn("n_risk", atRisk(col("d") + col("c"), byTime))
      // ln(1 - d/n) only while d < n; once d == n survival is exactly 0.
      .withColumn("lnterm",
        when(col("d") < col("n_risk"), log(lit(1.0) - col("d") / col("n_risk"))))
      .withColumn("gwterm",
        when(col("d") < col("n_risk"),
          col("d") / (col("n_risk") * (col("n_risk") - col("d")))))
      .withColumn("extinct", max((col("d") >= col("n_risk")).cast("int")).over(wCum))
      .withColumn("survival",
        when(col("extinct") === 1, 0.0).otherwise(exp(sum(col("lnterm")).over(wCum))))
      // se(log S) — the Greenwood sum before the delta-method S· factor
      .withColumn("selog", sqrt(sum(col("gwterm")).over(wCum)))
      .withColumn("se",
        when(col("extinct") === 1, 0.0).otherwise(col("survival") * col("selog")))
      .withColumn("ci_lo",
        if (confType == "log")
          when(col("extinct") === 1, lit(null).cast("double"))
            .otherwise(col("survival") * exp(lit(-1.96) * col("selog")))
        else greatest(lit(0.0), col("survival") - lit(1.96) * col("se")))
      .withColumn("ci_hi",
        if (confType == "log")
          when(col("extinct") === 1, lit(null).cast("double"))
            .otherwise(least(lit(1.0), col("survival") * exp(lit(1.96) * col("selog"))))
        else least(lit(1.0), col("survival") + lit(1.96) * col("se")))
      .filter(col("d") > 0)
      .select(col(stratCol), col(timeCol), col("n_risk"),
        col("d").as("n_event"), col("c").as("n_censor"),
        col("survival"), col("se"), col("ci_lo"), col("ci_hi"))
  }

  /** Median survival per stratum (`surv.median.line="hv"`,
    * surv_analysis_median_exp.R:153-163): the first event time where the
    * survival curve drops to ≤ 0.5; NULL when the curve never does. */
  def medianSurvival(kmCurve: DataFrame, stratCol: String,
      timeCol: String = "time"): DataFrame =
    // 1e-12 guard: the curve is exp(Σ log(1-d/n)), so an exact 0.5 can sit
    // one ulp above the threshold
    kmCurve.filter(col("survival") <= 0.5 + 1e-12)
      .groupBy(col(stratCol))
      .agg(min(col(timeCol)).as("median_survival"))

  /** Two-group log-rank test. Returns one row:
    * (observed_a, expected_a, chi2, pvalue) where group "a" is the
    * lexicographically-first stratum value; see [[logRankBy]] for more
    * than two strata and for the degenerate inputs that give no row.
    */
  def logRank(df: DataFrame, stratCol: String, timeCol: String,
      eventCol: String): DataFrame =
    logRankBy(df.withColumn("__g", lit(1)), "__g", stratCol, timeCol, eventCol)
      .select(col("observed_a"), col("expected_a"), col("chi2"), col("pvalue"))

  /** Grouped two-group log-rank: one test per `groupCol` value (the per-gene
    * fan-out of the KM pipeline, §3.3 run once per gene). The whole fan-out
    * is ONE plan, no per-gene driver loop.
    *
    * Per group, stratum "a" is the lexicographically-first stratum and is
    * tested against the pooled rest: with more than two strata the others
    * are one comparison group (observed, expected and variance of "a" over
    * the pooled at-risk table), not a k-sample test. The at-risk counts
    * are evaluated on the group's pooled event times, so each stratum's
    * removals (deaths + censors) are counted between them.
    *
    * Degenerate inputs give no row for the group: a group with one
    * stratum (zero variance), and a group with no event (all censored).
    */
  def logRankBy(df: DataFrame, groupCol: String, stratCol: String,
      timeCol: String, eventCol: String): DataFrame = {
    val group = Window.partitionBy(groupCol)
    val isA = col(stratCol) === col("strat_a")
    // the one exchange: the stratum-a window, the per-time aggregate and
    // the at-risk windows are all keyed by the group first
    val perTime = complete(df, groupCol, stratCol, timeCol, eventCol)
      .repartition(col(groupCol))
      .withColumn("strat_a", min(col(stratCol)).over(group))
      .groupBy(col(groupCol), col(timeCol)).agg(
        sum(when(isA, col(eventCol)).otherwise(lit(0L))).as("d"),
        count(when(isA, lit(1))).as("r_a"),
        sum(col(eventCol)).as("d_tot"),
        count(lit(1)).as("r_tot"))
    val byTime = group.orderBy(timeCol)
    val perTimePooled = perTime
      .withColumn("n_risk", atRisk(col("r_a"), byTime))
      .withColumn("n_tot", atRisk(col("r_tot"), byTime))
      .filter(col("d_tot") > 0 && col("n_tot") > 1)
      .withColumn("e_a", col("d_tot") * (col("n_risk") / col("n_tot")))
      .withColumn("v_a",
        col("d_tot") * (col("n_risk") / col("n_tot")) *
          (lit(1.0) - col("n_risk") / col("n_tot")) *
          ((col("n_tot") - col("d_tot")) / (col("n_tot") - lit(1.0))))
    perTimePooled.groupBy(groupCol).agg(
      sum(col("d")).as("observed_a"),
      sum(col("e_a")).as("expected_a"),
      sum(col("v_a")).as("v_sum"))
      .filter(col("v_sum") > 0)
      .withColumn("chi2",
        (col("observed_a") - col("expected_a")) * (col("observed_a") - col("expected_a"))
          / col("v_sum"))
      .withColumn("pvalue", Stats.normalSfTwoSided(sqrt(col("chi2"))))
      .select(col(groupCol), col("observed_a"), col("expected_a"), col("chi2"),
        col("pvalue"))
  }

  /** At risk at each of `byTime`'s distinct times: everything `removed`
    * over the whole stratum (or group) minus what was removed before. The
    * coalesce keeps the column non-nullable, as a count is. */
  private def atRisk(removed: Column, byTime: WindowSpec): Column = {
    def removedOver(from: Long, to: Long) =
      coalesce(sum(removed).over(byTime.rowsBetween(from, to)), lit(0L))
    removedOver(Window.unboundedPreceding, Window.unboundedFollowing) -
      removedOver(Window.unboundedPreceding, -1)
  }

  /** The subjects with no NULL in `cols`. */
  private def complete(df: DataFrame, cols: String*): DataFrame =
    df.filter(cols.map(col(_).isNotNull).reduce(_ && _))
}
