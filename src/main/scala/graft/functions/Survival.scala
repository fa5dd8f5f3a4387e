package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Kaplan–Meier product-limit estimator and log-rank test (reference:
  * `survfit(Surv(time, status) ~ strat)` + `ggsurvplot(pval=T)`,
  * surv_analysis_median_exp.R:129-155, drug_km_median_exp.R:103-117),
  * re-expressed as grouped aggregation + cumulative windows.
  *
  * Scale: the heavy input (one row per subject) collapses to one row per
  * (stratum, distinct time) in a single hash agg before any window runs, so
  * the ordered windows sort only event-table-sized data per stratum.
  */
object Survival {

  /** KM curve per stratum.
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
  def kmCurve(df0: DataFrame, stratCol: String, timeCol: String,
      eventCol: String, confType: String = "log"): DataFrame = {
    require(confType == "log" || confType == "linear",
      s"confType must be log|linear, got $confType")
    // the subject frame feeds the per-time agg AND the totals agg: persist
    // so an expensive upstream (e.g. the VST pipeline) runs once; released
    // after the caller's consuming action, or left to a caller that
    // cached it already (Caches contract)
    val df = graft.Caches.persistForAction(df0)
    val perTime = df.groupBy(col(stratCol), col(timeCol)).agg(
      sum(col(eventCol)).as("d"),
      sum(lit(1) - col(eventCol)).as("c"))
    val totals = df.groupBy(col(stratCol)).agg(count(lit(1)).as("n_total"))
    val wPrev = Window.partitionBy(stratCol).orderBy(timeCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.partitionBy(stratCol).orderBy(timeCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perTime
      .join(broadcast(totals), stratCol)
      .withColumn("n_risk",
        col("n_total") - coalesce(sum(col("d") + col("c")).over(wPrev), lit(0L)))
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
    * lexicographically-first stratum value.
    *
    * The at-risk table is evaluated on the pooled time grid so each group's
    * cumulative removals (deaths + censors) are counted between pooled
    * event times.
    */
  def logRank(df: DataFrame, stratCol: String, timeCol: String,
      eventCol: String): DataFrame =
    logRankBy(df.withColumn("__g", lit(1)), "__g", stratCol, timeCol, eventCol)
      .select(col("observed_a"), col("expected_a"), col("chi2"), col("pvalue"))

  /** Grouped two-group log-rank: one test per `groupCol` value (the per-gene
    * fan-out of the KM pipeline, §3.3 run once per gene). Same math as
    * `logRank`, with every stage additionally keyed by the group — the
    * whole fan-out is ONE plan, no per-gene driver loop. */
  def logRankBy(df0: DataFrame, groupCol: String, stratCol: String,
      timeCol: String, eventCol: String): DataFrame = {
    // four derivations of the subject frame (per-time, grid, strata,
    // totals) — persist or the upstream pipeline runs 4x; released after
    // the caller's consuming action, or left to a caller that cached it
    // already (Caches contract)
    val df = graft.Caches.persistForAction(df0)
    val perTime = df.groupBy(col(groupCol), col(stratCol), col(timeCol)).agg(
      sum(col(eventCol)).as("d"),
      sum(lit(1) - col(eventCol)).as("c"))
    val grid = df.select(col(groupCol), col(timeCol)).distinct()
    val strata = df.select(col(groupCol), col(stratCol)).distinct()
    val totals = df.groupBy(col(groupCol), col(stratCol)).agg(count(lit(1)).as("n_total"))
    val wPrev = Window.partitionBy(groupCol, stratCol).orderBy(timeCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    val full = strata.join(grid, groupCol)
      .join(perTime, Seq(groupCol, stratCol, timeCol), "left")
      .na.fill(0L, Seq("d", "c"))
      .join(totals, Seq(groupCol, stratCol))
      .withColumn("n_risk",
        col("n_total") - coalesce(sum(col("d") + col("c")).over(wPrev), lit(0L)))
    val wTime = Window.partitionBy(groupCol, timeCol)
    val firstStrat = strata.groupBy(groupCol).agg(min(col(stratCol)).as("strat_a"))
    val perTimePooled = full
      .withColumn("d_tot", sum(col("d")).over(wTime))
      .withColumn("n_tot", sum(col("n_risk")).over(wTime))
      .filter(col("d_tot") > 0 && col("n_tot") > 1)
      .join(broadcast(firstStrat), Seq(groupCol))
      .filter(col(stratCol) === col("strat_a"))
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
}
