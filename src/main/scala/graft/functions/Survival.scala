package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Kaplan–Meier product-limit estimator and log-rank test (reference:
  * `survfit(Surv(time, status) ~ strat)` + `ggsurvplot(pval=T)`,
  * surv_analysis_median_exp.R:129-155, drug_km_median_exp.R:103-117),
  * re-expressed as grouped aggregation + cumulative windows.
  *
  * Plan shape: [[kmCurve]] and [[logRankBy]] each plan at most ONE
  * shuffle exchange: the subject frame is hash-partitioned by its outer
  * key (the leading stratum column, or the test's group), and every later
  * aggregate and window is keyed by that key plus more, so it needs no
  * further exchange. Over input already hash-partitioned by that key (the
  * KM tail's subject frame, partitioned by its test key) they plan none:
  * `EnsureRequirements` drops the repartition. Each
  * reads its input once and persists nothing: a caller whose input is
  * expensive and feeds several outputs persists it once for all of them
  * (the KM tail under `Tcga.kmByMedianExpression` and `drugKmFanOut`).
  * The exchange carries one row per subject and a stratum (or group) sits
  * in one task; on the TCGA paths that is one row per (cohort, gene of
  * interest, sample).
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
    * The 95% CI is `survfit`'s default `conf.type = "log"`:
    * S·exp(±1.96·se(log S)) with se(log S) = √Σd/(n(n−d)), the upper bound
    * clipped at 1, and NULL once the curve hits 0.
    *
    * @param df       one row per subject: (stratCol, timeCol, eventCol)
    * @param eventCol 1 = event (death), 0 = censored
    * @return per (stratum, death time): n_risk, n_event, n_censor,
    *         survival, se (Greenwood), ci_lo/ci_hi
    */
  def kmCurve(df: DataFrame, stratCol: String, timeCol: String,
      eventCol: String): DataFrame =
    kmCurve(df, Seq(stratCol), timeCol, eventCol)

  /** [[kmCurve]] with the stratum given as several columns `strata`: the
    * subjects are partitioned by the leading one and grouped and windowed
    * by all of them, so input already hash-partitioned by `strata.head`
    * (the KM tail's subject frame, by its test key) plans no exchange.
    *
    * @return `strata`, then the columns of the one-column form */
  def kmCurve(df: DataFrame, strata: Seq[String], timeCol: String,
      eventCol: String): DataFrame = {
    val keys = strata.map(col)
    // the one exchange: the per-time aggregate and the windows below are
    // keyed by the leading stratum column first, so they keep this
    // partitioning
    val perTime = complete(df, strata :+ timeCol :+ eventCol: _*)
      .repartition(keys.head)
      .groupBy(keys :+ col(timeCol): _*).agg(
        sum(col(eventCol)).as("d"),
        sum(lit(1) - col(eventCol)).as("c"))
    val byTime = Window.partitionBy(keys: _*).orderBy(timeCol)
    val wCum = byTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val extinct = col("extinct") === 1
    // one select per dependency level: each level's windows read the last
    perTime
      .select(col("*"), atRisk(col("d") + col("c"), byTime).as("n_risk"))
      .select(col("*"),
        // ln(1 - d/n) only while d < n; once d == n survival is exactly 0.
        when(col("d") < col("n_risk"), log(lit(1.0) - col("d") / col("n_risk")))
          .as("lnterm"),
        when(col("d") < col("n_risk"),
          col("d") / (col("n_risk") * (col("n_risk") - col("d")))).as("gwterm"),
        max((col("d") >= col("n_risk")).cast("int")).over(wCum).as("extinct"))
      .select(col("*"),
        when(extinct, 0.0).otherwise(exp(sum(col("lnterm")).over(wCum))).as("survival"),
        // se(log S) — the Greenwood sum before the delta-method S· factor
        sqrt(sum(col("gwterm")).over(wCum)).as("selog"))
      .filter(col("d") > 0)
      .select(keys ++ Seq(col(timeCol), col("n_risk"),
        col("d").as("n_event"), col("c").as("n_censor"), col("survival"),
        when(extinct, 0.0).otherwise(col("survival") * col("selog")).as("se"),
        when(extinct, lit(null).cast("double"))
          .otherwise(col("survival") * exp(lit(-1.96) * col("selog"))).as("ci_lo"),
        when(extinct, lit(null).cast("double"))
          .otherwise(least(lit(1.0), col("survival") * exp(lit(1.96) * col("selog"))))
          .as("ci_hi")): _*)
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
      .select(col("*"), min(col(stratCol)).over(group).as("strat_a"))
      .groupBy(col(groupCol), col(timeCol)).agg(
        sum(when(isA, col(eventCol)).otherwise(lit(0L))).as("d"),
        count(when(isA, lit(1))).as("r_a"),
        sum(col(eventCol)).as("d_tot"),
        count(lit(1)).as("r_tot"))
    val byTime = group.orderBy(timeCol)
    val perTimePooled = perTime
      .select(col("*"), atRisk(col("r_a"), byTime).as("n_risk"),
        atRisk(col("r_tot"), byTime).as("n_tot"))
      .filter(col("d_tot") > 0 && col("n_tot") > 1)
      .select(col(groupCol), col("d"),
        (col("d_tot") * (col("n_risk") / col("n_tot"))).as("e_a"),
        (col("d_tot") * (col("n_risk") / col("n_tot")) *
          (lit(1.0) - col("n_risk") / col("n_tot")) *
          ((col("n_tot") - col("d_tot")) / (col("n_tot") - lit(1.0)))).as("v_a"))
    val diff = col("observed_a") - col("expected_a")
    perTimePooled.groupBy(groupCol).agg(
      sum(col("d")).as("observed_a"),
      sum(col("e_a")).as("expected_a"),
      sum(col("v_a")).as("v_sum"))
      .filter(col("v_sum") > 0)
      .select(col(groupCol), col("observed_a"), col("expected_a"),
        (diff * diff / col("v_sum")).as("chi2"))
      .select(col("*"), Stats.normalSfTwoSided(sqrt(col("chi2"))).as("pvalue"))
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
