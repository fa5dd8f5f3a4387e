package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Survival

/** SURVEY.md §2 rows D10 (Kaplan–Meier), D11 (log-rank) + F7/F8 time/status
  * construction (§3.3 pipeline), over a survival cohort derived
  * deterministically from `orders`:
  * time = days since 1995-01-01, event = order reached final status,
  * stratum = HIGH/LOW priority.
  */
object SurvivalQueries {

  private def subjects(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).select(
      when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "HIGH")
        .otherwise("LOW").as("strat"),
      datediff(col("o_orderdate"), to_date(lit("1995-01-01")))
        .cast("long").as("time"),
      when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("event"))

  private val subjectsSql =
    """SELECT CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 'HIGH'
                   ELSE 'LOW' END AS strat,
              CAST(date_diff('day', DATE '1995-01-01', o_orderdate) AS BIGINT) AS time,
              CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS event
       FROM orders"""

  /** D10 — KM product-limit curve with Greenwood SE + the `survfit`-default
    * log-transform CI: S·exp(±1.96·se(log S)), upper clipped at 1, NULL
    * once the curve hits 0 (surv_analysis_median_exp.R:146-163). */
  private val d10 = Q(
    "d10_km_curve",
    (s, d) =>
      Survival.kmCurve(subjects(s, d), "strat", "time", "event")
        .select(col("strat"), col("time"), col("n_risk"), col("n_event"),
          col("n_censor"), round(col("survival"), 6).as("survival"),
          round(col("se"), 6).as("se"),
          round(col("ci_lo"), 6).as("ci_lo"), round(col("ci_hi"), 6).as("ci_hi")),
    Some(s"""WITH subj AS ($subjectsSql),
             pt AS (SELECT strat, time, sum(event) AS d, sum(1 - event) AS c
                    FROM subj GROUP BY 1, 2),
             tot AS (SELECT strat, count(*) AS n_total FROM subj GROUP BY 1),
             r AS (SELECT pt.strat, time, d, c,
                     n_total - coalesce(sum(d + c) OVER (PARTITION BY pt.strat
                       ORDER BY time ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       AS n_risk
                   FROM pt JOIN tot ON pt.strat = tot.strat),
             terms AS (SELECT strat, time, d, c, n_risk,
                     CASE WHEN d < n_risk THEN ln(1.0 - d / n_risk) END AS lnterm,
                     CASE WHEN d < n_risk THEN d / (n_risk * (n_risk - d)) END AS gwterm,
                     CASE WHEN d >= n_risk THEN 1 ELSE 0 END AS dead
                   FROM r),
             cum AS (SELECT strat, time, d, c, n_risk,
                     max(dead) OVER w AS extinct,
                     exp(sum(lnterm) OVER w) AS surv_raw,
                     sqrt(sum(gwterm) OVER w) AS gw_raw
                   FROM terms
                   WINDOW w AS (PARTITION BY strat ORDER BY time
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
             km AS (SELECT strat, time, d, c, n_risk, extinct, gw_raw,
                     CASE WHEN extinct = 1 THEN 0.0 ELSE surv_raw END AS survival,
                     CASE WHEN extinct = 1 THEN 0.0 ELSE surv_raw * gw_raw END AS se
                   FROM cum)
             SELECT strat, time, CAST(n_risk AS BIGINT) AS n_risk,
               CAST(d AS BIGINT) AS n_event, CAST(c AS BIGINT) AS n_censor,
               round(survival, 6) AS survival, round(se, 6) AS se,
               round(CASE WHEN extinct = 1 THEN NULL
                          ELSE survival * exp(-1.96 * gw_raw) END, 6) AS ci_lo,
               round(CASE WHEN extinct = 1 THEN NULL
                          ELSE least(1.0, survival * exp(1.96 * gw_raw)) END, 6) AS ci_hi
             FROM km WHERE d > 0"""))

  /** D11 — two-group log-rank test χ² + p
    * (ggsurvplot pval, surv_analysis_median_exp.R:155). */
  private val d11 = Q(
    "d11_logrank",
    (s, d) =>
      Survival.logRank(subjects(s, d), "strat", "time", "event")
        .select(col("observed_a"), round(col("expected_a"), 6).as("expected_a"),
          round(col("chi2"), 6).as("chi2"), round(col("pvalue"), 6).as("pvalue")),
    Some(s"""WITH subj AS ($subjectsSql),
             pt AS (SELECT strat, time, sum(event) AS d, sum(1 - event) AS c
                    FROM subj GROUP BY 1, 2),
             grid AS (SELECT DISTINCT time FROM subj),
             strata AS (SELECT DISTINCT strat FROM subj),
             tot AS (SELECT strat, count(*) AS n_total FROM subj GROUP BY 1),
             fullg AS (SELECT s.strat, g.time, coalesce(d, 0) AS d, coalesce(c, 0) AS c
                       FROM strata s CROSS JOIN grid g
                       LEFT JOIN pt ON pt.strat = s.strat AND pt.time = g.time),
             r AS (SELECT f.strat, time, d,
                     n_total - coalesce(sum(d + c) OVER (PARTITION BY f.strat
                       ORDER BY time ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       AS n_risk
                   FROM fullg f JOIN tot ON f.strat = tot.strat),
             p AS (SELECT strat, time, d, n_risk,
                     sum(d) OVER (PARTITION BY time) AS d_tot,
                     sum(n_risk) OVER (PARTITION BY time) AS n_tot
                   FROM r),
             a AS (SELECT * FROM p
                   WHERE d_tot > 0 AND n_tot > 1 AND strat = (SELECT min(strat) FROM strata)),
             agg AS (SELECT sum(d) AS observed_a,
                       sum(d_tot * (n_risk / n_tot)) AS expected_a,
                       sum(d_tot * (n_risk / n_tot) * (1.0 - n_risk / n_tot)
                           * ((n_tot - d_tot) / (n_tot - 1.0))) AS v_sum
                     FROM a),
             c2 AS (SELECT observed_a, expected_a,
                      (observed_a - expected_a) * (observed_a - expected_a) / v_sum AS chi2
                    FROM agg),
             z AS (SELECT observed_a, expected_a, chi2, sqrt(chi2) AS z FROM c2)
             ${OracleSql.withNormalSf("SELECT * FROM z",
               "CAST(observed_a AS BIGINT) AS observed_a, " +
                 "round(expected_a, 6) AS expected_a, round(chi2, 6) AS chi2")}"""))

  def all: Seq[Q] = Seq(d10, d11)
}
