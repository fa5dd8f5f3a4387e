package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{CountCell, DiffExpression, Normalization, Stats, Survival}

/** End-to-end reference pipelines (SURVEY.md §3) mapped onto the driver
  * star schema: gene = l_partkey, sample = l_suppkey, count = Σ quantity;
  * sample metadata comes from `supplier`.
  *
  * - de1:  §3.1 minimum slice — prefilter → size factors → VST → two-group
  *         Wilcoxon per gene → BH → significance banding.
  * - km1:  §3.3 — VST → per-gene median split (ntile) → Kaplan–Meier per
  *         (gene, stratum).
  * - fan1: §3.2 contrast fan-out — one aggregation feeding all 10 pairwise
  *         level contrasts.
  * - d3/d4: NB-GLM Wald + K contrasts (the custom per-gene grouped fit; not
  *         SQL-expressible → no oracle, rows-only check).
  */
object DomainQueries {

  // ---- shared front end: long-form expression fact + condition dimension

  private def cells(s: SparkSession, d: String): DataFrame =
    // NOTE: no repartition before this groupBy — cells ≈ input cardinality
    // (gene×sample nearly dense), so pre-spreading the one-task scan just
    // adds a same-sized shuffle (benched +15% on the pipelines)
    Tables.lineitem(s, d)
      .groupBy(col("l_partkey").as("gene"), col("l_suppkey").as("smp"))
      .agg(sum(col("l_quantity")).as("cnt"))

  private val cellsSql =
    """SELECT l_partkey AS gene, l_suppkey AS smp, sum(l_quantity) AS cnt
       FROM lineitem GROUP BY 1, 2"""

  /** D1 prefilter: keep genes with Σcount ≥ 10 (vital_status_DESeq.R:47-48).
    * A per-gene window total instead of a groupBy+semi-join: the fact table
    * is scanned ONCE (Spark recomputes shared subtrees, so the join form
    * would re-read and re-aggregate lineitem for the keep-list). */
  private def keptCells(s: SparkSession, d: String): DataFrame =
    cells(s, d)
      .withColumn("tot", sum(col("cnt")).over(Window.partitionBy(col("gene"))))
      .filter(col("tot") >= 10)
      .drop("tot")

  private val keptCellsSql =
    s"""SELECT cell.* FROM ($cellsSql) cell
        JOIN (SELECT gene FROM ($cellsSql) GROUP BY gene HAVING sum(cnt) >= 10) k
        USING (gene)"""

  /** VST values rounded to 6 dp BEFORE any ranking — absorbs the ≤1-ulp
    * median-interpolation difference between engines so rank/ntile tie
    * structure is identical on both sides. Since r12 this is the EXACT
    * DESeq2 closed-form VST (`vstClosedForm` behind the frozen gamma-GLM
    * trend — the d6c transform), so the §3 pipelines carry no documented
    * approximation: the reference runs `vst(data, blind=F)` before both
    * the Wilcoxon screen and the KM median split. The downstream
    * consumers are rank-based (Wilcoxon ranks, ntile split), invariant
    * under any monotone transform — the switch changes `val`'s numbers
    * but not which hypotheses fire (modulo 6-dp tie structure, which the
    * oracle replays identically). */
  private def vstVals(s: SparkSession, d: String): DataFrame =
    Normalization.vstClosedForm(keptCells(s, d), "gene", "smp", "cnt",
        FrozenModels.vstTrendA0, FrozenModels.vstTrendA1)
      .select(col("gene"), col("smp"), round(col("vst"), 6).as("val"))

  /** Shared oracle CTE chain `cellk → gm → sfac` (kept cells + geomean +
    * median-of-ratios size factors) — ONE copy serving vstValsSql and
    * d3b's oracle, the StatsQueries.sfSql dedup rule: a float-op parity
    * fix can never be applied to one copy and missed in the other. */
  private val keptSfSql =
    s"""cellk AS ($keptCellsSql),
        gm AS (SELECT gene, exp(avg(ln(cnt))) AS geomean
               FROM cellk WHERE cnt > 0 GROUP BY gene),
        sfac AS (SELECT smp,
                   percentile_cont(0.5) WITHIN GROUP (ORDER BY ratio) AS size_factor
                 FROM (SELECT smp, cnt / geomean AS ratio
                       FROM cellk JOIN gm USING (gene) WHERE cnt > 0)
                 GROUP BY smp)"""

  private val vstValsSql = {
    val a0 = FrozenModels.vstTrendA0.toString
    val a1 = FrozenModels.vstTrendA1.toString
    s"""WITH $keptSfSql,
          qk AS (SELECT gene, smp, cnt / size_factor AS q
                 FROM cellk JOIN sfac USING (smp))
        SELECT gene, smp,
          round(log2((1.0 + $a1 + 2.0 * $a0 * q +
            2.0 * sqrt($a0 * q * (1.0 + $a1 + $a0 * q))) / (4.0 * $a0)), 6) AS val
        FROM qk"""
  }

  /** Two-level condition from the sample dimension (NT/TP of
    * lettercode_DESeq.R:27-28, manufactured from supplier parity). */
  private val condExprSql = "CASE WHEN s_suppkey % 2 = 0 THEN 'NT' ELSE 'TP' END"

  private def condDim(s: SparkSession, d: String): DataFrame =
    Tables.supplier(s, d).select(col("s_suppkey"),
      when(col("s_suppkey") % 2 === 0, "NT").otherwise("TP").as("cond"))

  /** Abramowitz–Stegun p-value wrapper (same polynomial as
    * Stats.normalSfTwoSided) over a column `z` of `inner`. */
  private def withNormalSf(inner: String, keep: String): String =
    s"""SELECT $keep,
          least(1.0, ((((1.061405429*tt - 1.453152027)*tt + 1.421413741)*tt
            - 0.284496736)*tt + 0.254829592)*tt * exp(-xx*xx)) AS pvalue
        FROM (SELECT *, 1.0/(1.0 + 0.3275911*xx) AS tt
              FROM (SELECT *, abs(z)/sqrt(2) AS xx FROM ($inner)))"""

  /** DE1 — §3.1 minimum slice (lettercode_DESeq.R minus the GLM):
    * scan → D1 → D2 size factors → D6 VST → join condition → D7 Wilcoxon
    * per gene → D5 BH → F5 banding. One fact-table pass + two dim-sized
    * aggs; the per-gene window sorts only |samples| rows per gene. */
  private val de1 = Q(
    "de1_pipeline_wilcoxon",
    (s, d) => {
      val t = vstVals(s, d)
        .join(broadcast(condDim(s, d)), col("smp") === col("s_suppkey"))
        .select(col("gene"), col("cond"), col("val"))
      val wil = Stats.wilcoxon(t, "gene", "cond", "val", "NT", "TP")
      Stats.bhAdjust(wil, "pvalue", "gene")
        .withColumn("p_signif", Stats.signifBand(col("padj")))
        .select(col("gene"), col("n1"), col("n2"), round(col("z"), 6).as("z"),
          round(col("pvalue"), 6).as("pvalue"), round(col("padj"), 6).as("padj"),
          col("p_signif"))
    },
    Some {
      val zInner =
        s"""WITH v AS ($vstValsSql),
            t AS (SELECT gene, $condExprSql AS cond, val
                  FROM v JOIN supplier ON smp = s_suppkey),
            r AS (SELECT gene, cond, val,
                    rank() OVER (PARTITION BY gene ORDER BY val) AS rmin,
                    count(*) OVER (PARTITION BY gene, val) AS tcnt
                  FROM t),
            g AS (SELECT gene,
                    sum(CASE WHEN cond = 'NT' THEN rmin + (tcnt - 1) / 2.0 END) AS r1,
                    CAST(sum(CASE WHEN cond = 'NT' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                    CAST(sum(CASE WHEN cond = 'TP' THEN 1 ELSE 0 END) AS BIGINT) AS n2
                  FROM r GROUP BY gene),
            ties AS (SELECT gene, sum(tc*tc*tc - tc) AS tie3
                     FROM (SELECT gene, val, count(*) AS tc FROM t GROUP BY 1, 2)
                     GROUP BY gene),
            s2 AS (SELECT g.gene, n1, n2, r1,
                     (n1 * n2 / 12.0) *
                     ((n1 + n2 + 1) - tie3 / CAST((n1 + n2) * (n1 + n2 - 1) AS DOUBLE))
                       AS sigma2
                   FROM g JOIN ties ON g.gene = ties.gene
                   WHERE n1 > 0 AND n2 > 0)
            SELECT gene, n1, n2,
              (r1 - n1 * (n1 + 1) / 2.0 - n1 * n2 / 2.0) / sqrt(sigma2) AS z
            FROM s2 WHERE sigma2 > 0"""
      val pv = withNormalSf(zInner, "gene, n1, n2, z")
      s"""WITH pv AS ($pv),
          bh AS (SELECT gene, n1, n2, z, pvalue,
                   min(least(1.0, pvalue * n / rk)) OVER (
                     ORDER BY pvalue DESC, gene DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS padj
                 FROM (SELECT *, row_number() OVER (ORDER BY pvalue, gene) AS rk,
                         count(*) OVER () AS n
                       FROM pv))
          SELECT gene, n1, n2, round(z, 6) AS z, round(pvalue, 6) AS pvalue,
            round(padj, 6) AS padj,
            CASE WHEN padj IS NULL THEN NULL
                 WHEN padj > 0.05 THEN 'ns'
                 WHEN padj > 0.01 THEN '*'
                 WHEN padj > 0.001 THEN '**'
                 WHEN padj > 0.0001 THEN '***'
                 ELSE '****' END AS p_signif
          FROM bh"""
    })

  // ---- KM pipeline

  private val goi = Seq(0L, 1L, 2L) // genes of interest (vital_status_DESeq.R:3)

  /** Subject survival columns manufactured deterministically from the sample
    * dimension (time/status construction of surv_analysis_median_exp.R:109-113). */
  private val subjSql =
    """SELECT s_suppkey,
         CAST((s_suppkey * 37) % 997 AS BIGINT) AS time,
         CAST(CASE WHEN s_suppkey % 3 = 0 THEN 0 ELSE 1 END AS BIGINT) AS event
       FROM supplier"""

  private def subjDim(s: SparkSession, d: String): DataFrame =
    Tables.supplier(s, d).select(col("s_suppkey"),
      ((col("s_suppkey") * 37) % 997).cast("long").as("time"),
      when(col("s_suppkey") % 3 === 0, 0L).otherwise(1L).as("event"))

  /** KM1 — §3.3 end to end: VST (size factors over ALL genes, like the
    * reference's full-matrix vst) → goi filter → per-gene ntile(2) median
    * split (E1) → LOW/HIGH label (F11) → KM curve per (gene, stratum)
    * (D10). */
  private val km1 = Q(
    "km1_pipeline_km",
    (s, d) => {
      val w = Window.partitionBy(col("gene")).orderBy(col("val"), col("smp"))
      val strat = vstVals(s, d)
        .filter(col("gene").isin(goi: _*))
        .withColumn("tile", ntile(2).over(w))
        .withColumn("strat", when(col("tile") === 1, "LOW").otherwise("HIGH"))
        .join(broadcast(subjDim(s, d)), col("smp") === col("s_suppkey"))
        .withColumn("gs", concat_ws("_", col("gene"), col("strat")))
      Survival.kmCurve(strat, "gs", "time", "event")
        .select(col("gs"), col("time"), col("n_risk"), col("n_event"),
          col("n_censor"), round(col("survival"), 6).as("survival"),
          round(col("se"), 6).as("se"))
    },
    Some {
      val goiList = goi.mkString(",")
      s"""WITH v AS ($vstValsSql),
          st AS (SELECT gene, smp,
                   ntile(2) OVER (PARTITION BY gene ORDER BY val, smp) AS tile
                 FROM v WHERE gene IN ($goiList)),
          subj AS (SELECT st.gene,
                     CAST(gene AS VARCHAR) || '_' ||
                       CASE WHEN tile = 1 THEN 'LOW' ELSE 'HIGH' END AS gs,
                     time, event
                   FROM st JOIN ($subjSql) ON smp = s_suppkey),
          pt AS (SELECT gs, time, sum(event) AS d, sum(1 - event) AS c
                 FROM subj GROUP BY 1, 2),
          tot AS (SELECT gs, count(*) AS n_total FROM subj GROUP BY 1),
          r AS (SELECT pt.gs, time, d, c,
                  n_total - coalesce(sum(d + c) OVER (PARTITION BY pt.gs
                    ORDER BY time ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS n_risk
                FROM pt JOIN tot ON pt.gs = tot.gs),
          terms AS (SELECT gs, time, d, c, n_risk,
                  CASE WHEN d < n_risk THEN ln(1.0 - d / n_risk) END AS lnterm,
                  CASE WHEN d < n_risk THEN d / (n_risk * (n_risk - d)) END AS gwterm,
                  CASE WHEN d >= n_risk THEN 1 ELSE 0 END AS dead
                FROM r),
          cum AS (SELECT gs, time, d, c, n_risk,
                  max(dead) OVER w AS extinct,
                  exp(sum(lnterm) OVER w) AS surv_raw,
                  sqrt(sum(gwterm) OVER w) AS gw_raw
                FROM terms
                WINDOW w AS (PARTITION BY gs ORDER BY time
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
          SELECT gs, time, CAST(n_risk AS BIGINT) AS n_risk,
            CAST(d AS BIGINT) AS n_event, CAST(c AS BIGINT) AS n_censor,
            round(CASE WHEN extinct = 1 THEN 0.0 ELSE surv_raw END, 6) AS survival,
            round(CASE WHEN extinct = 1 THEN 0.0
                       ELSE surv_raw * gw_raw END, 6) AS se
          FROM cum WHERE d > 0"""
    })

  /** KM2 — per-gene two-group log-rank (D11 fanned out over genes like the
    * reference's per-gene KM loop, §3.3) — ONE plan for all genes, no
    * driver-side loop. */
  private val km2 = Q(
    "km2_logrank_by_gene",
    (s, d) => {
      val w = Window.partitionBy(col("gene")).orderBy(col("val"), col("smp"))
      val strat = vstVals(s, d)
        .filter(col("gene").isin(goi: _*))
        .withColumn("tile", ntile(2).over(w))
        .withColumn("strat", when(col("tile") === 1, "LOW").otherwise("HIGH"))
        .join(broadcast(subjDim(s, d)), col("smp") === col("s_suppkey"))
      Survival.logRankBy(strat, "gene", "strat", "time", "event")
        .select(col("gene"), col("observed_a"),
          round(col("expected_a"), 6).as("expected_a"),
          round(col("chi2"), 6).as("chi2"), round(col("pvalue"), 6).as("pvalue"))
    },
    Some {
      val goiList = goi.mkString(",")
      s"""WITH v AS ($vstValsSql),
          st AS (SELECT gene, smp,
                   ntile(2) OVER (PARTITION BY gene ORDER BY val, smp) AS tile
                 FROM v WHERE gene IN ($goiList)),
          subj AS (SELECT st.gene,
                     CASE WHEN tile = 1 THEN 'LOW' ELSE 'HIGH' END AS strat,
                     time, event
                   FROM st JOIN ($subjSql) ON smp = s_suppkey),
          pt AS (SELECT gene, strat, time, sum(event) AS d, sum(1 - event) AS c
                 FROM subj GROUP BY 1, 2, 3),
          grid AS (SELECT DISTINCT gene, time FROM subj),
          strata AS (SELECT DISTINCT gene, strat FROM subj),
          tot AS (SELECT gene, strat, count(*) AS n_total FROM subj GROUP BY 1, 2),
          fullg AS (SELECT s.gene, s.strat, g.time,
                      coalesce(d, 0) AS d, coalesce(c, 0) AS c
                    FROM strata s JOIN grid g ON s.gene = g.gene
                    LEFT JOIN pt ON pt.gene = s.gene AND pt.strat = s.strat
                      AND pt.time = g.time),
          r AS (SELECT f.gene, f.strat, time, d,
                  n_total - coalesce(sum(d + c) OVER (PARTITION BY f.gene, f.strat
                    ORDER BY time ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS n_risk
                FROM fullg f JOIN tot ON f.gene = tot.gene AND f.strat = tot.strat),
          p AS (SELECT gene, strat, time, d, n_risk,
                  sum(d) OVER (PARTITION BY gene, time) AS d_tot,
                  sum(n_risk) OVER (PARTITION BY gene, time) AS n_tot
                FROM r),
          fs AS (SELECT gene, min(strat) AS strat_a FROM strata GROUP BY gene),
          a AS (SELECT p.* FROM p JOIN fs ON p.gene = fs.gene AND p.strat = fs.strat_a
                WHERE d_tot > 0 AND n_tot > 1),
          agg AS (SELECT gene, sum(d) AS observed_a,
                    sum(d_tot * (n_risk / n_tot)) AS expected_a,
                    sum(d_tot * (n_risk / n_tot) * (1.0 - n_risk / n_tot)
                        * ((n_tot - d_tot) / (n_tot - 1.0))) AS v_sum
                  FROM a GROUP BY gene),
          c2 AS (SELECT gene, observed_a, expected_a,
                   (observed_a - expected_a) * (observed_a - expected_a) / v_sum AS chi2
                 FROM agg WHERE v_sum > 0),
          z AS (SELECT gene, observed_a, expected_a, chi2, sqrt(chi2) AS z FROM c2)
          SELECT gene, CAST(observed_a AS BIGINT) AS observed_a,
            round(expected_a, 6) AS expected_a, round(chi2, 6) AS chi2,
            round(least(1.0, ((((1.061405429*tt - 1.453152027)*tt + 1.421413741)*tt
              - 0.284496736)*tt + 0.254829592)*tt * exp(-xx*xx)), 6) AS pvalue
          FROM (SELECT *, 1.0/(1.0 + 0.3275911*xx) AS tt
                FROM (SELECT *, abs(z)/sqrt(2) AS xx FROM z))"""
    })

  // ---- contrast fan-out (§3.2 structure, SQL-expressible mean contrasts)

  /** FAN1 — K-contrast fan-out from ONE aggregation (H2/D4 structure,
    * BRCA_path_stage_DESeq.R:113-148): per-gene per-level means computed
    * once, then all 10 pairwise contrasts as a self-join on the tiny
    * aggregate. Decimal-exact sums make the means association-order-proof. */
  private val fan1 = Q(
    "fan1_contrast_fanout",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_orderpriority").as("level"))
      val means = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_partkey").as("gene"), col("level"))
        .agg(count(lit(1)).as("n"),
          (sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
            / count(lit(1))).as("m"))
      means.as("a").join(means.as("b"),
          col("a.gene") === col("b.gene") && col("a.level") < col("b.level"))
        .select(col("a.gene").as("gene"),
          concat_ws("_vs_", col("a.level"), col("b.level")).as("contrast"),
          col("a.n").as("n_a"), col("b.n").as("n_b"),
          round(col("a.m"), 6).as("mean_a"), round(col("b.m"), 6).as("mean_b"),
          round(log2(col("a.m") / col("b.m")), 6).as("lfc"))
    },
    Some("""WITH means AS (
              SELECT l_partkey AS gene, o_orderpriority AS level,
                count(*) AS n,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                  / count(*) AS m
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              GROUP BY 1, 2)
            SELECT a.gene AS gene,
              a.level || '_vs_' || b.level AS contrast,
              a.n AS n_a, b.n AS n_b,
              round(a.m, 6) AS mean_a, round(b.m, 6) AS mean_b,
              round(log2(a.m / b.m), 6) AS lfc
            FROM means a JOIN means b
              ON a.gene = b.gene AND a.level < b.level"""))

  // ---- NB-GLM (custom per-gene grouped fit; no SQL oracle)

  // Level ORDER == lexicographic order (Stage_0 < Stage_I < Stage_II <
  // Stage_III < Stage_IV in ASCII), so a `cond_a < cond_b` string
  // comparison reproduces exactly the i<j index pairs on BOTH engines —
  // d4b's oracle leans on this. private[graft]: FreezeModels re-fits the
  // 5-level design to freeze its dispersions.
  private[graft] val stageLevels =
    Seq("Stage_0", "Stage_I", "Stage_II", "Stage_III", "Stage_IV")

  /** Returns the cells frame plus the internal persist handles the caller
    * must pass to `Caches.releaseAfterAction` once its plan is final.
    * Only the prefiltered fact (kc) and the sample-sized size factors are
    * cached — NOT the joined cells: the dispersion-prior pass and the
    * per-gene fit each re-read the kc cache through two broadcast joins,
    * which is cache-read-priced, instead of paying a second fact-sized
    * cache materialization (round-2's d3/d4 regression). */
  private[graft] def nbInput(s: SparkSession, d: String,
      levels: Int): (DataFrame, Seq[DataFrame]) = {
    val cond =
      if (levels == 2) when(col("s_suppkey") % 2 === 0, "NT").otherwise("TP")
      else element_at(lit(stageLevels.toArray), (col("s_suppkey") % levels).cast("int") + 1)
    val dim = Tables.supplier(s, d).select(col("s_suppkey"), cond.as("cond"))
    val kc = keptCells(s, d).persist()
    val sf = Normalization.sizeFactors(kc, "gene", "smp", "cnt").persist()
    val cells = kc.join(broadcast(sf), "smp")
      .join(broadcast(dim), col("smp") === col("s_suppkey"))
      .select(col("gene"), col("smp"), col("cnt"), col("cond"),
        col("size_factor").as("sf"))
    (cells, Seq(kc, sf))
  }

  /** D3 — per-gene NB-GLM Wald test (DESeq(), vital_status_DESeq.R:51) with
    * BH + banding. Iterative fit → no SQL oracle (driver rows-only check);
    * statistical behavior is unit-tested in DiffExpressionSpec. */
  private val d3 = Q(
    "d3_nbglm_wald",
    (s, d) => {
      import s.implicits._
      val (cellsDf, handles) = nbInput(s, d, 2)
      val cells = cellsDf.as[CountCell]
      val prior = DiffExpression.dispersionPrior(cells, 2)
      val de = DiffExpression.waldTest(cells, Seq("NT", "TP"), Some(prior)).toDF()
      // DESeq2 results() semantics: Cook's outliers → pvalue/padj NULL,
      // independent filtering → padj NULL below the base_mean threshold;
      // signifBand propagates the NULLs (R's NA path, F5/F12)
      val out = DiffExpression.results(de)
        .withColumn("p_signif", Stats.signifBand(col("padj")))
        .select(col("gene"), round(col("base_mean"), 6).as("base_mean"),
          round(col("log2fc"), 6).as("log2fc"), round(col("lfc_se"), 6).as("lfc_se"),
          round(col("stat"), 6).as("stat"), round(col("pvalue"), 6).as("pvalue"),
          round(col("padj"), 6).as("padj"), col("p_signif"))
      // registered AFTER the prior's collect — fires on the caller's action
      graft.Caches.releaseAfterAction(handles: _*)
      out
    },
    None)

  /** D3B — the Wald SCORING stage of d3 behind a FROZEN dispersion model
    * (the lr1b/pc1b fit/apply split, closing the last un-oracled operator
    * family): per-gene MAP dispersions from the REAL d3 fit on sf0.001
    * ([[FrozenModels.nbAlphas]]) ship as plan literals; size factors are
    * recomputed in-query via the d2 median-of-ratios chain (itself
    * hash-oracled). Given alpha and sf everything is closed-form:
    *
    *  - group normalized mean: q_g = Σcnt / Σsf — the one-step offset
    *    estimator (the exact NB score-equation root given the fitted q,
    *    and the documented deviation from d3's full IRLS MLE, which
    *    weights samples by 1/(1+α·μ_i); at the testdata's moderate
    *    dispersions the two agree to ~α·CV(sf) relative error)
    *  - Fisher information per group: I_g = Σ_i sf_i·q/(1+α·sf_i·q)
    *    (the NB-GLM weight sum d3's covariance inverts — exact given q)
    *  - log2fc = (ln q_TP − ln q_NT)/ln2, se = √(1/I_NT + 1/I_TP)/ln2,
    *    z = lfc/se, p via the shared A&S tail — computed from the
    *    6-dp-rounded z on BOTH sides so the tail polynomial sees
    *    bit-identical input.
    *
    * Scale shape: two bounded hash aggs over the (gene × sample) frame
    * with the gene-level stats broadcast back — no window over the fact,
    * no driver math beyond the frozen literals. */
  private val d3b = Q(
    "d3b_wald_apply",
    (s, d) => {
      val ln2 = math.log(2.0)
      val fz = s.createDataFrame(
        FrozenModels.nbGenes.zip(FrozenModels.nbAlphas).toSeq)
        .toDF("gene", "alpha")
      val kc = keptCells(s, d).persist()
      val sf = Normalization.sizeFactors(kc, "gene", "smp", "cnt").persist()
      val c = kc.join(broadcast(sf), "smp")
        .join(broadcast(fz), "gene")
        .select(col("gene"), col("smp"), col("cnt"),
          when(col("smp") % 2 === 0, "NT").otherwise("TP").as("cond"),
          col("size_factor").as("sf"), col("alpha"))
      val grp = c.groupBy(col("gene"), col("cond")).agg(
          sum(col("cnt")).as("sy"), sum(col("sf")).as("ssf"),
          sum(col("cnt") / col("sf")).as("snorm"),
          count(lit(1)).as("n"))
        .withColumn("q", col("sy") / col("ssf"))
        .select(col("gene"), col("cond"), col("q"), col("snorm"), col("n"))
      val info = c.join(broadcast(grp), Seq("gene", "cond"))
        .withColumn("w",
          col("sf") * col("q") / (lit(1.0) + col("alpha") * col("sf") * col("q")))
        .groupBy(col("gene"), col("cond")).agg(
          max(col("q")).as("q"), max(col("snorm")).as("snorm"),
          max(col("n")).as("n"), sum(col("w")).as("i"))
      def side(cnd: String, src: String, as0: String) =
        max(when(col("cond") === cnd, col(src))).as(as0)
      val wide = info.groupBy(col("gene")).agg(
        side("NT", "q", "q_nt"), side("NT", "i", "i_nt"),
        side("NT", "n", "n_nt"), side("NT", "snorm", "s_nt"),
        side("TP", "q", "q_tp"), side("TP", "i", "i_tp"),
        side("TP", "n", "n_tp"), side("TP", "snorm", "s_tp"))
      val out = wide
        .filter(col("n_nt") >= 2 && col("n_tp") >= 2 &&
          col("q_nt") > 0 && col("q_tp") > 0 &&
          col("i_nt") > 0 && col("i_tp") > 0)
        .withColumn("lfc", log(col("q_tp")) - log(col("q_nt")))
        .withColumn("se", sqrt(lit(1.0) / col("i_nt") + lit(1.0) / col("i_tp")))
        .withColumn("zr", round(col("lfc") / col("se"), 6))
        .select(col("gene"),
          round((col("s_nt") + col("s_tp")) / (col("n_nt") + col("n_tp")), 6)
            .as("base_mean"),
          round(col("lfc") / lit(ln2), 6).as("log2fc"),
          round(col("se") / lit(ln2), 6).as("lfc_se"),
          col("zr").as("stat"),
          round(Stats.normalSfTwoSided(col("zr")), 6).as("pvalue"))
      graft.Caches.releaseAfterAction(kc, sf)
      out
    },
    Some {
      val ln2 = math.log(2.0).toString
      val fzRows = FrozenModels.nbGenes.zip(FrozenModels.nbAlphas)
        .map { case (g, a) => s"($g, $a)" }.mkString(", ")
      val zInner =
        s"""WITH $keptSfSql,
            fz(gene, alpha) AS (VALUES $fzRows),
            c AS (SELECT gene, smp, cnt,
                    CASE WHEN smp % 2 = 0 THEN 'NT' ELSE 'TP' END AS cond,
                    size_factor AS sf, alpha
                  FROM cellk JOIN sfac USING (smp) JOIN fz USING (gene)),
            g AS (SELECT gene, cond, sum(cnt) AS sy, sum(sf) AS ssf,
                    sum(cnt / sf) AS snorm, CAST(count(*) AS BIGINT) AS n
                  FROM c GROUP BY 1, 2),
            gq AS (SELECT gene, cond, sy / ssf AS q, snorm, n FROM g),
            w AS (SELECT c.gene, c.cond, max(gq.q) AS q, max(gq.snorm) AS snorm,
                    max(gq.n) AS n,
                    sum(c.sf * gq.q / (1.0 + c.alpha * c.sf * gq.q)) AS i
                  FROM c JOIN gq ON c.gene = gq.gene AND c.cond = gq.cond
                  GROUP BY 1, 2),
            wd AS (SELECT gene,
                     max(CASE WHEN cond = 'NT' THEN q END) AS q_nt,
                     max(CASE WHEN cond = 'NT' THEN i END) AS i_nt,
                     max(CASE WHEN cond = 'NT' THEN n END) AS n_nt,
                     max(CASE WHEN cond = 'NT' THEN snorm END) AS s_nt,
                     max(CASE WHEN cond = 'TP' THEN q END) AS q_tp,
                     max(CASE WHEN cond = 'TP' THEN i END) AS i_tp,
                     max(CASE WHEN cond = 'TP' THEN n END) AS n_tp,
                     max(CASE WHEN cond = 'TP' THEN snorm END) AS s_tp
                   FROM w GROUP BY gene)
            SELECT gene,
              round((s_nt + s_tp) / (n_nt + n_tp), 6) AS base_mean,
              round((ln(q_tp) - ln(q_nt)) / $ln2, 6) AS log2fc,
              round(sqrt(1.0 / i_nt + 1.0 / i_tp) / $ln2, 6) AS lfc_se,
              round((ln(q_tp) - ln(q_nt)) / sqrt(1.0 / i_nt + 1.0 / i_tp), 6) AS z
            FROM wd
            WHERE n_nt >= 2 AND n_tp >= 2 AND q_nt > 0 AND q_tp > 0
              AND i_nt > 0 AND i_tp > 0"""
      val withP =
        withNormalSf(zInner, "gene, base_mean, log2fc, lfc_se, z AS stat")
      s"""SELECT gene, base_mean, log2fc, lfc_se, stat,
            round(pvalue, 6) AS pvalue
          FROM ($withP)"""
    })

  /** D4 — 10 pairwise contrasts from one 5-level fit
    * (BRCA_path_stage_DESeq.R:113-122). */
  private val d4 = Q(
    "d4_nbglm_contrasts",
    (s, d) => {
      import s.implicits._
      val pairs = for {
        i <- stageLevels.indices
        j <- stageLevels.indices if i < j
      } yield (stageLevels(i), stageLevels(j))
      val (cellsDf, handles) = nbInput(s, d, 5)
      val cells = cellsDf.as[CountCell]
      val prior = DiffExpression.dispersionPrior(cells, 5)
      val out = DiffExpression.contrasts(cells, stageLevels, pairs, Some(prior)).toDF()
        .select(col("gene"), col("contrast"), round(col("log2fc"), 6).as("log2fc"),
          round(col("lfc_se"), 6).as("lfc_se"), round(col("stat"), 6).as("stat"),
          round(col("pvalue"), 6).as("pvalue"))
      graft.Caches.releaseAfterAction(handles: _*)
      out
    },
    None)

  /** D4B — the contrast-extraction stage of d4 behind a FROZEN 5-level
    * dispersion model ([[FrozenModels.nb5Alphas]], the real d4 fit on
    * sf0.001) — the last rung of the fit/apply verification ladder
    * (lr1b/pc1b/bp2b/pq1b/d3b got theirs in rounds 6–9). Same one-step
    * closed-form scoring as d3b, generalized from one treatment column to
    * all 10 level pairs:
    *
    *  - per (gene, level): q_gl = Σcnt/Σsf (the offset estimator) and
    *    Fisher information I_gl = Σ_i sf_i·q/(1+α·sf_i·q)
    *  - per pair (a, b), a < b in level order: lfc = ln q_a − ln q_b
    *    (matching `DiffExpression.contrasts`' b(la) − b(lb) direction and
    *    its `la_vs_lb` label), se = √(1/I_a + 1/I_b), z = lfc/se rounded
    *    to 6 dp on BOTH engines before the shared A&S tail polynomial
    *  - the independence approximation (cov(β_a, β_b) ≈ 0 given the
    *    per-group means) is the same documented deviation from d4's full
    *    IRLS covariance as d3b's — the oracle pins THIS closed form
    *
    * Scale shape: two bounded hash aggs over the fact with the gene-level
    * stats broadcast back, then the 10-pair fan-out is a self-join of the
    * (gene × 5)-row aggregate — fan1's shape, dim-sized, broadcastable.
    * `a.cond < b.cond` reproduces the i<j index pairs exactly because the
    * level names are lexicographically ordered (see [[stageLevels]]). */
  private val d4b = Q(
    "d4b_contrast_apply",
    (s, d) => {
      val ln2 = math.log(2.0)
      val fz = s.createDataFrame(
        FrozenModels.nb5Genes.zip(FrozenModels.nb5Alphas).toSeq)
        .toDF("gene", "alpha")
      val kc = keptCells(s, d).persist()
      val sf = Normalization.sizeFactors(kc, "gene", "smp", "cnt").persist()
      val c = kc.join(broadcast(sf), "smp")
        .join(broadcast(fz), "gene")
        .select(col("gene"), col("smp"), col("cnt"),
          element_at(lit(stageLevels.toArray),
            (col("smp") % 5).cast("int") + 1).as("cond"),
          col("size_factor").as("sf"), col("alpha"))
      val grp = c.groupBy(col("gene"), col("cond")).agg(
          sum(col("cnt")).as("sy"), sum(col("sf")).as("ssf"),
          count(lit(1)).as("n"))
        .withColumn("q", col("sy") / col("ssf"))
        .select(col("gene"), col("cond"), col("q"), col("n"))
      val info = c.join(broadcast(grp), Seq("gene", "cond"))
        .withColumn("w",
          col("sf") * col("q") / (lit(1.0) + col("alpha") * col("sf") * col("q")))
        .groupBy(col("gene"), col("cond")).agg(
          max(col("q")).as("q"), max(col("n")).as("n"), sum(col("w")).as("i"))
        .filter(col("n") >= 2 && col("q") > 0 && col("i") > 0)
      val out = info.as("a").join(info.as("b"),
          col("a.gene") === col("b.gene") && col("a.cond") < col("b.cond"))
        .withColumn("lfc", log(col("a.q")) - log(col("b.q")))
        .withColumn("se", sqrt(lit(1.0) / col("a.i") + lit(1.0) / col("b.i")))
        .withColumn("zr", round(col("lfc") / col("se"), 6))
        .select(col("a.gene").as("gene"),
          concat_ws("_vs_", col("a.cond"), col("b.cond")).as("contrast"),
          round(col("lfc") / lit(ln2), 6).as("log2fc"),
          round(col("se") / lit(ln2), 6).as("lfc_se"),
          col("zr").as("stat"),
          round(Stats.normalSfTwoSided(col("zr")), 6).as("pvalue"))
      graft.Caches.releaseAfterAction(kc, sf)
      out
    },
    Some {
      val ln2 = math.log(2.0).toString
      val fzRows = FrozenModels.nb5Genes.zip(FrozenModels.nb5Alphas)
        .map { case (g, a) => s"($g, $a)" }.mkString(", ")
      val condCase = "CASE CAST(smp % 5 AS INT) " + stageLevels.zipWithIndex
        .map { case (l, i) => s"WHEN $i THEN '$l'" }.mkString(" ") + " END"
      val zInner =
        s"""WITH $keptSfSql,
            fz(gene, alpha) AS (VALUES $fzRows),
            c AS (SELECT gene, smp, cnt, $condCase AS cond,
                    size_factor AS sf, alpha
                  FROM cellk JOIN sfac USING (smp) JOIN fz USING (gene)),
            g AS (SELECT gene, cond, sum(cnt) AS sy, sum(sf) AS ssf,
                    CAST(count(*) AS BIGINT) AS n
                  FROM c GROUP BY 1, 2),
            gq AS (SELECT gene, cond, sy / ssf AS q, n FROM g),
            w AS (SELECT c.gene, c.cond, max(gq.q) AS q, max(gq.n) AS n,
                    sum(c.sf * gq.q / (1.0 + c.alpha * c.sf * gq.q)) AS i
                  FROM c JOIN gq ON c.gene = gq.gene AND c.cond = gq.cond
                  GROUP BY 1, 2),
            k AS (SELECT * FROM w WHERE n >= 2 AND q > 0 AND i > 0)
            SELECT a.gene AS gene, a.cond || '_vs_' || b.cond AS contrast,
              round((ln(a.q) - ln(b.q)) / $ln2, 6) AS log2fc,
              round(sqrt(1.0 / a.i + 1.0 / b.i) / $ln2, 6) AS lfc_se,
              round((ln(a.q) - ln(b.q)) / sqrt(1.0 / a.i + 1.0 / b.i), 6) AS z
            FROM k a JOIN k b ON a.gene = b.gene AND a.cond < b.cond"""
      val withP = withNormalSf(zInner, "gene, contrast, log2fc, lfc_se, z AS stat")
      s"""SELECT gene, contrast, log2fc, lfc_se, stat,
            round(pvalue, 6) AS pvalue
          FROM ($withP)"""
    })

  def all: Seq[Q] = Seq(de1, km1, km2, fan1, d3, d3b, d4, d4b)
}
