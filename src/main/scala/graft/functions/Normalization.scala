package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DESeq2-style count normalization (reference: `DESeq()` size factors and
  * `vst()`, vital_status_DESeq.R:51,100-101 — Love et al. 2014
  * median-of-ratios), re-expressed as shuffle-lean grouped aggregations:
  * one per-gene pass ([[withGeomean]]) whose kept genes, broadcast back,
  * carry each gene's geometric mean onto the fact, and one per-sample
  * median over the ratios to it.
  *
  * Scale: both aggregations are partial+final hash aggs keyed by columns
  * with high cardinality (gene / sample), so they parallelize across
  * executors with no skew hot-spot; the kept-gene dim joined back is
  * broadcast when small.
  */
object Normalization {

  /** The per-gene pass behind the size factors and D1's gene filter
    * (`Tcga.prefilterGenes`): ONE grouped aggregate over `counts`, keyed
    * by gene, gives each gene's total `tot` and the geometric mean of its
    * POSITIVE counts `geomean` (NULL for a gene with none). The genes that
    * pass are broadcast back onto the fact once: the join filters the
    * fact and gives each row its gene's `geomean`, so the size factors
    * ([[sizeFactorsOf]]) need no second gene aggregate or broadcast.
    *
    * `minTotal` empty keeps the genes with a positive count (all the size
    * factors read); `Some(m)` is D1, the genes whose total is at least m,
    * so `minTotal ≤ 0` keeps all-zero genes. Each joined row then passes
    * a check that reads `geomean` and holds on every row: a gene with no
    * geomean has no positive count. The check is there for the plan:
    * column pruning strips `geomean` from the join, its broadcast and the
    * aggregate in any branch that does not read it, which leaves two
    * broadcasts and two aggregates that ReuseExchange cannot merge. Read
    * by the check, it stays in every branch, so one exchange and one
    * broadcast serve them all.
    *
    * @return `counts`' columns, in order, plus `geomean` */
  private[graft] def withGeomean(counts: DataFrame, geneCol: String,
      countCol: String, minTotal: Option[Long]): DataFrame = {
    val geomean = col("geomean")
    val cnt = col(countCol)
    val genes = counts.groupBy(geneCol).agg(
        sum(cnt).as("tot"),
        exp(avg(when(cnt > 0, log(cnt)))).as("geomean"))
      .filter(minTotal.fold(geomean.isNotNull)(m => col("tot") >= m))
      .select(col(geneCol), geomean)
    counts.join(broadcast(genes), Seq(geneCol))
      .filter(geomean.isNotNull || cnt.isNull || cnt <= 0)
      .select((counts.columns.toIndexedSeq :+ "geomean").map(col): _*)
  }

  /** Median-of-ratios size factors.
    *
    * The median is exact: each sample's ratios are buffered, one per gene
    * with a positive count, so the buffer is bounded by the gene count
    * (~60k for a whole transcriptome) at any data volume.
    *
    * Each gene's geometric mean is over its POSITIVE counts. DESeq2
    * differs in two ways: it drops every gene with a zero in any sample
    * (its log geomean is -Inf), and it takes exp(median(log ratio)), so
    * an even gene count averages the two middle ratios geometrically,
    * not arithmetically. On perfbench's seed-1 cohort (400 x 100, 6 of
    * the 360 kept genes with a zero) the two rules' size factors differ
    * by up to 0.82%, median 0.17%.
    *
    * @param counts long-form fact `(geneCol, sampleCol, countCol)`
    * @return one row per sample: `(sampleCol, size_factor)`
    */
  def sizeFactors(counts: DataFrame, geneCol: String, sampleCol: String,
      countCol: String): DataFrame =
    sizeFactorsOf(withGeomean(counts, geneCol, countCol, None), sampleCol, countCol)

  /** [[sizeFactors]] over a fact that already carries its gene's
    * `geomean` ([[withGeomean]]): the per-sample median of the positive
    * counts' ratios to it. (A rank-window median — row_number + count
    * windows + an extra agg — was benched and rejected: same shuffle
    * volume, and the added window pass costs more than the off-codegen
    * ObjectHashAggregate saves at per-sample group sizes.) */
  private[graft] def sizeFactorsOf(withGeomean: DataFrame, sampleCol: String,
      countCol: String): DataFrame =
    withGeomean
      .filter(col(countCol) > 0)
      .select(col(sampleCol), (col(countCol) / col("geomean")).as("ratio"))
      .groupBy(sampleCol)
      .agg(expr("percentile(ratio, 0.5)").as("size_factor"))

  /** Parametric dispersion-trend VST — DESeq2's closed-form variance-
    * stabilizing transform (Love et al. 2014; `vst(blind=F)` at
    * vital_status_DESeq.R:100): fit the mean-dispersion trend
    * `α(μ) = a0 + a1/μ` across genes (method-of-moments gene dispersions,
    * OLS on x = 1/μ), then apply
    * `vst(q) = log2((1 + a1 + 2·a0·q + 2·√(a0·q·(1 + a1 + a0·q))) / (4·a0))`
    * to each normalized count q = count/size_factor.
    *
    * Deviation note: DESeq2 fits the trend by gamma-family GLM with
    * outlier re-weighting; the OLS trend here keeps the same functional
    * form and closed-form transform (and is exactly reproducible in the
    * DuckDB oracle). Four aggregations total — the size factors' per-gene
    * pass and per-sample median, the per-gene moments, and the 1-row
    * trend fit (broadcast back) — then a scalar map.
    *
    * @return input plus `size_factor`, `q`, and `vst` columns
    */
  def vstTrend(counts: DataFrame, geneCol: String, sampleCol: String,
      countCol: String): DataFrame =
    vstTrendOf(counts, sizeFactors(counts, geneCol, sampleCol, countCol),
      geneCol, sampleCol, countCol)

  /** [[vstTrend]] of `counts` under the size factors `sf`; `Tcga` passes
    * D1's kept fact with the size factors of its own per-gene pass
    * ([[withGeomean]]). */
  private[graft] def vstTrendOf(counts: DataFrame, sf: DataFrame, geneCol: String,
      sampleCol: String, countCol: String): DataFrame = {
    // No persist: the repeated references to `counts` end in identical
    // Exchange subtrees, so one action computes the scan + partial agg once
    // and the other branches read the reused shuffle output (Catalyst
    // ReuseExchange). A cache would add a fact-sized materialization for
    // sharing the plan already gets for free (benched: persist cost d6b
    // +56% at sf0.1). Callers composing this into multi-action pipelines
    // persist the *input* themselves.
    val q = counts.join(broadcast(sf), sampleCol)
      .withColumn("q", col(countCol) / col("size_factor"))
    val geneStats = q.groupBy(geneCol).agg(
      avg(col("q")).as("mu"),
      var_samp(col("q")).as("v"))
      .filter(col("mu") > 0 && col("v").isNotNull)
      .select(
        greatest((col("v") - col("mu")) / (col("mu") * col("mu")), lit(1e-8)).as("disp"),
        (lit(1.0) / col("mu")).as("x"))
    val trend = geneStats.agg(
      count(lit(1)).cast("double").as("n"),
      sum(col("x")).as("sx"), sum(col("disp")).as("sy"),
      sum(col("x") * col("disp")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"))
      .select(col("n"), col("sx"), col("sy"), greatest(
        (col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")), lit(0.0)).as("a1"))
      .select(greatest((col("sy") - col("a1") * col("sx")) / col("n"), lit(1e-8)).as("a0"),
        col("a1"))
    q.crossJoin(broadcast(trend))
      .select(q.columns.toIndexedSeq.map(col) :+
        vstOf(col("q"), col("a0"), col("a1")).as("vst"): _*)
  }

  /** DESeq2's EXACT closed-form VST given FITTED trend parameters — the
    * fit/apply split of `vst(data, blind = F)`
    * (surv_analysis_median_exp.R:56-57): `a0` is the trend's asymptotic
    * dispersion and `a1` its extra-Poisson term (α(μ) = a0 + a1/μ, the
    * gamma-GLM trend `DiffExpression.dispersionPrior` fits), and the
    * transform is DESeq2's closed form
    * `log2((1 + a1 + 2·a0·q + 2·√(a0·q·(1 + a1 + a0·q))) / (4·a0))`
    * over q = count/size_factor. The FIT runs once at freeze time
    * (FrozenModels.vstTrendA0/A1 — the design-aware d3 dispersion trend
    * on sf0.001); given the two scalars the apply stage is deterministic
    * double arithmetic, so the catalog query (`d6c_vst_exact`) carries a
    * full DuckDB hash oracle. This closes the SURVEY §7.4/§7.5 "exact
    * VST" deviation: `vstTrend` keeps the same closed form but re-fits
    * an OLS trend in-query; `vst` is the log2(q+1) approximation.
    *
    * @return input plus `size_factor`, `q`, and `vst` columns */
  def vstClosedForm(counts: DataFrame, geneCol: String, sampleCol: String,
      countCol: String, a0: Double, a1: Double): DataFrame = {
    require(a0 > 0 && a1 >= 0, s"vstClosedForm needs a0 > 0, a1 >= 0; got ($a0, $a1)")
    // No persist — the ReuseExchange argument of vstTrend above
    val c = counts
    val sf = sizeFactors(c, geneCol, sampleCol, countCol)
    c.join(broadcast(sf), sampleCol)
      .withColumn("q", col(countCol) / col("size_factor"))
      .withColumn("vst", vstOf(col("q"), lit(a0), lit(a1)))
  }

  /** DESeq2's closed-form VST of normalized count `q` under the trend
    * α(μ) = a0 + a1/μ — the one copy [[vstTrend]] and [[vstClosedForm]]
    * share (`OracleSql.vst` is its SQL twin, same op order). */
  private def vstOf(q: Column, a0: Column, a1: Column): Column =
    log2((lit(1.0) + a1 + lit(2.0) * a0 * q +
        lit(2.0) * sqrt(a0 * q * (lit(1.0) + a1 + a0 * q))) /
      (lit(4.0) * a0))

  /** VST-approximate normalized counts: `log2(count / size_factor + 1)`.
    * Documented deviation from DESeq2's exact VST (which needs the fitted
    * dispersion trend, SURVEY.md §7.5): the rlog-style transform keeps the
    * same monotone, homoskedastic-ish scale the downstream median-split and
    * boxplots need.
    *
    * @return input plus `size_factor` and `vst` columns
    */
  def vst(counts: DataFrame, geneCol: String, sampleCol: String,
      countCol: String): DataFrame = {
    // No persist — same ReuseExchange argument as vstTrend above: the three
    // references to the fact plan share one shuffle write per action.
    val c = counts
    val sf = sizeFactors(c, geneCol, sampleCol, countCol)
    c.join(broadcast(sf), sampleCol)
      .withColumn("vst", log2(col(countCol) / col("size_factor") + 1))
  }
}
