package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Nonparametric statistics from the reference, as window/agg compositions:
  * Benjamini–Hochberg FDR (consumed at vital_status_DESeq.R:93), grouped
  * Wilcoxon rank-sum (`compare_means(method="wilcox")`,
  * vital_status_DESeq.R:130), and the normal CDF tail used for its p-value.
  *
  * Everything is built-in expressions (codegen'd, whole-stage) — no UDFs.
  */
object Stats {

  /** Benjamini–Hochberg adjusted p-values.
    *
    * `padj_i = min_{j : p_j >= p_i} min(1, p_j * n / rank_j)` — a rank plus
    * a running min over descending p: ONE window per family, partitioned
    * by `partitionCols` and ordered by (p desc, tieBreak desc). A
    * descending `row_number` and the family `count` give the BH rank, and
    * a running `min` of the BH quotient gives `padj` (bit-identical to the
    * textbook single-window formulation: same operand types and order).
    *
    * A family sits in one task. That is a decision, not an accident: a BH
    * family is hypothesis-level (at most genes × contrast levels rows,
    * ~10⁵ for a whole transcriptome), never fact-level. Measured bound at
    * `local[4]` with a 3 GB heap (one global family of (id, p) rows from
    * `spark.range`, written to a `noop` sink, steady runs): 10⁶ rows in
    * 2.6–3.5 s and 10⁷ rows in 17–21 s, with no disk spill at either
    * size; a family far past 10⁷ hypotheses is out of scope. At reference
    * size (10 families × 396 rows, some p NULL, `local[4]`, `noop` sink) a
    * call runs 2 Spark jobs in 0.37–0.42 s (steady runs).
    *
    * NULL p-values (R's `p.adjust` keeps NA as NA) ride the same window:
    * `desc` sorts them last, so the non-NULL ranks do not move; the family
    * size is `count(p)`, which skips them; and their `padj` is NULL. The
    * input is read once and nothing is persisted.
    *
    * @param df            input with a p-value column
    * @param pCol          p-value column name
    * @param tieBreak      unique column making the rank deterministic under ties
    * @param partitionCols optional grouping (per-contrast / per-experiment BH)
    * @return df plus `padj`
    */
  def bhAdjust(df: DataFrame, pCol: String, tieBreak: String,
      partitionCols: Seq[String] = Nil): DataFrame = {
    val w = Window.partitionBy(partitionCols.map(col): _*)
      .orderBy(col(pCol).desc, col(tieBreak).desc)
    val running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df
      // descending row number → ascending BH rank → the BH quotient q
      .select(col("*"), row_number().over(running).cast("long").as("__desc"),
        count(col(pCol)).over(
          w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)).as("__n"))
      .select(col("*"), (col("__n") - col("__desc") + 1).as("__rank"))
      .select(col("*"),
        least(lit(1.0), col(pCol) * col("__n") / col("__rank")).as("__q"))
      // least() skips NULLs, so a NULL p has q = 1: the guard keeps it NULL
      .select(df.columns.toIndexedSeq.map(col) :+
        when(col(pCol).isNotNull, min(col("__q")).over(running)).as("padj"): _*)
  }

  /** Exact CDF of the Mann–Whitney U statistic under H0 for group sizes
    * (n1, n2): P(U ≤ u) for u in 0..n1·n2, from the distribution of
    * rank-sums over all size-n1 subsets of ranks {1..n1+n2} (double DP —
    * the same arithmetic domain R's `cwilcox` works in). Memoized per
    * (n1, n2): every gene of a grouped scan shares one table. */
  private val exactCdfMemo =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Double]]()

  private def exactUCdf(n1: Int, n2: Int): Array[Double] =
    exactCdfMemo.computeIfAbsent((n1, n2), { _ =>
      val nTot = n1 + n2
      val minS = n1 * (n1 + 1) / 2
      val maxS = minS + n1 * n2
      val g = Array.ofDim[Double](n1 + 1, maxS + 1)
      g(0)(0) = 1.0
      var i = 1
      while (i <= nTot) {
        var j = math.min(i, n1)
        while (j >= 1) {
          var s = maxS
          while (s >= i) {
            if (g(j - 1)(s - i) != 0.0) g(j)(s) += g(j - 1)(s - i)
            s -= 1
          }
          j -= 1
        }
        i += 1
      }
      val counts = (0 to n1 * n2).map(u => g(n1)(u + minS))
      val total = counts.sum
      counts.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
    })

  /** R `wilcox.test` exact two-sided p-value: 2·P(U ≤ w) below the center,
    * 2·P(U ≥ w) above, capped at 1. */
  private[graft] def exactWilcoxP(u: Double, n1: Int, n2: Int): Double = {
    val cdf = exactUCdf(n1, n2)
    val w = math.round(u).toInt
    val p =
      if (w > n1 * n2 / 2.0) 2.0 * (1.0 - (if (w >= 1) cdf(w - 1) else 0.0))
      else 2.0 * cdf(w)
    math.min(1.0, p)
  }

  /** Grouped two-sample Wilcoxon rank-sum (Mann–Whitney U). Default
    * semantics (pinned per SURVEY.md §7.5): normal approximation with tie
    * correction for every group. With `exactMaxN > 0`, groups with
    * n1, n2 < exactMaxN and NO ties use the exact U distribution instead —
    * R `wilcox.test`'s small-sample switch (default threshold 50).
    *
    * @param df        long-form `(groupCol, condCol, valueCol)`
    * @param condA     the "treatment" level whose rank-sum forms U
    * @param condB     the other level (all other rows are dropped)
    * @param exactMaxN opt-in exact-mode threshold (0 = always normal)
    * @return per group: `(groupCol, n1, n2, u, z, pvalue)`
    */
  def wilcoxon(df: DataFrame, groupCol: String, condCol: String,
      valueCol: String, condA: String, condB: String,
      exactMaxN: Int = 0): DataFrame = {
    // null values carry no rank (R's wilcox.test drops NAs) — ranked,
    // they would sort first and shift every real rank
    val t = df.filter(col(condCol).isin(condA, condB) &&
        col(valueCol).isNotNull)
      .select(col(groupCol), col(condCol), col(valueCol))
    val wRank = Window.partitionBy(groupCol).orderBy(valueCol)
    val wTie = Window.partitionBy(col(groupCol), col(valueCol))
    // mid-rank for ties = min-rank + (tieSize - 1)/2. Both windows share
    // one shuffle+sort: partitioning by group satisfies the (group, value)
    // clustering, and the orderings coincide.
    val ranked = t
      .withColumn("rmin", rank().over(wRank))
      .withColumn("tcnt", count(lit(1)).over(wTie))
      .withColumn("ravg", col("rmin") + (col("tcnt") - 1) / 2.0)
    // tie correction from the ranked frame itself: every row of a tie group
    // of size c carries tcnt = c, so Σ_rows (tcnt² − 1) = Σ_values (c³ − c)
    // exactly (integer arithmetic) — no second aggregation tree, no join,
    // and the upstream pipeline is referenced exactly once.
    val grouped = ranked.groupBy(groupCol).agg(
      sum(when(col(condCol) === condA, col("ravg"))).as("r1"),
      sum(when(col(condCol) === condA, 1L).otherwise(0L)).as("n1"),
      sum(when(col(condCol) === condB, 1L).otherwise(0L)).as("n2"),
      sum(col("tcnt") * col("tcnt") - 1L).as("tie3"))
    val n = col("n1") + col("n2")
    val u = col("r1") - col("n1") * (col("n1") + 1) / 2.0
    // Degenerate groups (one-sided or zero-variance under total ties) have no
    // defined z — dropped on both the Spark and the oracle side.
    grouped
      .filter(col("n1") > 0 && col("n2") > 0)
      .withColumn("sigma2", (col("n1") * col("n2") / 12.0) *
        ((n + 1) - col("tie3") / ((n * (n - 1)).cast("double"))))
      .filter(col("sigma2") > 0)
      .withColumn("u", u)
      .withColumn("z", (col("u") - col("n1") * col("n2") / 2.0) / sqrt(col("sigma2")))
      .withColumn("pvalue",
        if (exactMaxN <= 0) normalSfTwoSided(col("z"))
        else {
          // the UDF runs on the per-GROUP aggregate (one row per gene),
          // never on the fact scan — the hot path stays codegen'd
          val exactUdf = udf((uu: Double, a: Long, b: Long) =>
            exactWilcoxP(uu, a.toInt, b.toInt))
          when(col("n1") < exactMaxN && col("n2") < exactMaxN &&
              col("tie3") === 0L,
            exactUdf(col("u"), col("n1"), col("n2")))
            .otherwise(normalSfTwoSided(col("z")))
        })
      .select(col(groupCol), col("n1"), col("n2"), col("u"), col("z"), col("pvalue"))
  }

  /** Two-sided normal tail probability `2 * P(Z > |z|)` via the
    * Abramowitz–Stegun 7.1.26 erf polynomial (|err| < 1.5e-7) — pure Column
    * arithmetic, stays inside whole-stage codegen. */
  def normalSfTwoSided(z: Column): Column = {
    val x = abs(z) / math.sqrt(2.0)
    val t = lit(1.0) / (lit(1.0) + lit(0.3275911) * x)
    val poly = ((((lit(1.061405429) * t - lit(1.453152027)) * t + lit(1.421413741)) * t
      - lit(0.284496736)) * t + lit(0.254829592)) * t
    val erfc = poly * exp(-x * x)
    least(lit(1.0), erfc)
  }

  /** Exact grouped ROC AUC via the Mann–Whitney rank identity
    * AUC = (Σ_pos r̄ − n₁(n₁+1)/2)/(n₁n₀) with tie-AVERAGE ranks — the
    * same `2·min(rn)+ties−1` integer rank (= 2·r̄) the Wilcoxon/Spearman
    * family uses, so all arithmetic is exact integers up to the final
    * division. `labelCol` must be 0/1 (long); callers wanting
    * cross-engine hash parity should round `scoreCol` BEFORE calling
    * (the rounded-before-ranking rule) so tie structure is identical.
    * Groups with no positives or no negatives (AUC undefined) are
    * dropped.
    *
    * Scale shape (r7 verdict #2): ranks come from the two-phase
    * [[graft.operators.Ranks.rowNumber]] — range-partition on
    * (group, score, id), rank locally, stitch partition offsets — so no
    * task ever sorts a whole eval domain (the plain
    * `row_number().over(partitionBy(group))` form funnels each domain
    * through ONE sort task: fine at sf0.1's ~25k rows/domain, billions
    * of rows per domain at 100 TB). The tie-average correction then
    * needs only per-tie-class stats, and the per-positive rank sum is
    * associative over tie classes:
    * Σ_pos rx = Σ_classes pos·(2·min(rn)+cnt−1) — so it all collapses
    * into two partial+final hash aggs, no tie window, no join-back. */
  def rankAuc(df: DataFrame, grpCol: String, labelCol: String,
      scoreCol: String, idCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    graft.operators.Ranks
      .rowNumber(df, Seq(col(grpCol)), Seq(col(scoreCol), col(idCol)),
        out = "__rn")
      .groupBy(col(grpCol), col(scoreCol)).agg(
        min(col("__rn")).as("__mn"),
        count(lit(1)).as("__cnt"),
        sum(col(labelCol)).as("__pos"))
      .groupBy(col(grpCol)).agg(
        sum(col("__pos")).as("n_pos"),
        (sum(col("__cnt")) - sum(col("__pos"))).as("n_neg"),
        // DECIMAL accumulator: Σrx reaches 2n² — a LONG sum wraps past
        // ~2.1e9 rows per group; the oracle keeps DuckDB's native
        // HUGEINT sum (no BIGINT cast) for the same headroom
        sum(((lit(2L) * col("__mn") + col("__cnt") - 1L).cast(dec) *
          col("__pos"))).as("__srx"))
      .filter(col("n_pos") > 0 && col("n_neg") > 0)
      .select(col(grpCol), col("n_pos"), col("n_neg"),
        // n_pos promoted to decimal BEFORE the product: n_pos*(n_pos+1)
        // in LONG would wrap past ~3e9 positives, defeating __srx's
        // decimal accumulator in the same regime
        round((col("__srx") - col("n_pos").cast(dec) *
            (col("n_pos") + 1)).cast("double") /
          (lit(2.0) * col("n_pos") * col("n_neg")), 6).as("auc"))
  }

  /** Significance banding of adjusted p-values with R's NA propagation
    * (vital_status_DESeq.R:93-97): NULL padj stays NULL. */
  def signifBand(padj: Column): Column =
    when(padj.isNull, lit(null: String))
      .when(padj > 0.05, "ns")
      .when(padj > 0.01, "*")
      .when(padj > 0.001, "**")
      .when(padj > 0.0001, "***")
      .otherwise("****")
}
