package graft.functions

import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** One expression-matrix cell joined with its sample metadata: raw count,
  * condition level, and the sample's median-of-ratios size factor. */
final case class CountCell(gene: Long, smp: Long, cnt: Double, cond: String, sf: Double)

/** One row per (gene, contrast) — the K-contrast fan-out of
  * BRCA_path_stage_DESeq.R:113-122 (10 pairs from one fit), and the
  * two-level `results(dds)` columns consumed at vital_status_DESeq.R:89-97.
  * `base_mean`, `cooks_outlier` and `dispersion` are per-gene (the same
  * on every contrast row of a gene). `cooks_outlier` carries DESeq2's
  * Cook's-distance flag: `results()` NULLs pvalue/padj for flagged genes.
  * `dispersion` is the final (post-shrinkage) α the Wald covariance was
  * computed at — DESeq2 reports it via `mcols(dds)$dispersion`, and it
  * closes the closed-form SE identity `se² = Σ_g (1+α·m_g)/(n_g·m_g)`
  * the golden spec checks. */
final case class DEContrast(gene: Long, contrast: String, log2fc: Double,
    lfc_se: Double, stat: Double, pvalue: Double, base_mean: Double,
    cooks_outlier: Boolean, dispersion: Double)

/** Empirical-Bayes prior for per-gene dispersions, DESeq2-style (Love et
  * al. 2014 §M3): the mean-dispersion trend `α_tr(μ) = a0 + a1/μ` plus the
  * cross-gene prior variance of log-dispersion residuals around it.
  * Gene-wise estimates shrink toward the trend in log space; estimates more
  * than `outlierSd` residual SDs ABOVE the trend are kept as-is (DESeq2's
  * dispersion-outlier rule). */
final case class DispersionPrior(a0: Double, a1: Double, sigmaSq: Double,
    outlierSd: Double = 2.0)

/** Negative-binomial GLM differential expression — the reference's
  * `DESeq()` + `results()` (vital_status_DESeq.R:51,89; Love et al. 2014),
  * re-expressed as a per-gene grouped fit (hash-repartition by gene +
  * in-partition sort + one `mapPartitions` run-cutter — [[perGene]]; the
  * typed `groupByKey.flatMapGroups` equivalent, minus one per-row
  * deserialization) that parallelizes across executors exactly like the
  * reference's BiocParallel per-gene fan-out (SURVEY.md §3.4).
  *
  * Dispersion estimation follows DESeq2's shape: gene-wise Cox-Reid
  * adjusted profile MLE (MoM-initialized, alternating IRLS / profile
  * maximization) → mean-dispersion trend `α(μ) = a0 + a1/μ` fitted across
  * genes → empirical-Bayes shrinkage of the gene-wise estimate toward the
  * trend in log space (`DispersionPrior`), with DESeq2's keep-the-outliers
  * rule. The trend itself is DESeq2's parametric gamma-GLM IRLS
  * (`parametricDispersionFit`) with OLS fallback; remaining documented
  * deviation (SURVEY.md §7.5): the trend fits binned MoM sufficient
  * statistics (μ quantized to 1/16-decade bins) rather than each gene's
  * CR-MLE point. Structure parity is exact: one fit per gene, size
  * factors as offsets, Wald tests, K contrasts extracted from one fit.
  *
  * Determinism: rows are sorted by sample id before accumulation and the
  * IRLS iteration count depends only on the gene's own data (fixed cap,
  * early exit at ‖Δβ‖∞ < 1e-10), so results are bit-stable across
  * partitionings and reruns.
  *
  * Scale: state per task is O(|samples per gene| + p²) with p ≤ 5 design
  * levels; ~60k genes fan out as independent tasks — no driver collect,
  * no global state. The prior fit aggregates to one gene-level frame and
  * collects three scalars — the same 1-row-broadcast shape as the VST
  * trend.
  */
object DiffExpression {

  private val MaxIter = 30
  private val ConvergeTol = 1e-10
  private val MinMu = 1e-10
  private val MinDisp = 1e-8
  private val MaxDisp = 10.0

  /** Sampling variance of one gene's log-dispersion estimate with m
    * observations and p design levels. 2/(m−p) is the MLE's asymptotic
    * variance; the ×2 accounts for the method-of-moments estimator's lower
    * efficiency (ARE ≈ 0.5 at moderate dispersion), so MoM estimates get
    * proportionally more shrinkage than DESeq2 gives its gene-wise MLEs. */
  private def logDispSampVar(m: Double, p: Int): Double =
    2.0 * 2.0 / math.max(1.0, m - p)

  /** Fit the dispersion prior across genes: MoM dispersions of normalized
    * counts, gamma-GLM trend on x = 1/μ (DESeq2's parametric fit; OLS
    * seed + fallback), prior variance = spread of log residuals
    * minus the expected sampling variance of a gene's log-dispersion
    * estimate (≈ 2/(m−p)), floored at DESeq2's minimal prior width 0.25.
    *
    * ONE Spark job, one bounded collect: the per-gene frame is folded into
    * log₁₀-μ bins (8 per decade — a few hundred bins regardless of gene
    * count) carrying sufficient statistics. The OLS trend sums are sums of
    * per-bin sums, so a0/a1 are exact; only the residual-spread term
    * evaluates the trend at each bin's harmonic-mean μ instead of each
    * gene's own μ — a ≤ 1/16-decade μ quantization inside a log, second-
    * order on the prior *width* (which only modulates shrinkage strength).
    * This replaces a persist + two agg jobs + two collects (round-2 cost:
    * 31% of the whole bench landed on the two GLM queries).
    *
    * @param p number of design levels (intercept + p−1 indicators) */
  def dispersionPrior(cells: Dataset[CountCell], p: Int): DispersionPrior = {
    // Design-aware gene-wise MoM, pooled WITHIN condition groups — the
    // same estimator fitGene shrinks (num = Σ_g[SS_g − n_g·m_g], den =
    // Σ_g n_g·m_g²). A marginal var_samp across conditions would fold the
    // between-group fold-change into the dispersion and inflate the trend
    // exactly on DE-heavy data (DESeq2 fits the trend design-aware too).
    val bins = cells.toDF()
      .withColumn("q", col("cnt") / col("sf"))
      .groupBy("gene", "cond").agg(
        count(lit(1)).cast("double").as("ng"),
        avg(col("q")).as("mg"),
        coalesce(var_samp(col("q")) * (count(lit(1)) - 1), lit(0.0)).as("ssg"))
      .groupBy("gene").agg(
        (sum(col("ng") * col("mg")) / sum(col("ng"))).as("mu"),
        sum(col("ssg") - col("ng") * col("mg")).as("num"),
        sum(col("ng") * col("mg") * col("mg")).as("den"),
        sum(col("ng")).as("m"))
      .filter(col("mu") > 0 && col("den") > 0)
      .withColumn("disp", greatest(col("num") / col("den"), lit(MinDisp)))
      // DESeq2's rule: genes whose gene-wise estimate collapses to the
      // floor (< 100·minDisp) are excluded from trend + prior-width
      // fitting — a floored log-dispersion would poison the residual
      // spread (log 1e-8 ≈ −18) and zero the shrinkage weight
      .filter(col("disp") > lit(MinDisp * 100))
      .withColumn("x", lit(1.0) / col("mu"))
      .groupBy(round(log10(col("mu")) * 8).cast("long").as("bin")).agg(
        count(lit(1)).cast("double").as("n"),
        sum(col("x")).as("sx"), sum(col("disp")).as("sy"),
        sum(col("x") * col("disp")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(log(col("disp"))).as("sld"),
        sum(log(col("disp")) * log(col("disp"))).as("sld2"),
        sum(col("m")).as("sm"))
      .collect()
    def tot(c: String) = bins.map(_.getAs[Double](c)).sum
    val n = tot("n")
    // Poisson-like / underdispersed input can floor EVERY gene-wise
    // estimate, emptying the frame — the a0 division would then be
    // 0/0 = NaN and poison every downstream fit. Fall back to an
    // effectively-disabled prior: a flat trend at the floor with a huge
    // width, so fitGene's posterior reduces to the gene-wise estimate.
    if (n < 2) return DispersionPrior(MinDisp * 100, 0.0, 1e6)
    val (sx, sy, sxy, sxx) = (tot("sx"), tot("sy"), tot("sxy"), tot("sxx"))
    val det = n * sxx - sx * sx
    // OLS seed (and fallback) for the trend
    val a1o = math.max(0.0, if (det == 0) 0.0 else (n * sxy - sx * sy) / det)
    val a0o = math.max(MinDisp, (sy - a1o * sx) / n)
    // DESeq2's parametricDispersionFit: gamma GLM with identity link,
    // dispersions ~ a0 + a1/μ. Its IRLS is iteratively reweighted least
    // squares with weights 1/α_tr(μ)² (gamma variance ∝ mean², the scale
    // cancels from the normal equations) — run here driver-side over the
    // same binned sufficient statistics, each bin's weight evaluated at
    // its harmonic-mean μ (the 1/16-decade quantization already accepted
    // for the residual-spread term). Falls back to the OLS seed if the
    // fit leaves the valid cone (a0 ≤ 0 or a1 < 0 — DESeq2 errors to its
    // "local" fit in that case).
    var a0g = a0o; var a1g = a1o
    var it = 0; var converged = false; var valid = true
    while (it < 50 && !converged && valid) {
      var sw = 0.0; var swx = 0.0; var swxx = 0.0; var swy = 0.0; var swxy = 0.0
      bins.foreach { b =>
        val nb = b.getAs[Double]("n")
        val xb = b.getAs[Double]("sx") / nb
        val muTr = math.max(a0g + a1g * xb, MinDisp)
        val w = 1.0 / (muTr * muTr)
        sw += w * nb; swx += w * b.getAs[Double]("sx")
        swxx += w * b.getAs[Double]("sxx"); swy += w * b.getAs[Double]("sy")
        swxy += w * b.getAs[Double]("sxy")
      }
      val detg = sw * swxx - swx * swx
      if (detg <= 0) valid = false
      else {
        val a1n = (sw * swxy - swx * swy) / detg
        val a0n = (swy - a1n * swx) / sw
        if (a0n.isNaN || a1n.isNaN) valid = false
        else {
          converged =
            math.abs(a0n - a0g) <= 1e-6 * math.max(1e-12, math.abs(a0g)) &&
              math.abs(a1n - a1g) <= 1e-6 * math.max(1e-12, math.abs(a1g))
          a0g = a0n; a1g = a1n; it += 1
        }
      }
    }
    val (a0, a1) =
      if (valid && a0g > 0 && a1g >= 0) (math.max(MinDisp, a0g), a1g)
      else (a0o, a1o)
    // residual spread around the fitted trend, evaluated per bin at the
    // bin's harmonic-mean μ (1/μ̂_b = sx_b/n_b — the same x-domain the
    // trend is linear in)
    var sr = 0.0; var sr2 = 0.0
    bins.foreach { b =>
      val nb = b.getAs[Double]("n")
      val lb = math.log(math.max(a0 + a1 * b.getAs[Double]("sx") / nb, MinDisp))
      val sld = b.getAs[Double]("sld")
      sr += sld - nb * lb
      sr2 += b.getAs[Double]("sld2") - 2.0 * lb * sld + nb * lb * lb
    }
    val s2lr = math.max(0.0, (sr2 - sr * sr / n) / (n - 1))
    val mbar = tot("sm") / n
    DispersionPrior(a0, a1, math.max(s2lr - logDispSampVar(mbar, p), 0.25))
  }

  /** DESeq2's `results()` post-processing (consumed at
    * vital_status_DESeq.R:89-97): Cook's-outlier genes get pvalue = padj =
    * NULL; independent filtering removes low-base_mean genes from the BH
    * universe (padj = NULL, pvalue kept). Downstream significance banding
    * (`Stats.signifBand`) propagates the NULLs exactly like R's NA.
    *
    * Threshold selection follows DESeq2's shape: candidate thresholds are
    * the 0–0.95 base_mean quantiles in steps of 0.05; each candidate's BH
    * rejection count at `alpha` is computed over the genes passing it; the
    * SMALLEST candidate reaching the maximum count wins. (Deviation:
    * DESeq2 smooths the rejection curve with lowess and takes thresholds
    * within one residual SD of the max — the plain argmax is deterministic
    * and lands within one quantile step of it on well-behaved curves.)
    *
    * Scale shape: candidate scoring explodes the GENE-level frame
    * (cardinality bounded by the genome, not data volume) × ≤ 20
    * candidates, ranking p-values inside per-candidate window partitions —
    * the same bounded-partition argument as the event-table windows. The
    * fact-sized path is untouched. The whole threshold selection runs
    * IN-PLAN (r17): candidates, rejection counts, and the argmax-min pick
    * ride two tiny broadcast subtrees into the caller's single action —
    * the previous form's two driver collects (quantiles, 20 rejection
    * counts) each planned and ran a separate top-level job (~1 s of d3's
    * wall time at sf0.1 between them). The input is persisted (four plan
    * references) and released once the returned frame has fed an action.
    *
    * Broadcast timeout: those subtrees are broadcast builds, and the first
    * one to run materializes the whole upstream fit inside the build, so
    * the fit must finish within `spark.sql.broadcastTimeout` (default
    * 300 s) — a limit the old driver-collect form did not have. The
    * threshold broadcast feeds the `Stats.bhAdjust` call below, so the
    * first job of the caller's action usually triggers it. At cluster
    * scale, materialize `de` first (persist it and run an action) or raise
    * the timeout. */
  def results(de: DataFrame, alpha: Double = 0.1, pCol: String = "pvalue",
      geneCol: String = "gene", baseMeanCol: String = "base_mean",
      outlierCol: String = "cooks_outlier"): DataFrame = {
    val in = de.persist()
    val universe = in.filter(!col(outlierCol) && col(pCol).isNotNull)
    val probs = (0 until 20).map(_ * 0.05)
    // candidate thresholds: the 0–0.95 base_mean quantiles, deduplicated —
    // same percentile expression and dedup as the old collect path (exact
    // double equality both ways); an empty universe yields a NULL array,
    // which explodes to zero candidates
    val candDf = universe
      .agg(expr(s"percentile($baseMeanCol, array(${probs.mkString(",")}))")
        .as("__qs"))
      .select(explode(col("__qs")).as("theta"))
      .distinct()
    val wRank = Window.partitionBy(col("theta"))
      .orderBy(col(pCol).asc, col(geneCol).asc)
    val wAll = Window.partitionBy(col("theta"))
    // BH rejection count = max{k : p_(k) ≤ α·k/m} per candidate (grouping
    // by the theta VALUE — the old tid index was 1:1 with it)
    val rej = universe.select(col(geneCol), col(pCol), col(baseMeanCol))
      .join(broadcast(candDf), col(baseMeanCol) >= col("theta"))
      .withColumn("rnk", row_number().over(wRank))
      .withColumn("m", count(lit(1)).over(wAll))
      .groupBy("theta")
      .agg(max(when(col(pCol) <= lit(alpha) * col("rnk") / col("m"),
        col("rnk")).otherwise(0L)).as("rej"))
    // SMALLEST candidate reaching the MAXIMUM count: struct max orders by
    // rej first, then −theta (ties → min theta — the old argmax-min rule);
    // an empty candidate frame aggregates to NULL, coalesced to the old
    // empty-universe θ = 0.0 (and −(−0.0) = 0.0, so the sign round trip
    // is lossless)
    val thetaDf = rej
      .agg(max(struct(col("rej").as("r"), (-col("theta")).as("nt"))).as("b"))
      .select(coalesce(-col("b.nt"), lit(0.0)).as("__theta"))
    val adj = Stats.bhAdjust(
        universe.crossJoin(broadcast(thetaDf))
          .filter(col(baseMeanCol) >= col("__theta")).drop("__theta"),
        pCol, geneCol)
      .select(col(geneCol), col("padj"))
    val out = in.join(adj, Seq(geneCol), "left")
      .withColumn(pCol,
        when(col(outlierCol), lit(null).cast("double")).otherwise(col(pCol)))
    graft.Caches.releaseAfterConsumers(Seq(out), in)
    out
  }

  /** DESeq2's default `minReplicatesForReplace`: Cook's-flagged counts in
    * condition groups with at least this many replicates are REPLACED
    * (trimmed-mean imputation) and the gene refit, instead of the whole
    * gene being NA-banded — with large-n designs (BRCA ~600+/level) the
    * refit path is the one DESeq2 actually takes. Pass `Int.MaxValue` to
    * disable (the pre-refit cooksCutoff-only behavior). */
  val MinReplicatesForReplace = 7

  /** Per-gene grouped execution WITHOUT the typed groupByKey path (r17
    * optimization). `groupByKey(_.gene).flatMapGroups` plans as
    * AppendColumns (a full object deserialization per ROW just to
    * evaluate the key closure, plus a key serialization) → Exchange →
    * Sort → MapGroups (a SECOND per-row deserialization) — at 32-way
    * local concurrency that object churn is what made d3/d4 the
    * suite's most GC-sensitive queries. Hash-repartitioning the FRAME
    * by gene and sorting within partitions by (gene, smp, cond, cnt)
    * produces the identical grouping through the same exchange+sort
    * the typed path paid anyway, and one `mapPartitions` deserializes
    * each row ONCE, cutting consecutive gene runs with a cursor. The
    * frame sort also replaces fitGene's old per-gene tuple-boxed
    * `sortBy((smp, cond, cnt))`. Results are bit-identical: each gene
    * sees the same row multiset in the same accumulation order (rows
    * tying on the full sort key are full duplicates — smp determines
    * sf, the group determines gene — hence interchangeable). */
  private def perGene[T: Encoder](cells: Dataset[CountCell])(
      f: (Long, Array[CountCell]) => Iterator[T]): Dataset[T] = {
    import cells.sparkSession.implicits._
    cells.toDF()
      .repartition(col("gene"))
      .sortWithinPartitions("gene", "smp", "cond", "cnt")
      .as[CountCell]
      .mapPartitions { it =>
        val rows = it.buffered
        new Iterator[Array[CountCell]] {
          def hasNext: Boolean = rows.hasNext
          def next(): Array[CountCell] = {
            val g = rows.head.gene
            val buf = scala.collection.mutable.ArrayBuffer.empty[CountCell]
            while (rows.hasNext && rows.head.gene == g) buf += rows.next()
            buf.toArray
          }
        }.flatMap(arr => f(arr(0).gene, arr))
      }
  }

  /** The NB-GLM front end every DE caller runs (`DESeq()` then
    * `results()`' contrasts, vital_status_DESeq.R:51,89): the dispersion
    * prior fitted over `cells` ([[dispersionPrior]]), then one fit per gene
    * and every `(levelA, levelB)` pair of [[contrasts]] under it. `cells`
    * is persisted, since the prior's collect and the fit both read it, and
    * released once the returned frame has fed an action (see
    * [[graft.Caches]]). */
  def deseq(cells: Dataset[CountCell], levels: Seq[String],
      pairs: Seq[(String, String)]): Dataset[DEContrast] = {
    cells.persist()
    val de = contrasts(cells, levels, pairs, Some(dispersionPrior(cells, levels.size)))
    graft.Caches.releaseAfterConsumers(Seq(de.toDF()), cells.toDF())
    de
  }

  /** Fit once per gene, then evaluate every `(levelA, levelB)` contrast from
    * the fitted coefficients (log2FC of A over B). */
  def contrasts(cells: Dataset[CountCell], levels: Seq[String],
      pairs: Seq[(String, String)],
      prior: Option[DispersionPrior] = None,
      minReplicatesForReplace: Int = MinReplicatesForReplace): Dataset[DEContrast] = {
    val spark = cells.sparkSession
    import spark.implicits._
    perGene[DEContrast](cells) { (gene, it) =>
      fitGene(gene, it, levels, prior, minReplicatesForReplace) match {
        case Some(f) =>
          pairs.iterator.flatMap { case (la, lb) =>
            (f.levelIndex.get(la), f.levelIndex.get(lb)) match {
              case (Some(ia), Some(ib)) =>
                // coefficient of the reference level is 0 with 0 variance
                def b(i: Int) = if (i == 0) 0.0 else f.beta(i)
                def v(i: Int, j: Int) =
                  if (i == 0 || j == 0) 0.0 else f.cov(i)(j)
                val diff = b(ia) - b(ib)
                val variance = v(ia, ia) + v(ib, ib) - 2.0 * v(ia, ib)
                // an ill-conditioned fit whose inverted covariance rounds
                // to a non-positive variance would otherwise emit NaN
                // se/stat/p — and a NaN p-value is NOT null, so it would
                // sail through results()'s universe filter into BH
                if (variance <= 0) None
                else {
                  val se = math.sqrt(variance)
                  val stat = diff / se
                  Some(DEContrast(gene, s"${la}_vs_$lb", diff / math.log(2.0),
                    se / math.log(2.0), stat, normalSfTwoSided(stat),
                    f.baseMean, f.cooksOutlier, f.dispersion))
                }
              case _ => None
            }
          }
        case None => Iterator.empty
      }
    }
  }

  private final case class Fit(beta: Array[Double], cov: Array[Array[Double]],
      baseMean: Double, levelIndex: Map[String, Int], cooksOutlier: Boolean,
      dispersion: Double)

  /** IRLS NB-GLM for one gene: log mu = log sf + X beta, X = intercept +
    * one-hot of non-reference levels actually present in the data.
    *
    * Cook's-outlier handling follows DESeq2's two-sided rule: groups with
    * < `minRepForReplace` replicates can only FLAG the gene (`results()`
    * then NA-bands its p-values, the cooksCutoff half), while a flagged
    * observation in a group with ≥ `minRepForReplace` replicates is
    * REPLACED — trimmed-mean (trim = 0.2) of the gene's normalized counts
    * scaled by the sample's size factor, integer-truncated like DESeq2's
    * `as.integer` — and the gene is refit from scratch on the repaired
    * counts (`replaceOutliers` + refit). Replaced samples' Cook's are
    * zeroed on the refit (DESeq2's rule), so the repaired gene normally
    * unflags and its Wald p-values survive `results()` — but a DIFFERENT
    * still-outlying sample keeps the flag. One replacement round only,
    * as in DESeq2. */
  private def fitGene(gene: Long, rows: Array[CountCell],
      levels: Seq[String], prior: Option[DispersionPrior],
      minRepForReplace: Int = MinReplicatesForReplace): Option[Fit] = {
    // rows arrive sorted by (smp, cond, cnt) — [[perGene]]'s frame sort
    // replaces the old per-gene `it.toArray.sortBy` (same deterministic
    // accumulation order, robust to surrogate-id collisions, without a
    // tuple-boxed JVM sort per gene)
    if (rows.length < 2) return None
    val present = levels.filter(l => rows.exists(_.cond == l))
    if (present.size < 2) return None
    // design: column 0 = intercept (reference = first present level),
    // column j = indicator of present(j), j >= 1
    val levelIndex = present.zipWithIndex.toMap
    val p = present.size
    val x = rows.map(r => levelIndex.getOrElse(r.cond, -1))
    val keep = x.indices.filter(i => x(i) >= 0).toArray
    // no more samples than coefficients: no dispersion to estimate
    // (DESeq2 stops with an error here)
    if (keep.length <= p) return None
    val y0 = keep.map(i => rows(i).cnt)
    val off = keep.map(i => math.log(math.max(rows(i).sf, MinMu)))
    val lvl = keep.map(i => x(i))

    // the whole fit as a function of the count vector, so the outlier-
    // replacement path can rerun it once on the repaired counts
    // (allowReplace = false on the recursion — DESeq2 replaces once).
    // `zeroCooks` marks replaced observations: DESeq2 zeroes their
    // Cook's after the refit, so they cannot re-flag the gene — but a
    // DIFFERENT still-outlying sample can.
    def core(y: Array[Double], allowReplace: Boolean,
        zeroCooks: Set[Int]): Option[Fit] = {
    val q = y.indices.map(i => y(i) / math.exp(off(i))).toArray
    val baseMean = q.sum / q.length
    // method-of-moments dispersion over normalized counts, pooled by level
    // — the INITIALIZER for the Cox-Reid MLE below (DESeq2's
    // momentsDispEstimate → fitDisp flow)
    val groupMean = Array.tabulate(p) { g =>
      val idx = q.indices.filter(lvl(_) == g)
      if (idx.isEmpty) 0.0 else idx.map(q(_)).sum / idx.size
    }
    var num = 0.0; var den = 0.0
    q.indices.foreach { i =>
      val m = groupMean(lvl(i))
      num += (q(i) - m) * (q(i) - m) - m
      den += m * m
    }
    val dispMoM =
      math.max(MinDisp, math.min(MaxDisp, if (den > 0) num / den else MinDisp))

    // one IRLS solve pass for a fixed dispersion; mutates `beta`, fills
    // `xtwx` with the converged iteration's weighted cross-products
    val xtwx = Array.ofDim[Double](p, p)
    val xtwz = new Array[Double](p)
    def runIrls(disp: Double, beta: Array[Double]): Boolean = {
      var iter = 0
      var converged = false
      while (iter < MaxIter && !converged) {
        java.util.Arrays.fill(xtwz, 0.0)
        xtwx.foreach(java.util.Arrays.fill(_, 0.0))
        var i = 0
        while (i < y.length) {
          val g = lvl(i)
          val eta = beta(0) + (if (g > 0) beta(g) else 0.0)
          val mu = math.min(1e12, math.max(MinMu, math.exp(eta + off(i))))
          val w = mu / (1.0 + disp * mu)
          val z = eta + (y(i) - mu) / mu
          // design row: d0 = 1, dg = 1 (g > 0)
          xtwx(0)(0) += w
          xtwz(0) += w * z
          if (g > 0) {
            xtwx(0)(g) += w; xtwx(g)(0) += w; xtwx(g)(g) += w
            xtwz(g) += w * z
          }
          i += 1
        }
        solveInPlace(copy(xtwx), xtwz.clone()) match {
          case Some(sol) =>
            // most genes converge in < 8 iterations — exit early, keeping
            // the xtwx of the (now-converged) last iteration for the cov
            var dmax = 0.0
            var j = 0
            while (j < p) { dmax = math.max(dmax, math.abs(sol(j) - beta(j))); j += 1 }
            System.arraycopy(sol, 0, beta, 0, p)
            if (dmax < ConvergeTol) converged = true
          case None => return false
        }
        iter += 1
      }
      true
    }

    def fittedMu(beta: Array[Double]): Array[Double] =
      Array.tabulate(y.length) { i =>
        val g = lvl(i)
        math.min(1e12, math.max(MinMu,
          math.exp(beta(0) + (if (g > 0) beta(g) else 0.0) + off(i))))
      }

    // Run-length histogram of the counts: Σᵢ lgamma(yᵢ+r) =
    // Σ_k c_k·lgamma(v_k+r). NB counts repeat heavily (low-mean genes have
    // a handful of distinct values), so the lgamma work per likelihood
    // evaluation drops from n to #distinct — the single hottest term of
    // the profile search. Built once per gene; y never changes.
    val (yHistV, yHistC) = {
      val s = y.sorted
      val v = Array.newBuilder[Double]; val c = Array.newBuilder[Double]
      var i = 0
      while (i < s.length) {
        var j = i + 1
        while (j < s.length && s(j) == s(i)) j += 1
        v += s(i); c += (j - i).toDouble
        i = j
      }
      (v.result(), c.result())
    }

    // Cox-Reid adjusted profile log-likelihood of α with μ fixed (Love et
    // al. 2014 §M2; McCarthy/Chen/Smyth 2012): NB log-likelihood minus
    // ½·log det(X'W(α)X). For the intercept + one-hot design the
    // determinant factors exactly as Π_g Σ_{i∈g} wᵢ. Algebraically
    // regrouped so each observation costs ONE log:
    //   ℓ = Σ_k c_k·lgamma(v_k+r) − n·lgamma(r) + n·r·log r + Σᵢ yᵢ·log μᵢ
    //       − Σᵢ (r+yᵢ)·log(r+μᵢ) − ½ Σ_g log Σ_{i∈g} wᵢ
    // with Σᵢ yᵢ·log μᵢ passed in precomputed once per α search (it is
    // constant while μ is fixed).
    def crLogLik(alpha: Double, mu: Array[Double], sYLogMu: Double): Double = {
      val r = 1.0 / alpha
      val n = y.length
      val sg = new Array[Double](p)
      var ll = -n * lgamma(r) + n * r * math.log(r) + sYLogMu
      var i = 0
      while (i < n) {
        val m = mu(i)
        ll -= (r + y(i)) * math.log(r + m)
        sg(lvl(i)) += m / (1.0 + alpha * m)
        i += 1
      }
      var k = 0
      while (k < yHistV.length) { ll += yHistC(k) * lgamma(yHistV(k) + r); k += 1 }
      var g = 0
      while (g < p) { ll -= 0.5 * math.log(math.max(sg(g), 1e-300)); g += 1 }
      ll
    }

    // profile maximization over log α. The mode is bracketed ±1 step
    // (1.3 log units — the round-2 grid's step) around the CENTER — the
    // MoM estimate on the first pass (DESeq2 seeds its MLE there too),
    // the previous α on later alternation passes — expanding stepwise
    // toward whichever bound the profile still rises at (bounded by the
    // [MinDisp, MaxDisp] search box, so ≤ 16 expansions; ≥ 1 in practice
    // ~0). This replaces round 2's 17-point global grid: per-pass cost
    // drops from ~45 to ~20 likelihood evaluations with the same
    // deterministic result on unimodal profiles. 14 golden iterations
    // leave the bracket ~3e-3 wide in log α (0.3% relative on α — far
    // inside the EB-shrinkage movement that follows). Per-gene eval
    // counts depend only on the gene's own data → bit-stable across
    // partitionings and reruns.
    def maximizeAlpha(mu: Array[Double], center: Double): Double = {
      val lo = math.log(MinDisp); val hi = math.log(MaxDisp)
      val step = (hi - lo) / 16.0
      var sY = 0.0
      var i0 = 0
      while (i0 < y.length) { sY += y(i0) * math.log(mu(i0)); i0 += 1 }
      def f(logA: Double): Double = crLogLik(math.exp(logA), mu, sY)
      val c0 = math.min(hi, math.max(lo, math.log(center)))
      var a = math.max(lo, c0 - step)
      var b = math.min(hi, c0 + step)
      var fa = f(a); var fb = f(b)
      // expand downhill-free: while an endpoint is the running max and the
      // bound isn't reached, slide the bracket one step further that way.
      // The 3-point invariant a < m < b with f(m) ≥ f(a), f(m) ≥ f(b) is
      // kept by promoting the PREVIOUS MIDDLE to the far endpoint on each
      // slide (not the original center — that widened the bracket by one
      // step per extra expansion and left fb stale).
      var m = c0
      var fm = f(c0)
      var guard = 0
      while (guard < 16 && fa > fm && a > lo) {
        b = m; fb = fm
        m = a; fm = fa
        a = math.max(lo, a - step); fa = f(a)
        guard += 1
      }
      while (guard < 16 && fb > fm && b < hi) {
        a = m; fa = fm
        m = b; fm = fb
        b = math.min(hi, b + step); fb = f(b)
        guard += 1
      }
      val phi = (math.sqrt(5.0) - 1.0) / 2.0
      var c = b - phi * (b - a); var d = a + phi * (b - a)
      var fc = f(c); var fd = f(d)
      var it = 0
      while (it < 14) {
        if (fc > fd) {
          b = d; d = c; fd = fc
          c = b - phi * (b - a); fc = f(c)
        } else {
          a = c; c = d; fc = fd
          d = a + phi * (b - a); fd = f(d)
        }
        it += 1
      }
      math.exp(0.5 * (a + b))
    }

    // init β from group means of normalized counts
    val beta = new Array[Double](p)
    beta(0) = math.log(math.max(groupMean(0), 1e-8))
    (1 until p).foreach(g => beta(g) = math.log(math.max(groupMean(g), 1e-8)) - beta(0))

    // gene-wise dispersion: Cox-Reid adjusted profile MLE, alternating
    // (β | α) IRLS with (α | μ) profile maximization from the MoM start —
    // DESeq2's estimateDispersionsGeneEst shape, capped at 2 alternations
    // (the second moves α < 1e-3 relative on well-behaved genes)
    if (!runIrls(dispMoM, beta)) return None
    var alphaHat = dispMoM
    // the α the CURRENT β/covariance were solved at — can lag alphaHat by
    // the settle tolerance when the alternation exits early; reported (and
    // identity-checked) dispersion is this one, DESeq2-style: the value
    // the Wald covariance was actually computed at
    var alphaUsed = dispMoM
    var round = 0
    var settled = false
    while (round < 2 && !settled) {
      // round 0 brackets around the MoM seed; round 1 around round 0's α
      val next = maximizeAlpha(fittedMu(beta), alphaHat)
      settled = math.abs(math.log(next) - math.log(alphaHat)) < 4e-3
      alphaHat = next
      if (!settled) {
        if (!runIrls(alphaHat, beta)) return None
        alphaUsed = alphaHat
      }
      round += 1
    }

    // empirical-Bayes shrinkage toward the trend (log space) with the
    // MLE's asymptotic sampling variance 2/(m−p); gene-wise estimates far
    // ABOVE the trend are dispersion outliers and kept
    val disp = prior match {
      case None => alphaHat
      case Some(pr) =>
        val aTr = math.max(MinDisp,
          pr.a0 + pr.a1 / math.max(baseMean, MinMu))
        val lgw = math.log(alphaHat)
        val ltr = math.log(aTr)
        val sampVar = 2.0 / math.max(1.0, y.length.toDouble - p)
        if (lgw - ltr > pr.outlierSd * math.sqrt(pr.sigmaSq + sampVar)) alphaHat
        else {
          val post = (lgw / sampVar + ltr / pr.sigmaSq) /
            (1.0 / sampVar + 1.0 / pr.sigmaSq)
          math.max(MinDisp, math.min(MaxDisp, math.exp(post)))
        }
    }

    // final fit at the posterior dispersion — the Wald covariance
    if (disp != alphaUsed) {
      if (!runIrls(disp, beta)) return None
      alphaUsed = disp
    }
    invert(xtwx) match {
      case None => None
      case Some(cov) =>
        // Cook's-distance outlier flag (DESeq2's results() rule, consumed at
        // vital_status_DESeq.R:89-97): per observation, squared Pearson
        // residual / p × leverage/(1−leverage)², leverage h_ii = wᵢ·xᵢ'
        // (X'WX)⁻¹ xᵢ from the CONVERGED weights. The residual's variance
        // uses a ROBUST dispersion, NOT the fitted one — a spiked count
        // inflates the gene's own MoM/MLE dispersion and would mask itself
        // (DESeq2 guards Cook's the same way via robustMethodOfMomentsDisp).
        // Only observations whose condition group has ≥ 3 replicates count
        // (no outlier detection without replication); the gene is flagged
        // when any such observation exceeds the F(0.99, p, m−p) quantile.
        val gn = new Array[Int](p)
        lvl.foreach(g => gn(g) += 1)
        val alphaRob = robustDispForCooks(q, lvl, p, gn)
        val cutoff =
          if (y.length > p) fQuantile(0.99, p.toDouble, (y.length - p).toDouble)
          else Double.PositiveInfinity
        var maxCooks = 0.0
        val replaceIdx = Array.newBuilder[Int]
        var i = 0
        while (i < y.length) {
          val g = lvl(i)
          if (gn(g) >= 3 && !zeroCooks.contains(i)) {
            val eta = beta(0) + (if (g > 0) beta(g) else 0.0)
            val mu = math.min(1e12, math.max(MinMu, math.exp(eta + off(i))))
            val w = mu / (1.0 + disp * mu)
            val vRob = mu + alphaRob * mu * mu
            val r2 = (y(i) - mu) * (y(i) - mu) / vRob
            val xcx = cov(0)(0) + (if (g > 0) 2.0 * cov(0)(g) + cov(g)(g) else 0.0)
            val h = math.min(0.9999, math.max(0.0, w * xcx))
            val d = r2 / p * h / ((1.0 - h) * (1.0 - h))
            if (d > maxCooks) maxCooks = d
            if (d > cutoff && gn(g) >= minRepForReplace) replaceIdx += i
          }
          i += 1
        }
        val outlier = y.length > p && maxCooks > cutoff
        val toReplace = replaceIdx.result()
        if (allowReplace && outlier && toReplace.nonEmpty) {
          // DESeq2's replaceOutliers: replacement = trimmed mean (trim 0.2)
          // of the gene's normalized counts across ALL samples, scaled by
          // the sample's own size factor, truncated to an integer count
          val sortedQ = q.sorted
          val k = (sortedQ.length * 0.2).toInt
          val mid = sortedQ.slice(k, sortedQ.length - k)
          val trimmed = mid.sum / mid.length
          val y2 = y.clone()
          toReplace.foreach(i => y2(i) = math.floor(trimmed * math.exp(off(i))))
          // refit on the repaired counts with the replaced samples'
          // Cook's zeroed (DESeq2's rule) — the repaired gene usually
          // unflags, but a DIFFERENT still-outlying sample keeps its
          // flag. A refit that fails to converge falls back to the
          // original (flagged) fit rather than dropping the gene.
          core(y2, allowReplace = false, zeroCooks = toReplace.toSet)
            .orElse(Some(Fit(beta, cov, baseMean, levelIndex, outlier, alphaUsed)))
        } else Some(Fit(beta, cov, baseMean, levelIndex, outlier, alphaUsed))
    }
    } // end core

    core(y0, allowReplace = minRepForReplace < Int.MaxValue, zeroCooks = Set.empty)
  }

  /** Robust dispersion for the Cook's-distance variance (the same role as
    * DESeq2's `robustMethodOfMomentsDisp`): per condition group, a trimmed
    * mean (trim fraction stepped by group size like DESeq2's 1/3 – 1/4 –
    * 1/8) and a median-of-squared-errors variance (50% breakdown, scaled
    * by the normal-consistency constant 1/qchisq(0.5, 1) ≈ 2.198), pooled
    * as the max α = (v − m)/m² across groups. A single spiked replicate
    * cannot move the median, so it cannot hide from its own outlier test. */
  private def robustDispForCooks(q: Array[Double], lvl: Array[Int], p: Int,
      gn: Array[Int]): Double = {
    var alpha = MinDisp
    var g = 0
    while (g < p) {
      if (gn(g) >= 3) {
        val s = q.indices.collect { case i if lvl(i) == g => q(i) }.toArray.sorted
        val n = s.length
        val f = if (n < 4) 1.0 / 3 else if (n < 24) 0.25 else 0.125
        val k = (n * f).toInt
        val mid = s.slice(k, n - k)
        val m = mid.sum / mid.length
        val se = s.map(v => (v - m) * (v - m)).sorted
        val med =
          if (n % 2 == 1) se(n / 2) else 0.5 * (se(n / 2 - 1) + se(n / 2))
        val v = 2.198 * med
        if (m > 0) alpha = math.max(alpha, (v - m) / (m * m))
      }
      g += 1
    }
    math.min(MaxDisp, alpha)
  }

  private def copy(a: Array[Array[Double]]): Array[Array[Double]] = a.map(_.clone())

  /** Gaussian elimination with partial pivoting; solves `a x = b` in place.
    * (`private[graft]`: LogisticRegression's Newton step shares it.) */
  private[graft] def solveInPlace(a: Array[Array[Double]], b: Array[Double]): Option[Array[Double]] = {
    val n = b.length
    var col = 0
    while (col < n) {
      var piv = col
      var r = col + 1
      while (r < n) { if (math.abs(a(r)(col)) > math.abs(a(piv)(col))) piv = r; r += 1 }
      if (math.abs(a(piv)(col)) < 1e-12) return None
      if (piv != col) {
        val t = a(piv); a(piv) = a(col); a(col) = t
        val tb = b(piv); b(piv) = b(col); b(col) = tb
      }
      r = col + 1
      while (r < n) {
        val f = a(r)(col) / a(col)(col)
        var c = col
        while (c < n) { a(r)(c) -= f * a(col)(c); c += 1 }
        b(r) -= f * b(col)
        r += 1
      }
      col += 1
    }
    val sol = new Array[Double](n)
    var i = n - 1
    while (i >= 0) {
      var s = b(i)
      var j = i + 1
      while (j < n) { s -= a(i)(j) * sol(j); j += 1 }
      sol(i) = s / a(i)(i)
      i -= 1
    }
    Some(sol)
  }

  /** Inverse by solving against identity columns. */
  private def invert(a: Array[Array[Double]]): Option[Array[Array[Double]]] = {
    val n = a.length
    val cols = new Array[Array[Double]](n)
    var j = 0
    while (j < n) {
      val e = new Array[Double](n); e(j) = 1.0
      solveInPlace(copy(a), e) match {
        case Some(sol) => cols(j) = sol
        case None => return None
      }
      j += 1
    }
    Some(Array.tabulate(n, n)((i, k) => cols(k)(i)))
  }

  // ------------- special functions for the Cook's-distance F cutoff -------

  /** Lanczos log-gamma (g = 7, 9 coefficients; |rel err| < 1e-13). */
  private def lgamma(x: Double): Double = {
    val c = Array(0.99999999999980993, 676.5203681218851, -1259.1392167224028,
      771.32342877765313, -176.61502916214059, 12.507343278686905,
      -0.13857109526572012, 9.9843695780195716e-6, 1.5056327351493116e-7)
    if (x < 0.5)
      math.log(math.Pi / math.sin(math.Pi * x)) - lgamma(1.0 - x)
    else {
      val z = x - 1.0
      var a = c(0)
      var i = 1
      while (i < 9) { a += c(i) / (z + i); i += 1 }
      val t = z + 7.5
      0.5 * math.log(2.0 * math.Pi) + (z + 0.5) * math.log(t) - t + math.log(a)
    }
  }

  /** Continued fraction for the regularized incomplete beta (Lentz). */
  private def betacf(x: Double, a: Double, b: Double): Double = {
    val FpMin = 1e-300
    val qab = a + b; val qap = a + 1.0; val qam = a - 1.0
    var c = 1.0
    var d = 1.0 - qab * x / qap
    if (math.abs(d) < FpMin) d = FpMin
    d = 1.0 / d
    var h = d
    var m = 1
    var del = 2.0
    while (m <= 200 && math.abs(del - 1.0) >= 3e-14) {
      val m2 = 2 * m
      var aa = m * (b - m) * x / ((qam + m2) * (a + m2))
      d = 1.0 + aa * d; if (math.abs(d) < FpMin) d = FpMin
      c = 1.0 + aa / c; if (math.abs(c) < FpMin) c = FpMin
      d = 1.0 / d; h *= d * c
      aa = -(a + m) * (qab + m) * x / ((a + m2) * (qap + m2))
      d = 1.0 + aa * d; if (math.abs(d) < FpMin) d = FpMin
      c = 1.0 + aa / c; if (math.abs(c) < FpMin) c = FpMin
      d = 1.0 / d
      del = d * c
      h *= del
      m += 1
    }
    h
  }

  /** Regularized incomplete beta I_x(a, b). */
  private def regIncBeta(x: Double, a: Double, b: Double): Double =
    if (x <= 0.0) 0.0
    else if (x >= 1.0) 1.0
    else {
      val bt = math.exp(lgamma(a + b) - lgamma(a) - lgamma(b) +
        a * math.log(x) + b * math.log(1.0 - x))
      if (x < (a + 1.0) / (a + b + 2.0)) bt * betacf(x, a, b) / a
      else 1.0 - bt * betacf(1.0 - x, b, a) / b
    }

  /** F-distribution CDF: P(F_{d1,d2} ≤ x). */
  private def fCdf(x: Double, d1: Double, d2: Double): Double =
    if (x <= 0.0) 0.0
    else regIncBeta(d1 * x / (d1 * x + d2), d1 / 2.0, d2 / 2.0)

  /** F quantile by bisection — deterministic, exact to double precision
    * after 80 halvings (R's `qf`, as DESeq2's Cook's cutoff uses it). */
  private[graft] def fQuantile(q: Double, d1: Double, d2: Double): Double = {
    var hi = 1.0
    while (fCdf(hi, d1, d2) < q && hi < 1e12) hi *= 2.0
    var lo = 0.0
    var i = 0
    while (i < 80) {
      val mid = 0.5 * (lo + hi)
      if (fCdf(mid, d1, d2) < q) lo = mid else hi = mid
      i += 1
    }
    0.5 * (lo + hi)
  }

  /** Scalar twin of Stats.normalSfTwoSided (A&S 7.1.26, |err| < 1.5e-7). */
  def normalSfTwoSided(z: Double): Double = {
    val x = math.abs(z) / math.sqrt(2.0)
    val t = 1.0 / (1.0 + 0.3275911 * x)
    val poly = ((((1.061405429 * t - 1.453152027) * t + 1.421413741) * t
      - 0.284496736) * t + 0.254829592) * t
    math.min(1.0, poly * math.exp(-x * x))
  }
}
