package graft

import graft.functions.{CountCell, DiffExpression}

class DiffExpressionSpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic pseudo-NB counts around mean `mu`. */
  private def counts(mu: Double, n: Int, seed: Int): Seq[Double] =
    (0 until n).map { i =>
      val u = ((i * 2654435761L + seed * 97L) % 1000) / 1000.0
      math.max(0.0, math.rint(mu * (0.7 + 0.6 * u)))
    }

  private def cellsFor(gene: Long, muA: Double, muB: Double, n: Int) = {
    val a = counts(muA, n, gene.toInt).zipWithIndex.map { case (c, i) =>
      CountCell(gene, i.toLong, c, "A", 1.0)
    }
    val b = counts(muB, n, gene.toInt + 1).zipWithIndex.map { case (c, i) =>
      CountCell(gene, (n + i).toLong, c, "B", 1.0)
    }
    a ++ b
  }

  test("NB-GLM Wald recovers a 4x fold change with small p, null gene is ns") {
    val cells = (cellsFor(1L, 10, 40, 30) ++ cellsFor(2L, 25, 25, 30)).toDS()
    val res = DiffExpression.contrasts(cells, Seq("A", "B"), Seq(("B", "A")))
      .collect().map(r => r.gene -> r).toMap
    val de = res(1L)
    assert(math.abs(de.log2fc - 2.0) < 0.35, s"log2fc=${de.log2fc}")
    assert(de.pvalue < 1e-6)
    val nul = res(2L)
    assert(math.abs(nul.log2fc) < 0.3, s"null log2fc=${nul.log2fc}")
    assert(nul.pvalue > 0.05)
  }

  test("golden closed form: two-group Wald matches the exact MLE identities") {
    // The two-group NB-GLM has CLOSED-FORM maximum-likelihood identities
    // (independent of this implementation), so the fit is checked against
    // absolute math, not against itself:
    //   1. group-only design + log link → fitted group means are the
    //      sample means exactly, so log2FC = log2(mean_B / mean_A)
    //   2. expected-information Wald covariance at dispersion α →
    //      se(β₁)² = (1+α·m_A)/(n_A·m_A) + (1+α·m_B)/(n_B·m_B)
    //   3. stat = β₁/se (scale-invariant: log2fc/lfc_se), p = 2·Φ(−|stat|)
    val n = 40
    val cells = cellsFor(11L, 20, 60, n).toDS()
    val r = DiffExpression.contrasts(cells, Seq("A", "B"), Seq(("B", "A"))).collect().head
    val raw = cells.collect()
    def mean(cond: String) = {
      val v = raw.filter(_.cond == cond).map(_.cnt); v.sum / v.length
    }
    val (ma, mb) = (mean("A"), mean("B"))
    assert(math.abs(r.log2fc - math.log(mb / ma) / math.log(2.0)) < 1e-6,
      s"log2fc=${r.log2fc} vs closed form ${math.log(mb / ma) / math.log(2.0)}")
    val a = r.dispersion
    val seNat = math.sqrt((1 + a * ma) / (n * ma) + (1 + a * mb) / (n * mb))
    assert(math.abs(r.lfc_se - seNat / math.log(2.0)) < 1e-6,
      s"lfc_se=${r.lfc_se} vs closed form ${seNat / math.log(2.0)}")
    assert(math.abs(r.stat - r.log2fc / r.lfc_se) < 1e-9)
    // A&S 7.1.26 normal tail (|err| < 1.5e-7) — an independent p recompute
    def phi(x: Double): Double = {
      val t = 1.0 / (1.0 + 0.3275911 * math.abs(x) / math.sqrt(2.0))
      val e = t * (0.254829592 + t * (-0.284496736 + t * (1.421413741 +
        t * (-1.453152027 + t * 1.061405429)))) *
        math.exp(-x * x / 2.0)
      if (x >= 0) 1.0 - 0.5 * e else 0.5 * e
    }
    assert(math.abs(r.pvalue - 2.0 * phi(-math.abs(r.stat))) < 1e-6,
      s"pvalue=${r.pvalue}")
  }

  test("Wald log2FC sign follows level order (factor-level contrast direction)") {
    val cells = cellsFor(1L, 40, 10, 30).toDS()
    val r = DiffExpression.contrasts(cells, Seq("A", "B"), Seq(("B", "A"))).collect().head
    assert(r.log2fc < -1.0) // B relative to reference A is lower
  }

  test("contrasts: fit once, evaluate K pairs; reference-level algebra holds") {
    val levels = Seq("L0", "L1", "L2")
    val mus = Map("L0" -> 10.0, "L1" -> 20.0, "L2" -> 40.0)
    val cells = levels.zipWithIndex.flatMap { case (l, gi) =>
      counts(mus(l), 30, gi + 5).zipWithIndex.map { case (c, i) =>
        CountCell(7L, (gi * 100 + i).toLong, c, l, 1.0)
      }
    }.toDS()
    val pairs = Seq(("L1", "L0"), ("L2", "L0"), ("L2", "L1"))
    val got = DiffExpression.contrasts(cells, levels, pairs)
      .collect().map(c => c.contrast -> c.log2fc).toMap
    assert(math.abs(got("L1_vs_L0") - 1.0) < 0.35)
    assert(math.abs(got("L2_vs_L0") - 2.0) < 0.35)
    // transitivity of coefficients from a single fit:
    assert(math.abs(got("L2_vs_L0") - got("L1_vs_L0") - got("L2_vs_L1")) < 1e-9)
  }

  test("size factors act as offsets: doubling a sample's sf halves its effect") {
    // same counts, but B samples carry sf=2 -> normalized B mean halves
    val base = cellsFor(3L, 20, 20, 30)
    val cells = base.map(c => if (c.cond == "B") c.copy(sf = 2.0) else c).toDS()
    val r = DiffExpression.contrasts(cells, Seq("A", "B"), Seq(("B", "A"))).collect().head
    assert(r.log2fc < -0.6 && r.log2fc > -1.4, s"log2fc=${r.log2fc}")
  }

  test("results are deterministic across repartitioning") {
    val cells = cellsFor(9L, 15, 30, 25)
    def fit(width: Int) = DiffExpression.contrasts(cells.toDS().repartition(width),
      Seq("A", "B"), Seq(("B", "A"))).collect().head
    val a = fit(1)
    val b = fit(7)
    assert(a == b)
  }

  test("fQuantile matches R's qf (standard F tables)") {
    // reference values cross-checked against an independent implementation
    // and the printed F tables (qf(p, d1, d2))
    assert(math.abs(DiffExpression.fQuantile(0.99, 1, 10) - 10.044289) < 1e-4)
    assert(math.abs(DiffExpression.fQuantile(0.99, 2, 10) - 7.559432) < 1e-4)
    assert(math.abs(DiffExpression.fQuantile(0.99, 4, 56) - 3.674045) < 1e-4)
    assert(math.abs(DiffExpression.fQuantile(0.5, 3, 7) - 0.870944) < 1e-4)
    assert(math.abs(DiffExpression.fQuantile(0.95, 2, 10) - 4.102821) < 1e-4)
  }

  test("planted Cook's outlier flags its gene; clean twin unflagged") {
    // gene 11: one A-sample count blown up 30x — a single-observation
    // artifact, exactly what Cook's distance exists to catch. Replacement
    // disabled: this pins the FLAG half of DESeq2's rule (the refit half
    // has its own test below).
    val clean = cellsFor(10L, 20, 22, 15)
    val spiked = cellsFor(11L, 20, 22, 15)
      .map(c => if (c.cond == "A" && c.smp == 0L) c.copy(cnt = 600.0) else c)
    val res = DiffExpression.contrasts((clean ++ spiked).toDS(), Seq("A", "B"), Seq(("B", "A")),
        minReplicatesForReplace = Int.MaxValue)
      .collect().map(r => r.gene -> r).toMap
    assert(!res(10L).cooks_outlier, "clean gene must not be flagged")
    assert(res(11L).cooks_outlier, "spiked gene must be flagged")
  }

  test("Cook's outlier in a ≥7-replicate group is replaced and refit " +
      "(DESeq2 minReplicatesForReplace); small groups still flag-only") {
    // DESeq2's two-sided rule: with ≥ 7 replicates in the flagged group
    // the spiked count is REPLACED (trimmed-mean imputation) and the gene
    // refit — estimate repaired, flag cleared — instead of NA-banding.
    val clean = cellsFor(20L, 20, 22, 15)
    val spiked = cellsFor(21L, 20, 22, 15)
      .map(c => if (c.cond == "A" && c.smp == 0L) c.copy(cnt = 600.0) else c)
    val res = DiffExpression.contrasts((clean ++ spiked).toDS(), Seq("A", "B"), Seq(("B", "A")))
      .collect().map(r => r.gene -> r).toMap
    assert(!res(21L).cooks_outlier,
      "replaced+refit gene must not carry the outlier flag")
    // the refit undoes the spike: estimate moves back toward the clean
    // twin's, and the imputed count pulls base_mean off the inflated value
    val noReplace = DiffExpression.contrasts(spiked.toDS(), Seq("A", "B"), Seq(("B", "A")),
      minReplicatesForReplace = Int.MaxValue).collect().head
    assert(math.abs(res(21L).log2fc - res(20L).log2fc) <
      math.abs(noReplace.log2fc - res(20L).log2fc),
      s"refit ${res(21L).log2fc} should sit nearer clean ${res(20L).log2fc} " +
        s"than unrepaired ${noReplace.log2fc}")
    assert(res(21L).base_mean < noReplace.base_mean)
    // a 5-replicate group is below minReplicatesForReplace: flag, no refit
    val small = cellsFor(22L, 20, 22, 5)
      .map(c => if (c.cond == "A" && c.smp == 0L) c.copy(cnt = 600.0) else c)
    val smallRes = DiffExpression.contrasts(small.toDS(), Seq("A", "B"), Seq(("B", "A")))
      .collect().head
    assert(smallRes.cooks_outlier,
      "below minReplicatesForReplace the gene must stay flagged, not refit")
  }

  test("results(): outlier NAs pvalue+padj, low-mean genes padj-only NA") {
    // Hand-crafted results frame with a RISING rejection curve: the 15
    // borderline genes (p ≈ 0.02–0.034) miss alpha = 0.1 while the 50
    // low-mean nulls sit in the BH universe (m = 100: BH needs
    // p_(25) ≤ 0.025) but clear it once filtering shrinks m to 50
    // (p_(25) = 0.034 ≤ 0.05) — so the argmax threshold must land above
    // the low-mean genes' base_mean. A flat curve (all-strong signal)
    // legitimately selects no filtering, in DESeq2 and here alike.
    val rows =
      (1 to 10).map(g => (g.toLong, 100.0, 1e-8, false)) ++
      (11 to 25).map(g => (g.toLong, 100.0, 0.020 + 0.001 * (g - 11), false)) ++
      (26 to 50).map(g => (g.toLong, 100.0, 0.30 + 0.01 * (g - 26), false)) ++
      (51 to 100).map(g => (g.toLong, 0.05, 0.30 + 0.01 * (g - 51), false)) ++
      Seq((101L, 100.0, 0.001, true)) // planted Cook's outlier
    val de = rows.toDF("gene", "base_mean", "pvalue", "cooks_outlier")
    val out = DiffExpression.results(de).collect()
      .map(r => r.getAs[Long]("gene") -> r).toMap
    // outlier: both NULL
    assert(out(101L).isNullAt(out(101L).fieldIndex("pvalue")))
    assert(out(101L).isNullAt(out(101L).fieldIndex("padj")))
    // low-mean nulls: pvalue kept, padj NULL (independent filtering)
    (51L to 100L).foreach { g =>
      assert(!out(g).isNullAt(out(g).fieldIndex("pvalue")), s"gene $g pvalue")
      assert(out(g).isNullAt(out(g).fieldIndex("padj")), s"gene $g padj")
    }
    // borderline genes are rejected thanks to filtering (padj ≤ 0.1)...
    (11L to 25L).foreach { g =>
      val padj = out(g).getAs[Double]("padj")
      assert(!out(g).isNullAt(out(g).fieldIndex("padj")) && padj <= 0.1,
        s"gene $g padj=$padj")
    }
    // ...and high-mean nulls keep a non-null, non-significant padj
    assert(out(30L).getAs[Double]("padj") > 0.1)
  }

  // ---- planted-dispersion identity for the PRIOR fit (r7 verdict #5) ----
  // d3b closed the apply stage against frozen checkpoints; this closes the
  // last numerically-unverified FIT stage: the binned gamma-GLM dispersion
  // trend must recover a KNOWN dispersion planted into genuinely
  // NB-distributed synthetic counts (true gamma-Poisson draws, fixed seed),
  // independent of any golden file produced by the code under test.

  /** Marsaglia–Tsang gamma sampler (shape ≥ 1; boosted below 1). */
  private def gammaDraw(rng: java.util.Random, shape: Double, scale: Double): Double =
    if (shape < 1.0)
      gammaDraw(rng, shape + 1.0, scale) * math.pow(rng.nextDouble(), 1.0 / shape)
    else {
      val d = shape - 1.0 / 3.0
      val c = 1.0 / math.sqrt(9.0 * d)
      var res = -1.0
      while (res < 0) {
        var x = 0.0; var v = 0.0
        do { x = rng.nextGaussian(); v = 1.0 + c * x } while (v <= 0)
        v = v * v * v
        val u = rng.nextDouble()
        if (u < 1 - 0.0331 * x * x * x * x ||
            math.log(u) < 0.5 * x * x + d * (1 - v + math.log(v)))
          res = d * v * scale
      }
      res
    }

  /** Knuth Poisson, chunked so exp(−λ) never underflows (λ ≤ 500/chunk). */
  private def poissonDraw(rng: java.util.Random, lam: Double): Long =
    if (lam > 500) poissonDraw(rng, 500) + poissonDraw(rng, lam - 500)
    else {
      val l = math.exp(-lam)
      var k = 0L; var p = 1.0
      do { k += 1; p *= rng.nextDouble() } while (p > l)
      k - 1
    }

  /** NB(μ, α) via the gamma–Poisson mixture: λ ~ Gamma(1/α, αμ), X|λ ~ Poisson(λ)
    * — mean μ, variance μ + αμ² by construction. */
  private def nbDraw(rng: java.util.Random, mu: Double, alpha: Double): Double =
    poissonDraw(rng, gammaDraw(rng, 1.0 / alpha, alpha * mu)).toDouble

  test("dispersion prior recovers a planted constant NB dispersion") {
    def fitted(alpha: Double): (graft.functions.DispersionPrior, Seq[Double]) = {
      val rng = new java.util.Random(20260815L)
      val genes = 2000; val nPer = 12
      // μ log-spaced over 1.5 decades so the 1/μ trend term is exercised
      val mus = (0 until genes)
        .map(g => 20.0 * math.pow(10.0, 1.5 * g / (genes - 1.0)))
      val cells = mus.zipWithIndex.flatMap { case (mu, g) =>
        (0 until nPer).map(i =>
          CountCell(g.toLong, i.toLong, nbDraw(rng, mu, alpha), "A", 1.0)) ++
        (0 until nPer).map(i =>
          CountCell(g.toLong, (nPer + i).toLong, nbDraw(rng, mu, alpha), "B", 1.0))
      }
      (DiffExpression.dispersionPrior(cells.toDS(), p = 2), mus)
    }
    Seq(0.1, 0.4).foreach { alpha =>
      val (prior, mus) = fitted(alpha)
      // the fitted trend evaluated at each planted gene's μ must sit near
      // the planted α on average. Tolerance note: the pooled MoM the
      // prior fits carries a ~(n−1)/n small-sample attenuation (0.96 at
      // n = 24), so the ratio is expected slightly BELOW 1 — the band is
      // wide enough for that plus 2000-gene sampling noise, narrow enough
      // to catch a wrong trend slope/intercept or a mis-scaled estimator.
      val ratios = mus.map(mu => (prior.a0 + prior.a1 / mu) / alpha)
      val meanRatio = ratios.sum / ratios.size
      assert(meanRatio > 0.75 && meanRatio < 1.3,
        s"alpha=$alpha meanRatio=$meanRatio prior=$prior")
      // constant planted dispersion → cross-gene residual spread is pure
      // sampling noise, so the prior width must collapse to (or near)
      // DESeq2's 0.25 floor — a wide width here would mean the trend
      // missed and shrinkage is being disabled
      assert(prior.sigmaSq <= 1.0, s"alpha=$alpha sigmaSq=${prior.sigmaSq}")
    }
  }

  test("Wald fit recovers a planted effect size (log2FC, SE, p) at fixed dispersion") {
    // The last rung of the d3/d4 verification ladder: the planted-alpha
    // test above validates the dispersion PRIOR, the closed-form
    // identities validate the scoring algebra — this one validates the
    // fitted COEFFICIENTS against ground truth. NB counts are simulated
    // with known log2FC at fixed dispersion; the full d3 chain (prior
    // fit from the data, then per-gene IRLS Wald) must recover it.
    val rng = new java.util.Random(20260816L)
    val alpha = 0.2; val nPer = 16; val muRef = 100.0
    val planted = Seq(-2.0, -1.0, 0.0, 1.0, 2.0)
    val genesPerFc = 100
    val cells = planted.zipWithIndex.flatMap { case (fc, b) =>
      (0 until genesPerFc).flatMap { i =>
        val g = (b * genesPerFc + i).toLong
        val muB = muRef * math.pow(2.0, fc)
        (0 until nPer).map(s =>
          CountCell(g, s.toLong, nbDraw(rng, muRef, alpha), "A", 1.0)) ++
        (0 until nPer).map(s =>
          CountCell(g, (nPer + s).toLong, nbDraw(rng, muB, alpha), "B", 1.0))
      }
    }.toDS()
    val prior = DiffExpression.dispersionPrior(cells, p = 2)
    val fit = DiffExpression.contrasts(cells, Seq("A", "B"), Seq(("B", "A")), Some(prior))
      .collect().map(r => r.gene -> r).toMap
    assert(fit.size >= planted.size * genesPerFc - 5,
      s"fit dropped too many genes: ${fit.size}")
    planted.zipWithIndex.foreach { case (fc, b) =>
      val fits = (0 until genesPerFc)
        .flatMap(i => fit.get((b * genesPerFc + i).toLong))
      // per-gene sd(log2fc) ~ sqrt(2/n*(1/mu+alpha))/ln2 ~ 0.23, so the
      // 100-gene mean has se ~ 0.023 — +-0.12 catches a biased fit
      // (e.g. a dropped size-factor offset or a sign flip) while riding
      // out sampling noise
      val meanFc = fits.map(_.log2fc).sum / fits.size
      assert(math.abs(meanFc - fc) < 0.12,
        s"planted $fc recovered $meanFc over ${fits.size} genes")
      if (fc == 0.0) {
        // null genes: reported SE must match the empirical spread of the
        // estimates (calibration, not just positivity)
        val sd = math.sqrt(fits.map(f => f.log2fc * f.log2fc).sum / fits.size)
        val meanSe = fits.map(_.lfc_se).sum / fits.size
        assert(meanSe > 0.5 * sd && meanSe < 2.0 * sd,
          s"SE $meanSe vs empirical sd $sd")
        // ... and the test must be near-level: ~5% of nulls below 0.05
        val rej = fits.count(f => f.pvalue < 0.05)
        assert(rej <= genesPerFc / 5, s"null rejections $rej/100")
      }
      if (math.abs(fc) == 2.0) {
        // |log2FC|=2 at mu=100, n=16/group is a ~8-sigma effect: the
        // overwhelming majority must be decisively detected
        val strong = fits.count(f => f.pvalue < 1e-6)
        assert(strong >= (fits.size * 9) / 10,
          s"only $strong/${fits.size} planted |fc|=2 genes at p<1e-6")
      }
    }
  }

  test("d3b Wald apply: frozen-dispersion scoring invariants on sf0.001") {
    val out = graft.queries.QueryCatalog.byName("d3b_wald_apply")
      .run(spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty, "apply stage must score the frozen genes")
    out.foreach { r =>
      val (fc, se, st, p) = (r.getAs[Double]("log2fc"), r.getAs[Double]("lfc_se"),
        r.getAs[Double]("stat"), r.getAs[Double]("pvalue"))
      assert(se > 0, s"se must be positive: $r")
      assert(p >= 0 && p <= 1, s"pvalue out of range: $r")
      assert(r.getAs[Double]("base_mean") > 0, s"base_mean: $r")
      // z = lfc/se with the ln2 factors cancelling — identity up to the
      // 6-dp rounding applied independently to all three columns
      assert(math.abs(st - fc / se) <= 2e-5 * math.max(1.0, math.abs(st)),
        s"stat != log2fc/lfc_se: $r")
    }
    // the frozen checkpoint was FIT on this very dir, so its gene set is
    // exactly the fit's surviving genes — every one must be scored
    assert(out.length == graft.queries.FrozenModels.nbGenes.length)
  }
}
