package graft

import org.apache.spark.sql.functions._
import graft.api.Tcga

/** End-to-end pipeline tests over the TCGA-shaped fixtures (SURVEY.md §5.4):
  * the three reference pipelines (§3.1-§3.3) through the public API. */
class TcgaApiSpec extends SparkSpec {

  private lazy val t = TcgaFixtures.tables(spark)

  test("§3.1 DE: planted 4x genes are called up with small padj; flat genes ns") {
    val res = Tcga.differentialExpression(t, "short_letter_code", Seq("NT", "TP"))
      .collect()
    assert(res.nonEmpty)
    val planted = res.filter(_.getAs[String]("gene_name").startsWith("DEG"))
    assert(planted.nonEmpty)
    planted.foreach { r =>
      assert(r.getAs[Double]("log2fc") > 1.0,
        s"${r.getAs[String]("gene_name")} log2fc=${r.getAs[Double]("log2fc")}")
      assert(r.getAs[Double]("padj") < 0.01)
      assert(r.getAs[String]("p_signif") != "ns")
    }
    val flat = res.filter(r => r.getAs[String]("gene_name").startsWith("GENE"))
    // gene-wise Cox-Reid MLE + empirical-Bayes shrinkage toward the trend
    // (DESeq2-style) control the Wald anti-conservatism; the remaining
    // deviation (trend = binned OLS over MoM estimates, not a gamma-GLM
    // over the CR-MLEs) keeps this a bound, not zero (SURVEY.md §7.5).
    val fpr = flat.count(_.getAs[Double]("padj") < 0.05).toDouble / flat.length
    assert(fpr <= 0.07, s"false positive rate $fpr")
  }

  test("§3.1 DE: contrast direction follows level order (reference = first)") {
    val fwd = Tcga.differentialExpression(t, "short_letter_code", Seq("NT", "TP"),
      contrasts = Seq(("TP", "NT")), goi = Seq("DEG10"))
      .collect().head.getAs[Double]("log2fc")
    val rev = Tcga.differentialExpression(t, "short_letter_code", Seq("NT", "TP"),
      contrasts = Seq(("NT", "TP")), goi = Seq("DEG10"))
      .collect().head.getAs[Double]("log2fc")
    assert(fwd > 1.0 && rev < -1.0 && math.abs(fwd + rev) < 1e-9)
  }

  test("§3.2 multi-level: stage collapse + factor guard + 10-pair fan-out") {
    val t2 = t.copy(samples = t.samples
      .withColumn("stage_c", Tcga.collapseStage(col("ajcc_pathologic_stage"))))
    val levels = Seq("Stage_I", "Stage_II", "Stage_III", "Stage_IV")
    val pairs = for { i <- levels.indices; j <- levels.indices if i < j }
      yield (levels(j), levels(i))
    val res = Tcga.differentialExpression(t2, "stage_c", levels, contrasts = pairs)
    val found = res.select("contrast").distinct().collect().map(_.getString(0)).toSet
    assert(found.size == 6) // 4 levels -> 6 pairs
    // collapse really merged IIA/IIB -> II and NULL stages dropped
    val merged = t2.samples.select("stage_c").distinct().collect().map(_.getString(0))
    assert(merged.contains("Stage_II") && !merged.contains("Stage_IIA"))
  }

  test("wilcoxon pipeline agrees with NB-GLM on planted genes") {
    val wil = Tcga.wilcoxonByGene(t, "short_letter_code", ("NT", "TP"))
      .collect()
    val planted = wil.filter(_.getAs[String]("gene_name").startsWith("DEG"))
    assert(planted.nonEmpty)
    planted.foreach(r => assert(r.getAs[Double]("padj") < 0.05))
  }

  test("wilcoxon stat table joins DE banding by gene (not positionally)") {
    val joined = Tcga.wilcoxonWithDeBanding(t, "short_letter_code", ("NT", "TP"),
      goi = Seq("DEG10", "GENE1"))
    val rows = joined.collect()
    assert(rows.length == 2)
    val deg = rows.find(_.getAs[String]("gene_name") == "DEG10").get
    assert(deg.getAs[String]("de_p_signif") != "ns")
    assert(deg.getAs[Double]("log2fc") > 1.0)
    assert(!deg.isNullAt(deg.fieldIndex("wilcoxon_p_signif")))
  }

  test("§3.3 KM: curves well-formed, log-rank per gene, strat sizes balanced") {
    val (curves, tests) = Tcga.kmByMedianExpression(t, Seq("DEG10", "GENE1"))
    val c = curves.collect()
    assert(c.nonEmpty)
    c.groupBy(r => (r.getAs[String]("gene_name"), r.getAs[String]("strat")))
      .foreach { case (_, rows) =>
        val s = rows.sortBy(_.getAs[Double]("time")).map(_.getAs[Double]("survival"))
        assert(s.forall(x => x >= 0 && x <= 1))
        s.sliding(2).foreach { case Array(a, b) => assert(b <= a + 1e-12); case _ => }
      }
    val tst = tests.collect()
    assert(tst.length == 2)
    tst.foreach { r =>
      val p = r.getAs[Double]("pvalue")
      assert(p >= 0 && p <= 1)
    }
  }

  test("§3.3 KM: curves and tests share one cached subject frame, same results") {
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import graft.functions.Survival
    val goi = Seq("DEG10", "GENE1", "GENE2")
    spark.catalog.clearCache()
    val (curves, tests) = Tcga.kmByMedianExpression(t, goi)
    val gotCurves = curves.collect().toSet
    val gotTests = tests.collect().toSet
    // the second sink reads the frame the first one cached
    assert(PlanNodes(tests.queryExecution.executedPlan)
        .exists(_.isInstanceOf[InMemoryTableScanExec]),
      "the tests action recomputed the subject frame")
    // reference: the same functions over a fresh, uncached copy of the
    // KM tail's subject frame
    spark.catalog.clearCache()
    def strata = Tcga.medianStrata(
      Tcga.namedVst(t).filter(col("gene_name").isin(goi: _*)),
      Tcga.survivalSubjects(t.samples), Nil)
      .withColumn("gs", concat_ws("|", col("gk"), col("strat")))
    val refCurves = Survival.kmCurve(strata, "gs", "time", "event")
      .withColumn("gene_name", split(col("gs"), "\\|").getItem(0))
      .withColumn("strat", split(col("gs"), "\\|").getItem(1))
      .drop("gs")
    val refTests = Survival.logRankBy(strata, "gene_name", "strat", "time", "event")
    assert(curves.columns.toSeq === refCurves.columns.toSeq)
    assert(gotCurves === refCurves.collect().toSet)
    assert(tests.columns.toSeq === refTests.columns.toSeq)
    assert(gotTests === refTests.collect().toSet)
    assert(gotTests.size === goi.size)
  }

  test("drug cohort explodes nested treatments and semi-joins samples") {
    val tamox = Tcga.drugCohort(t.samples, Seq("Tamoxifen"))
    val all = t.samples.count()
    val n = tamox.count()
    assert(n > 0 && n < all)
    // every retained sample really has a matching nested row
    val check = tamox.select(explode(col("treatments")).as("t"))
      .filter(col("t.therapeutic_agents") === "Tamoxifen").count()
    assert(check > 0)
    // class can also match on treatment_type (B5's OR)
    val chemo = Tcga.drugCohort(t.samples, Seq("Chemotherapy"))
    assert(chemo.count() > 0)
  }

  test("A7/F12: boxplot frame shape and the all-ns fallback branch") {
    val bp = Tcga.boxplotFrame(t, "short_letter_code", Seq("NT", "TP"), Seq("DEG10"))
    assert(bp.columns.toSeq == Seq("gene", "cond", "counts"))
    assert(bp.select("cond").distinct().count() == 2)
    val de = Tcga.differentialExpression(t, "short_letter_code", Seq("NT", "TP"))
    assert(!Tcga.allNonSignificant(de)) // planted genes are significant
    assert(Tcga.allNonSignificant(de.filter(col("p_signif") === "ns")))
  }

  test("N2: per-drug-class KM fan-out runs as one plan, cohorts differ") {
    val (curves, tests) = Tcga.drugKmFanOut(t,
      Seq("Tamoxifen", "Chemotherapy"), Seq("DEG10", "GENE1"))
    val c = curves.collect()
    assert(c.nonEmpty)
    val classes = c.map(_.getAs[String]("drug_class")).toSet
    assert(classes == Set("Tamoxifen", "Chemotherapy"))
    // survival stays a valid curve inside every (class, gene, strat) cohort
    c.groupBy(r => (r.getAs[String]("drug_class"), r.getAs[String]("gene_name"),
        r.getAs[String]("strat")))
      .foreach { case (_, rows) =>
        val s = rows.sortBy(_.getAs[Double]("time")).map(_.getAs[Double]("survival"))
        s.sliding(2).foreach { case Array(a, b) => assert(b <= a + 1e-12); case _ => }
      }
    val tst = tests.collect()
    assert(tst.map(_.getAs[String]("drug_class")).toSet == classes)
    // the two cohorts are genuinely different sample sets
    val nTam = Tcga.drugCohort(t.samples, Seq("Tamoxifen")).count()
    val nChe = Tcga.drugCohort(t.samples, Seq("Chemotherapy")).count()
    assert(nTam != nChe)
  }

  test("KM keys containing the '|' separator fail with an error naming the value") {
    def failure(body: => Any): String = {
      val e = intercept[Exception](body)
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString("\n")
    }
    val t2 = t.copy(genes = t.genes.withColumn("gene_name",
      when(col("gene_name") === "DEG10", "DEG|10").otherwise(col("gene_name"))))
    val (curves, _) = Tcga.kmByMedianExpression(t2, Seq("DEG|10", "GENE1"))
    val msg = failure(curves.collect())
    assert(msg.contains("gene_name") && msg.contains("DEG|10"), msg)
    val t3 = t.copy(samples = t.samples.withColumn("treatments",
      transform(col("treatments"), tr => tr.withField("therapeutic_agents",
        when(tr.getField("therapeutic_agents") === "Tamoxifen", "Tamox|ifen")
          .otherwise(tr.getField("therapeutic_agents"))))))
    val (_, tests) = Tcga.drugKmFanOut(t3, Seq("Tamox|ifen"), Seq("DEG10"))
    val msg2 = failure(tests.collect())
    assert(msg2.contains("drug_class") && msg2.contains("Tamox|ifen"), msg2)
  }

  test("differentialExpression rejects degenerate levels and contrasts before any job runs") {
    val tables = t
    val sc = spark.sparkContext
    def rejected(levels: Seq[String], contrasts: Seq[(String, String)] = Nil): String =
      intercept[IllegalArgumentException](Tcga.differentialExpression(
        tables, "short_letter_code", levels, contrasts)).getMessage
    sc.setJobGroup("graft_de_arguments", "degenerate DE arguments")
    try {
      val one = rejected(Seq("NT"))
      assert(one.contains("[NT]"), one)
      val repeated = rejected(Seq("NT", "TP", "NT"))
      assert(repeated.contains("level NT"), repeated)
      val unknown = rejected(Seq("NT", "TP"), Seq("TP" -> "XX"))
      assert(unknown.contains("TP_vs_XX names XX"), unknown)
      val self = rejected(Seq("NT", "TP"), Seq("TP" -> "TP"))
      assert(self.contains("TP_vs_TP"), self)
    } finally sc.clearJobGroup()
    assert(sc.statusTracker.getJobIdsForGroup("graft_de_arguments").isEmpty,
      "a Spark job ran before the arguments were checked")
  }

  test("presentation edge: wide pivot and ragged export shapes") {
    val wide = Tcga.wideCounts(t, Seq("DEG10", "GENE1", "GENE2"))
    assert(wide.columns.toSeq == Seq("barcode", "DEG10", "GENE1", "GENE2"))
    assert(wide.count() == TcgaFixtures.nSamples)
    val ragged = Tcga.raggedExport(t, "short_letter_code",
      Seq("DEG10", "GENE1"), Seq("NT", "TP"))
    assert(ragged.columns.toSeq ==
      Seq("rn", "DEG10_NT", "DEG10_TP", "GENE1_NT", "GENE1_TP"))
    // ragged: per-column row counts NULL-pad to the longest column
    assert(ragged.count() == TcgaFixtures.nSamples / 2)
  }

  test("D1 drops all-zero and below-minTotal genes, and keeps all-zero ones at minTotal = 0") {
    import spark.implicits._
    val barcodes = t.samples.select("barcode").as[String].collect().sorted
    // ZERO: 0 everywhere; LOW: total 9; EDGE: total 10 (kept at the default)
    val extra = barcodes.toSeq.zipWithIndex.flatMap { case (b, i) =>
      Seq(("ZERO", b, 0L), ("LOW", b, if (i == 0) 9L else 0L),
        ("EDGE", b, if (i < 2) 5L else 0L))
    }.toDF("gene_id", "barcode", "count")
    val expression = t.expression.unionByName(extra)
    def genes(df: org.apache.spark.sql.DataFrame) =
      df.select("gene_id").distinct().as[String].collect().toSet
    val kept = Tcga.prefilterGenes(expression)
    assert(kept.columns.toSeq == expression.columns.toSeq)
    val keptGenes = genes(kept)
    assert(keptGenes.contains("EDGE") && !keptGenes.contains("LOW") &&
      !keptGenes.contains("ZERO"))
    val all = genes(Tcga.prefilterGenes(expression, minTotal = 0))
    assert(all.contains("ZERO") && all.contains("LOW") && all == genes(expression))
    // the rows a kept gene keeps are all of its rows
    assert(kept.filter(col("gene_id") === "EDGE").count() == barcodes.length)
    // the same genes and counts reach DE, and no size factor is NaN
    val t2 = t.copy(expression = expression, genes = t.genes.unionByName(
      Seq("ZERO", "LOW", "EDGE").map(g => (g, g)).toDF("gene_id", "gene_name")))
    val sf = graft.functions.Normalization.sizeFactors(Tcga.prefilterGenes(expression, 0),
      "gene_id", "barcode", "count").select("size_factor").as[Double].collect()
    assert(sf.length == barcodes.length && sf.forall(x => !x.isNaN && x > 0))
    val de = Tcga.differentialExpression(t2, "short_letter_code", Seq("NT", "TP"))
      .select("gene_name").as[String].collect().toSet
    assert(de.contains("EDGE") && !de.contains("LOW") && !de.contains("ZERO"))
  }

  test("drugKmFanOut: a class matching no treatment adds no rows and moves no other class's") {
    val goi = Seq("DEG10", "GENE1")
    val (curves, tests) = Tcga.drugKmFanOut(t, Seq("Tamoxifen", "NoSuchDrug"), goi)
    val (alone, aloneTests) = Tcga.drugKmFanOut(t, Seq("Tamoxifen"), goi)
    val c = curves.collect()
    val tst = tests.collect()
    assert(c.nonEmpty && tst.nonEmpty)
    assert(c.map(_.getAs[String]("drug_class")).toSet == Set("Tamoxifen"))
    assert(tst.map(_.getAs[String]("drug_class")).toSet == Set("Tamoxifen"))
    assert(c.toSet == alone.collect().toSet)
    assert(tst.toSet == aloneTests.collect().toSet)
  }

  test("kmByMedianExpression with every subject alive gives empty curves and tests") {
    val t0 = t.copy(samples = t.samples.withColumn("vital_status", lit("Alive")))
    val (curves, tests) = Tcga.kmByMedianExpression(t0, Seq("DEG10", "GENE1"))
    // each curve stays at survival 1.0, and a curve row is a death time:
    // there is none
    assert(curves.columns.toSeq == Seq("time", "n_risk", "n_event", "n_censor",
      "survival", "se", "ci_lo", "ci_hi", "gene_name", "strat"))
    assert(curves.count() == 0)
    assert(tests.columns.toSeq == Seq("gene_name", "observed_a", "expected_a", "chi2",
      "pvalue"))
    assert(tests.count() == 0)
  }

  test("an empty expression table gives empty DE and KM frames, with their columns") {
    // a runtime-empty scan (the optimizer cannot fold it away), so the
    // prior, the fit and the KM windows all run over no rows
    val t0 = t.copy(expression = t.expression.filter(col("count") < 0))
    val de = Tcga.differentialExpression(t0, "short_letter_code", Seq("NT", "TP"))
    assert(de.columns.toSeq == Seq("gene_id", "gene_name", "contrast", "log2fc",
      "lfc_se", "stat", "pvalue", "padj", "p_signif"))
    assert(de.count() == 0)
    val (curves, tests) = Tcga.kmByMedianExpression(t0, Seq("DEG10", "GENE1"))
    assert(curves.columns.toSeq == Seq("time", "n_risk", "n_event", "n_censor",
      "survival", "se", "ci_lo", "ci_hi", "gene_name", "strat"))
    assert(tests.columns.toSeq == Seq("gene_name", "observed_a", "expected_a", "chi2",
      "pvalue"))
    assert(curves.count() == 0 && tests.count() == 0)
  }

  private def noNaN(df: org.apache.spark.sql.DataFrame): Boolean =
    df.collect().forall(r => (0 until r.length).forall(i => r.get(i) match {
      case d: Double => !d.isNaN
      case _ => true
    }))

  test("a samples side that leaves the cohort empty gives empty DE and KM frames") {
    // a runtime-empty filter (the optimizer cannot fold it away): the
    // expression side is intact, no sample of it has a condition or a time
    val t0 = t.copy(samples = t.samples.filter(col("barcode").startsWith("none")))
    val de = Tcga.differentialExpression(t0, "short_letter_code", Seq("NT", "TP"))
    assert(de.columns.toSeq == Seq("gene_id", "gene_name", "contrast", "log2fc",
      "lfc_se", "stat", "pvalue", "padj", "p_signif"))
    assert(de.count() == 0)
    val (curves, tests) = Tcga.kmByMedianExpression(t0, Seq("DEG10", "GENE1"))
    assert(curves.columns.toSeq == Seq("time", "n_risk", "n_event", "n_censor",
      "survival", "se", "ci_lo", "ci_hi", "gene_name", "strat"))
    assert(tests.columns.toSeq == Seq("gene_name", "observed_a", "expected_a", "chi2",
      "pvalue"))
    assert(curves.count() == 0 && tests.count() == 0)
  }

  test("one sample per level: an empty DE frame, and KM curves and tests with no NaN") {
    // one dead subject per condition: two samples for the two coefficients
    // of NT vs TP leave no residual degree of freedom for a dispersion
    val dead = t.samples.filter(col("vital_status") === "Dead")
      .select("barcode", "short_letter_code").collect()
      .groupBy(_.getString(1)).values.map(_.map(_.getString(0)).min).toSeq
    assert(dead.size == 2)
    val t1 = t.copy(samples = t.samples.filter(col("barcode").isin(dead: _*)))
    val de = Tcga.differentialExpression(t1, "short_letter_code", Seq("NT", "TP"))
    assert(de.count() == 0)
    val goi = (0 until TcgaFixtures.nGenes by 10).map(g => s"DEG$g")
    val (curves, tests) = Tcga.kmByMedianExpression(t1, goi)
    // each gene's two subjects: one or two curves, each of one subject
    // per step, and a test only where they fall in different halves
    assert(curves.count() > 0 && noNaN(curves))
    assert(curves.filter(col("n_risk") > 2).count() == 0)
    assert(noNaN(tests))
    val split = curves.groupBy("gene_name").agg(countDistinct("strat").as("k"))
      .filter(col("k") === 2).select("gene_name").collect().map(_.getString(0)).toSet
    assert(tests.select("gene_name").collect().map(_.getString(0)).toSet == split)
  }
}
