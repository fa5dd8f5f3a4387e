package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{CountCell, DiffExpression, Normalization, Stats, Survival}

/** The star-schema handles of SURVEY.md §1.4 — the rebuild's
  * `SummarizedExperiment`:
  * {{{
  * expression(gene_id, barcode, count)        // assay, long form
  * genes(gene_id, gene_name)                  // rowRanges
  * samples(barcode, submitter_id, vital_status, short_letter_code,
  *         ajcc_pathologic_stage, paper_brca_subtype_pam50,
  *         days_to_death, paper_days_to_last_followup,
  *         treatments ARRAY<STRUCT<submitter_id, treatment_type,
  *                                 therapeutic_agents>>)  // colData
  * }}}
  */
final case class TcgaTables(expression: DataFrame, genes: DataFrame, samples: DataFrame)

/** Public library surface replacing the six reference scripts (SURVEY.md
  * §3): each method is one reference pipeline as a single declarative
  * Spark plan over the long star schema — no transposes, no positional
  * renames, no per-gene driver loops.
  */
object Tcga {

  /** F6 — factor guard: values outside the ordered level list become NULL
    * (BRCA_path_stage_DESeq.R:60-62 semantics). */
  def factor(c: Column, levels: Seq[String]): Column =
    when(c.isin(levels.map(_.asInstanceOf[Any]): _*), c)

  /** F4 — AJCC substage collapse: "Stage IIA" → "Stage_II"
    * (BRCA_path_stage_DESeq.R:43-44). */
  def collapseStage(c: Column): Column =
    regexp_replace(regexp_replace(c, "A|B|C", ""), " ", "_")

  /** D1 — drop genes with total count < `minTotal`
    * (`rowSums(counts) >= 10`, vital_status_DESeq.R:47-48). Built on the
    * size factors' per-gene pass (`Normalization.withGeomean`), so a
    * caller that goes on to normalize reads one gene aggregate; a
    * `minTotal ≤ 0` keeps all-zero genes. */
  def prefilterGenes(expression: DataFrame, minTotal: Long = 10): DataFrame =
    kept(expression, minTotal).drop("geomean")

  /** D1's kept fact with each row's gene `geomean`: what the size factors
    * read, so they need no gene aggregate of their own. */
  private def kept(expression: DataFrame, minTotal: Long = 10): DataFrame =
    Normalization.withGeomean(expression, "gene_id", "count", Some(minTotal))

  /** D2+D6 — VST-normalized long counts `(gene_id, barcode, vst)`
    * (vst(), vital_status_DESeq.R:100-101): the parametric dispersion-
    * trend closed form (Normalization.vstTrend), DESeq2's own transform
    * shape. */
  def normalizedCounts(expression: DataFrame): DataFrame =
    Normalization.vstTrend(expression, "gene_id", "barcode", "count")
      .select(col("gene_id"), col("barcode"), col("vst"))

  /** §3.1/§3.2 — NB-GLM differential expression.
    *
    * @param conditionCol samples column holding the factor
    * @param levels       ordered levels; first = reference (fixes the
    *                     contrast direction, §1.1(d))
    * @param contrasts    extra pairwise contrasts (D4); empty → the default
    *                     last-vs-first `results()` contrast
    * @param goi          genes of interest by `gene_name` (B4); empty → all
    * @return long results `(gene_id, gene_name, contrast, log2fc,
    *         lfc_se, stat, pvalue, padj, p_signif)`. The NB-GLM cells are
    *         cached by `DiffExpression.deseq` and released once the
    *         returned frame has fed an action. An `expression` with no
    *         rows (or no gene passing D1), no sample of `levels`, or one
    *         sample per level (no residual degree of freedom for a
    *         dispersion) gives an empty frame with these columns.
    * @throws IllegalArgumentException before any job runs, naming the
    *         value, when `levels` has fewer than two distinct levels or
    *         repeats one, or a contrast names a level outside `levels` or
    *         the same level on both sides: the fit has no such
    *         coefficient, and the result would be silently empty
    */
  def differentialExpression(t: TcgaTables, conditionCol: String,
      levels: Seq[String], contrasts: Seq[(String, String)] = Nil,
      goi: Seq[String] = Nil): DataFrame = {
    require(levels.distinct.size >= 2, "differentialExpression needs at least two " +
      s"levels, got ${levels.mkString("[", ", ", "]")}")
    val repeated = levels.diff(levels.distinct)
    require(repeated.isEmpty,
      s"differentialExpression: level ${repeated.headOption.orNull} appears more than once in levels")
    contrasts.foreach { case (a, b) =>
      val unknown = Seq(a, b).filterNot(levels.contains)
      require(unknown.isEmpty, s"differentialExpression: contrast ${a}_vs_$b names " +
        s"${unknown.mkString(" and ")}, not in levels ${levels.mkString("[", ", ", "]")}")
      require(a != b, s"differentialExpression: contrast ${a}_vs_$b compares level $a with itself")
    }
    val spark = t.expression.sparkSession
    import spark.implicits._
    val cond = conditions(t, conditionCol, levels)
    val expr0 = kept(t.expression)
    val sf = Normalization.sizeFactorsOf(expr0, "barcode", "count")
    // surrogate ids: the typed NB fit groups by a long key. A 60-bit
    // md5-prefix hash is deterministic and collision-free w.h.p. (~60k
    // genes vs 2^60) — unlike dense_rank over a no-partition Window it
    // never funnels the dim through one task. One broadcast of the gene
    // dim gives the cells their id and the results their names.
    val genes = t.genes.select(col("gene_id"), col("gene_name"),
      graft.operators.Dedup.hash60(col("gene_id")).as("gid"))
    val cells = expr0
      .join(broadcast(sf), "barcode")
      .join(cond, "barcode")
      .join(broadcast(genes), "gene_id")
      .select(col("gid").as("gene"),
        abs(hash(col("barcode"))).cast("long").as("smp"),
        col("count").cast("double").as("cnt"), col("cond"),
        col("size_factor").as("sf")).as[CountCell]
    val pairs = if (contrasts.nonEmpty) contrasts else Seq((levels.last, levels.head))
    val de = DiffExpression.deseq(cells, levels, pairs).toDF()
    val named = de.join(broadcast(genes), de("gene") === genes("gid"))
    // goi restriction BEFORE the BH adjustment: `results(data[keep,])`
    // (vital_status_DESeq.R:88-89) computes padj over the subset only
    val selected = if (goi.isEmpty) named else named.filter(inGoi(goi))
    Stats.bhAdjust(selected, "pvalue", "gene_id", partitionCols = Seq("contrast"))
      .select(col("gene_id"), col("gene_name"), col("contrast"),
        col("log2fc"), col("lfc_se"), col("stat"), col("pvalue"),
        col("padj"), Stats.signifBand(col("padj")).as("p_signif"))
  }

  /** D7 — per-gene two-group Wilcoxon on VST counts
    * (`compare_means(counts ~ cond, group.by = gene)`,
    * vital_status_DESeq.R:130), plus F5 banding on BH-adjusted p. */
  def wilcoxonByGene(t: TcgaTables, conditionCol: String,
      levels: (String, String), goi: Seq[String] = Nil): DataFrame = {
    val vst = namedVst(t)
    val selected = if (goi.isEmpty) vst else vst.filter(inGoi(goi))
    val cond = conditions(t, conditionCol, Seq(levels._1, levels._2))
    val long = selected.join(cond, "barcode")
      .select(col("gene_name"), col("cond"), col("vst"))
    val wil = Stats.wilcoxon(long, "gene_name", "cond", "vst", levels._1, levels._2)
    Stats.bhAdjust(wil, "pvalue", "gene_name")
      .withColumn("p_signif", Stats.signifBand(col("padj")))
  }

  /** §3.1's stat-table assembly: Wilcoxon per gene annotated with the
    * NB-GLM significance band — the reference copies `res$p.signif` onto
    * the Wilcoxon rows POSITIONALLY after parallel sorts
    * (vital_status_DESeq.R:132-133); here it is an explicit join on
    * gene_name (SURVEY.md G1 note). */
  def wilcoxonWithDeBanding(t: TcgaTables, conditionCol: String,
      levels: (String, String), goi: Seq[String] = Nil): DataFrame = {
    val wil = wilcoxonByGene(t, conditionCol, levels, goi)
      .withColumnRenamed("padj", "wilcoxon_padj")
      .withColumnRenamed("p_signif", "wilcoxon_p_signif")
    val de = differentialExpression(t, conditionCol, Seq(levels._1, levels._2),
        goi = goi)
      .select(col("gene_name"), col("log2fc"), col("padj").as("de_padj"),
        col("p_signif").as("de_p_signif"))
    wil.join(de, Seq("gene_name"), "left")
  }

  /** H3 — presentation-edge wide counts (samples × genes), the only place
    * the reference's transpose survives (`t(gene_count)`,
    * vital_status_DESeq.R:106). Explicit pivot values: no distinct-scan job. */
  def wideCounts(t: TcgaTables, goi: Seq[String]): DataFrame = {
    val vst = normalizedCounts(t.expression)
      .join(broadcast(t.genes), "gene_id")
      .filter(inGoi(goi))
    vst.groupBy("barcode").pivot("gene_name", goi).agg(first(col("vst")))
  }

  /** H5 — ragged `cbind.fill` export: one column per (gene, group), rows
    * row_number-keyed, NULL-padded (vital_status_DESeq.R:147-168). */
  def raggedExport(t: TcgaTables, conditionCol: String, goi: Seq[String],
      groups: Seq[String]): DataFrame = {
    val vst = normalizedCounts(t.expression)
      .join(broadcast(t.genes), "gene_id")
      .filter(inGoi(goi))
      .join(t.samples.select(col("barcode"),
        factor(col(conditionCol), groups).as("grp")), "barcode")
      .filter(col("grp").isNotNull)
      .withColumn("colkey", concat_ws("_", col("gene_name"), col("grp")))
    val keys = for { g <- goi; c <- groups } yield s"${g}_$c"
    val w = Window.partitionBy(col("colkey"))
      .orderBy(col("vst"), col("barcode"))
    vst.withColumn("rn", row_number().over(w).cast("long"))
      .groupBy("rn").pivot("colkey", keys).agg(first(col("vst")))
  }

  /** §3.3 — KM survival stratified by median expression: per gene of
    * interest, samples split LOW/HIGH at the median VST (E1 ntile; VST
    * normalized over all samples), curves via D10, log-rank via D11 — all
    * genes in one plan, through the KM tail shared with [[drugKmFanOut]]
    * ([[kmTail]]: one persisted subject frame feeds both outputs,
    * released once both have fed a completed action).
    *
    * @return (curves, tests): curves keyed by (gene_name, strat); tests one
    *         row per gene_name (the leading column) with chi2/pvalue. An
    *         `expression` or a cohort with no rows gives two empty frames
    *         with these columns. So does a cohort where every subject is
    *         alive: with no event each curve stays at survival 1.0, and a
    *         curve row is a death time, so there is none; and `logRankBy`
    *         gives no test for a gene without an event, nor for one whose
    *         subjects all fall in one half of the median split (which
    *         runs over every expression sample).
    */
  def kmByMedianExpression(t: TcgaTables, goi: Seq[String]): (DataFrame, DataFrame) = {
    val (curves, tests) =
      kmTail(namedVst(t).filter(inGoi(goi)), survivalSubjects(t.samples), Nil)
    (curves, tests.select("gene_name", "observed_a", "expected_a", "chi2", "pvalue"))
  }

  /** H4 — boxplot-ready long frame `(gene, cond, counts)` (the melt at
    * vital_status_DESeq.R:118-126 feeding ggplot, A7): the engine's
    * deliverable for the plot sink. */
  def boxplotFrame(t: TcgaTables, conditionCol: String, levels: Seq[String],
      goi: Seq[String]): DataFrame =
    namedVst(t)
      .filter(inGoi(goi))
      .join(conditions(t, conditionCol, levels), "barcode")
      .select(col("gene_name").as("gene"), col("cond"), col("vst").as("counts"))

  /** F12 — the all-ns plot-fallback branch (BRCA_path_stage_DESeq.R:182-201):
    * driver-side control flow on one collected scalar, never a fact-path
    * collect. */
  def allNonSignificant(deResults: DataFrame): Boolean =
    deResults.filter(col("p_signif").isNotNull && col("p_signif") =!= "ns")
      .limit(1).count() == 0L

  /** N2 — the per-drug-class KM fan-out (drug_km_median_exp.R:38-130's
    * outer loop) as ONE plan: samples are tagged with every drug class
    * they match ([[classPatients]], so a patient on two classes
    * contributes to both cohorts), normalized per cohort, then split at
    * the median inside each (drug_class, gene) cohort through the KM tail
    * shared with [[kmByMedianExpression]] ([[kmTail]], with `drug_class`
    * as the cohort key: one persisted subject frame, released once both
    * outputs have fed a completed action).
    *
    * Per-cohort normalization, as the reference does (vst on the SUBSET,
    * drug_km_median_exp.R:61-67): expression is replicated per matching
    * class, and D1 and the size-factor geomeans come from one per-(class,
    * gene) pass (`Normalization.withGeomean` keyed by `cg` =
    * `class|gene`), the size factors are keyed by (class, sample). The
    * dispersion trend pools across cohorts (documented deviation: more
    * stable for small cohorts; per-cohort sf is the load-bearing
    * normalization).
    *
    * @return (curves, tests): curves keyed by (drug_class, gene_name,
    *         strat); tests one row per (drug_class, gene_name), the two
    *         trailing columns. A class that matches no treatment has no
    *         cohort, so it gives no rows, and the other classes' curves
    *         and tests are those of a call without it.
    */
  def drugKmFanOut(t: TcgaTables, drugClasses: Seq[String],
      goi: Seq[String]): (DataFrame, DataFrame) = {
    val cohortSamples = t.samples
      .join(classPatients(t.samples, drugClasses),
        substring(col("submitter_id"), 1, 12) === col("patient")) // C4
      .select(col("drug_class"), col("barcode"), col("vital_status"),
        col("days_to_death"), col("paper_days_to_last_followup"))
    val subjects = survivalSubjects(cohortSamples, "drug_class")
    // every cell's (class, sample) is one subject, so the tail's median
    // split sees exactly the cohort's subjects
    val cells = t.expression
      .join(subjects.select(col("drug_class"), col("barcode")), "barcode")
      .withColumn("cg", concat_ws("|", col("drug_class"), col("gene_id")))
      .withColumn("cb", concat_ws("|", col("drug_class"), col("barcode")))
    val kept = Normalization.withGeomean(cells, "cg", "count", Some(10))
    val vst = Normalization.vstTrendOf(kept, Normalization.sizeFactorsOf(kept, "cb", "count"),
        "cg", "cb", "count")
      .select(col("drug_class"), col("gene_id"), col("barcode"), col("vst"))
      .join(broadcast(t.genes), "gene_id")
      .filter(inGoi(goi))
    // the subjects are sample-sized: broadcast, the median strata keep
    // their `gk` partitioning for the curves and the tests
    kmTail(vst, broadcast(subjects), Seq("drug_class"))
  }

  /** N1+B5+D12+F3+C4 — drug-cohort restriction (drug_km_median_exp.R:36-56):
    * the samples of every patient that [[classPatients]] matches. */
  def drugCohort(samples: DataFrame, drugClasses: Seq[String]): DataFrame =
    samples.join(classPatients(samples, drugClasses),
      substring(col("submitter_id"), 1, 12) === col("patient"), "left_semi")

  /** N1+B5+D12 — the drug-class match: explode the nested treatments
    * table, match each class on either column, and harvest the distinct
    * `(drug_class, patient)` pairs, `patient` being the first 12
    * characters of the treatment's `submitter_id`. */
  private def classPatients(samples: DataFrame, drugClasses: Seq[String]): DataFrame = {
    val spark = samples.sparkSession
    import spark.implicits._
    samples.select(explode(col("treatments")).as("t"))
      .join(broadcast(drugClasses.toDF("drug_class")),
        col("t.treatment_type") === col("drug_class") ||
          col("t.therapeutic_agents") === col("drug_class")) // B5
      .select(col("drug_class"), substring(col("t.submitter_id"), 1, 12).as("patient"))
      .distinct() // D12
  }

  /** `gene_name` is one of the genes of interest (B4). */
  private def inGoi(goi: Seq[String]): Column =
    col("gene_name").isin(goi.map(_.asInstanceOf[Any]): _*)

  /** F6 — the condition frame `(barcode, cond)`: samples whose
    * `conditionCol` is one of `levels`. */
  private def conditions(t: TcgaTables, conditionCol: String,
      levels: Seq[String]): DataFrame =
    t.samples
      .withColumn("cond", factor(col(conditionCol), levels))
      .filter(col("cond").isNotNull)
      .select(col("barcode"), col("cond"))

  /** D1 → D2+D6 → gene names: the prefiltered VST counts of every sample,
    * `(gene_id, barcode, vst, gene_name)`. Callers apply their own goi
    * filter. */
  private[graft] def namedVst(t: TcgaTables): DataFrame = {
    val expr0 = kept(t.expression)
    Normalization.vstTrendOf(expr0, Normalization.sizeFactorsOf(expr0, "barcode", "count"),
        "gene_id", "barcode", "count")
      .select(col("gene_id"), col("barcode"), col("vst"))
      .join(broadcast(t.genes), "gene_id")
  }

  /** F7–F9 + B7 — survival subjects `(keys…, barcode, time, event)`: time
    * is days to death, or to the last follow-up for a living patient;
    * event is 1 for a death; rows with no time or vital status drop. */
  private[graft] def survivalSubjects(samples: DataFrame, keys: String*): DataFrame = {
    val alive = col("vital_status") === "Alive"
    samples
      .withColumn("time",
        when(alive, col("paper_days_to_last_followup").cast("double"))
          .otherwise(col("days_to_death").cast("double")))
      .filter(col("time").isNotNull && col("vital_status").isNotNull)
      .select((keys :+ "barcode").map(col) :+ col("time") :+
        when(alive, 0L).otherwise(1L).as("event"): _*)
  }

  /** E1 + F11 — the subject frame of the KM tail: `vst` (one row per
    * (cohort `keys`, gene_name, barcode)) split LOW/HIGH at the median
    * of each (keys, gene_name) cohort (ntile(2) over (vst, barcode)),
    * joined to `subjects` on (keys, barcode), with the test key `gk` =
    * `keys|gene_name`. The split's window is partitioned by `gk`, the key
    * the tests group by and the curves' leading stratum column, so neither
    * output needs an exchange of its own over this frame. Not persisted.
    * A key value that contains `|` would split back into the wrong
    * columns, so the plan fails on it with an error naming the value. */
  private[graft] def medianStrata(vst: DataFrame, subjects: DataFrame,
      keys: Seq[String]): DataFrame =
    vst
      .select(col("*"), concat_ws("|", (keys :+ "gene_name").map(k =>
        when(col(k).contains("|"), raise_error(concat(
          lit(s"KM key $k contains '|', the key separator: "), col(k))))
          .otherwise(col(k))): _*).as("gk"))
      .select(col("*"), when(ntile(2).over(Window.partitionBy(col("gk"))
        .orderBy(col("vst"), col("barcode"))) === 1, "LOW").otherwise("HIGH").as("strat"))
      .join(subjects, keys :+ "barcode")

  /** §3.3's KM tail, the one copy behind [[kmByMedianExpression]] (no
    * cohort keys) and [[drugKmFanOut]] (`drug_class`): the
    * [[medianStrata]] subject frame is persisted once (bounded by
    * cohorts × genes of interest × samples), curves run per (gk, strat)
    * and log-rank tests per gk over it, both on the cache's own `gk`
    * partitioning, and only `gk` is split back into the key columns
    * (keys, gene_name), which trail each output, `strat` last on the
    * curves. The cache is released once both outputs have fed a
    * completed action; a caller that consumes only one keeps it until
    * `Caches.clearCaches` (see [[graft.Caches]]). */
  private def kmTail(vst: DataFrame, subjects: DataFrame,
      keys: Seq[String]): (DataFrame, DataFrame) = {
    val strata = medianStrata(vst, subjects, keys).persist()
    val names = keys :+ "gene_name"
    def unkey(df: DataFrame, trailing: String*): DataFrame = {
      val parts = names.zipWithIndex.map { case (n, i) =>
        split(col("gk"), "\\|").getItem(i).as(n) }
      df.select(df.columns.toIndexedSeq.filterNot(("gk" +: trailing).contains)
        .map(col) ++ parts ++ trailing.map(col): _*)
    }
    val curves = unkey(Survival.kmCurve(strata, Seq("gk", "strat"), "time", "event"),
      "strat")
    val tests = unkey(Survival.logRankBy(strata, "gk", "strat", "time", "event"))
    graft.Caches.releaseAfterConsumers(Seq(curves, tests), strata)
    (curves, tests)
  }
}
