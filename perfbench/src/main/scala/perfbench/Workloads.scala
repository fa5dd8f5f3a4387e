package perfbench

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.api.{Corpus, Tcga, TcgaTables}
import graft.sinks.{Plots, Sharding}
import graft.sources.CsvIO

/** One file a sink wrote, and which output check applies to it. */
final case class Output(kind: String, path: String)

/** What an operation sees: the session, the tracer, and where its inputs
  * and outputs live. `layer` and `mat` are pass-throughs unless the run is
  * traced, so the untraced path is exactly the public API call. */
final class Ctx(val spark: SparkSession, val tracer: Tracer,
    val traced: Boolean, val dataDir: String, val outDir: String) {

  def layer[T](layer: String, name: String)(body: => T): T =
    if (traced) tracer.span(layer, name)(body) else body

  def mat(df: DataFrame): DataFrame = if (traced) tracer.mat(df) else df

  def out(name: String): String = new File(outDir, name).getPath

  /** A registered input table. Traced runs scan it inside a `sources` span. */
  def table(name: String): DataFrame =
    if (traced) layer("sources", s"scan $name")(mat(spark.table(name)))
    else spark.table(name)

  def tcga: TcgaTables =
    TcgaTables(table("expression"), table("genes"), table("samples"))

  def paramList(file: String): Seq[String] =
    layer("sources", "CsvIO.readParamList")(
      CsvIO.readParamList(spark, new File(dataDir, file).getPath))

  /** Write `df` as the result CSV `name.csv`. */
  def csv(df: DataFrame, name: String, kind: String): Output = {
    val path = out(s"$name.csv")
    layer("sinks", "CsvIO.writeWideCsv")(CsvIO.writeWideCsv(df, path))
    Output(kind, path)
  }

  /** Read a written result CSV back, typed: `doubles` are cast, every
    * other column stays a string. The schema is given, so no job runs to
    * read the header. */
  def readCsv(out: Output, columns: Seq[String], doubles: Seq[String]): DataFrame = {
    val schema = StructType(columns.map(StructField(_, StringType)))
    val df = spark.read.schema(schema).option("header", "true").csv(out.path)
    df.select(columns.map(c =>
      if (doubles.contains(c)) col(c).cast("double").as(c) else col(c)): _*)
  }

  def png(name: String)(draw: String => Unit): Output = {
    val path = out(s"$name.png")
    layer("sinks", "Plots")(draw(path))
    Output("png", path)
  }
}

final case class Op(name: String, run: Ctx => Seq[Output])

final case class Workload(name: String, tables: Seq[String], ops: Seq[Op])

object Workloads {

  val StageLevels = Seq("Stage_0", "Stage_I", "Stage_II", "Stage_III", "Stage_IV")
  val PackBudget = 4096L
  val EvalSource = "src0"
  val KmGenes = 60

  private val tcgaTables = Seq("expression", "genes", "samples")

  private lazy val deVital = de("de_vital", "vital_status", Seq("Alive", "Dead"), Nil)
  private lazy val deStage = de("de_stage", "stage_c", StageLevels,
    for { i <- StageLevels.indices; j <- StageLevels.indices if i < j }
      yield (StageLevels(j), StageLevels(i)))
  private lazy val wilcoxonOp = Op("wilcoxon", wilcoxon)
  private lazy val kmOp = Op("km_median", kmMedian)

  /** `tcga` is one script from each TCGA half in one process, what the
    * benchmark's time budget affords next to `corpus_pretrain`.
    * `tcga_de` (NB-GLM) and `tcga_vst_km` (VST/KM) are the two halves with
    * two scripts each, to see a change on one path without the other. */
  def apply(name: String): Workload = name match {
    case "tcga" => Workload(name, tcgaTables, Seq(deStage, kmOp))
    case "tcga_de" => Workload(name, tcgaTables, Seq(deVital, deStage))
    case "tcga_vst_km" => Workload(name, tcgaTables, Seq(wilcoxonOp, kmOp))
    case "corpus_pretrain" => Workload(name, Seq("documents"),
      Seq(Op("pretrain", pretrain)))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def withStage(t: TcgaTables): TcgaTables = t.copy(samples = t.samples
    .withColumn("stage_c", Tcga.collapseStage(col("ajcc_pathologic_stage"))))

  private def de(name: String, cond: String, levels: Seq[String],
      pairs: Seq[(String, String)]): Op = Op(name, c => {
    val t = withStage(c.tcga)
    val res =
      if (c.traced) Replica.differentialExpression(c, t, cond, levels, pairs)
      else Tcga.differentialExpression(t, cond, levels, pairs)
    val out = c.csv(res, name, "de")
    val plot = c.png(name)(p => Plots.writeVolcanoPng(
      c.readCsv(out, res.columns, Seq("log2fc", "padj")), "log2fc", "padj", p))
    Seq(out, plot)
  })

  private def wilcoxon(c: Ctx): Seq[Output] = {
    val t = c.tcga
    val res =
      if (c.traced) Replica.wilcoxonByGene(c, t, "short_letter_code", ("NT", "TP"))
      else Tcga.wilcoxonByGene(t, "short_letter_code", ("NT", "TP"))
    Seq(c.csv(res, "wilcoxon", "wilcoxon"))
  }

  /** KM curves and log-rank tests to CSV; one gene's curves drawn from
    * the written CSV. */
  private def kmMedian(c: Ctx): Seq[Output] = {
    val t = c.tcga
    val goi = c.paramList("goi.tsv").take(KmGenes)
    val (curves, tests) =
      if (c.traced) Replica.kmByMedianExpression(c, t, goi)
      else Tcga.kmByMedianExpression(t, goi)
    val cOut = c.csv(curves, "km_curves", "km")
    val tOut = c.csv(tests, "km_tests", "csv")
    val plot = c.png("km")(p => Plots.writeKmPng(
      c.readCsv(cOut, curves.columns, Seq("time", "survival", "ci_lo", "ci_hi"))
        .filter(col("gene_name") === goi.head),
      "strat", p))
    Seq(cOut, tOut, plot)
  }

  private def pretrain(c: Ctx): Seq[Output] = {
    val docs = c.table("documents")
    val evalFlag = col("source") === EvalSource
    val mixed =
      if (c.traced) Replica.pretrainingRun(c, docs, evalFlag)
      else Corpus.pretrainingRun(docs, evalFlag).mixed
    val path = c.out("packed")
    c.layer("sinks", "Sharding.writePacked")(Sharding.writePacked(
      mixed.withColumn("n_tokens",
        size(graft.operators.TextFunctions.tokens(col("text"))).cast("long")),
      path, "n_tokens", PackBudget, Seq(col("doc_id"))))
    Seq(Output("packed", path))
  }
}

/** The traced run's copies of the API compositions: the same public layer
  * calls in the same order as `graft.api.Tcga` / `graft.api.Corpus`, each
  * inside a span of its layer with its output materialized at the span
  * boundary. Sink digests of traced and untraced runs must agree, which
  * keeps these copies honest. */
object Replica {
  import graft.functions.{CountCell, DiffExpression, Normalization, Stats, Survival}
  import graft.operators.{Components, Dedup, Sampling}

  private def condition(c: Ctx, t: TcgaTables, conditionCol: String,
      levels: Seq[String]): DataFrame =
    c.layer("api", "Tcga.factor")(c.mat(t.samples
      .withColumn("cond", Tcga.factor(col(conditionCol), levels))
      .filter(col("cond").isNotNull)
      .select(col("barcode"), col("cond"))))

  private def prefiltered(c: Ctx, t: TcgaTables): DataFrame =
    c.layer("api", "Tcga.prefilterGenes") {
      val kept = c.mat(Tcga.prefilterGenes(t.expression))
      def genes(df: DataFrame) = df.select("gene_id").distinct().count().toDouble
      c.tracer.count("genes_in", genes(t.expression))
      c.tracer.count("genes_kept", genes(kept))
      kept
    }

  private def vst(c: Ctx, expr: DataFrame): DataFrame =
    c.layer("functions.Normalization", "vstTrend")(c.mat(
      Normalization.vstTrend(expr, "gene_id", "barcode", "count")
        .select(col("gene_id"), col("barcode"), col("vst"))))

  def differentialExpression(c: Ctx, t: TcgaTables, conditionCol: String,
      levels: Seq[String], contrasts: Seq[(String, String)]): DataFrame =
    c.layer("api", "Tcga.differentialExpression") {
      val spark = c.spark
      import spark.implicits._
      val cond = condition(c, t, conditionCol, levels)
      val expr0 = prefiltered(c, t)
      val sf = c.layer("functions.Normalization", "sizeFactors")(c.mat(
        Normalization.sizeFactors(expr0, "gene_id", "barcode", "count")))
      val geneIds = t.genes.select(col("gene_id"))
        .withColumn("gid", Dedup.hash60(col("gene_id")))
      val cells = c.layer("api", "cells")(c.mat(expr0
        .join(broadcast(sf), "barcode")
        .join(cond, "barcode")
        .join(broadcast(geneIds), "gene_id")
        .withColumn("bid", abs(hash(col("barcode"))).cast("long"))
        .select(col("gid").as("gene"), col("bid").as("smp"),
          col("count").cast("double").as("cnt"), col("cond"),
          col("size_factor").as("sf")))).as[CountCell]
      val pairs = if (contrasts.nonEmpty) contrasts else Seq((levels.last, levels.head))
      val prior = c.layer("functions.DiffExpression", "dispersionPrior")(
        DiffExpression.dispersionPrior(cells, levels.size))
      val de = c.layer("functions.DiffExpression", "contrasts") {
        val fit = c.mat(DiffExpression.contrasts(cells, levels, pairs, Some(prior)).toDF())
        c.tracer.count("genes_fit", fit.select("gene").distinct().count().toDouble)
        fit
      }
      c.layer("Caches", "releaseBlocks")(graft.Caches.releaseBlocks(cells.toDF()))
      val named = c.layer("api", "gene names")(c.mat(de
        .join(broadcast(geneIds), de("gene") === geneIds("gid"))
        .join(broadcast(t.genes), "gene_id")))
      c.layer("functions.Stats", "bhAdjust") {
        val res = c.mat(
          Stats.bhAdjust(named, "pvalue", "gene_id", partitionCols = Seq("contrast"))
            .withColumn("p_signif", Stats.signifBand(col("padj")))
            .select(col("gene_id"), col("gene_name"), col("contrast"),
              col("log2fc"), col("lfc_se"), col("stat"), col("pvalue"),
              col("padj"), col("p_signif")))
        c.tracer.count("tested", res.filter(col("padj").isNotNull).count().toDouble)
        c.tracer.count("results", res.count().toDouble)
        res
      }
    }

  def wilcoxonByGene(c: Ctx, t: TcgaTables, conditionCol: String,
      levels: (String, String)): DataFrame =
    c.layer("api", "Tcga.wilcoxonByGene") {
      val v = vst(c, prefiltered(c, t))
      val cond = condition(c, t, conditionCol, Seq(levels._1, levels._2))
      val long = c.layer("api", "join")(c.mat(v.join(broadcast(t.genes), "gene_id")
        .join(cond, "barcode").select(col("gene_name"), col("cond"), col("vst"))))
      val wil = c.layer("functions.Stats", "wilcoxon")(c.mat(
        Stats.wilcoxon(long, "gene_name", "cond", "vst", levels._1, levels._2)))
      c.layer("functions.Stats", "bhAdjust")(c.mat(
        Stats.bhAdjust(wil, "pvalue", "gene_name")
          .withColumn("p_signif", Stats.signifBand(col("padj")))))
    }

  def kmByMedianExpression(c: Ctx, t: TcgaTables,
      goi: Seq[String]): (DataFrame, DataFrame) =
    c.layer("api", "Tcga.kmByMedianExpression") {
      val subjects = c.layer("api", "subjects")(c.mat(t.samples
        .withColumn("status", when(col("vital_status") === "Alive", 1).otherwise(2))
        .withColumn("time",
          when(col("vital_status") === "Alive",
            col("paper_days_to_last_followup").cast("double"))
            .otherwise(col("days_to_death").cast("double")))
        .filter(col("time").isNotNull && col("vital_status").isNotNull)
        .select(col("barcode"), col("time"), (col("status") - 1).cast("long").as("event"))))
      val v = vst(c, prefiltered(c, t))
      val strat = c.layer("api", "median split")(c.mat(v
        .join(broadcast(t.genes), "gene_id")
        .filter(col("gene_name").isin(goi.map(_.asInstanceOf[Any]): _*))
        .withColumn("tile", ntile(2).over(
          Window.partitionBy(col("gene_name")).orderBy(col("vst"), col("barcode"))))
        .filter(col("tile") === 1 || col("tile") === 2)
        .withColumn("strat", when(col("tile") === 1, "LOW").otherwise("HIGH"))
        .join(subjects, "barcode")))
      val curves = c.layer("functions.Survival", "kmCurve")(c.mat(Survival.kmCurve(
          strat.withColumn("gs", concat_ws("|", col("gene_name"), col("strat"))),
          "gs", "time", "event")
        .withColumn("gene_name", split(col("gs"), "\\|").getItem(0))
        .withColumn("strat", split(col("gs"), "\\|").getItem(1))
        .drop("gs")))
      val tests = c.layer("functions.Survival", "logRankBy")(c.mat(
        Survival.logRankBy(strat, "gene_name", "strat", "time", "event")))
      (curves, tests)
    }

  /** `Corpus.pretrainingRun(...).mixed` with its defaults, stage by stage. */
  def pretrainingRun(c: Ctx, docs: DataFrame, evalFlag: Column): DataFrame =
    c.layer("api", "Corpus.pretrainingRun") {
      val ok = c.layer("api", "Corpus.scored")(c.mat(
        Corpus.scored(docs, "text").filter(col("band") === "ok")))
      val keepers = c.layer("operators.Dedup", "exact")(c.mat(
        Dedup.exact(ok, "doc_id", "text")
          .select(col("keeper").as("doc_id"), col("n_copies"))))
      val c1 = c.layer("api", "Corpus.cleaned")(c.mat(
        ok.join(keepers, "doc_id").select(docs.columns.map(col).toSeq: _*)))
      val sh = c.layer("operators.Dedup", "shingleRows")(
        c.mat(Dedup.shingleRows(c1, "doc_id", "text", 3)))
      val sigs = c.layer("operators.Dedup", "minhashSignatures")(
        c.mat(Dedup.minhashSignatures(sh, 6)))
      val cands = c.layer("operators.Dedup", "minhashCandidates") {
        val out = c.mat(Dedup.minhashCandidates(sigs, 6, 2, 1000))
        c.tracer.count("candidate_pairs", out.count().toDouble)
        out
      }
      val pairs = c.layer("api", "Corpus.nearDuplicates") {
        val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("nsh"))
        val out = c.mat(cands
          .join(sh.select(col("doc_id").as("doc_a"), col("sh")), "doc_a")
          .join(sh.select(col("doc_id").as("doc_b"), col("sh")), Seq("doc_b", "sh"))
          .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("n_inter"))
          .join(sizes.select(col("doc_id").as("doc_a"), col("nsh").as("na")), "doc_a")
          .join(sizes.select(col("doc_id").as("doc_b"), col("nsh").as("nb")), "doc_b")
          .withColumn("jaccard",
            col("n_inter") / (col("na") + col("nb") - col("n_inter")))
          .filter(col("jaccard") >= 0.5)
          .select(col("doc_a"), col("doc_b"), col("jaccard")))
        c.tracer.count("verified_pairs", out.count().toDouble)
        out
      }
      val comps = c.layer("operators.Components", "connectedComponents")(
        c.mat(Components.connectedComponents(pairs, "doc_a", "doc_b")))
      val c2 = c.layer("api", "Corpus.dedupClusters") {
        val scored = c1.select(col("doc_id").cast("long").as("id"),
          length(col("text")).as("__score"))
        val w = Window.partitionBy(col("comp"))
          .orderBy(col("__score").desc, col("id").asc)
        val losers = comps.join(scored, "id")
          .withColumn("__rk", row_number().over(w))
          .filter(!(col("__rk") === 1))
          .select(col("id").as("doc_id"))
        c.mat(c1.join(losers, Seq("doc_id"), "left_anti"))
      }
      val leaked = c.layer("operators.Dedup", "contamination")(c.mat(
        Dedup.contamination(c2.filter(!evalFlag).unionByName(docs.filter(evalFlag)),
            "doc_id", "text", evalFlag, 3, 1000)
          .filter(col("contamination") >= 0.5)
          .select(col("doc_id"))))
      val c3 = c.layer("api", "decontaminate")(c.mat(
        c2.filter(!evalFlag).join(leaked, Seq("doc_id"), "left_anti")))
      c.layer("operators.Sampling", "temperatureResample")(c.mat(
        Sampling.temperatureResample(c3, col("doc_id"), col("lang"), 0.7, 1.0)))
    }
}
