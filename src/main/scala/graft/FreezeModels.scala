package graft

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import graft.functions.{CountCell, DiffExpression}
import graft.queries.DomainQueries

/** Dev main: runs the five bounded fits (PCA, PQ, BPE, the d3 NB-GLM
  * dispersions, the wt2 variance prior) once on the sf0.001 tables and
  * prints `queries/FrozenModels.scala` — the frozen checkpoint literals
  * behind the APPLY-stage catalog queries (`pc1b`, `pq1b`, `bp2b`,
  * `lr1b`, `d3b`, `d4b`, `wt2`, `d6c`).
  *
  * Splitting fit from apply is the round-6 correctness play: the FIT
  * stages are iterative (Jacobi / Lloyd / merge loop) and can only be
  * golden-pinned, but the APPLY stages are deterministic given model
  * parameters, so freezing a real fitted checkpoint as literals makes
  * each apply stage a hash-oracleable query — the fit-once /
  * apply-everywhere deployment shape production pipelines use anyway
  * (a tokenizer or PCA basis is trained once and shipped to every job).
  *
  * Usage: `sbt "runMain graft.FreezeModels" > src/main/scala/graft/queries/FrozenModels.scala`
  * (stderr carries progress; stdout is exactly the generated file).
  * Regenerate only when the fit algorithms or sf0.001 data change —
  * the committed checkpoint is otherwise stable by the fits' documented
  * determinism.
  */
object FreezeModels {
  private def fmtArr(a: Array[Double], perLine: Int = 4): String =
    a.grouped(perLine).map(_.mkString(", ")).mkString(",\n    ")

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = GraftSession.harness(8).getOrCreate()
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")

    val emb = Tables.embeddings(spark, sfDir)
    val docs = Tables.documents(spark, sfDir)

    System.err.println("fitting pca ...")
    val pca = graft.operators.Pca.fit(emb, "embedding", 8)
    System.err.println("fitting pq ...")
    val pq = graft.operators.Pq.fit(emb, "embedding", m = 8, ksub = 16, iters = 8)
    System.err.println("fitting bpe ...")
    val merges = graft.operators.Bpe.fit(
      graft.operators.Bpe.wordCounts(docs, "text"), 30)
    System.err.println("fitting nb-glm dispersions ...")
    // the d3 and d4 fits (two-level and 5-level stage designs, EB-shrunk
    // dispersions): each gene's MAP alpha is the frozen model behind d3b's
    // Wald apply and d4b's contrast apply. The alphas are per gene, the
    // same on each of its contrast rows.
    def alphas(levels: Seq[String], pairs: Seq[(String, String)],
        cells: Dataset[CountCell]): Array[(Long, Double)] =
      DiffExpression.deseq(cells, levels, pairs).toDF()
        .select(col("gene"), col("dispersion")).distinct()
        .orderBy(col("gene")).collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
    val (nb, vstA0, vstA1) = {
      val cells = DomainQueries.nbInput(spark, sfDir, 2).as[CountCell]
      // the d3 prior's gamma-GLM trend (a0 + a1/mu) doubles as the frozen
      // dispersion trend behind d6c's exact closed-form VST
      val prior = DiffExpression.dispersionPrior(cells, 2)
      (alphas(Seq("NT", "TP"), Seq(("TP", "NT")), cells), prior.a0, prior.a1)
    }
    System.err.println("fitting 5-level nb-glm dispersions ...")
    val nb5 = alphas(DomainQueries.stageLevels, DomainQueries.stagePairs,
      DomainQueries.nbInput(spark, sfDir, 5).as[CountCell])
    System.err.println("fitting wt2 variance prior ...")
    // Smyth EB moment fit on the pooled per-gene two-group VST variances
    // (the wt1 front end) — the frozen prior behind wt2's moderated apply
    val (wtD0, wtS02) = {
      val wide = graft.queries.StatsQueries.welchWide(spark, sfDir)
      val gv = wide.filter(col("n_a") >= 2 && col("n_b") >= 2)
        .select(((col("n_a") + col("n_b")) - 2).cast("double").as("df"),
          ((col("v_a") * (col("n_a") - 1) + col("v_b") * (col("n_b") - 1)) /
            ((col("n_a") + col("n_b")) - 2).cast("double")).as("s2"))
      graft.functions.Moderation.fitVariancePrior(gv)
    }
    val q0 = emb.filter(col("vec_id") === 0L)
      .select(transform(col("embedding"), x => x.cast("double")))
      .head().getSeq[Double](0).toArray

    def esc(s: String): String =
      s.flatMap {
        case '\\' => "\\\\"
        case '"' => "\\\""
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      }

    println(s"""package graft.queries
       |
       |/** GENERATED by `graft.FreezeModels` on the sf0.001 tables -- frozen
       |  * fitted-model checkpoints for the APPLY-stage catalog queries
       |  * (`pc1b` / `pq1b` / `bp2b` / `lr1b` / `d3b` / `d4b` / `wt2` / `d6c`). Regenerate with
       |  * `sbt "runMain graft.FreezeModels" > src/main/scala/graft/queries/FrozenModels.scala`
       |  * if the fit algorithms or the sf0.001 data change. Do not edit by
       |  * hand. Every value is a plain double/string literal so the SAME
       |  * numbers ride both the Spark plan (typedlit) and the DuckDB oracle
       |  * SQL (generated from these arrays at catalog build). */
       |object FrozenModels {
       |
       |  /** PCA checkpoint (Pca.fit(sf0.001 embeddings, m = 8)): column
       |    * mean (64) + row-major components (8x64, orthonormal rows). */
       |  val pcaMean: Array[Double] = Array(
       |    ${fmtArr(pca.mean)})
       |
       |  val pcaComponents: Array[Double] = Array(
       |    ${fmtArr(pca.components)})
       |
       |  /** PQ checkpoint (Pq.fit(sf0.001 embeddings, m=8, ksub=16,
       |    * iters=8)): books(s)(c) = 8-dim centroid c of subspace s. */
       |  val pqBooks: Array[Array[Array[Double]]] = Array(
       |${pq.books.map(b => "    Array(\n" + b.map(cv => "      Array(" + cv.mkString(", ") + ")").mkString(",\n") + ")").mkString(",\n")})
       |
       |  /** Frozen ADC query vector: the sf0.001 embedding of vec_id 0. */
       |  val pqQuery: Array[Double] = Array(
       |    ${fmtArr(q0)})
       |
       |  /** BPE checkpoint (Bpe.fit(sf0.001 word counts, 30 merges)),
       |    * in rank order. */
       |  val bpeMerges: Seq[(String, String)] = Seq(
       |${merges.map(m => s"""    ("${esc(m.left)}", "${esc(m.right)}")""").mkString(",\n")})
       |
       |  /** NB-GLM dispersion checkpoint (the d3 fit on sf0.001: Cox-Reid
       |    * gene-wise MLE, gamma-GLM trend, EB shrinkage): per-gene MAP
       |    * alpha, in gene order -- the frozen model behind the d3b Wald
       |    * apply stage. */
       |  val nbGenes: Array[Long] = Array(
       |    ${nb.map(_._1 + "L").grouped(8).map(_.mkString(", ")).mkString(",\n    ")})
       |
       |  val nbAlphas: Array[Double] = Array(
       |    ${fmtArr(nb.map(_._2))})
       |
       |  /** Fitted dispersion-trend checkpoint (the d3 prior's gamma-GLM
       |    * trend alpha(mu) = a0 + a1/mu on sf0.001): a0 = asymptotic
       |    * dispersion, a1 = extra-Poisson term -- the frozen model behind
       |    * the d6c exact closed-form VST apply stage. */
       |  val vstTrendA0: Double = $vstA0
       |
       |  val vstTrendA1: Double = $vstA1
       |
       |  /** 5-level NB-GLM dispersion checkpoint (the d4 fit on sf0.001:
       |    * stage design, same Cox-Reid + trend + EB pipeline): per-gene
       |    * MAP alpha, in gene order -- the frozen model behind the d4b
       |    * contrast apply stage. */
       |  val nb5Genes: Array[Long] = Array(
       |    ${nb5.map(_._1 + "L").grouped(8).map(_.mkString(", ")).mkString(",\n    ")})
       |
       |  val nb5Alphas: Array[Double] = Array(
       |    ${fmtArr(nb5.map(_._2))})
       |
       |  /** wt2 variance-prior checkpoint (Smyth EB moment fit on the
       |    * sf0.001 pooled per-gene two-group VST variances): prior df
       |    * d0 and prior variance s0^2 -- the frozen model behind the
       |    * moderated-z apply stage. */
       |  val wtPriorDf: Double = $wtD0
       |
       |  val wtPriorS2: Double = $wtS02
       |}""".stripMargin)
    spark.stop()
  }
}
