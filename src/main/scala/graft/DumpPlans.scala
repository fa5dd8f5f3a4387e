package graft

import org.apache.spark.sql.execution.ExplainMode

/** Dev tool: write `.explain("formatted")` output for catalog queries to
  * files — the optimization-round plan evidence
  * (`plans/r16/<query>_before.txt` / `..._after.txt`).
  *
  * Usage: runMain graft.DumpPlans <outDir> <suffix> <q1,q2,...|ALL> [sfDir]
  * e.g.   runMain graft.DumpPlans plans/r16 before rz1_robust_zscore,d3_nbglm_wald
  *
  * Config mirrors Bench (shuffle width = cores, UTC, warehouse pinned) so
  * the dumped plan is the one the driver's bench executes.
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("plans/r16")
    val suffix = args.lift(1).getOrElse("before")
    val names0 = args.lift(2).getOrElse("ALL")
    val d = args.lift(3).getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.harness(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names: Seq[String] =
      if (names0 == "ALL") queries.QueryCatalog.all.map(_.name)
      else names0.split(",").map(_.trim).toSeq
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      try {
        val df = queries.QueryCatalog.byName(n).run(spark, d)
        val txt = df.queryExecution.explainString(
          ExplainMode.fromString("formatted"))
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(outDir, s"${n}_$suffix.txt"), txt)
        println(s"[plans] wrote $outDir/${n}_$suffix.txt")
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[plans] $n failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
