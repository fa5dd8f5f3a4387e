package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame

import graft.api.Tcga

/** The generated-class cache holds a whole TCGA round: once DE and KM have
  * run, running them again compiles nothing (`GraftSession`'s codegen
  * cache size; at Spark's default of 100 entries every round recompiles). */
class CodegenSpec extends SparkSpec {

  private def sink(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  test("a second DE + KM round on TcgaFixtures compiles no generated class") {
    val t = TcgaFixtures.tables(spark)
    val levels = Seq("Normal", "Basal", "Her2", "LumA", "LumB")
    val pairs = for { i <- levels.indices; j <- levels.indices if i < j }
      yield (levels(j), levels(i))
    def round(): Unit = {
      sink(Tcga.differentialExpression(t, "paper_brca_subtype_pam50", levels,
        contrasts = pairs))
      val (curves, tests) = Tcga.kmByMedianExpression(t,
        Seq("DEG10", "DEG20", "GENE1", "GENE2"))
      sink(curves)
      sink(tests)
    }
    round()
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    round()
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled == 0)
  }
}
