package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.api.Tcga

/** Spark-job budgets for the TCGA reference operations. At reference
  * size a job costs scheduling, planning and codegen rather than data
  * work, so the job count of an operation is its main fixed cost. The
  * budgets are the counts measured on [[TcgaFixtures]] with every result
  * written to a `noop` sink; a change that adds jobs fails here. */
class JobBudgetSpec extends SparkSpec {

  private lazy val t = TcgaFixtures.tables(spark)

  /** Spark jobs started while `body` runs (listener delivery is
    * asynchronous: the count is read once it has stopped moving). */
  private def jobs(body: => Unit): Int = {
    val started = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      var last = -1
      while (last != started.get()) { last = started.get(); Thread.sleep(500) }
      last
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def sink(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  test("differentialExpression over 5 levels and 10 contrasts stays within 19 jobs") {
    val levels = Seq("Normal", "Basal", "Her2", "LumA", "LumB")
    val pairs = for { i <- levels.indices; j <- levels.indices if i < j }
      yield (levels(j), levels(i))
    val n = jobs(sink(Tcga.differentialExpression(t, "paper_brca_subtype_pam50",
      levels, contrasts = pairs)))
    assert(n <= 19, s"differentialExpression ran $n Spark jobs")
  }

  test("kmByMedianExpression's curves and tests stay within 16 jobs") {
    val n = jobs {
      val (curves, tests) = Tcga.kmByMedianExpression(t,
        Seq("DEG10", "DEG20", "GENE1", "GENE2"))
      sink(curves)
      sink(tests)
    }
    assert(n <= 16, s"kmByMedianExpression ran $n Spark jobs")
  }

  test("drugKmFanOut's curves and tests stay within 22 jobs") {
    val n = jobs {
      val (curves, tests) = Tcga.drugKmFanOut(t,
        Seq("Tamoxifen", "Chemotherapy"), Seq("DEG10", "DEG20", "GENE1", "GENE2"))
      sink(curves)
      sink(tests)
    }
    assert(n <= 22, s"drugKmFanOut ran $n Spark jobs")
  }
}
