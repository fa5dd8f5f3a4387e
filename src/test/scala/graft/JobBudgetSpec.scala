package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.functions._

import graft.api.Tcga
import graft.operators.Ranks

/** Spark-job budgets for the TCGA reference operations. At reference
  * size a job costs scheduling, planning and codegen rather than data
  * work, so the job count of an operation is its main fixed cost. The
  * budgets are the counts measured on [[TcgaFixtures]] with every result
  * written to a `noop` sink; a change that adds jobs fails here. Building
  * an operation's frames costs analyzer and optimizer rule runs, pinned
  * the same way: as a count, not a time. */
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

  test("differentialExpression over 5 levels, 10 contrasts stays within its job budget") {
    val levels = Seq("Normal", "Basal", "Her2", "LumA", "LumB")
    val pairs = for { i <- levels.indices; j <- levels.indices if i < j }
      yield (levels(j), levels(i))
    val n = jobs(sink(Tcga.differentialExpression(t, "paper_brca_subtype_pam50",
      levels, contrasts = pairs)))
    assert(n <= 16, s"differentialExpression ran $n Spark jobs")
  }

  test("kmByMedianExpression's curves and tests stay within their job budget") {
    val n = jobs {
      val (curves, tests) = Tcga.kmByMedianExpression(t,
        Seq("DEG10", "DEG20", "GENE1", "GENE2"))
      sink(curves)
      sink(tests)
    }
    assert(n <= 14, s"kmByMedianExpression ran $n Spark jobs")
  }

  test("drugKmFanOut's curves and tests stay within their job budget") {
    val n = jobs {
      val (curves, tests) = Tcga.drugKmFanOut(t,
        Seq("Tamoxifen", "Chemotherapy"), Seq("DEG10", "DEG20", "GENE1", "GENE2"))
      sink(curves)
      sink(tests)
    }
    assert(n <= 20, s"drugKmFanOut ran $n Spark jobs")
  }

  test("rowNumber and prefixSum each stay within their job budget") {
    // 4 input partitions, 7 range partitions: the carries cross partitions.
    // 4 jobs each: the range-bounds sample, the shuffle, the carry pass and
    // the write (the cached self-join composition this replaced ran 9)
    val in = spark.range(0, 20000, 1, 4).select(col("id"), (col("id") % 5).as("g"),
      ((col("id") * 7919) % 20000).as("k"))
    atWidth7 {
      val rn = jobs(sink(Ranks.rowNumber(in, Seq(col("g")), Seq(col("k"), col("id")))))
      val ps = jobs(sink(Ranks.prefixSum(in, Nil, Seq(col("k"), col("id")), col("k"))))
      assert(rn <= 4, s"rowNumber ran $rn Spark jobs")
      assert(ps <= 4, s"prefixSum ran $ps Spark jobs")
    }
  }

  test("building kmByMedianExpression's frames stays within its rule-run budget") {
    // Spark analyzes every frame as it is built, and the KM tail's persist
    // plans its subject frame, so construction alone runs analyzer,
    // optimizer and planner rules. The count is the same on every warm
    // build (12,963 measured; 17,899 with a withColumn per column and a
    // second gene pass). A cache of an equal plan takes a shorter path, so
    // each build starts with none.
    val goi = Seq("DEG10", "DEG20", "GENE1", "GENE2")
    def ruleRuns(): Long = {
      spark.catalog.clearCache()
      val before = RuleExecutor.getCurrentMetrics().numRuns
      Tcga.kmByMedianExpression(t, goi)
      RuleExecutor.getCurrentMetrics().numRuns - before
    }
    ruleRuns() // warm
    val n = ruleRuns()
    spark.catalog.clearCache()
    assert(n <= 12963, s"building kmByMedianExpression's frames ran $n rules")
  }
}
