package graft

/** Dev tool: run catalog queries and show a bounded sample + row count.
  * Usage: runMain graft.RunQuery <sfDir> <query1,query2,...> [showN]
  */
object RunQuery {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = args.lift(1).map(_.split(",").toSeq)
      .getOrElse(Seq("lr1_quality_classifier"))
    val showN = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = GraftSession.harness(8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"========== $n")
      val t0 = System.nanoTime()
      val df = queries.QueryCatalog.byName(n).run(spark, d)
      val cnt = df.count()
      println(f"rows: $cnt  elapsed: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      if (showN > 0) df.show(showN, truncate = false)
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
