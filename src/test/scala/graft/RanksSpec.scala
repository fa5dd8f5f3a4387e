package graft

import graft.operators.Ranks
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Two-phase rank/ntile must be value-identical to the built-in window
  * functions under a total order — including groups smaller than the tile
  * count and group counts that don't divide evenly. Every case runs at
  * [[SparkSpec.atWidth7]], so the carries cross range partitions. */
class RanksSpec extends SparkSpec {
  import spark.implicits._

  override def withFixture(test: NoArgTest) = atWidth7(super.withFixture(test))

  // 3 uneven groups (sizes 103, 40, 1) with duplicate order values so the
  // id tiebreak is load-bearing, scattered over 7 input partitions
  private def rows = spark.range(0, 144).repartition(7)
    .withColumn("g", when(col("id") < 103, "a").when(col("id") < 143, "b").otherwise("c"))
    .withColumn("v", (col("id") % 11).cast("int"))
  private lazy val df = rows.persist()

  test("rowNumber matches row_number over (g, v, id)") {
    val expect = df.withColumn("rn",
      row_number().over(Window.partitionBy($"g").orderBy($"v", $"id")).cast("long"))
    val got = Ranks.rowNumber(df, Seq($"g"), Seq($"v", $"id")).drop("__n")
    assert(got.except(expect).isEmpty && expect.except(got).isEmpty)
    assert(rangeSpan(df, $"g", $"v", $"id") > 1,
      "the input fits one range partition: no carry is exercised")
  }

  test("rowNumber with no grouping matches a global row_number") {
    val expect = df.withColumn("rn",
      row_number().over(Window.orderBy($"v", $"id")).cast("long"))
    val got = Ranks.rowNumber(df, Nil, Seq($"v", $"id")).drop("__n")
    assert(got.except(expect).isEmpty && expect.except(got).isEmpty)
  }

  test("rowNumber handles NULL and descending order keys like the built-in") {
    val withNulls = df.withColumn("vn",
      when(col("id") % 7 === 0, lit(null)).otherwise($"v"))
    val order = Seq($"vn".desc_nulls_last, $"id".desc)
    val expect = withNulls.withColumn("rn", row_number()
      .over(Window.partitionBy($"g").orderBy(order: _*)).cast("long"))
    val got = Ranks.rowNumber(withNulls, Seq($"g"), order).drop("__n")
    assert(got.except(expect).isEmpty && expect.except(got).isEmpty)
  }

  test("rowNumber accepts expression grouping keys, not just named columns") {
    val expect = df.withColumn("rn", row_number()
      .over(Window.partitionBy(upper($"g")).orderBy($"v", $"id")).cast("long"))
    val got = Ranks.rowNumber(df, Seq(upper($"g")), Seq($"v", $"id")).drop("__n")
    assert(got.except(expect).isEmpty && expect.except(got).isEmpty)
  }

  test("prefixSum and quantiles handle empty input and single rows") {
    val empty = df.filter($"id" < 0)
    assert(Ranks.prefixSum(empty, Seq($"g"), Seq($"id"), $"v").count() === 0)
    assert(Ranks.quantiles(empty, Seq("g"), "v", "id", Seq("p50" -> 0.5))
      .count() === 0)
    val one = df.filter($"id" === 7)
    val cs = Ranks.prefixSum(one, Nil, Seq($"id"), $"v", "cs")
      .select("cs").as[Long].head()
    assert(cs === 7 % 11)
    val q = Ranks.quantiles(one, Seq("g"), "v", "id",
      Seq("p25" -> 0.25, "p100" -> 1.0)).collect().head
    assert(q.getAs[Int]("p25") === 7 % 11 && q.getAs[Int]("p100") === 7 % 11)
  }

  test("quantiles match the sort-and-index definition per group") {
    val got = Ranks.quantiles(df, Seq("g"), "v", "id",
        Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75, "p100" -> 1.0))
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n"), r.getAs[Int]("p25"), r.getAs[Int]("p50"),
          r.getAs[Int]("p75"), r.getAs[Int]("p100"))).toMap
    val byGroup = df.select($"g", $"v").as[(String, Int)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    for ((g, vs) <- byGroup) {
      def at(q: Double) = vs(math.ceil(q * vs.length).toInt - 1)
      assert(got(g) === ((vs.length.toLong, at(0.25), at(0.5), at(0.75), at(1.0))),
        s"group $g")
    }
    // the n=1 group: every quantile is the single value
    assert(got("c")._2 === got("c")._5)
  }

  test("quantilesByValue equals the rowwise-rank quantiles on every group") {
    val qs = Seq("p01" -> 0.01, "p25" -> 0.25, "p50" -> 0.5, "p99" -> 0.99,
      "p100" -> 1.0)
    val rowwise = Ranks.quantiles(df, Seq("g"), "v", "id", qs)
    val byValue = Ranks.quantilesByValue(df, Seq("g"), "v", qs)
    assert(byValue.columns.toSeq === rowwise.columns.toSeq)
    assert(byValue.except(rowwise).isEmpty && rowwise.except(byValue).isEmpty)
    // empty input: no groups, no rows
    assert(Ranks.quantilesByValue(df.filter($"id" < 0), Seq("g"), "v",
      Seq("p50" -> 0.5)).count() === 0)
  }

  test("prefixSum matches the single-window running total, grouped and global") {
    val expectGrouped = df.withColumn("cs",
      sum($"v").over(Window.partitionBy($"g").orderBy($"v", $"id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val gotGrouped = Ranks.prefixSum(df, Seq($"g"), Seq($"v", $"id"), $"v", "cs")
    assert(gotGrouped.except(expectGrouped).isEmpty &&
      expectGrouped.except(gotGrouped).isEmpty)
    val expectGlobal = df.withColumn("cs",
      sum($"v").over(Window.orderBy($"v", $"id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val gotGlobal = Ranks.prefixSum(df, Nil, Seq($"v", $"id"), $"v", "cs")
    assert(gotGlobal.except(expectGlobal).isEmpty &&
      expectGlobal.except(gotGlobal).isEmpty)
  }

  test("rowNumber and prefixSum over localCheckpoint and RDD inputs match a driver-side rank, twice") {
    // more rows per input partition than the range exchange samples, so
    // the boundaries depend on the sample: a carry pass that saw other
    // boundaries than the row pass would misrank rows. Both outputs are
    // built before the first action, and each is acted on twice.
    val n = 40000
    val base = spark.range(0, n, 1, 4).select($"id",
      (($"id" * 7919) % n).as("k"), ($"id" % 5).as("g")) // k: a permutation
    val rows = base.as[(Long, Long, Long)].collect()
    val rank = rows.sortBy(_._2).zipWithIndex.map { case (r, i) => r._1 -> (i + 1L) }.toMap
    val cumsum = rows.groupBy(_._3).values.flatMap { grp =>
      grp.sortBy(_._2).scanLeft((0L, 0L)) { case ((_, acc), r) => (r._1, acc + r._2) }.tail
    }.toMap
    val checkpointed = base.localCheckpoint(eager = true)
    val inputs = Seq("localCheckpoint" -> checkpointed,
      "createDataFrame(rdd)" -> spark.createDataFrame(base.rdd, base.schema))
    try withConf("spark.sql.shuffle.partitions" -> "16") {
      for ((kind, in) <- inputs) {
        val ranked = Ranks.rowNumber(in, Nil, Seq($"k")).select($"id", $"rn")
        val summed = Ranks.prefixSum(in, Seq($"g"), Seq($"k"), $"k", "cs")
          .select($"id", $"cs")
        // the second action plans and samples the range exchange again
        for (action <- Seq("first", "repeated")) {
          val gotRank = ranked.as[(Long, Long)].collect()
          val badRank = gotRank.count { case (id, rn) => rank(id) != rn }
          assert(gotRank.length == n && badRank == 0,
            s"$kind, $action action: $badRank wrong ranks")
          val gotSum = summed.as[(Long, Long)].collect()
          val badSum = gotSum.count { case (id, cs) => cumsum(id) != cs }
          assert(gotSum.length == n && badSum == 0,
            s"$kind, $action action: $badSum wrong running sums")
        }
      }
    } finally graft.Caches.releaseBlocks(checkpointed)
  }

  test("prefixSum accepts value expressions and keeps the input columns") {
    val got = Ranks.prefixSum(df, Nil, Seq($"id"), $"v" * 2, "cs")
    assert(got.columns.toSeq === df.columns.toSeq :+ "cs")
    val last = got.orderBy($"id".desc).select("cs").first().getLong(0)
    val total = df.select(sum($"v" * 2)).first().getLong(0)
    assert(last === total)
  }

  test("ntile matches NTILE(t) for t = 2, 4, 7 including groups with n < t") {
    for (t <- Seq(2, 4, 7)) {
      val expect = df.withColumn("tile",
        ntile(t).over(Window.partitionBy($"g").orderBy($"v", $"id")))
      val got = Ranks.ntile(df, Seq($"g"), Seq($"v", $"id"), t)
      assert(got.except(expect).isEmpty && expect.except(got).isEmpty,
        s"ntile($t) mismatch")
    }
  }

  test("prefixSum over NULL values matches the single-window running total and group total") {
    // NULL on every odd id: at width 16 some range partitions start with a
    // NULL row after non-NULL ones in the same group; groups 1 and 3 of
    // `id % 4` are all NULL, so their running sums and totals are NULL
    val withNulls = spark.range(0, 400, 1, 4).select($"id", ($"id" % 4).as("g"),
      when($"id" % 2 === 1, lit(null)).otherwise($"id" % 11).as("v"))
    withConf("spark.sql.shuffle.partitions" -> "16") {
      assert(rangeSpan(withNulls, $"id") > 1, "one range partition: no carry")
      for (grp <- Seq(Nil, Seq($"g"))) {
        val running = Window.partitionBy(grp: _*).orderBy($"id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val expect = withNulls.withColumn("cs", sum($"v").over(running))
          .withColumn("tot", sum($"v").over(Window.partitionBy(grp: _*)))
        val got = Ranks.prefixSum(withNulls, grp, Seq($"id"), $"v", "cs", "tot")
        assert(got.except(expect).isEmpty && expect.except(got).isEmpty,
          s"grouped by ${grp.mkString(",")}")
      }
    }
  }

  test("prefixSum rejects a non-integral value, naming its type, before any job runs") {
    for ((v, t) <- Seq($"v".cast("double") -> "DOUBLE", $"v".cast("decimal(10,0)") ->
        "DECIMAL(10,0)", $"g" -> "STRING")) {
      val e = intercept[IllegalArgumentException](Ranks.prefixSum(df, Nil, Seq($"id"), v))
      assert(e.getMessage.contains(t), e.getMessage)
    }
  }

  test("two rowNumber outputs built before either one's action leave no cache behind") {
    df.count() // the fixture's own cache
    def ids() = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val fixture = ids()
    def none(step: String): Unit =
      assert((ids() -- fixture).isEmpty, s"$step: persistent RDDs ${ids() -- fixture}")
    val ranked = Ranks.rowNumber(df, Seq($"g"), Seq($"v", $"id"))
    none("built")
    val firsts = ranked.filter($"rn" === 1)
    for (step <- Seq("a derived frame's action", "a second one")) {
      assert(firsts.count() == 3)
      none(step)
    }
    val a = Ranks.rowNumber(df, Nil, Seq($"v", $"id"))
    val b = Ranks.rowNumber(df, Nil, Seq($"v", $"id"))
    assert(a.collect().length == 144)
    none("the first of two equal outputs")
    assert(b.collect().length == 144)
    none("the second of two equal outputs")
    spark.catalog.clearCache()
    none("clearCache")
  }

  test("rowNumber, prefixSum, ntile: one scan exec, one range exchange, no window or cache") {
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.window.WindowExec
    import graft.plans.OrderedScanExec
    // the uncached fixture: every node of the plan is the input's or the scan's
    val in = rows
    val outs = Seq(
      "rowNumber" -> Ranks.rowNumber(in, Seq($"g"), Seq($"v", $"id")),
      "prefixSum" -> Ranks.prefixSum(in, Seq($"g"), Seq($"v", $"id"), $"v"),
      "ntile" -> Ranks.ntile(in, Seq($"g"), Seq($"v", $"id"), 2))
    for ((name, out) <- outs) {
      out.collect()
      val nodes = PlanNodes(out.queryExecution.executedPlan)
      assert(nodes.count(_.isInstanceOf[OrderedScanExec]) == 1, s"$name: scan execs")
      val ranges = nodes.count {
        case e: ShuffleExchangeExec => e.outputPartitioning.isInstanceOf[RangePartitioning]
        case _ => false
      }
      assert(ranges == 1, s"$name: $ranges range exchanges")
      val extra = nodes.filter {
        case _: WindowExec | _: BroadcastExchangeExec | _: InMemoryTableScanExec => true
        case _ => false
      }
      assert(extra.isEmpty, s"$name:\n${extra.mkString("\n")}")
    }
  }
}
