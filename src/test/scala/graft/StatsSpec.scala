package graft

import org.apache.spark.sql.functions._
import graft.functions.Stats

class StatsSpec extends SparkSpec {
  import spark.implicits._

  test("wilcoxon rank-sum with ties matches hand computation") {
    // A = {1,2,3,4}, B = {3,4,5,6}; pooled ranks 1,2,3.5,3.5,5.5,5.5,7,8
    // R1 = 12, U = 2, tie3 = 12, sigma = 3.42261, z = -1.75305, p = 0.07963
    val df = Seq(
      ("g", "A", 1.0), ("g", "A", 2.0), ("g", "A", 3.0), ("g", "A", 4.0),
      ("g", "B", 3.0), ("g", "B", 4.0), ("g", "B", 5.0), ("g", "B", 6.0))
      .toDF("gene", "cond", "v")
    val r = Stats.wilcoxon(df, "gene", "cond", "v", "A", "B").collect().head
    assert(r.getAs[Long]("n1") == 4 && r.getAs[Long]("n2") == 4)
    assert(math.abs(r.getAs[Double]("u") - 2.0) < 1e-12)
    assert(math.abs(r.getAs[Double]("z") - (-1.75305)) < 1e-4)
    assert(math.abs(r.getAs[Double]("pvalue") - 0.07963) < 1e-3)
  }

  test("null handling: NA p-values keep NULL padj; NA values take no rank") {
    import org.apache.spark.sql.functions.col
    // bhAdjust: nulls must not consume ranks, inflate n, or absorb the
    // group minimum (R's p.adjust keeps NA as NA)
    val withNulls = Seq((1L, Some(0.01)), (2L, None), (3L, Some(0.04)),
      (4L, None), (5L, Some(0.03))).toDF("id", "pval")
    val adj = Stats.bhAdjust(withNulls, "pval", "id").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      .toMap
    assert(adj(2L).isEmpty && adj(4L).isEmpty)
    // same padj as running BH on just the 3 real p-values (n = 3, not 5)
    val clean = Stats.bhAdjust(
      withNulls.filter(col("pval").isNotNull), "pval", "id").collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    Seq(1L, 3L, 5L).foreach(id => assert(adj(id).contains(clean(id))))
    // wilcoxon: a null value must not shift real ranks
    val base = Seq(("g", "A", 1.0), ("g", "A", 3.0), ("g", "B", 2.0),
      ("g", "B", 4.0)).toDF("grp", "cond", "v")
    val noisy = base.unionByName(
      Seq(("g", "A", null.asInstanceOf[java.lang.Double]))
        .toDF("grp", "cond", "v"))
    val a = Stats.wilcoxon(base, "grp", "cond", "v", "A", "B").collect()
    val b = Stats.wilcoxon(noisy, "grp", "cond", "v", "A", "B").collect()
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
  }

  test("wilcoxon drops degenerate groups (one-sided or zero variance)") {
    val df = Seq(
      ("only_a", "A", 1.0), ("only_a", "A", 2.0),
      ("tied", "A", 5.0), ("tied", "B", 5.0), ("tied", "A", 5.0), ("tied", "B", 5.0))
      .toDF("gene", "cond", "v")
    assert(Stats.wilcoxon(df, "gene", "cond", "v", "A", "B").count() == 0)
  }

  test("exact wilcoxon matches published R wilcox.test values (small n, no ties)") {
    // R: wilcox.test(1:4, 5:8)      -> W = 0,  p = 0.02857143
    //    wilcox.test(1:5, 6:10)     -> W = 0,  p = 0.007936508
    //    wilcox.test(c(1,4,6), c(2,3,5)) -> W = 5, p = 1
    assert(math.abs(Stats.exactWilcoxP(0, 4, 4) - 2.0 / 70) < 1e-12)
    assert(math.abs(Stats.exactWilcoxP(0, 5, 5) - 2.0 / 252) < 1e-12)
    assert(math.abs(Stats.exactWilcoxP(5, 3, 3) - 1.0) < 1e-12)
    // symmetry of the null distribution: p(u) == p(n1*n2 - u)
    assert(math.abs(Stats.exactWilcoxP(3, 6, 7) - Stats.exactWilcoxP(39, 6, 7)) < 1e-12)
  }

  test("wilcoxon exact mode switches per group and falls back on ties") {
    import spark.implicits._
    // group "clean": 1:4 vs 5:8, no ties -> exact p = 2/70
    // group "tied":  values with a tie   -> normal approximation
    val rows =
      (1 to 4).map(v => ("clean", "A", v.toDouble)) ++
      (5 to 8).map(v => ("clean", "B", v.toDouble)) ++
      Seq(("tied", "A", 1.0), ("tied", "A", 2.0), ("tied", "B", 2.0),
        ("tied", "B", 3.0))
    val r = Stats.wilcoxon(rows.toDF("g", "cond", "v"), "g", "cond", "v",
        "A", "B", exactMaxN = 50)
      .collect().map(x => x.getAs[String]("g") -> x.getAs[Double]("pvalue")).toMap
    assert(math.abs(r("clean") - 2.0 / 70) < 1e-12)
    val normalOnly = Stats.wilcoxon(rows.toDF("g", "cond", "v"), "g", "cond", "v",
        "A", "B")
      .collect().map(x => x.getAs[String]("g") -> x.getAs[Double]("pvalue")).toMap
    assert(r("tied") == normalOnly("tied")) // tie -> same normal-approx path
    assert(r("clean") != normalOnly("clean"))
  }

  test("BH adjustment matches hand computation and is monotone in rank") {
    // p = (.005, .03, .04): raw p*n/rank = (.015, .045, .12)? no:
    // sorted p .005(.015) .03(.045) .04(.04) -> cummin desc: .04, .04, .015
    val df = Seq((1L, 0.005), (2L, 0.04), (3L, 0.03)).toDF("id", "pval")
    val got = Stats.bhAdjust(df, "pval", "id").orderBy("id")
      .select("padj").as[Double].collect()
    assert(math.abs(got(0) - 0.015) < 1e-12)
    assert(math.abs(got(1) - 0.04) < 1e-12)
    assert(math.abs(got(2) - 0.04) < 1e-12)
  }

  test("bhAdjust plans one window per family: no range exchange, no __pid") {
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.logical.Union
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    // every 11th p is NULL, so the NULL rows are planned, not pruned
    val df = (1 to 144).map(i => (i.toLong, s"f${i % 3}",
        Option((i * 37 % 101) / 101.0).filter(_ => i % 11 != 0)))
      .toDF("id", "fam", "pval").repartition(7)
    for (fams <- Seq(Seq("fam"), Nil)) atWidth7 {
      val out = Stats.bhAdjust(df, "pval", "id", fams)
      out.collect()
      val nodes = PlanNodes(out.queryExecution.executedPlan, intoCaches = true)
      val ranges = nodes.collect {
        case e: ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
      }
      assert(ranges.isEmpty, s"$fams: range exchange in\n${ranges.mkString("\n")}")
      assert(!nodes.exists(_.output.exists(_.name == "__pid")), s"$fams: __pid")
      // the input is read once: no cache of bhAdjust's own, no NULL-p union
      assert(!out.queryExecution.withCachedData.exists(_.isInstanceOf[InMemoryRelation]),
        s"$fams: bhAdjust cached its input")
      assert(!out.queryExecution.optimizedPlan.exists(_.isInstanceOf[Union]),
        s"$fams: bhAdjust plans a union")
      val windows = nodes.collect { case w: WindowExec => w }
      assert(windows.nonEmpty, s"$fams: no window")
      windows.foreach { w =>
        assert(w.partitionSpec.map { case a: Attribute => a.name; case e => e.sql } === fams,
          s"$fams: window not partitioned by the family keys:\n$w")
      }
    }
  }

  test("BH padj preserves p-value order (property)") {
    val ps = (1 to 97).map(i => (i.toLong, (i * 2654435761L % 1000003) / 1000003.0))
    val out = Stats.bhAdjust(ps.toDF("id", "pval"), "pval", "id")
      .orderBy("pval").select("padj").as[Double].collect()
    out.sliding(2).foreach { case Array(a, b) => assert(a <= b + 1e-15); case _ => }
    assert(out.forall(p => p >= 0.0 && p <= 1.0))
  }

  test("normal survival function is accurate") {
    // 2*(1-Phi(1.96)) = 0.0500, 2*(1-Phi(2.5758)) = 0.0100
    val df = Seq(1.959964, 2.575829, 0.0).toDF("z")
      .select(Stats.normalSfTwoSided(col("z")).as("p")).as[Double].collect()
    assert(math.abs(df(0) - 0.05) < 1e-5)
    assert(math.abs(df(1) - 0.01) < 1e-5)
    assert(math.abs(df(2) - 1.0) < 1e-6)
  }

  test("wt1 Welch z: valid p-range, |z|↔p monotone, sign tracks the mean diff") {
    val rows = graft.queries.QueryCatalog.byName("wt1_welch_z")
      .run(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    val triples = rows.map(r => (r.getAs[Double]("z"),
      r.getAs[Double]("pvalue"), r.getAs[Double]("mean_diff")))
    triples.foreach { case (z, p, md) =>
      assert(p >= 0.0 && p <= 1.0, s"p out of range: $p")
      // z carries the direction of the group difference
      assert(z == 0.0 || math.signum(z) == math.signum(md), s"z=$z md=$md")
    }
    // the survival function is monotone: sorting by |z| descending must
    // sort p ascending (ties aside — compare with tolerance for round-6)
    val sorted = triples.sortBy { case (z, _, _) => -math.abs(z) }.map(_._2)
    // tolerance 5e-6: z and p are both 6dp-rounded, so two genes whose
    // unrounded |z| round together can carry p's up to ~2e-6 out of order
    sorted.sliding(2).foreach { pair =>
      if (pair.length == 2)
        assert(pair(0) <= pair(1) + 5e-6, s"${pair(0)} > ${pair(1)}")
    }
  }

  test("significance banding propagates NULL like R's NA") {
    val df = Seq(Some(0.2), Some(0.03), Some(0.005), Some(0.0005), Some(0.00001), None)
      .toDF("padj").select(Stats.signifBand(col("padj")).as("b"))
    assert(df.collect().map(r => Option(r.getString(0))).toSeq ==
      Seq(Some("ns"), Some("*"), Some("**"), Some("***"), Some("****"), None))
  }

  test("rankAuc: exact Mann-Whitney values on planted rankings, ties averaged") {
    import spark.implicits._
    def auc(rows: Seq[(Double, Long)]): Double = {
      val df = rows.zipWithIndex
        .map { case ((s, l), i) => ("g", i.toLong, l, s) }
        .toDF("grp", "id", "label", "score")
      Stats.rankAuc(df, "grp", "label", "score", "id").head().getAs[Double]("auc")
    }
    // perfect separation -> 1; reversed -> 0
    assert(auc(Seq(1.0 -> 0L, 2.0 -> 0L, 3.0 -> 1L, 4.0 -> 1L)) == 1.0)
    assert(auc(Seq(1.0 -> 1L, 2.0 -> 1L, 3.0 -> 0L, 4.0 -> 0L)) == 0.0)
    // all scores tied -> chance
    assert(auc(Seq(5.0 -> 0L, 5.0 -> 1L, 5.0 -> 0L, 5.0 -> 1L)) == 0.5)
    // hand-computed mixed case: pairs (2>1), (2<3), (4>1), (4>3) -> 3/4
    assert(auc(Seq(1.0 -> 0L, 2.0 -> 1L, 3.0 -> 0L, 4.0 -> 1L)) == 0.75)
    // tie split: pos ranks {2.5, 4}, AUC = (6.5 - 3)/4 = 0.875
    assert(auc(Seq(1.0 -> 0L, 2.0 -> 1L, 2.0 -> 0L, 3.0 -> 1L)) == 0.875)
    // degenerate groups (all-pos / all-neg) are dropped
    val deg = Seq(("a", 1L, 1L, 0.3), ("a", 2L, 1L, 0.7), ("b", 3L, 0L, 0.4),
      ("b", 4L, 1L, 0.6)).toDF("grp", "id", "label", "score")
    val out = Stats.rankAuc(deg, "grp", "label", "score", "id").collect()
    assert(out.map(_.getString(0)).toSeq == Seq("b"))
  }

  test("ols1: slope/intercept/r2 match the covariance closed forms per part") {
    val sf = "/root/testdata/sf0.001"
    val out = graft.queries.QueryCatalog.byName("ols1_grouped_regression")
      .run(spark, sf)
    // independent reference: Spark's own covariance/correlation aggregates
    // over the same (part, qty, price) pairs — algebraically identical to
    // the query's integer-moment route, so agreement to rounding noise
    // validates the whole sum->combination pipeline
    val ref = spark.read.parquet(s"$sf/lineitem.parquet")
      .groupBy("l_partkey").agg(
        covar_pop(col("l_quantity"), col("l_extendedprice")).as("cxy"),
        var_pop(col("l_quantity")).as("vx"),
        corr(col("l_quantity"), col("l_extendedprice")).as("r"),
        avg(col("l_extendedprice")).as("my"),
        avg(col("l_quantity")).as("mx"))
    val j = out.join(ref, "l_partkey").collect()
    assert(j.length > 100, s"expected many regressed parts, got ${j.length}")
    j.foreach { row =>
      val slope = row.getAs[Double]("slope_usd")
      val refSlope = row.getAs[Double]("cxy") / row.getAs[Double]("vx")
      assert(math.abs(slope - refSlope) < 1e-4, s"slope: $row")
      val ic = row.getAs[Double]("intercept_usd")
      val refIc = row.getAs[Double]("my") - refSlope * row.getAs[Double]("mx")
      assert(math.abs(ic - refIc) < 1e-3, s"intercept: $row")
      val r = row.getAs[Double]("r")
      assert(math.abs(row.getAs[Double]("r2") - r * r) < 1e-5, s"r2: $row")
      // z carries the slope's sign; p in (0, 1]
      assert(row.getAs[Double]("z").sign == slope.sign || slope == 0.0)
      val p = row.getAs[Double]("pvalue")
      assert(p > 0.0 && p <= 1.0, s"pvalue: $row")
    }
  }

  test("pv1: histogram partitions the wt1 screen, pi0 well-formed") {
    val sf = "/root/testdata/sf0.001"
    val out = graft.queries.QueryCatalog.byName("pv1_pvalue_qc")
      .run(spark, sf).collect()
    assert(out.nonEmpty)
    val nScreen = graft.queries.QueryCatalog.byName("wt1_welch_z")
      .run(spark, sf).count()
    assert(out.map(_.getAs[Long]("n_genes")).sum == nScreen,
      "bins must partition the screened genes")
    assert(math.abs(out.map(_.getAs[Double]("frac")).sum - 1.0) < 1e-4)
    out.foreach { r =>
      val bin = r.getAs[Long]("bin")
      assert(bin >= 0 && bin <= 19, s"bin range: $r")
      val pi0 = r.getAs[Double]("pi0")
      assert(pi0 >= 0.0 && pi0 <= 1.0, s"pi0 range: $r")
    }
    // pi0 is constant across rows (a corpus-level scalar)
    assert(out.map(_.getAs[Double]("pi0")).distinct.length == 1)
  }
}
