package graft

import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}

import graft.functions.Survival

class SurvivalSpec extends SparkSpec {
  import spark.implicits._

  // times 1(event), 2(censor), 3(event), 4(censor), 5(event)
  private def subjects = Seq(
    ("s", 1L, 1L), ("s", 2L, 0L), ("s", 3L, 1L), ("s", 4L, 0L), ("s", 5L, 1L))
    .toDF("strat", "time", "event")

  test("KM product-limit curve matches hand computation") {
    val rows = Survival.kmCurve(subjects, "strat", "time", "event")
      .orderBy("time").collect()
    // event rows only: t=1 S=4/5, t=3 S=.8*2/3=.5333, t=5 n_risk=1 -> S=0
    assert(rows.map(_.getAs[Long]("time")).toSeq == Seq(1L, 3L, 5L))
    assert(rows.map(_.getAs[Long]("n_risk")).toSeq == Seq(5L, 3L, 1L))
    val s = rows.map(_.getAs[Double]("survival"))
    assert(math.abs(s(0) - 0.8) < 1e-12)
    assert(math.abs(s(1) - 0.53333333) < 1e-6)
    assert(s(2) == 0.0)
  }

  test("KM log-transform CI matches survfit conf.type='log' hand computation") {
    // subjects: t=1 event, t=2 event, t=3 censor, t=4 event (n=4)
    val df = Seq(("s", 1L, 1L), ("s", 2L, 1L), ("s", 3L, 0L), ("s", 4L, 1L))
      .toDF("strat", "time", "event")
    val rows = Survival.kmCurve(df, "strat", "time", "event")
      .orderBy("time").collect()
    // t=1: S=3/4, se(logS)=sqrt(1/(4·3)); CI = S·exp(±1.96·se(logS)), hi clipped
    val se1 = math.sqrt(1.0 / 12)
    assert(math.abs(rows(0).getAs[Double]("ci_lo") - 0.75 * math.exp(-1.96 * se1)) < 1e-12)
    assert(rows(0).getAs[Double]("ci_hi") == 1.0) // 0.75·exp(+1.96·se) > 1 → clip
    // t=2: S=1/2, se(logS)=sqrt(1/12 + 1/(3·2))
    val se2 = math.sqrt(1.0 / 12 + 1.0 / 6)
    assert(math.abs(rows(1).getAs[Double]("ci_lo") - 0.5 * math.exp(-1.96 * se2)) < 1e-12)
    assert(rows(1).getAs[Double]("ci_hi") == 1.0)
    // t=4: curve extinct (S=0) → CI is NULL, like survfit's NA
    assert(rows(2).getAs[Double]("survival") == 0.0)
    assert(rows(2).isNullAt(rows(2).fieldIndex("ci_lo")))
    assert(rows(2).isNullAt(rows(2).fieldIndex("ci_hi")))
  }

  test("KM survival is non-increasing within [0,1] (property)") {
    val n = 200
    val df = (1 to n).map { i =>
      (if (i % 2 == 0) "a" else "b", (i * 37 % 97).toLong, (i % 3 min 1).toLong)
    }.toDF("strat", "time", "event")
    val curve = Survival.kmCurve(df, "strat", "time", "event")
      .orderBy("strat", "time")
      .select("strat", "survival").collect()
    curve.groupBy(_.getString(0)).values.foreach { rows =>
      val s = rows.map(_.getDouble(1))
      assert(s.forall(x => x >= 0.0 && x <= 1.0))
      s.sliding(2).foreach { case Array(a, b) => assert(b <= a + 1e-12); case _ => }
    }
  }

  test("KM with no censoring equals empirical survival (property)") {
    val df = Seq(1L, 2L, 3L, 4L).map(("s", _, 1L)).toDF("strat", "time", "event")
    val s = Survival.kmCurve(df, "strat", "time", "event")
      .orderBy("time").select("survival").as[Double].collect()
    assert(s.zip(Seq(0.75, 0.5, 0.25, 0.0)).forall { case (a, b) => math.abs(a - b) < 1e-12 })
  }

  test("median survival: first time the curve reaches 0.5; NULL if never") {
    // 4 events: S = .75, .5, .25, 0 -> median at the 2nd event time
    val df = Seq(1L, 2L, 3L, 4L).map(("s", _, 1L)).toDF("strat", "time", "event")
    val med = Survival.medianSurvival(
      Survival.kmCurve(df, "strat", "time", "event"), "strat").collect()
    assert(med.length == 1 && med.head.getAs[Long]("median_survival") == 2L)
    // heavy censoring: curve stays above 0.5 -> no median row
    val censored = (Seq(("s", 1L, 1L)) ++ (2L to 9L).map(("s", _, 0L)))
      .toDF("strat", "time", "event")
    assert(Survival.medianSurvival(
      Survival.kmCurve(censored, "strat", "time", "event"), "strat").count() == 0)
  }

  test("log-rank test: identical groups give chi2 near 0, separated groups large") {
    val same = (1 to 20).flatMap(i => Seq(("a", i.toLong, 1L), ("b", i.toLong, 1L)))
      .toDF("strat", "time", "event")
    val r1 = Survival.logRank(same, "strat", "time", "event").collect().head
    assert(math.abs(r1.getAs[Double]("chi2")) < 1e-9)
    val split = ((1 to 20).map(i => ("a", i.toLong, 1L)) ++
      (1 to 20).map(i => ("b", (i + 100).toLong, 1L))).toDF("strat", "time", "event")
    val r2 = Survival.logRank(split, "strat", "time", "event").collect().head
    assert(r2.getAs[Double]("chi2") > 10.0)
    assert(r2.getAs[Double]("pvalue") < 0.01)
  }

  test("degenerate inputs: all censored gives no curve and no test; one stratum no test") {
    val censored = Seq(("g", "a", 1L, 0L), ("g", "a", 2L, 0L), ("g", "b", 2L, 0L),
      ("g", "b", 3L, 0L)).toDF("grp", "strat", "time", "event")
    assert(Survival.kmCurve(censored, "strat", "time", "event").count() == 0)
    assert(Survival.logRankBy(censored, "grp", "strat", "time", "event").count() == 0)
    // "one" has a single stratum (zero variance), "two" a real comparison
    val mixed = Seq(("one", "a", 1L, 1L), ("one", "a", 2L, 1L), ("one", "a", 3L, 0L),
      ("two", "a", 1L, 1L), ("two", "b", 2L, 1L), ("two", "b", 3L, 1L))
      .toDF("grp", "strat", "time", "event")
    val tests = Survival.logRankBy(mixed, "grp", "strat", "time", "event")
      .select("grp").as[String].collect().toSeq
    assert(tests == Seq("two"))
    assert(Survival.logRank(mixed.filter($"grp" === "one"), "strat", "time", "event")
      .count() == 0)
  }

  test("kmCurve and logRankBy plan one shuffle exchange and persist nothing of their own") {
    val input = (1 to 60).map(i => (s"g${i % 3}", if (i % 2 == 0) "a" else "b",
        (i * 7 % 11).toLong, (i % 3 min 1).toLong))
      .toDF("grp", "strat", "time", "event").persist()
    try {
      input.count()
      val inputCache = input.queryExecution.withCachedData
        .collectFirst { case r: InMemoryRelation => r.cacheBuilder }.get
      Seq(Survival.kmCurve(input, "strat", "time", "event"),
          Survival.logRankBy(input, "grp", "strat", "time", "event")).foreach { out =>
        out.collect()
        val nodes = PlanNodes(out.queryExecution.executedPlan)
        val exchanges = nodes.collect { case e: Exchange => e }
        assert(exchanges.size == 1 && exchanges.head.isInstanceOf[ShuffleExchangeExec],
          out.queryExecution.executedPlan)
        // the only cache read is the caller's input
        val scans = nodes.collect { case m: InMemoryTableScanExec => m }
        assert(scans.size == 1 && (scans.head.relation.cacheBuilder eq inputCache),
          out.queryExecution.executedPlan)
      }
    } finally input.unpersist()
  }
}
