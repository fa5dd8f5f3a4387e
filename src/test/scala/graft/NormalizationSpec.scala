package graft

import org.apache.spark.sql.functions._
import graft.functions.Normalization

class NormalizationSpec extends SparkSpec {
  import spark.implicits._

  test("median-of-ratios size factors match hand computation") {
    // g1: s1=1, s2=4 (geomean 2); g2: s1=4, s2=16 (geomean 8)
    // ratios s1: (0.5, 0.5) -> 0.5 ; s2: (2, 2) -> 2
    val df = Seq(("g1", "s1", 1.0), ("g1", "s2", 4.0), ("g2", "s1", 4.0), ("g2", "s2", 16.0))
      .toDF("gene", "smp", "cnt")
    val sf = Normalization.sizeFactors(df, "gene", "smp", "cnt")
      .orderBy("smp").collect()
    assert(sf.map(_.getString(0)).toSeq == Seq("s1", "s2"))
    assert(math.abs(sf(0).getAs[Double]("size_factor") - 0.5) < 1e-12)
    assert(math.abs(sf(1).getAs[Double]("size_factor") - 2.0) < 1e-12)
  }

  test("zero counts are excluded from geometric means (DESeq2 semantics)") {
    val df = Seq(("g1", "s1", 0.0), ("g1", "s2", 8.0), ("g2", "s1", 2.0), ("g2", "s2", 2.0))
      .toDF("gene", "smp", "cnt")
    val sf = Normalization.sizeFactors(df, "gene", "smp", "cnt").collect()
    assert(sf.forall(r => !r.getAs[Double]("size_factor").isNaN))
  }

  test("trend VST: monotone, ~log2 at high counts, stabilizes NB variance") {
    // counts with true NB-style variance var ≈ mu + 0.13*mu^2 across a
    // mean range: u uniform on {-1,-2/3,...,1} has E[u²]=0.444, so
    // noise = u·sqrt(3·(mu+0.1·mu²)) gives var ≈ 1.33·(mu+0.1·mu²)
    val rows = for {
      g <- 1 to 60
      s <- 1 to 9
    } yield {
      val mu = 5.0 * g
      val u = ((g * 31 + s * 17) % 7 - 3) / 3.0
      val noise = u * math.sqrt(3.0 * (mu + 0.1 * mu * mu))
      (s"g$g", s"s$s", math.max(0.0, mu + noise))
    }
    val df = rows.toDF("gene", "smp", "cnt")
    val v = Normalization.vstTrend(df, "gene", "smp", "cnt")
    // monotone in q within a sample
    val bySmp = v.filter(col("smp") === "s1").orderBy("q")
      .select("vst").as[Double].collect()
    bySmp.sliding(2).foreach { case Array(a, b) => assert(b >= a - 1e-12); case _ => }
    // high-count regime: differences track log2 ratios
    val hi = v.filter(col("q") > 100).select(col("q"), col("vst"))
      .orderBy("q").collect().map(r => (r.getDouble(0), r.getDouble(1)))
    if (hi.length > 2) {
      val (q1, v1) = hi.head
      val (q2, v2) = hi.last
      val logRatio = math.log(q2 / q1) / math.log(2.0)
      assert(math.abs((v2 - v1) - logRatio) / logRatio < 0.15,
        s"vst diff ${v2 - v1} vs log2 ratio $logRatio")
    }
    // variance stabilization: per-gene sd of vst varies far less across the
    // mean range than per-gene sd of raw counts
    val sds = v.groupBy("gene").agg(stddev(col("vst")).as("sv"), avg(col("q")).as("mu"))
      .collect().map(r => (r.getAs[Double]("mu"), r.getAs[Double]("sv")))
    val lowMu = sds.filter(_._1 < 50).map(_._2)
    val hiMu = sds.filter(_._1 > 200).map(_._2)
    if (lowMu.nonEmpty && hiMu.nonEmpty) {
      val ratio = (hiMu.sum / hiMu.length) / (lowMu.sum / lowMu.length)
      assert(ratio < 3.0, s"vst sd ratio across mean range = $ratio")
    }
  }

  test("vst is monotone in counts within a sample") {
    val df = Seq(("g1", "s1", 2.0), ("g2", "s1", 8.0), ("g1", "s2", 3.0), ("g2", "s2", 12.0))
      .toDF("gene", "smp", "cnt")
    val v = Normalization.vst(df, "gene", "smp", "cnt")
      .orderBy("smp", "cnt").select("vst").as[Double].collect()
    assert(v(0) < v(1) && v(2) < v(3))
  }
}
