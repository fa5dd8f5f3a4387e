package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.functions.{Stats, Survival}
import graft.operators.TextFunctions

/** ScalaCheck-generator property tests (SURVEY.md §5.3): engine invariants
  * over generated inputs, sampled with fixed seeds (deterministic CI). */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  test("BH: padj in [p,1] and monotone in p-rank (generated p-vectors)") {
    val gen = Gen.nonEmptyListOf(Gen.chooseNum(0.0, 1.0)).map(_.take(40))
    samples(gen, 6).foreach { ps =>
      val df = ps.zipWithIndex.map { case (p, i) => (i.toLong, p) }.toDF("id", "pval")
      val out = Stats.bhAdjust(df, "pval", "id").orderBy("pval", "id")
        .select("pval", "padj").collect()
        .map(r => (r.getDouble(0), r.getDouble(1)))
      assert(out.forall { case (p, q) => q >= p - 1e-15 && q <= 1.0 + 1e-15 })
      out.sliding(2).foreach {
        case Array((_, q1), (_, q2)) => assert(q1 <= q2 + 1e-12)
        case _ =>
      }
    }
  }

  test("KM: survival in [0,1] non-increasing; no censoring => empirical survival") {
    val gen = for {
      n <- Gen.chooseNum(2, 25)
      times <- Gen.listOfN(n, Gen.chooseNum(1L, 15L))
      events <- Gen.listOfN(n, Gen.oneOf(0L, 1L))
    } yield times.zip(events)
    samples(gen, 6).foreach { subj =>
      val df = subj.map { case (t, e) => ("s", t, e) }.toDF("strat", "time", "event")
      val s = Survival.kmCurve(df, "strat", "time", "event")
        .orderBy("time").select("survival").as[Double].collect()
      assert(s.forall(x => x >= -1e-12 && x <= 1 + 1e-12))
      s.sliding(2).foreach { case Array(a, b) => assert(b <= a + 1e-12); case _ => }

      val n = subj.size.toDouble
      Survival.kmCurve(subj.map { case (t, _) => ("s", t, 1L) }
          .toDF("strat", "time", "event"), "strat", "time", "event")
        .orderBy("time").select("time", "survival").collect().foreach { r =>
          val expected = subj.count(_._1 > r.getLong(0)) / n
          assert(math.abs(r.getDouble(1) - expected) < 1e-9)
        }
    }
  }

  /** A survival subject: (group, stratum, time, event). */
  private type Subj = (String, Option[String], Long, Long)

  test("Survival: kmCurve and logRankBy equal a plain-Scala reference at widths 1 and 7") {
    // per group: one to three strata, a few NULL-stratum rows, times drawn
    // from 1..6 so strata tie at one time and some times only censor
    val groupGen = for {
      k <- Gen.chooseNum(1, 3)
      n <- Gen.chooseNum(2, 14)
      rows <- Gen.listOfN(n, Gen.zip(
        Gen.frequency(8 -> Gen.chooseNum(0, k - 1).map(i => Option("ABC".substring(i, i + 1))),
          1 -> Gen.const(Option.empty[String])),
        Gen.chooseNum(1L, 6L), Gen.oneOf(0L, 1L)))
    } yield rows
    val gen = Gen.listOfN(4, groupGen).map(_.zipWithIndex.flatMap { case (rows, g) =>
      rows.map { case (st, t, e) => (s"g$g", st, t, e) }
    })
    // every sample also holds: a three-stratum group with ties across strata
    // at t = 2 and a censor-only time (t = 3), a one-stratum group, NULL strata
    val fixed: Seq[Subj] = Seq(
      ("w3", Some("A"), 2L, 1L), ("w3", Some("B"), 2L, 1L), ("w3", Some("C"), 2L, 1L),
      ("w3", Some("A"), 3L, 0L), ("w3", Some("C"), 3L, 0L), ("w3", Some("B"), 4L, 1L),
      ("w3", Some("A"), 5L, 1L), ("w3", Some("C"), 1L, 1L), ("w3", None, 2L, 1L),
      ("w1", Some("A"), 1L, 1L), ("w1", Some("A"), 2L, 0L), ("w1", Some("A"), 4L, 1L),
      ("w1", None, 3L, 1L))

    /** KM rows per (stratum, event time): the product-limit and Greenwood
      * sums over the subjects at risk, counted directly. */
    def kmRef(subj: Seq[Subj]): Map[(String, Long), (Long, Long, Long, Double, Double)] =
      subj.collect { case (g, Some(st), t, e) => (s"$g|$st", t, e) }.groupBy(_._1)
        .toSeq.flatMap { case (key, rows) =>
          var surv = 1.0
          var gw = 0.0
          rows.map(_._2).distinct.sorted.flatMap { t =>
            val n = rows.count(_._2 >= t).toLong
            val d = rows.count(r => r._2 == t && r._3 == 1L).toLong
            val c = rows.count(r => r._2 == t && r._3 == 0L).toLong
            if (d >= n) surv = 0.0
            else if (d > 0) { surv *= 1.0 - d.toDouble / n; gw += d.toDouble / (n * (n - d)) }
            if (d > 0) Some((key, t) -> (n, d, c, surv, if (surv == 0.0) 0.0 else surv * math.sqrt(gw)))
            else None
          }
        }.toMap

    /** Log-rank per group: the first stratum against the pooled rest. */
    def logRankRef(subj: Seq[Subj]): Map[String, (Long, Double, Double, Double)] =
      subj.collect { case (g, Some(st), t, e) => (g, st, t, e) }.groupBy(_._1)
        .toSeq.flatMap { case (g, rows) =>
          val a = rows.map(_._2).min
          var (o, ex, v) = (0L, 0.0, 0.0)
          rows.map(_._3).distinct.sorted.foreach { t =>
            val n = rows.count(_._3 >= t).toDouble
            val na = rows.count(r => r._2 == a && r._3 >= t).toDouble
            val d = rows.count(r => r._3 == t && r._4 == 1L).toDouble
            if (d > 0 && n > 1) {
              o += rows.count(r => r._2 == a && r._3 == t && r._4 == 1L)
              ex += d * na / n
              v += d * (na / n) * (1 - na / n) * (n - d) / (n - 1)
            }
          }
          if (v > 0) {
            val chi2 = (o - ex) * (o - ex) / v
            Some(g -> (o, ex, chi2,
              org.apache.commons.math3.special.Erf.erfc(math.sqrt(chi2) / math.sqrt(2.0))))
          } else None
        }.toMap

    def close(x: Double, y: Double, tol: Double = 1e-9) =
      math.abs(x - y) <= tol * math.max(1.0, math.abs(y))
    def check(subj: Seq[Subj]): Unit = {
      val df = subj.toDF("grp", "strat", "time", "event")
      val curve = Survival.kmCurve(
          df.withColumn("gs", when($"strat".isNotNull, concat_ws("|", $"grp", $"strat"))),
          "gs", "time", "event").collect()
        .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3),
          r.getLong(4), r.getDouble(5), r.getDouble(6))).toMap
      val kRef = kmRef(subj)
      assert(curve.keySet == kRef.keySet, subj)
      kRef.foreach { case (k, (n, d, c, s, se)) =>
        val (gn, gd, gc, gs, gse) = curve(k)
        assert((gn, gd, gc) == (n, d, c) && close(gs, s) && close(gse, se), s"$k in $subj")
      }
      val tests = Survival.logRankBy(df, "grp", "strat", "time", "event").collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3),
          r.getDouble(4))).toMap
      val lRef = logRankRef(subj)
      assert(tests.keySet == lRef.keySet, subj)
      lRef.foreach { case (g, (o, ex, chi2, p)) =>
        val (go, gex, gchi2, gp) = tests(g)
        // the p-value's erfc is a 1.5e-7 polynomial
        assert(go == o && close(gex, ex) && close(gchi2, chi2) && math.abs(gp - p) < 3e-7,
          s"$g in $subj")
      }
    }
    val inputs = samples(gen, 6).map(_ ++ fixed)
    withConf("spark.sql.shuffle.partitions" -> "1")(inputs.foreach(check))
    atWidth7(inputs.foreach(check))
  }

  test("ntile(2): bucket sizes differ by at most 1") {
    samples(Gen.chooseNum(1, 60), 6).foreach { n =>
      val df = (1 to n).map(i => ("g", i)).toDF("g", "v")
      val w = org.apache.spark.sql.expressions.Window.partitionBy("g").orderBy("v")
      val sizes = df.withColumn("t", ntile(2).over(w))
        .groupBy("t").count().select("count").as[Long].collect()
      assert(sizes.max - sizes.min <= 1)
    }
  }

  test("shingles: count = max(0, n-k+1); every shingle has k tokens") {
    val gen = for {
      toks <- Gen.listOf(Gen.identifier.map(_.take(6))).map(_.take(12))
      k <- Gen.chooseNum(2, 4)
    } yield (toks.filter(_.nonEmpty), k)
    samples(gen, 8).foreach { case (toks, k) =>
      val text = if (toks.isEmpty) " " else toks.mkString(" ")
      val df = Seq(text).toDF("text")
        .select(TextFunctions.shingles(TextFunctions.tokens(col("text")), k).as("s"))
      val sh = df.as[Seq[String]].collect().head
      if (toks.size < k) assert(sh.isEmpty)
      else {
        assert(sh.size == toks.size - k + 1)
        sh.foreach(x => assert(x.split(" ").length == k))
      }
    }
  }

  test("signif banding: smaller padj never gets fewer stars") {
    val rank = Map("ns" -> 0, "*" -> 1, "**" -> 2, "***" -> 3, "****" -> 4)
    samples(Gen.listOfN(10, Gen.chooseNum(0.0, 0.2)), 6).foreach { ps =>
      val bands = ps.sorted.map(p => Tuple1(p)).toDF("padj")
        .select(Stats.signifBand(col("padj")).as("b")).as[String].collect()
      bands.sliding(2).foreach {
        case Array(a, b) => assert(rank(a) >= rank(b))
        case _ =>
      }
    }
  }

  test("Ranks: two-phase rank/ntile equals built-in windows on generated frames") {
    import graft.operators.Ranks
    import org.apache.spark.sql.expressions.Window
    val gen = for {
      n <- Gen.chooseNum(1, 120)
      groups <- Gen.chooseNum(1, 4)
      tiles <- Gen.chooseNum(1, 9)
      vs <- Gen.listOfN(n, Gen.chooseNum(0, 7)) // heavy ties on purpose
    } yield (groups, tiles, vs)
    var spanned = 0L
    atWidth7(samples(gen, 5).foreach { case (groups, tiles, vs) =>
      val df = vs.zipWithIndex
        .map { case (v, i) => (s"g${i % groups}", v, i.toLong) }
        .toDF("g", "v", "id").repartition(5)
      spanned = math.max(spanned, rangeSpan(df, $"g", $"v", $"id"))
      val w = Window.partitionBy($"g").orderBy($"v", $"id")
      val expect = df.withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("tile", ntile(tiles).over(w))
      val got = Ranks.ntile(
        Ranks.rowNumber(df, Seq($"g"), Seq($"v", $"id")).drop("__n"),
        Seq($"g"), Seq($"v", $"id"), tiles)
      assert(got.except(expect).isEmpty && expect.except(got).isEmpty,
        s"groups=$groups tiles=$tiles n=${vs.length}")
    })
    assert(spanned > 1, "no input spanned several range partitions")
  }

  test("prefixSum: two-phase scan equals the single cumulative window exactly") {
    import graft.operators.Ranks
    import org.apache.spark.sql.expressions.Window
    val gen = for {
      n <- Gen.chooseNum(1, 120)
      groups <- Gen.chooseNum(1, 4)
      vs <- Gen.listOfN(n, Gen.chooseNum(-5L, 20L)) // negatives too
    } yield (groups, vs)
    var spanned = 0L
    atWidth7(samples(gen, 5).foreach { case (groups, vs) =>
      val df = vs.zipWithIndex
        .map { case (v, i) => (s"g${i % groups}", v, i.toLong) }
        .toDF("g", "v", "id").repartition(5)
      spanned = math.max(spanned, rangeSpan(df, $"g", $"v", $"id"))
      val w = Window.partitionBy($"g").orderBy($"v", $"id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val expect = df.withColumn("cs", sum($"v").over(w))
      val got = Ranks.prefixSum(df, Seq($"g"), Seq($"v", $"id"), $"v", "cs")
      assert(got.except(expect).isEmpty && expect.except(got).isEmpty,
        s"groups=$groups n=${vs.length}")
    })
    assert(spanned > 1, "no input spanned several range partitions")
  }

  test("quantiles: every reported quantile is the ceil(q*n)-th sorted value") {
    import graft.operators.Ranks
    val gen = for {
      n <- Gen.chooseNum(1, 90)
      vs <- Gen.listOfN(n, Gen.chooseNum(0, 9))
    } yield vs
    var spanned = 0L
    atWidth7(samples(gen, 5).foreach { vs =>
      val df = vs.zipWithIndex.map { case (v, i) => ("g", v, i.toLong) }
        .toDF("g", "v", "id").repartition(3)
      spanned = math.max(spanned, rangeSpan(df, $"g", $"v", $"id"))
      val got = Ranks.quantiles(df, Seq("g"), "v", "id",
        Seq("q25" -> 0.25, "q50" -> 0.5, "q90" -> 0.9)).collect().head
      val sorted = vs.sorted
      def at(q: Double) = sorted(math.ceil(q * vs.length).toInt - 1)
      assert(got.getAs[Long]("n") === vs.length.toLong)
      assert(got.getAs[Int]("q25") === at(0.25) &&
        got.getAs[Int]("q50") === at(0.5) && got.getAs[Int]("q90") === at(0.9))
    })
    assert(spanned > 1, "no input spanned several range partitions")
  }

  test("BH two-phase equals the plain single-window formulation exactly") {
    import org.apache.spark.sql.expressions.Window
    val gen = Gen.nonEmptyListOf(Gen.chooseNum(0.0, 1.0)).map(_.take(80))
    samples(gen, 5).foreach { ps =>
      val df = ps.zipWithIndex.map { case (p, i) => (i.toLong, p) }
        .toDF("id", "pval").repartition(7)
      // the textbook one-window reference implementation
      val wR = Window.orderBy($"pval", $"id")
      val wC = Window.orderBy($"pval".desc, $"id".desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val expect = df
        .withColumn("r", row_number().over(wR))
        .withColumn("n", count(lit(1)).over(Window.partitionBy()))
        .withColumn("padj", min(least(lit(1.0), $"pval" * $"n" / $"r")).over(wC))
        .select($"id", $"pval", $"padj")
      val got = Stats.bhAdjust(df, "pval", "id").select($"id", $"pval", $"padj")
      assert(got.except(expect).isEmpty && expect.except(got).isEmpty)
    }
    // grouped: uneven families with NULL p-values, one all-NULL family and
    // the empty frame, at shuffle widths where every family fits in one
    // range partition (1) and where families span several (7)
    val famGen = Gen.listOf(Gen.zip(Gen.oneOf("a", "b", "c"),
        Gen.option(Gen.chooseNum(0.0, 1.0))))
      .map(rows => rows.take(90) ++ Seq.fill(3)(("z", Option.empty[Double])))
    val inputs = samples(famGen, 4) :+ Nil
    // AQE would coalesce these small range partitions back into one
    val confs = Seq("spark.sql.shuffle.partitions",
      "spark.sql.adaptive.coalescePartitions.enabled")
    val saved = confs.map(k => k -> spark.conf.get(k))
    var spanned = 0L
    def sorted(d: org.apache.spark.sql.DataFrame) = d.collect().toSeq
      .map(r => (r.getLong(0), r.getString(1), Option(r.get(2)), Option(r.get(3))))
      .sortBy(_._1)
    try for (width <- Seq(1, 7)) {
      spark.conf.set(confs(0), width.toLong)
      spark.conf.set(confs(1), width == 1)
      inputs.foreach { rows =>
        val df = rows.zipWithIndex.map { case ((f, p), i) => (i.toLong, f, p) }
          .toDF("id", "fam", "pval").repartition(7)
        spanned = math.max(spanned, df.filter($"pval".isNotNull)
          .repartitionByRange($"fam", $"pval".desc, $"id".desc)
          .select(spark_partition_id()).distinct().count())
        // the textbook per-family reference over the non-NULL rows; NULL p
        // gets NULL padj
        val wR = Window.partitionBy($"fam").orderBy($"pval", $"id")
        val wC = Window.partitionBy($"fam").orderBy($"pval".desc, $"id".desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val expect = df.filter($"pval".isNotNull)
          .withColumn("r", row_number().over(wR))
          .withColumn("n", count(lit(1)).over(Window.partitionBy($"fam")))
          .withColumn("padj", min(least(lit(1.0), $"pval" * $"n" / $"r")).over(wC))
          .select($"id", $"fam", $"pval", $"padj")
          .unionByName(df.filter($"pval".isNull)
            .select($"id", $"fam", $"pval", lit(null).cast("double").as("padj")))
        val got = Stats.bhAdjust(df, "pval", "id", partitionCols = Seq("fam"))
          .select($"id", $"fam", $"pval", $"padj")
        assert(sorted(got) === sorted(expect), s"width $width: $rows")
      }
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
    assert(spanned > 1, "no input spanned several range partitions")
  }

  test("contaminationBloom == contamination on generated split corpora") {
    import graft.operators.Dedup
    val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta")
    val doc = Gen.listOfN(8, word).map(_.mkString(" "))
    val gen = for {
      n <- Gen.chooseNum(6, 14)
      texts <- Gen.listOfN(n, doc)
      flags <- Gen.listOfN(n, Gen.oneOf(true, false))
    } yield texts.zip(flags).zipWithIndex.map { case ((t, f), i) => (i.toLong, t, f) }
    samples(gen, 4).foreach { rows =>
      val corpus = rows.toDF("doc_id", "text", "is_train")
      def key(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_sh"),
          r.getAs[Long]("n_shared"), r.getAs[Double]("contamination"))).toSet
      val exact = key(Dedup.contamination(corpus, "doc_id", "text", $"is_train", 3))
      val bloomed = key(Dedup.contaminationBloom(corpus, "doc_id", "text",
        $"is_train", 3, expectedItems = 64, fpp = 0.05))
      assert(bloomed === exact, s"bloom/exact diverge on $rows")
    }
  }

  test("duplicatedSpans: coverage bounded by n_tok; cloning a doc fully covers it") {
    import graft.operators.Dedup
    val word = Gen.oneOf("w1", "w2", "w3", "w4", "w5", "w6", "w7", "w8", "w9")
    val gen = for {
      n <- Gen.chooseNum(2, 6)
      docs <- Gen.listOfN(n, Gen.chooseNum(5, 12).flatMap(Gen.listOfN(_, word)))
    } yield docs.map(_.mkString(" "))
    samples(gen, 4).foreach { texts =>
      val base = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      // clone doc 0 under a fresh id: every gram of doc 0 becomes duplicated
      val corpus = (base :+ ((1000L, texts.head))).toDF("doc_id", "text")
      val r = Dedup.duplicatedSpans(corpus, "doc_id", "text", 3)
        .collect().map(x => x.getAs[Long]("doc_id") ->
          ((x.getAs[Long]("n_tok"), x.getAs[Long]("n_grams"),
            x.getAs[Long]("n_cov_tokens")))).toMap
      r.values.foreach { case (nTok, nGrams, cov) =>
        assert(cov <= nTok && cov >= 0 && nGrams == math.max(0L, nTok - 2))
      }
      val (n0, g0, c0) = r(0L)
      if (g0 > 0) assert(c0 == n0, s"cloned doc not fully covered: $c0/$n0")
      assert(r(0L) == r(1000L))
    }
  }

  test("duplicatedSpanList: spans maximal, non-overlapping, and cover-consistent") {
    import graft.operators.Dedup
    val word = Gen.oneOf("w1", "w2", "w3", "w4", "w5", "w6", "w7", "w8", "w9")
    val gen = for {
      n <- Gen.chooseNum(2, 6)
      docs <- Gen.listOfN(n, Gen.chooseNum(5, 14).flatMap(Gen.listOfN(_, word)))
    } yield docs.map(_.mkString(" "))
    samples(gen, 4).foreach { texts =>
      val base = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val corpus = (base :+ ((1000L, texts.head))).toDF("doc_id", "text")
      val spans = Dedup.duplicatedSpanList(corpus, "doc_id", "text", 3)
        .collect()
        .map(x => (x.getAs[Long]("doc_id"), x.getAs[Long]("span_start"),
          x.getAs[Long]("span_len")))
        .groupBy(_._1).view
        .mapValues(_.map(s => (s._2, s._3)).sortBy(_._1).toSeq).toMap
      spans.foreach { case (doc, ss) =>
        ss.foreach { case (start, len) =>
          assert(start >= 0 && len >= 3, s"doc $doc: span ($start, $len) shorter than n")
        }
        // non-overlapping AND maximal: consecutive spans leave a gap of
        // ≥ 2 tokens (a gap ≤ 1 means touching/overlapping windows that
        // must have merged into one island)
        ss.toSeq.sliding(2).foreach { w =>
          if (w.size == 2) {
            val (s1, l1) = w(0)
            val (s2, _) = w(1)
            assert(s2 > s1 + l1, s"doc $doc: spans overlap")
            assert(s2 - (s1 + l1 - 1) >= 2, s"doc $doc: adjacent spans unmerged")
          }
        }
      }
      // cover-consistency with duplicatedSpans: summed span lengths equal
      // the interval-merged covered-token count, per doc
      val cov = Dedup.duplicatedSpans(corpus, "doc_id", "text", 3)
        .collect().map(x => x.getAs[Long]("doc_id") -> x.getAs[Long]("n_cov_tokens"))
        .toMap
      cov.foreach { case (doc, c) =>
        val got = spans.get(doc).map(_.map(_._2).sum).getOrElse(0L)
        assert(got == c, s"doc $doc: span lengths $got != covered $c")
      }
      // the cloned pair's span lists are identical
      assert(spans.get(0L) == spans.get(1000L))
      // trim consistency: kept tokens = n_tok − covered tokens, and the
      // trimmed text is exactly the surviving tokens (re-splittable)
      val trimmed = Dedup.trimDuplicatedSpans(corpus, "doc_id", "text", 3)
        .collect().map(x => x.getAs[Long]("doc_id") ->
          ((x.getAs[Long]("n_tok"), x.getAs[Long]("n_kept"),
            x.getAs[String]("trimmed_text")))).toMap
      trimmed.foreach { case (doc, (nTok, nKept, text)) =>
        val c = cov.getOrElse(doc, 0L)
        assert(nKept == nTok - c, s"doc $doc: kept $nKept != $nTok - $c")
        val words = if (text.isEmpty) 0 else text.split(" ").length
        assert(words == nKept, s"doc $doc: text words $words != n_kept $nKept")
      }
      // keepFirst: the exemplar (lowest-id) copy survives intact — doc 0
      // keeps every token, while the 1000-id clone loses what doc 0 kept
      val keepOne = Dedup.trimDuplicatedSpans(corpus, "doc_id", "text", 3,
          keepFirst = true)
        .collect().map(x => x.getAs[Long]("doc_id") ->
          ((x.getAs[Long]("n_tok"), x.getAs[Long]("n_kept")))).toMap
      val (n0k, kept0) = keepOne(0L)
      assert(kept0 == n0k, s"keeper doc trimmed: $kept0/$n0k")
      // the clone never keeps MORE than the aggressive variant of doc 0
      // would suggest; with ≥1 duplicated gram it must lose something
      val (cn, ck) = keepOne(1000L)
      if (trimmed(1000L)._2 < cn) assert(ck < cn, "clone kept everything")
    }
  }

  private val sfDir = "/root/testdata/sf0.001"

  test("an1: anti join is the exact complement of the 1995 semi join") {
    import org.apache.spark.sql.functions._
    val cust = Tables.customer(spark, sfDir)
    val o95 = Tables.orders(spark, sfDir)
      .filter(year(col("o_orderdate")) === 1995).select(col("o_custkey"))
    val anti = graft.queries.QueryCatalog.byName("an1_anti_join")
      .run(spark, sfDir).select("c_custkey")
    val semi = cust.join(o95, col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey")
    assert(anti.intersect(semi).count() == 0)
    assert(anti.count() + semi.count() == cust.count())
  }

  test("rj1: every order lands in 1-2 overlapping campaign windows") {
    import org.apache.spark.sql.functions._
    val out = graft.queries.QueryCatalog.byName("rj1_interval_join")
      .run(spark, sfDir)
    val matched = out.agg(sum(col("n_orders"))).collect()(0).getLong(0)
    val orders = Tables.orders(spark, sfDir).count()
    // 45-day windows every 30 days: 15/30 of days are double-covered
    assert(matched >= orders && matched <= 2 * orders, s"$matched vs $orders")
  }

  test("eq1: quantized codes round-trip within half a step; layout-invariant") {
    import org.apache.spark.sql.functions._
    val out = graft.queries.QueryCatalog.byName("eq1_int8_quantize")
      .run(spark, sfDir)
    // codes in [0,255]; reconstruction error bounded by half a quantization
    // step of the widest dimension seen in the output
    assert(out.filter(col("q") < 0 || col("q") > 255).count() == 0)
    val emb = Tables.embeddings(spark, sfDir)
      .select(posexplode(col("embedding")).as(Seq("k0", "x")))
      .agg(max(col("x").cast("double")) - min(col("x").cast("double")))
      .collect()(0).getDouble(0)
    val maxErr = out.agg(max(col("err"))).collect()(0).getDouble(0)
    // + 1e-6: err is rounded to 6 decimals in the output
    assert(maxErr <= emb / 255.0 / 2.0 + 1e-6, s"err $maxErr vs step ${emb / 255}")
    // repartitioning the input must not change a single code
    val a = out.orderBy("vec_id", "k").collect().toSeq
    val b = graft.queries.QueryCatalog.byName("eq1_int8_quantize")
      .run(spark, sfDir).repartition(7).orderBy("vec_id", "k").collect().toSeq
    assert(a == b)
  }

  test("so1: set-op result is exactly the filter-built membership sets") {
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, sfDir)
    def users(t: String, v: Double) = ev
      .filter(col("event_type") === t && col("value") > v)
      .select("user_id").distinct().as[Long].collect().toSet
    val expect = (users("click", 90) & users("purchase", 90)) -- users("error", 95)
    val got = graft.queries.QueryCatalog.byName("so1_intersect_except")
      .run(spark, sfDir).as[Long].collect().toSet
    assert(got == expect)
  }

  test("w2: trailing-1h frame equals a per-row predicate recount") {
    import org.apache.spark.sql.functions._
    val out = graft.queries.QueryCatalog.byName("w2_range_frame")
      .run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSeq
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), Tables.eventTsMicros.as("ts_us")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val byUser = ev.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    out.foreach { case (u, t, n) =>
      val expect = byUser(u).count(x => x >= t - 3600000000L && x <= t)
      assert(n == expect, s"user $u ts $t: $n vs $expect")
    }
  }

  test("gf1: per-user hours are contiguous; filled rows are all-zero") {
    import org.apache.spark.sql.functions._
    val out = graft.queries.QueryCatalog.byName("gf1_gap_fill").run(spark, sfDir)
    val spans = out.groupBy("user_id")
      .agg(min(col("hour")).as("h0"), max(col("hour")).as("h1"),
        count(lit(1)).as("n"))
      .filter(col("n") =!= col("h1") - col("h0") + 1)
    assert(spans.count() == 0, "hour spine has holes")
    val badFill = out.filter(col("n_events") === 0 && col("total_value") =!= 0.0)
    assert(badFill.count() == 0)
  }

  test("zorder interleave is a bijection: deinterleave recovers every rank") {
    import org.apache.spark.sql.functions._
    // scala-side inverse: bit i of rank j sits at interleaved position i*k+j
    def deinterleave(z: Long, k: Int, bits: Int): Seq[Long] =
      (0 until k).map { j =>
        (0 until bits).foldLeft(0L)((acc, i) =>
          acc | (((z >> (i * k + j)) & 1L) << i))
      }
    val bits = 5
    val cases = samples(for {
      a <- Gen.chooseNum(0L, 31L); b <- Gen.chooseNum(0L, 31L)
      c <- Gen.chooseNum(0L, 31L)
    } yield (a, b, c), 40)
    val df = cases.toDF("a", "b", "c")
      .select(col("a"), col("b"), col("c"),
        graft.sources.Zorder.interleave(Seq(col("a"), col("b"), col("c")), bits).as("z"))
    df.collect().foreach { r =>
      val got = deinterleave(r.getLong(3), 3, bits)
      assert(got == Seq(r.getLong(0), r.getLong(1), r.getLong(2)),
        s"z=${r.getLong(3)} -> $got")
    }
  }

  test("ks1: D is a proper statistic — in [0,1], and 0 for identical samples") {
    import org.apache.spark.sql.functions._
    val r = graft.queries.QueryCatalog.byName("ks1_two_sample")
      .run(spark, sfDir).head()
    val d = r.getDouble(0)
    assert(d >= 0.0 && d <= 1.0, s"D=$d")
    assert(r.getLong(1) > 0 && r.getLong(2) > 0)
    // identical samples: ECDFs coincide at every point -> D = 0 (compute
    // with the same packed-prefix-scan shape the query uses)
    val g = Tables.lineitem(spark, sfDir)
      .filter(col("l_returnflag") === "A")
      .groupBy(col("l_extendedprice").as("v"))
      .agg(count(lit(1)).as("a"))
      .withColumn("b", col("a"))
    val c = graft.operators.Ranks.prefixSum(g, Nil, Seq(col("v")),
        col("a") * lit(4294967296L) + col("b"), "cab")
      .withColumn("ca", shiftright(col("cab"), 32))
      .withColumn("cb", col("cab").bitwiseAND(lit(4294967295L)))
    val d0 = c.agg(max(abs(col("ca") - col("cb")))).head().getLong(0)
    assert(d0 == 0L)
  }

  test("triangleCounts == brute-force triple enumeration on random graphs") {
    val gen = for {
      n <- Gen.chooseNum(4, 18)
      m <- Gen.chooseNum(3, 40)
      es <- Gen.listOfN(m, for {
        a <- Gen.chooseNum(0L, n.toLong); b <- Gen.chooseNum(0L, n.toLong)
      } yield (a, b))
    } yield es
    samples(gen, 6).foreach { es =>
      val eSet = es.filter(p => p._1 != p._2)
        .map(p => (p._1 min p._2, p._1 max p._2)).toSet
      val nodes = (eSet.map(_._1) ++ eSet.map(_._2)).toSeq.sorted
      val want = (for {
        x <- nodes; y <- nodes if y > x && eSet((x, y))
        z <- nodes if z > y && eSet((x, z)) && eSet((y, z))
      } yield Seq(x, y, z)).flatten
        .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      val got = graft.operators.Graphs
        .triangleCounts(es.toDF("src", "dst").repartition(3))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"edges=$es")
    }
  }

  test("kCore: fixed-round peel equals the reference peel on random graphs") {
    def refPeel(e0: Set[(Long, Long)], k: Int, rounds: Int): Map[Long, Long] = {
      var e = e0
      for (_ <- 1 to rounds) {
        val deg = (e.toSeq.map(_._1) ++ e.toSeq.map(_._2))
          .groupBy(identity).map { case (id, xs) => id -> xs.size }
        val keep = deg.filter(_._2 >= k).keySet
        e = e.filter(p => keep(p._1) && keep(p._2))
      }
      (e.toSeq.map(_._1) ++ e.toSeq.map(_._2))
        .groupBy(identity).map { case (id, xs) => id -> xs.size.toLong }
    }
    val gen = for {
      n <- Gen.chooseNum(4, 15)
      m <- Gen.chooseNum(5, 45)
      es <- Gen.listOfN(m, for {
        a <- Gen.chooseNum(0L, n.toLong); b <- Gen.chooseNum(0L, n.toLong)
      } yield (a, b))
    } yield es
    samples(gen, 5).foreach { es =>
      val canon = es.filter(p => p._1 != p._2)
        .map(p => (p._1 min p._2, p._1 max p._2)).toSet
      val got = graft.operators.Graphs
        .kCore(es.toDF("src", "dst").repartition(3), k = 2, rounds = 2)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == refPeel(canon, 2, 2), s"edges=$es")
    }
  }

  test("bfsLevels: dist equals reference BFS truncated at maxDepth") {
    def refBfs(adj: Map[Long, Set[Long]], src: Set[Long], d: Int): Map[Long, Long] = {
      var dist = src.map(_ -> 0L).toMap
      var frontier = src
      for (lvl <- 1 to d) {
        val next = frontier.flatMap(u => adj.getOrElse(u, Set.empty))
          .diff(dist.keySet)
        dist ++= next.map(_ -> lvl.toLong)
        frontier = next
      }
      dist
    }
    val gen = for {
      n <- Gen.chooseNum(4, 15)
      m <- Gen.chooseNum(4, 35)
      es <- Gen.listOfN(m, for {
        a <- Gen.chooseNum(0L, n.toLong); b <- Gen.chooseNum(0L, n.toLong)
      } yield (a, b))
    } yield es
    samples(gen, 5).foreach { es =>
      val eSet = es.filter(p => p._1 != p._2)
        .map(p => (p._1 min p._2, p._1 max p._2)).toSet
      val adj = (eSet.toSeq ++ eSet.toSeq.map(_.swap))
        .groupBy(_._1).map { case (u, vs) => u -> vs.map(_._2).toSet }
      val srcs = eSet.map(_._1).take(2)
      if (srcs.nonEmpty) {
        val got = graft.operators.Graphs
          .bfsLevels(es.toDF("src", "dst"), srcs.toSeq.toDF("id"), maxDepth = 3)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == refBfs(adj, srcs, 3), s"edges=$es srcs=$srcs")
      }
    }
  }

  test("x8: chi-square is non-negative and zero under exact independence") {
    import org.apache.spark.sql.functions._
    val r = graft.queries.QueryCatalog.byName("x8_chi_square")
      .run(spark, sfDir).head()
    assert(r.getDouble(1) >= 0.0 && r.getLong(0) >= 1L)
    // a perfectly independent 2x2 design (every cell = product of
    // margins / N): chi2 must be exactly 0
    val t = Seq.tabulate(400)(i => (s"r${i % 2}", s"c${i % 4 / 2}"))
      .toDF("x", "y")
    val cells = t.groupBy("x", "y").agg(count(lit(1)).cast("double").as("o"))
    val n = 400.0
    val chi = cells
      .withColumn("e", lit(200.0) * lit(200.0) / lit(n))
      .agg(sum((col("o") - col("e")) * (col("o") - col("e")) / col("e")))
      .head().getDouble(0)
    assert(chi == 0.0)
  }

  test("contaminationBloom ≡ contamination on generated corpora, at any fpp") {
    // The r10 single-scan rewrite's strongest net: for ARBITRARY corpora
    // the probe-pruned plan must reproduce the exact scan bit-for-bit —
    // including a SATURATING sketch (expectedItems=4 against tens of
    // shingles -> probe≈always true -> the false-positive anti join does
    // all the work) and a low-fpp one (the anti join sees ~nothing).
    // Tiny 3-word vocabulary maximizes shingle collisions across docs.
    val word = Gen.oneOf("ga", "ta", "ca")
    val doc = Gen.chooseNum(3, 9).flatMap(n => Gen.listOfN(n, word))
      .map(_.mkString(" "))
    val corpusGen = for {
      nTrain <- Gen.chooseNum(1, 6)
      nTest <- Gen.chooseNum(1, 6)
      docs <- Gen.listOfN(nTrain + nTest, doc)
    } yield docs.zipWithIndex.map { case (t, i) =>
      (i.toLong, t, i < nTrain)
    }
    samples(corpusGen, 5).foreach { rows =>
      val corpus = rows.toDF("doc_id", "text", "is_train")
      val exact = graft.operators.Dedup
        .contamination(corpus, "doc_id", "text", $"is_train", 2,
          maxShingleTrainDocs = 3)
        .collect().map(_.toSeq).toSet
      for (cfg <- Seq((4L, 0.5), (1024L, 0.01))) {
        val bloomed = graft.operators.Dedup
          .contaminationBloom(corpus, "doc_id", "text", $"is_train", 2,
            maxShingleTrainDocs = 3,
            expectedItems = cfg._1, fpp = cfg._2)
          .collect().map(_.toSeq).toSet
        assert(bloomed == exact,
          s"cfg=$cfg corpus=${rows.take(4)}... bloom=$bloomed exact=$exact")
      }
    }
  }

  test("priority_topk_tie == row_number window on generated priorities " +
      "(ties, ±0.0, NaN, partial/merge paths)") {
    graft.expressions.GraftFunctions.register(spark)
    // top-9 per group via the aggregate == via a row_number window sort
    def agreesWithWindow(prs: Seq[Double], topk: String, order: Column*): Unit = {
      val df = prs.zipWithIndex.map { case (p, i) => (i % 5, i.toLong, p) }
        .toDF("g", "id", "p").repartition(7)
      val viaAgg = df.groupBy("g")
        .agg(expr(topk).as("tk"))
        .select(col("g"), posexplode(col("tk")))
        .select(col("g"), (col("pos") + 1).as("rnk"), col("col").as("id"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("g")).orderBy(order: _*)
      val viaWindow = df.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 9).select(col("g"), col("rnk"), col("id"))
      assert(viaAgg.except(viaWindow).isEmpty && viaWindow.except(viaAgg).isEmpty,
        s"$topk diverged on priorities ${prs.take(12)}...")
    }
    // priorities drawn from a SMALL value set (forces real ties) plus the
    // degenerate doubles the r13 total-order fix covers: -0.0 vs 0.0 at
    // the boundary and NaN (ranks last under Spark's ascending sort)
    val prGen = Gen.frequency(
      6 -> Gen.oneOf(-2.0, -1.0, 0.0, 1.0, 2.0),
      1 -> Gen.oneOf(-0.0, Double.NaN, Double.PositiveInfinity,
        Double.NegativeInfinity))
    samples(Gen.listOfN(300, prGen), 4).foreach { prs =>
      agreesWithWindow(prs, "priority_topk_tie(p, id, id, 9)", col("p"), col("id"))
    }
    // the 3-arg form breaks ties arbitrarily, so it gets DISTINCT
    // priorities — one NaN and ±Infinity among them — under the same
    // total order (NaN last)
    val distinctGen = for {
      ps <- Gen.listOfN(297, Gen.chooseNum(-1e6, 1e6))
      at <- Gen.listOfN(3, Gen.chooseNum(0, 296))
    } yield {
      // ±0.0 would tie once normalized: fold -0.0 before the distinct
      val base = ps.map(p => if (p == 0.0) 0.0 else p).distinct.toBuffer
      Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity).zip(at)
        .foreach { case (x, i) => base.insert(math.min(i, base.size), x) }
      base.toSeq
    }
    samples(distinctGen, 4).foreach { prs =>
      agreesWithWindow(prs, "priority_topk(p, id, 9)", col("p"))
    }
  }
}
