package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{ExtensionFunctions, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import graft.expressions.{GraftExtensions, GraftFunctions}
import graft.operators.Skew

class ExpressionsSpec extends SparkSpec {
  import spark.implicits._

  test("cosine_sim matches the built-in fold composition bit-for-bit") {
    GraftFunctions.register(spark)
    val df = (1 to 50).map { i =>
      val a = Array.tabulate(16)(j => math.sin(i * 16 + j))
      val b = Array.tabulate(16)(j => math.cos(i * 7 + j))
      (a, b)
    }.toDF("a", "b")
    val both = df.select(
      expr("cosine_sim(a, b)").as("fused"),
      (aggregate(zip_with(col("a"), col("b"), (x, y) => x * y), lit(0.0), (s, x) => s + x) /
        (sqrt(aggregate(transform(col("a"), x => x * x), lit(0.0), (s, x) => s + x)) *
          sqrt(aggregate(transform(col("b"), x => x * x), lit(0.0), (s, x) => s + x))))
        .as("folded")).collect()
    both.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("cosine_sim: NULL inputs and zero vectors yield NULL; self-cos is 1") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT cosine_sim(array(1.0d, 2.0d), array(1.0d, 2.0d)) AS self,
                cosine_sim(array(0.0d, 0.0d), array(1.0d, 2.0d)) AS zero,
                cosine_sim(CAST(NULL AS ARRAY<DOUBLE>), array(1.0d)) AS nul""")
      .collect().head
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-15)
    assert(r.isNullAt(1) && r.isNullAt(2))
  }

  test("cosine_sim runs inside whole-stage codegen") {
    GraftFunctions.register(spark)
    // spark.range source (not a LocalRelation, which would constant-fold)
    val df = spark.range(8)
      .select(expr("transform(sequence(0, 15), i -> CAST(id + i AS DOUBLE))").as("a"),
        expr("transform(sequence(0, 15), i -> CAST(id * 2 + i AS DOUBLE))").as("b"))
      .select(expr("cosine_sim(a, b)").as("c"))
    assert(df.collect().forall(r => r.getDouble(0) > 0.0))
    assert(df.queryExecution.executedPlan.toString.contains("*(1)"))
  }

  test("edit_distance_capped ≡ threshold levenshtein on random, near and far pairs") {
    GraftFunctions.register(spark)
    // planted mix: identical, 1-3 edit near pairs, far pairs, length-gap
    // pairs — the cascade's prune branches AND the DP branch all fire;
    // equality with the built-in 3-arg levenshtein must be exact
    val rng = new scala.util.Random(11)
    val vocab = "the quick brown fox jumps over lazy dog data spark".split(" ")
    def doc(n: Int) = Seq.fill(n)(vocab(rng.nextInt(vocab.length))).mkString(" ")
    val rows = (1 to 200).map { i =>
      val a = doc(3 + rng.nextInt(25))
      val b = i % 4 match {
        case 0 => a                                       // identical
        case 1 => a.patch(rng.nextInt(a.length), "zq", 1) // 1-2 edits
        case 2 => doc(3 + rng.nextInt(25))                // far
        case _ => a + " " + doc(10)                       // length gap
      }
      (a, b)
    }
    for (k <- Seq(0, 3, 20)) {
      val got = rows.toDF("a", "b")
        .select(expr(s"edit_distance_capped(a, b, $k)").as("fast"),
          levenshtein(col("a"), col("b"), k).as("ref"))
        .collect()
      got.foreach(r => assert(r.getInt(0) == r.getInt(1), s"k=$k: $r"))
    }
  }

  test("edit_distance_capped: non-ASCII skips the cascade but stays exact; NULL in -> NULL out") {
    GraftFunctions.register(spark)
    val df = Seq(
      ("héllo wörld", "hëllo world"),   // multi-byte chars: DP-only path
      ("héllo", "héllo"),
      ("日本語テキスト", "日本語テクスト"),
      (null, "x"), ("x", null)).toDF("a", "b")
    val got = df.select(
      expr("edit_distance_capped(a, b, 10)").as("fast"),
      levenshtein(col("a"), col("b"), 10).as("ref")).collect()
    got.foreach { r =>
      if (r.isNullAt(1)) assert(r.isNullAt(0), r)
      else assert(r.getInt(0) == r.getInt(1), r)
    }
  }

  test("edit_distance_capped runs inside whole-stage codegen") {
    GraftFunctions.register(spark)
    val df = spark.range(64)
      .select(expr("repeat('ab', CAST(id % 9 AS INT))").as("a"),
        expr("repeat('ba', CAST(id % 7 AS INT))").as("b"))
      .select(expr("edit_distance_capped(a, b, 6)").as("d"))
    assert(df.collect().forall(r => r.getInt(0) >= -1))
    assert(df.queryExecution.executedPlan.toString.contains("*(1)"))
  }

  test("GraftExtensions injects without error (plug-in path)") {
    // `spark.sql.extensions` is a STATIC conf — it binds when the FIRST
    // session on a context is built, so an end-to-end test inside the
    // shared-context suite JVM is impossible by design; applying the
    // injector to a fresh SparkSessionExtensions is the testable part
    // (the per-session GraftFunctions.register path is exercised end to
    // end everywhere else).
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext) // must not throw
    // ...and it installs EVERY function of the table, under its own
    // expression class, into a registry that lacked it
    val reg = ExtensionFunctions.registry(ext)
    GraftFunctions.table.foreach { case (name, cls, _) =>
      val id = FunctionIdentifier(name)
      assert(!ExtensionFunctions.builtin.functionExists(id), name)
      assert(reg.functionExists(id), s"$name not injected by GraftExtensions")
      assert(reg.lookupFunction(id).map(_.getClassName).contains(cls.getName), name)
    }
  }

  test("saltedJoin equals the plain join on skewed data") {
    val facts = ((1 to 900).map(i => (1L, i)) ++ (1 to 100).map(i => (2L + i % 5, i)))
      .toDF("k", "v")
    val dim = (1L to 7L).map(k => (k, s"name$k")).toDF("k", "name")
    val plain = facts.join(dim, Seq("k")).groupBy("k", "name")
      .agg(count(lit(1)).as("n"), sum("v").as("s"))
    val salted = Skew.saltedJoin(facts, dim, "k", 8).groupBy("k", "name")
      .agg(count(lit(1)).as("n"), sum("v").as("s"))
    assert(plain.exceptAll(salted).count() == 0 && salted.exceptAll(plain).count() == 0)
  }

  test("saltedJoin salt is deterministic across input partitionings") {
    // Stage retry at cluster scale == recomputing rows under a different
    // physical layout. A content-derived salt must give each row the SAME
    // salt regardless of partitioning; monotonically_increasing_id would not.
    val rows = (1 to 400).map(i => (1L + i % 3, i, s"p$i"))
    val dim = (1L to 3L).map(k => (k, s"name$k")).toDF("k", "name")
    // Per-row salt assignment must be identical under different physical
    // layouts (the join output alone can't distinguish — it is salt-invariant).
    def saltOf(parts: Int) = rows.toDF("k", "v", "tag").repartition(parts)
      .withColumn("__salt", Skew.salt(Seq("k", "v", "tag"), 8))
      .collect().map(r => (r.getInt(1), r.getLong(3))).sortBy(_._1)
    assert(saltOf(7).sameElements(saltOf(3)))
    // Join semantics still equal the plain join under either layout.
    def salted(parts: Int) = Skew.saltedJoin(
        rows.toDF("k", "v", "tag").repartition(parts), dim, "k", 8)
      .select("k", "v", "tag", "name")
    val a = salted(7).collect().sortBy(r => (r.getLong(0), r.getInt(1)))
    val b = salted(3).collect().sortBy(r => (r.getLong(0), r.getInt(1)))
    assert(a.sameElements(b))
    // And the salt must spread a hot key over >1 bucket.
    val saltSpread = rows.toDF("k", "v", "tag").where(col("k") === 1L)
      .withColumn("__salt", Skew.salt(Seq("k", "v", "tag"), 8))
      .select("__salt").distinct().count()
    assert(saltSpread > 1)
  }

  test("priority_topk equals the window-sort formulation on every group") {
    GraftFunctions.register(spark)
    // deterministic pseudo-random priorities, 7 groups × 200 rows, with a
    // repartition so partial buffers genuinely serialize + merge
    val df = (1 to 1400).map { i =>
      (i % 7, i.toLong, math.sin(i * 2654435761.0) + 2.0)
    }.toDF("g", "id", "pr").repartition(11)
    val agg = df.groupBy("g")
      .agg(expr("priority_topk(pr, id, 5)").as("top"))
      .select(col("g"), posexplode(col("top")).as(Seq("pos", "id")))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).sorted
    val win = df.withColumn("pos",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("g").orderBy("pr")) - 1)
      .filter(col("pos") < 5)
      .select("g", "pos", "id")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).sorted
    assert(agg.sameElements(win))
  }

  test("priority_topk_tie ≡ the window formulation under REAL priority ties") {
    GraftFunctions.register(spark)
    // priority = id % 5 → heavy ties; the tiebreak must reproduce the
    // window's (p ASC, id ASC) total order exactly, group by group
    val df = spark.range(1000)
      .select(col("id"), (col("id") % 3).as("g"),
        (col("id") % 5).cast("double").as("p"))
    val viaAgg = df.groupBy("g")
      .agg(expr("priority_topk_tie(p, id, id, 7)").as("tk"))
      .select(col("g"), posexplode(col("tk")))
      .select(col("g"), (col("pos") + 1).as("rnk"), col("col").as("id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("p"), col("id"))
    val viaWindow = df
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 7)
      .select(col("g"), col("rnk"), col("id"))
    assert(viaAgg.count() == 21)
    assert(viaAgg.except(viaWindow).isEmpty && viaWindow.except(viaAgg).isEmpty)
    // partial+final split survives repartitioning (merge path exercised)
    val viaAggWide = df.repartition(13)
      .groupBy("g").agg(expr("priority_topk_tie(p, id, id, 7)").as("tk"))
      .select(col("g"), posexplode(col("tk")))
      .select(col("g"), (col("pos") + 1).as("rnk"), col("col").as("id"))
    assert(viaAggWide.except(viaWindow).isEmpty && viaWindow.except(viaAggWide).isEmpty)
  }

  test("priority_topk_tie: NaN priorities rank last (total order), not dropped") {
    GraftFunctions.register(spark)
    // ids 0..9 with priority = id, plus NaN-priority ids 100..104: under
    // Spark's ascending sort NaN ranks after +Infinity, so with k=12 the
    // result is 0..9 then two NaN rows tiebroken by id. The pre-fix IEEE
    // compares silently excluded NaN once the heap was full — this pins
    // the total-order semantics and the under-full admission path.
    val df = spark.range(10)
      .select(col("id"), col("id").cast("double").as("p"))
      .union(spark.range(100, 105)
        .select(col("id"), lit(Double.NaN).as("p")))
      .repartition(7)
    val viaAgg = df.groupBy(lit(1).as("g"))
      .agg(expr("priority_topk_tie(p, id, id, 12)").as("tk"))
      .select(posexplode(col("tk")))
      .select((col("pos") + 1).as("rnk"), col("col").as("id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1)).orderBy(col("p"), col("id"))
    val viaWindow = df.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 12).select(col("rnk").cast("long").as("rnk"), col("id"))
    assert(viaAgg.count() == 12)
    assert(viaAgg.except(viaWindow).isEmpty && viaWindow.except(viaAgg).isEmpty)
    // the NaN rows that fit are the two smallest NaN ids
    val ids = viaAgg.orderBy("rnk").collect().map(_.getLong(1)).toSeq
    assert(ids == ((0L to 9L) ++ Seq(100L, 101L)))
  }

  test("priority_topk: groups smaller than k return all rows, in order") {
    GraftFunctions.register(spark)
    val df = Seq((1, 10L, 3.0), (1, 11L, 1.0), (2, 20L, 5.0))
      .toDF("g", "id", "pr")
    val out = df.groupBy("g").agg(expr("priority_topk(pr, id, 5)").as("t"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
    assert(out(1) == Seq(11L, 10L))
    assert(out(2) == Seq(20L))
  }

  test("priority_topk: NULL priorities/payloads skipped; string payloads survive") {
    GraftFunctions.register(spark)
    val df = Seq((1, Some("a"), Some(2.0)), (1, Some("b"), Some(1.0)),
        (1, None: Option[String], Some(0.5)), (1, Some("c"), None: Option[Double]))
      .toDF("g", "s", "pr")
    val out = df.groupBy("g").agg(expr("priority_topk(pr, s, 2)").as("t"))
      .collect().head.getSeq[String](1)
    assert(out == Seq("b", "a"))
  }

  test("weighted reservoir: heavier strata win proportionally more slots") {
    GraftFunctions.register(spark)
    // weight 9 vs 1: under A-ES the heavy half should take the large
    // majority of a k=40 sample from 400 rows (exact count is a pure
    // function of the hash — this guards the weighting direction)
    val df = (1 to 400).map { i => (i.toLong, if (i % 2 == 0) 9.0 else 1.0) }
      .toDF("id", "w")
      .withColumn("u",
        (graft.operators.Dedup.hash60(col("id").cast("string")) + 1).cast("double")
          / lit(math.pow(2.0, 60)))
      .withColumn("pr", negate(log(col("u"))) / col("w"))
    val sample = df.groupBy(lit(1).as("g"))
      .agg(expr("priority_topk(pr, id, 40)").as("t"))
      .select(explode(col("t")).as("id")).collect().map(_.getLong(0))
    val heavy = sample.count(_ % 2 == 0)
    assert(sample.length == 40)
    assert(heavy >= 30, s"heavy-weight rows won only $heavy/40 slots")
  }

  test("freq_sketch: MG guarantees hold under merge, across partitionings") {
    GraftFunctions.register(spark)
    // Zipf-ish: item i appears ~N/i times; N=5500ish, k=16 -> err <= n/17
    val rows = (1 to 40).flatMap(i => Seq.fill(1200 / i)(s"item$i"))
    val exact = rows.groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
    Seq(3, 13).foreach { parts =>
      val df = rows.toDF("term").repartition(parts)
      val sk = df.agg(expr("freq_sketch(term, 16)").as("s"))
        .select(explode(col("s")).as("e"))
        .select(col("e.item"), col("e.cnt"), col("e.n"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      val n = rows.size.toLong
      sk.foreach { case (_, _, sn) => assert(sn == n) }
      assert(sk.length <= 16)
      val skMap = sk.map { case (t, c, _) => t -> c }.toMap
      val err = n / 17 + 1
      skMap.foreach { case (t, c) =>
        assert(c <= exact(t), s"overcount $t: $c > ${exact(t)}")
        assert(exact(t) - c <= err, s"undercount $t beyond bound")
      }
      // no false negatives above the threshold
      exact.filter(_._2 > err).keys.foreach { t =>
        assert(skMap.contains(t), s"heavy item $t missing (parts=$parts)")
      }
    }
  }

  test("freq_sketch: NULL items skipped; small domains are exact") {
    GraftFunctions.register(spark)
    val df = Seq(Some("a"), Some("a"), None, Some("b")).toDF("term")
      .repartition(2)
    val sk = df.agg(expr("freq_sketch(term, 8)").as("s"))
      .select(explode(col("s")).as("e"))
      .select(col("e.item"), col("e.cnt"), col("e.n"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // domain (2) < capacity: counts are exact, n excludes the NULL
    assert(sk.toSet == Set(("a", 2L, 3L), ("b", 1L, 3L)))
  }

  test("hh1 sketch-then-verify equals the exact heavy-hitter set") {
    val out = graft.queries.QueryCatalog.byName("hh1_heavy_hitters")
      .run(spark, "/root/testdata/sf0.001")
      .select("term", "cnt").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val tok = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(explode(graft.operators.TextFunctions.tokens(col("text"))).as("term"))
    val n = tok.count()
    val exact = tok.groupBy("term").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 0.002 * n)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == exact)
    assert(out.nonEmpty) // threshold must actually select something here
  }

  test("bloom_might_contain: no false negatives, few false positives, NULL in -> NULL out") {
    GraftFunctions.register(spark)
    val members = (1 to 1000).map(i => s"member_$i")
    val bytes = graft.operators.Dedup.bloomOf(
      members.toDF("v"), "v", expectedItems = 2000, fpp = 0.01)
    val probed = (1 to 1000).map(i => s"member_$i")
      .union((1 to 1000).map(i => s"stranger_$i"))
      .toDF("v")
      .select(col("v"), call_function("bloom_might_contain",
        lit(bytes), col("v")).as("hit"))
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(members.forall(probed(_)), "bloom false negative")
    val fps = (1 to 1000).count(i => probed(s"stranger_$i"))
    assert(fps <= 50, s"$fps/1000 false positives at fpp=0.01")
    val nul = Seq((Some("member_1"), 1), (None, 2)).toDF("v", "i")
      .select(call_function("bloom_might_contain", lit(bytes), col("v")))
      .collect()
    assert(nul(0).getBoolean(0) && nul(1).isNullAt(0))
  }

  test("SetContainsBc: exact membership (no fp), NULL-safe, element-wise in lambdas") {
    // the EXACT companion of the Bloom probe: members hit, non-members
    // NEVER hit (a Bloom filter cannot make that claim)
    val bc = spark.sparkContext.broadcast(
      graft.expressions.SetContains.setOf((1 to 500).map(i => s"m_$i")))
    val frame = ((1 to 500).map(i => s"m_$i") ++ (1 to 500).map(i => s"s_$i"))
      .toDF("v")
    val got = frame.select(col("v"),
        graft.expressions.SetContains.probe(bc, col("v")).as("hit"))
      .collect()
    assert(got.forall(r => r.getBoolean(1) == r.getString(0).startsWith("m_")))
    // NULL in -> NULL out
    val nul = Seq((Some("m_1"), 1), (None, 2)).toDF("v", "i")
      .select(graft.expressions.SetContains.probe(bc, col("v")))
      .collect()
    assert(nul(0).getBoolean(0) && nul(1).isNullAt(0))
    // per-ELEMENT probes inside array lambdas — the case a semi join
    // cannot express and the reason this expression exists
    val arr = Seq((1L, Seq("m_1", "s_9", "m_2"))).toDF("id", "xs")
      .select(org.apache.spark.sql.functions.filter(col("xs"),
        x => graft.expressions.SetContains.probe(bc, x)).as("kept"))
      .head().getSeq[String](0)
    assert(arr == Seq("m_1", "m_2"))
  }

  test("BloomMightContainBc: broadcast probe ≡ literal probe, NULL-safe, plan-clean") {
    // the broadcast-handle form must be bit-for-bit the same PROBE as the
    // literal form (same BloomFilter bytes, same UTF-8 hashing) — only the
    // transport differs
    GraftFunctions.register(spark)
    val members = (1 to 500).map(i => s"m_$i")
    val bytes = graft.operators.Dedup.bloomOf(
      members.toDF("v"), "v", expectedItems = 1000, fpp = 0.01)
    val bc = spark.sparkContext.broadcast(bytes)
    val frame = ((1 to 500).map(i => s"m_$i") ++ (1 to 500).map(i => s"s_$i"))
      .toDF("v")
    val both = frame.select(col("v"),
        graft.expressions.BloomMightContain.probe(bc, col("v")).as("viaBc"),
        call_function("bloom_might_contain", lit(bytes), col("v")).as("viaLit"))
      .collect()
    assert(both.forall(r => r.getBoolean(1) == r.getBoolean(2)),
      "broadcast and literal probes disagree")
    // NULL in -> NULL out, matching the literal form's BinaryExpression
    // null-intolerance
    val nul = Seq((Some("m_1"), 1), (None, 2)).toDF("v", "i")
      .select(graft.expressions.BloomMightContain.probe(bc, col("v")))
      .collect()
    assert(nul(0).getBoolean(0) && nul(1).isNullAt(0))
    // the plan must carry the HANDLE, not the bitset: a filter built from
    // the Bc form embeds no BinaryType literal at all. Walk EVERY node
    // (executedPlan.expressions alone is only the root's — vacuous) and
    // descend through AQE wrappers/stages, whose subtrees are not
    // `children`.
    // parquet-backed input: over a LocalRelation the optimizer's
    // ConvertToLocalRelation EVALUATES the deterministic filter at
    // planning time and the executed plan holds neither probe nor
    // literal — silently vacuous either way
    val pq = java.nio.file.Files.createTempDirectory("graft_bcprobe")
      .resolve("v").toString
    frame.write.parquet(pq)
    val filtered = spark.read.parquet(pq).filter(
      graft.expressions.BloomMightContain.probe(bc, col("v")))
    assert(filtered.count() >= 500)
    def nodes(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        nodes(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        q +: nodes(q.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    val all = nodes(filtered.queryExecution.executedPlan)
    // the probe must actually be IN the walked plan (guards the walk
    // itself against going vacuous)
    assert(all.exists(_.expressions.exists(
      _.exists(_.isInstanceOf[graft.expressions.BloomMightContainBc]))),
      "probe expression not found in the walked plan")
    val lits = all.flatMap(_.expressions).flatMap(_.collect {
      case l @ org.apache.spark.sql.catalyst.expressions.Literal(
          v: Array[Byte], org.apache.spark.sql.types.BinaryType) => l
    })
    assert(lits.isEmpty, s"bitset leaked into the plan: $lits")
  }
}
