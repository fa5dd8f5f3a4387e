package graft

import graft.api.Tcga
import graft.queries.QueryCatalog
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.execution.{GlobalLimitExec, CollectLimitExec, TakeOrderedAndProjectExec}

/** Physical-plan audit (SURVEY.md §4): the properties that make these plans
  * survive a 100× scale-up, asserted so regressions fail CI — filters reach
  * the parquet scan, dimension joins broadcast, aggregations are
  * partial+final hash aggs, fact paths stay in whole-stage codegen, and no
  * fact-sized input ever feeds a no-partition WindowExec (the one-task-sort
  * anti-pattern).
  */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = QueryCatalog.byName(name).run(spark, dir)
    df.collect() // finalize AQE so the inspected plan is the executed one
    df.queryExecution.executedPlan.toString
  }

  private def flatten(p: SparkPlan): Seq[SparkPlan] = PlanNodes(p)

  /** A no-partition window is only scale-safe when its input cardinality is
    * bounded below it — by an aggregation (rows = groups) or a limit
    * (rows = k). Asserts every `Window` with an empty partitionSpec in the
    * executed plan has such a reducer in its subtree. */
  private def assertNoPartitionWindowsBounded(df: DataFrame, what: String): Unit = {
    df.collect()
    val nodes = flatten(df.queryExecution.executedPlan)
    val unbounded = nodes.collect {
      case w: WindowExec if w.partitionSpec.isEmpty &&
        !flatten(w.child).exists {
          case _: BaseAggregateExec | _: GlobalLimitExec |
               _: CollectLimitExec | _: TakeOrderedAndProjectExec => true
          case _ => false
        } => w
    }
    assert(unbounded.isEmpty,
      s"$what: no-partition Window over unbounded input:\n${unbounded.mkString("\n")}")
  }

  test("B4 IN-list predicate is pushed to the parquet scan") {
    val p = plan("b4_in_list")
    assert(p.contains("PushedFilters: [In(p_brand"), p)
  }

  test("B1 null filter is pushed down") {
    assert(plan("b1_null_filter").contains("PushedFilters"))
  }

  test("scan reads only projected columns (column pruning)") {
    val p = plan("b6_projection")
    assert(p.contains("ReadSchema"))
    assert(!p.contains("c_acctbal"), "pruned column still read:\n" + p)
  }

  test("C1 dimension join is a broadcast hash join, no fact shuffle") {
    val p = plan("c1_join_broadcast")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("C5 dictionary join broadcasts the dim under the aggregation") {
    val p = plan("c5_dictionary_join")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("B2 semi filter plans as a broadcast/shuffled semi join") {
    assert(plan("b2_semi_filter").contains("LeftSemi"))
  }

  test("D1 grouped sum+having is a partial+final hash aggregate") {
    val p = plan("d1_sum_having")
    assert(p.contains("partial_sum") || p.contains("partial"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("fact-path queries run inside whole-stage codegen") {
    // executedPlan.toString renders codegen stages as "*(n) " prefixes
    Seq("b4_in_list", "d1_sum_having", "c1_join_broadcast", "f1_f4_scalars")
      .foreach { q => assert(plan(q).contains("*(1)"), q) }
  }

  test("KM pipeline aggregates to event-table size before any window sort") {
    val p = plan("d10_km_curve")
    // the window must consume the (strat,time)-aggregated table, so a
    // HashAggregate appears below the Window in the plan tree
    val winIdx = p.indexOf("Window")
    val aggIdx = p.lastIndexOf("HashAggregate")
    assert(winIdx >= 0 && aggIdx > winIdx, p)
  }

  test("de1 pipeline: no cartesian product, condition dim broadcast") {
    val p = plan("de1_pipeline_wilcoxon")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("ss1 broadcast the query side of the brute-force top-k") {
    val p = plan("ss1_cosine_topk")
    assert(p.contains("Broadcast"), p)
  }

  test("g1 global rank is two-phase: range partition + bounded offset window") {
    val df = QueryCatalog.byName("g1_order_by").run(spark, dir)
    assertNoPartitionWindowsBounded(df, "g1_order_by")
    val p = df.queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("rangepartitioning"), p)
  }

  test("Ann k-means seeding never feeds the corpus to a no-partition window") {
    val df = graft.operators.Ann.kmeansCentroids(
      Tables.embeddings(spark, dir), "vec_id", "embedding", k = 4, iters = 1)
    assertNoPartitionWindowsBounded(df, "Ann.kmeansCentroids")
  }

  test("fan-out pipelines keep no-partition windows cardinality-bounded") {
    Seq("km1_pipeline_km", "e1_ntile_split").foreach { q =>
      assertNoPartitionWindowsBounded(QueryCatalog.byName(q).run(spark, dir), q)
    }
  }

  /** r8 (verdict #2/#3): stronger than [[assertNoPartitionWindowsBounded]]
    * — a GROUP-partitioned window is still the one-task-per-group sort
    * when the group cardinality is low (eval domains, sources). Asserts
    * every WindowExec in the executed plan is over an input already
    * cardinality-bounded by an aggregate below it. Ranks run as
    * [[graft.plans.OrderedScanExec]], which holds no window. */
  private def assertWindowsTwoPhaseOrBounded(df: DataFrame, what: String): Unit = {
    df.collect()
    val bad = flatten(df.queryExecution.executedPlan).collect {
      case w: WindowExec
        if !flatten(w.child).exists(_.isInstanceOf[BaseAggregateExec]) => w
    }
    assert(bad.isEmpty,
      s"$what: Window sorts an unbounded input (one-task-per-group " +
        s"shape):\n${bad.mkString("\n")}")
  }

  test("auc1/gc1 per-domain rankers are two-phase, never one sort task per domain") {
    Seq("auc1_rank_auc", "gc1_vocab_gini").foreach { q =>
      val df = QueryCatalog.byName(q).run(spark, dir)
      assertWindowsTwoPhaseOrBounded(df, q)
      assert(df.queryExecution.executedPlan.toString
        .toLowerCase.contains("rangepartitioning"), q)
      assert(flatten(df.queryExecution.executedPlan)
        .exists(_.isInstanceOf[graft.plans.OrderedScanExec]), q)
    }
  }

  test("r8 composition queries: two-phase/bounded windows, no cartesian fact join") {
    // jd1/ab1/tk1 are window-free agg+broadcast shapes; zf1 rides the
    // two-phase rank; pm1's only unbounded frames are hash aggs
    Seq("jd1_domain_divergence", "zf1_zipf_slope", "pm1_pmi_bigrams",
        "ab1_proportion_ztest", "tk1_bpe_fertility").foreach { q =>
      val df = QueryCatalog.byName(q).run(spark, dir)
      assertWindowsTwoPhaseOrBounded(df, q)
      assert(!df.queryExecution.executedPlan.toString.contains("CartesianProduct"), q)
    }
  }

  test("pm1 top-k plans as TakeOrderedAndProject, not a global sort") {
    val df = QueryCatalog.byName("pm1_pmi_bigrams").run(spark, dir)
    df.collect()
    assert(flatten(df.queryExecution.executedPlan)
      .exists(_.isInstanceOf[TakeOrderedAndProjectExec]),
      df.queryExecution.executedPlan.toString)
  }

  test("x4 vocabulary top-k plans as TakeOrderedAndProject, not a global sort") {
    val df = QueryCatalog.byName("x4_vocab_topk").run(spark, dir)
    df.collect()
    assert(flatten(df.queryExecution.executedPlan)
      .exists(_.isInstanceOf[TakeOrderedAndProjectExec]),
      df.queryExecution.executedPlan.toString)
  }

  test("pk1 packing and qt1 quantiles are two-phase: no unbounded global window") {
    Seq("pk1_token_packing", "qt1_group_quantiles").foreach { q =>
      val df = QueryCatalog.byName(q).run(spark, dir)
      assertNoPartitionWindowsBounded(df, q)
      assert(df.queryExecution.executedPlan.toString
        .toLowerCase.contains("rangepartitioning"), q)
    }
  }

  test("ct1 contamination has no cartesian product and no unbounded window") {
    val df = QueryCatalog.byName("ct1_contamination").run(spark, dir)
    assertNoPartitionWindowsBounded(df, "ct1_contamination")
    assert(!df.queryExecution.executedPlan.toString.contains("CartesianProduct"))
  }

  test("round-4 analytics: every window is keyed or cardinality-bounded") {
    Seq("tf1_tfidf_topk", "lm1_unigram_lm", "se1_sessionize",
      "w1_window_family", "wz1_winsorize", "cl1_kmeans_step").foreach { q =>
      assertNoPartitionWindowsBounded(QueryCatalog.byName(q).run(spark, dir), q)
    }
  }

  test("wz1 clamps through a broadcast of the tiny band frame") {
    assert(plan("wz1_winsorize").contains("Broadcast"))
  }

  test("cl1 assign scan broadcasts the centroids, never shuffles the corpus to them") {
    assert(plan("cl1_kmeans_step").contains("Broadcast"))
  }

  test("sm2 mixture resample: rate frame broadcast, corpus never shuffled") {
    val p = plan("sm2_mixture_resample")
    assert(p.contains("BroadcastHashJoin"), p)
    // the only Exchanges are the census aggs — nothing fact-sized
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("ch1 chunking is a single narrow codegen span — no exchange at all") {
    val df = QueryCatalog.byName("ch1_doc_chunks").run(spark, dir)
    df.collect()
    val nodes = flatten(df.queryExecution.executedPlan)
    assert(!nodes.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.exchange.ShuffleExchangeLike]),
      df.queryExecution.executedPlan.toString)
  }

  test("sh1 shuffle-shard is two-phase: range partition, bounded windows") {
    val df = QueryCatalog.byName("sh1_shuffle_shard").run(spark, dir)
    assertNoPartitionWindowsBounded(df, "sh1_shuffle_shard")
    assert(df.queryExecution.executedPlan.toString
      .toLowerCase.contains("rangepartitioning"))
  }

  test("dd7 incremental dedup joins band buckets, never a cartesian product") {
    val p = plan("dd7_incremental_dedup")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("bf1 bloom contamination: ONE test-side scan+explode (ReusedExchange), " +
      "broadcast sketch (no bitset literal in the plan)") {
    val df = QueryCatalog.byName("bf1_bloom_contamination").run(spark, dir)
    df.collect()
    assertNoPartitionWindowsBounded(df, "bf1_bloom_contamination")
    val nodes = flatten(df.queryExecution.executedPlan)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("bloom_might_contain"), p)
    assert(!p.contains("CartesianProduct"), p)
    // r9 verdict #1: the tokenize+shingle+explode over documents — the
    // dominant CPU cost at 100 TB — must run ONCE on the test side. The
    // train-side pass hides behind the persisted dictionary
    // (InMemoryTableScan), so the executed plan must show exactly one
    // parquet scan and one Generate, with the per-doc totals and the
    // candidate/anti-join branch sharing the (doc_id, sh) exchange via
    // ReusedExchange.
    val scans = nodes.count(
      _.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec])
    assert(scans == 1, s"expected 1 documents scan, got $scans\n$p")
    val explodes = nodes.count(
      _.isInstanceOf[org.apache.spark.sql.execution.GenerateExec])
    assert(explodes == 1, s"expected 1 Generate (explode), got $explodes\n$p")
    // The candidate branch either shows up as a ReusedExchange over the
    // totals branch's shuffle (false positives exist), or — when the
    // oversized catalog sketch yields ZERO false positives — AQE's
    // empty-relation propagation deletes the n_fp join outright, which is
    // strictly better (the dedicated test below pins the reuse itself).
    assert(nodes.exists(_.isInstanceOf[
        org.apache.spark.sql.execution.exchange.ReusedExchangeExec]) ||
      p.contains("cast(null as bigint) AS n_fp"),
      s"candidate branch neither reused the shared exchange nor was " +
        s"empty-propagated — test-side shingle stream derived twice:\n$p")
    // r9 verdict #2: the Bloom bitset rides a broadcast HANDLE
    // (BloomMightContainBc), never a plan literal — at a production
    // dictionary size a lit(bytes) would serialize ~GBs into every task
    // binary. Strongest witness: no BinaryType literal above 1 KB
    // anywhere in the executed plan's expressions.
    val bigLits = nodes.flatMap(_.expressions).flatMap(_.collect {
      case l @ org.apache.spark.sql.catalyst.expressions.Literal(
          v: Array[Byte], org.apache.spark.sql.types.BinaryType)
          if v != null && v.length > 1024 => l
    })
    assert(bigLits.isEmpty,
      s"Bloom bitset embedded as a plan literal (${bigLits.map(_.value.asInstanceOf[Array[Byte]].length)} bytes)\n$p")
  }

  test("bf1 shape under guaranteed false positives: candidate branch is a " +
      "ReusedExchange over the totals branch's shuffle, corpus scanned once") {
    // A deliberately SATURATED sketch (expectedItems=16 against a
    // thousands-strong dictionary -> every bit set -> probe always true)
    // forces false positives, so the n_fp anti-join branch survives AQE's
    // empty-relation pruning and the exchange-reuse claim is testable:
    // both consumers of the (doc_id, sh) aggregate must resolve to ONE
    // shuffle — one scan, one explode — with the second consumer reading
    // the first's shuffle files.
    import org.apache.spark.sql.functions.{col, substring}
    val df = graft.operators.Dedup.contaminationBloom(
      Tables.documents(spark, dir), "doc_id", "text",
      substring(col("source"), 4, 10).cast("int") < 10, 3, 1000,
      expectedItems = 16, fpp = 0.5)
    df.collect()
    val nodes = flatten(df.queryExecution.executedPlan)
    val p = df.queryExecution.executedPlan.toString
    assert(nodes.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.exchange.ReusedExchangeExec]),
      s"no ReusedExchange — test-side shingle stream derived twice:\n$p")
    val scans = nodes.count(
      _.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec])
    assert(scans == 1, s"expected 1 documents scan, got $scans\n$p")
    val explodes = nodes.count(
      _.isInstanceOf[org.apache.spark.sql.execution.GenerateExec])
    assert(explodes == 1, s"expected 1 Generate (explode), got $explodes\n$p")
    // and saturation must not change RESULTS: the exact verify step
    // removes every false positive, so the saturated run equals ct1
    val exact = graft.operators.Dedup.contamination(
      Tables.documents(spark, dir), "doc_id", "text",
      substring(col("source"), 4, 10).cast("int") < 10, 3, 1000)
    assert(df.orderBy("doc_id").collect().toSeq ==
      exact.orderBy("doc_id").collect().toSeq,
      "saturated-sketch output diverged from exact contamination")
  }

  test("ng1-ng4 duplicated spans: windows keyed by doc, no pair-space join") {
    Seq("ng1_dup_spans", "ng2_dup_span_list", "ng3_span_trim",
        "ng4_span_trim_keep_one").foreach { name =>
      val df = QueryCatalog.byName(name).run(spark, dir)
      assertNoPartitionWindowsBounded(df, name)
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    }
  }

  test("ii1 inverted index is one hash agg via priority_topk, no per-term sort") {
    val df = QueryCatalog.byName("ii1_inverted_index").run(spark, dir)
    df.collect()
    val nodes = flatten(df.queryExecution.executedPlan)
    assert(!nodes.exists(_.isInstanceOf[WindowExec]),
      "inverted index should not need a window:\n" +
        df.queryExecution.executedPlan)
    assert(nodes.exists(_.isInstanceOf[BaseAggregateExec]))
  }

  test("bp1 BPE pair counts end in a bounded TakeOrderedAndProject") {
    val df = QueryCatalog.byName("bp1_bpe_pairs").run(spark, dir)
    df.collect()
    val nodes = flatten(df.queryExecution.executedPlan)
    assert(nodes.exists(n => n.isInstanceOf[TakeOrderedAndProjectExec] ||
      n.isInstanceOf[CollectLimitExec]),
      df.queryExecution.executedPlan.toString)
  }

  test("cu1 cube is ONE expand+hash-agg pass with a broadcast denominator") {
    val p = plan("cu1_mixture_cube")
    assert(p.contains("Expand"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("an1 anti join plans as a broadcast/shuffled ANTI join") {
    val p = plan("an1_anti_join")
    assert(p.contains("LeftAnti"), p)
  }

  test("sq1 correlated scalar subquery is DECORRELATED into an agg+join") {
    // Catalyst must rewrite the per-row subquery into aggregate + join;
    // a surviving per-row subquery node would be the unscalable shape
    val p = plan("sq1_scalar_subquery")
    assert(p.contains("Join") || p.contains("BroadcastHashJoin"), p)
    assert(!p.toLowerCase.contains("scalarsubquery"), p)
  }

  test("rj1 interval join broadcasts the generated window dim") {
    val p = plan("rj1_interval_join")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("gf1 gap-fill spine is generated per user, windows keyed") {
    val df = QueryCatalog.byName("gf1_gap_fill").run(spark, dir)
    assertNoPartitionWindowsBounded(df, "gf1")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("Generate"), p) // sequence+explode, not a scanned calendar
  }

  test("fn1 funnel and co1 retention: one agg pass each, windows keyed") {
    Seq("fn1_funnel", "co1_cohort_retention").foreach { n =>
      val df = QueryCatalog.byName(n).run(spark, dir)
      assertNoPartitionWindowsBounded(df, n)
      assert(!df.queryExecution.executedPlan.toString.contains("Cartesian"), n)
    }
  }

  test("eq1 quantize: per-dim stats broadcast back, fact side never re-shuffled") {
    val df = QueryCatalog.byName("eq1_int8_quantize").run(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p) // 64-row stats frame broadcast
    assert(!p.contains("SortMergeJoin"), p)    // exploded fact side stays in place
    assertNoPartitionWindowsBounded(df, "eq1")
  }

  test("s6 stream-stream join replays in batch as a plain range join, no cartesian") {
    val df = QueryCatalog.byName("s6_stream_join").run(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Cartesian"), p)
    assert(!p.contains("BroadcastNestedLoop"), p) // equi-key + range = hash join
    assertNoPartitionWindowsBounded(df, "s6")
  }

  test("hh1 heavy hitters: sketch agg is partial+final, verify is one hash agg") {
    val df = QueryCatalog.byName("hh1_heavy_hitters").run(spark, dir)
    df.collect()
    val nodes = flatten(df.queryExecution.executedPlan)
    assert(nodes.exists { case _: BaseAggregateExec => true; case _ => false })
    assertNoPartitionWindowsBounded(df, "hh1")
  }

  test("round-4 curation queries: windows keyed or bounded, rate/threshold frames broadcast") {
    Seq("cc1_ccnet_buckets", "tm1_temperature_mix", "dr1_mixture_drift",
      "pk2_length_bucketed_packing").foreach { q =>
      val df = QueryCatalog.byName(q).run(spark, dir)
      assertNoPartitionWindowsBounded(df, q)
    }
    // the corpus side never shuffles INTO the stratum-sized rate frames
    assert(plan("tm1_temperature_mix").contains("BroadcastHashJoin"))
    assert(plan("cc1_ccnet_buckets").contains("BroadcastHashJoin"))
  }

  test("bk1 co-bucketed join: no exchange below the join under forced SMJ") {
    // -1 threshold simulates the 100 TB regime where neither fact
    // broadcasts: the join must ride the bucket layout, not a shuffle
    val prev = "spark.sql.autoBroadcastJoinThreshold" ->
      spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = QueryCatalog.byName("bk1_bucketed_join").run(spark, dir)
      df.collect()
      val nodes = flatten(df.queryExecution.executedPlan)
      val smj = nodes.collectFirst {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      }.getOrElse(fail("no SortMergeJoin in bk1 plan:\n" +
        df.queryExecution.executedPlan))
      val below = smj.children.flatMap(flatten)
      assert(!below.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec]),
        s"bucketed join still shuffled:\n$smj")
      // and both inputs really are bucket scans, not plain file scans
      val scans = below.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(scans.size == 2 && scans.forall(_.bucketedScan),
        s"expected 2 bucketed scans: ${scans.map(_.bucketedScan)}")
    } finally prev match {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** Month-partition directory names of the pp layout for `dir` — the
    * one listing both pruning tests derive their counts from. */
  private def ppMonthDirs(): Seq[String] = {
    val key = graft.queries.RelationalQueries.cacheKey(dir, "orders.parquet")
    Option(new java.io.File(s"/tmp/graft_pp/$key/orders").listFiles())
      .getOrElse(Array.empty).toSeq.map(_.getName)
      .filter(_.startsWith("o_month="))
  }

  test("pp1 static partition pruning: month predicate resolves against " +
      "directories, only the year's partitions are scanned") {
    val df = QueryCatalog.byName("pp1_partition_prune").run(spark, dir)
    df.collect()
    val scan = flatten(df.queryExecution.executedPlan).collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(fail("no FileSourceScanExec in pp1 plan"))
    val pf = scan.metadata.getOrElse("PartitionFilters", "")
    assert(pf.contains("o_month"), s"month bounds not partition filters: $pf")
    // directory-level witness on the scan's OWN partitions-read metric
    // (a file count would be write-layout-dependent — nothing guarantees
    // one file per month — while partitions read is exactly what the
    // pruning cuts)
    val totalParts = ppMonthDirs().size
    assert(totalParts > 12, s"layout should span years, got $totalParts months")
    assert(scan.metrics("numPartitions").value <= 12,
      s"read ${scan.metrics("numPartitions").value} of $totalParts partitions")
  }

  test("pp2 dynamic partition pruning: the broadcast calendar probe is " +
      "injected into the fact scan's partition filters") {
    val df = QueryCatalog.byName("pp2_dpp_join").run(spark, dir)
    df.collect()
    val scans = flatten(df.queryExecution.executedPlan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    val fact = scans.find(_.metadata.getOrElse("Location", "").contains("/orders"))
      .getOrElse(fail("no fact scan in pp2 plan"))
    val pf = fact.metadata.getOrElse("PartitionFilters", "")
    assert(pf.toLowerCase.contains("dynamicpruning"),
      s"DPP did not fire on the fact scan: $pf")
    // runtime witness: only the Q2 month directories were actually read
    val months = ppMonthDirs()
    val q2Parts = months.count(n =>
      Set("04", "05", "06").contains(n.takeRight(2)))
    assert(q2Parts > 0 && q2Parts < months.size)
    assert(fact.metrics("numPartitions").value <= q2Parts,
      s"read ${fact.metrics("numPartitions").value} partitions, " +
        s"Q2 has $q2Parts of ${months.size}")
  }

  test("ss4 index serve at nProbe < k: corpus scan statically partition-" +
      "pruned, probe broadcast, ONE shuffle (the rerank aggregate)") {
    import org.apache.spark.sql.functions.col
    // build the layout via the catalog entry (write-if-missing), then
    // serve a SINGLE query at nProbe = 2 — the regime where pruning has
    // something to prune (a many-query batch's probe union can cover
    // every cell; one query probes exactly 2 of the 8)
    QueryCatalog.byName("ss4_ann_index_scan").run(spark, dir).collect()
    val key = graft.queries.RelationalQueries.cacheKey(dir, "embeddings.parquet")
    val path = s"/tmp/graft_ss4/$key"
    val oneQ = graft.Tables.embeddings(spark, dir).filter(col("vec_id") === 0)
    val df = graft.operators.Ann.ivfIndexTopK(spark, path, oneQ,
      "vec_id", "embedding", nProbe = 2, topK = 3)
    df.collect()
    val nodes = flatten(df.queryExecution.executedPlan)
    val scan = nodes.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.metadata.getOrElse("Location", "").contains("graft_ss4") => f
    }.getOrElse(fail("no index corpus scan in the serve plan"))
    val pf = scan.metadata.getOrElse("PartitionFilters", "")
    assert(pf.contains("cell"), s"probe cells not a partition filter: $pf")
    val totalCells = Option(new java.io.File(s"$path/corpus").listFiles())
      .getOrElse(Array.empty).count(_.getName.startsWith("cell="))
    assert(totalCells > 2, s"degenerate layout: $totalCells cells")
    assert(scan.metrics("numPartitions").value <= 2,
      s"read ${scan.metrics("numPartitions").value} of $totalCells cells")
    // probe side broadcasts; the only shuffle is the rerank aggregate's
    assert(nodes.exists {
      case _: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => true
      case _ => false
    }, "probe join is not a broadcast hash join")
    val shuffles = nodes.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.size <= 1, s"expected ≤1 shuffle, got ${shuffles.size}")
  }

  test("ss7 tombstone-masked serve: cell pruning pushes through the " +
      "anti-join, tombstones broadcast, still ONE shuffle") {
    import org.apache.spark.sql.functions.col
    // build the layout (with its tombstones) via the catalog entry, then
    // serve a single query at nProbe = 2 — the mask must not cost the
    // plan its static pruning, its broadcast probe, or its single shuffle
    QueryCatalog.byName("ss7_ann_index_delete").run(spark, dir).collect()
    val key = graft.queries.RelationalQueries.cacheKey(dir, "embeddings.parquet")
    val path = s"/tmp/graft_ss7/$key"
    val oneQ = graft.Tables.embeddings(spark, dir).filter(col("vec_id") === 0)
    val df = graft.operators.Ann.ivfIndexTopK(spark, path, oneQ,
      "vec_id", "embedding", nProbe = 2, topK = 3)
    df.collect()
    val nodes = flatten(df.queryExecution.executedPlan)
    val scan = nodes.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.metadata.getOrElse("Location", "").contains("graft_ss7") &&
          f.metadata.getOrElse("Location", "").contains("corpus") => f
    }.getOrElse(fail("no index corpus scan in the serve plan"))
    val pf = scan.metadata.getOrElse("PartitionFilters", "")
    assert(pf.contains("cell"),
      s"probe cells not a partition filter under the tombstone mask: $pf")
    assert(scan.metrics("numPartitions").value <= 2,
      s"read ${scan.metrics("numPartitions").value} cells despite pruning")
    // the tombstone mask is a BROADCAST left-anti hash join — a shuffled
    // anti-join would re-exchange the whole pruned corpus per serve
    assert(nodes.exists {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec =>
        j.joinType.toString.toLowerCase.contains("anti")
      case _ => false
    }, "tombstone anti-join is not a broadcast hash join")
    val shuffles = nodes.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.size <= 1, s"expected ≤1 shuffle, got ${shuffles.size}")
  }

  test("sd2b index-served SemDeDup: the serve reads ONLY the index — " +
      "no embeddings scan, no k-means job") {
    // build the layout via the catalog entry (write-if-missing). The
    // serve's component walk checkpoints per round, so the FINAL frame's
    // plan is lineage-truncated — instead capture EVERY file scan the
    // serve executes (a QueryExecutionListener sees each internal action)
    // and assert they all read the persisted index. A k-means fit or a
    // fresh assignment pass would have to scan embeddings.parquet — its
    // absence IS the no-re-train witness (the sd2-vs-sd2b cost delta the
    // r13 verdict asks for).
    QueryCatalog.byName("sd2b_semantic_dedup_index").run(spark, dir).collect()
    val key = graft.queries.RelationalQueries.cacheKey(dir, "embeddings.parquet")
    val path = s"/tmp/graft_sd2b/$key"
    val scans = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    // descend through InMemoryTableScan: the serve persists its frames, so
    // the REAL parquet scan lives inside the cached relation's plan, not in
    // the top-level executed tree
    def deepScans(p: SparkPlan): Unit = flatten(p).foreach {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        scans.add(f.metadata.getOrElse("Location", ""))
      case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        deepScans(m.relation.cachedPlan)
      case _ => ()
    }
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        deepScans(qe.executedPlan)
      override def onFailure(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val res = graft.api.Corpus
        .semanticDuplicatesFromIndex(spark, path, cosMin = 0.9).collect()
      assert(res.nonEmpty, "sd2b serve returned no clusters")
      // the listener bus is async — poll until the index scan shows up
      val deadline = System.currentTimeMillis() + 20000
      def snapshot(): Seq[String] = {
        import scala.jdk.CollectionConverters._
        scans.synchronized(scans.asScala.toVector)
      }
      while (!snapshot().exists(_.contains("graft_sd2b")) &&
          System.currentTimeMillis() < deadline) Thread.sleep(100)
      val got = snapshot()
      assert(got.exists(_.contains("graft_sd2b")),
        s"no index scan observed during the serve: $got")
      assert(!got.exists(_.contains("embeddings.parquet")),
        s"serve scanned the raw embeddings (k-means re-fit?): $got")
    } finally spark.listenerManager.unregister(listener)
  }

  test("sj1 star join: optimizer recovers the join tree — dims broadcast, " +
      "no cartesian, fact never broadcast") {
    // sj1 is comma-form FROM: the parser hands Catalyst a cross-join
    // bundle and ReorderJoin must recover an equi-join tree. The
    // broadcast threshold is scaled to the sf0.001 file sizes so the
    // static planner faces the 100 TB regime in miniature: every dim
    // (region 1.9K / nation 2.7K / supplier 3.4K / customer 6.9K) sits
    // under 16KB, both facts (orders 37K, lineitem 117K) over it.
    val prev = "spark.sql.autoBroadcastJoinThreshold" ->
      spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "16KB")
      val df = QueryCatalog.byName("sj1_star_join").run(spark, dir)
      df.collect() // finalize AQE so the inspected plan is the executed one
      val nodes = flatten(df.queryExecution.executedPlan)
      val p = df.queryExecution.executedPlan.toString
      // ReorderJoin succeeded: every join found an equi-condition
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoop"), p.take(4000))
      // all four dimension joins planned as broadcast hash joins
      val bhj = nodes.count(
        _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec])
      assert(bhj >= 4, s"expected >=4 BroadcastHashJoin, got $bhj:\n${p.take(4000)}")
      // the lineitem fact is never on a broadcast build side — the
      // invariant that matters at 100 TB, where a broadcast fact is OOM.
      // (AQE MAY legitimately broadcast the date-filtered orders side at
      // runtime — at its observed size that is the right call, and at
      // 100 TB the same cost logic keeps it shuffled.)
      nodes.collect {
        case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec =>
          val sub = flatten(b).mkString("\n")
          assert(!sub.contains("lineitem"), s"fact broadcast:\n$sub")
      }
    } finally prev match {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("AQE splits a skewed sort-merge join partition at runtime") {
    import spark.implicits._
    // one hot key carrying ~95% of the fact side; thresholds lowered so
    // local-scale bytes trip the same machinery that fires at 100 TB
    val prev = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      // a downstream exchange would normally make splitting cost-neutral
      // anyway; the force flag removes the rule's conservatism so the
      // assertion targets the SPLIT mechanism, not the cost model
      spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
      // the same planted-hot-key shape as c6's fixture (Skew.saltedJoin's
      // catalog demo): one key carrying ~95% of the fact side. c6 is the
      // explicit-salt answer; this is its optimizer twin — AQE detecting
      // the hot reducer partition at runtime and splitting it.
      val facts = (1 to 60000).map(i => (if (i % 20 == 0) i.toLong % 7 else 1L, i))
        .toDF("k", "v")
      val dim = (0L to 7L).map(k => (k, s"name$k")).toDF("k", "name")
      val joined = facts.join(dim, "k").select("k", "v", "name")
      assert(joined.collect().length == 60000) // executes THIS plan (AQE finalizes)
      val nodes = flatten(joined.queryExecution.executedPlan)
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"), p.take(4000))
      // the mechanism itself, not just the flag: the hot key's reducer
      // partition must be SPLIT into >1 partial-reducer reads on the fact
      // side (each a separate task), with the dim side replicated to match
      val splits = nodes.collect {
        case r: org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec
            if r.hasSkewedPartition =>
          r.partitionSpecs.count(
            _.isInstanceOf[org.apache.spark.sql.execution.PartialReducerPartitionSpec])
      }
      assert(splits.nonEmpty && splits.max > 1,
        s"hot partition not split (partial-reducer specs per read: $splits)\n" +
          p.take(4000))
    } finally prev.foreach { case (k, v) =>
      v match { case Some(x) => spark.conf.set(k, x); case None => spark.conf.unset(k) }
    }
  }

  test("text-analysis scalars run in ONE WholeStageCodegen span — no interpreted breaks") {
    // The functions-not-UDFs claim, asserted: the narrow text family
    // (lang-id, quality scoring, fingerprints, PII scrub, rule filters)
    // is pure column expressions, so the whole scan→project/filter
    // pipeline must fuse into a single codegen span. An interpreted
    // Project/Filter outside codegen (a Scala UDF, a non-codegen custom
    // expression) would break the span and row-ify the 100 TB hot path.
    import org.apache.spark.sql.execution.{FilterExec, ProjectExec, InputAdapter, WholeStageCodegenExec}
    def interpreted(p: SparkPlan, under: Boolean): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => interpreted(a.executedPlan, under)
      case q: QueryStageExec        => interpreted(q.plan, under)
      case w: WholeStageCodegenExec => w.children.flatMap(interpreted(_, true))
      case i: InputAdapter          => i.children.flatMap(interpreted(_, false))
      case other =>
        val self =
          if (!under && (other.isInstanceOf[ProjectExec] ||
            other.isInstanceOf[FilterExec])) Seq(other)
          else Nil
        self ++ other.children.flatMap(interpreted(_, under))
    }
    // x3_fingerprint is deliberately absent: its min-shingle fingerprint
    // is array-PRODUCING (shingles ride a `transform` lambda), which is
    // CodegenFallback by Spark design — the documented exception in
    // TextFunctions' scaladoc, not a regression this test should mask.
    for (name <- Seq("x1_lang_id", "x2_quality_score",
        "x6_pii_scrub", "x7_rule_filters")) {
      val df = QueryCatalog.byName(name).run(spark, dir)
      df.collect()
      val exec = df.queryExecution.executedPlan
      val bad = interpreted(exec, under = false)
      assert(bad.isEmpty,
        s"$name: interpreted (non-codegen) nodes in the hot path:\n" +
          bad.map(_.nodeName).mkString(", ") + s"\n$exec")
      val spans = flatten(exec).count(_.isInstanceOf[WholeStageCodegenExec])
      assert(spans == 1, s"$name: expected 1 codegen span, got $spans\n$exec")
    }
  }

  test("shingle explodes never inline the tokenizer into the generator") {
    // The r10 O(tokens²) fix, pinned: a generator's interpreted transform
    // re-evaluates its expression tree per element, so a `split(...)`
    // INSIDE the generator means one regex split per element_at of every
    // emitted shingle. The tokenization must arrive as a plain array
    // attribute from the Project below (Dedup.shingleExplode's shape) —
    // if a future optimizer rule or refactor inlines it, this fails
    // instead of the bench silently drifting +12s.
    import org.apache.spark.sql.catalyst.expressions.StringSplit
    // several shingle frames are persisted, hiding their Generate inside
    // the cache-build plan — descend through InMemoryTableScan too
    def deep(p: SparkPlan): Seq[SparkPlan] = flatten(p).flatMap {
      case i: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        i +: deep(i.relation.cachedPlan)
      case other => Seq(other)
    }
    for (name <- Seq("ct1_contamination", "bf1_bloom_contamination",
        "dd4_ngram_jaccard", "x5_repetition", "ng1_dup_spans")) {
      val df = QueryCatalog.byName(name).run(spark, dir)
      df.collect()
      val gens = deep(df.queryExecution.executedPlan).collect {
        case g: org.apache.spark.sql.execution.GenerateExec => g
      }
      assert(gens.nonEmpty, s"$name: expected a Generate in the plan")
      gens.foreach { g =>
        val splits = g.boundGenerator.collect { case s: StringSplit => s }
        assert(splits.isEmpty,
          s"$name: tokenizer inlined into the generator (O(tokens²) regex " +
            s"splits per document):\n${g.boundGenerator}")
      }
    }
  }

  /** The executed plan of `df` written to a `noop` sink, as the listener
    * bus reports the write's own execution. */
  private def noopWritePlan(df: DataFrame, what: String): SparkPlan = {
    import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val writes = new java.util.concurrent.LinkedBlockingQueue[QueryExecution]()
    val capture = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.analyzed.isInstanceOf[V2WriteCommand]) writes.put(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(capture)
    val qe =
      try {
        df.write.format("noop").mode("overwrite").save()
        writes.poll(60, java.util.concurrent.TimeUnit.SECONDS)
      } finally spark.listenerManager.unregister(capture)
    assert(qe != null, s"$what: the noop write was not reported")
    qe.executedPlan
  }

  test("dedup and corpus operators cache nothing and explode their input once") {
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    for (op <- UncachedCorpusOps(spark, "/root/testdata/sf0.01")) {
      val plan = noopWritePlan(op.frame(), op.name)
      val nodes = flatten(plan)
      assert(!nodes.exists(_.isInstanceOf[InMemoryTableScanExec]),
        s"${op.name}: the executed plan reads a cache\n$plan")
      // the explodes emit each shingle (token) row once, and each doc's
      // bands once: no branch re-runs the explode
      val exploded = nodes.collect { case g: GenerateExec =>
        g.metrics("numOutputRows").value }
      assert(exploded.sum == op.explodeRows,
        s"${op.name}: explodes emitted ${exploded.mkString(" + ")} rows, " +
          s"expected ${op.explodeRows}\n$plan")
    }
  }

  test("uncached catalog queries read no cache and compute each shared intermediate once") {
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val faults = UncachedCatalogQueries(spark, "/root/testdata/sf0.01").flatMap { op =>
      val plan = noopWritePlan(op.frame(), op.name)
      val nodes = flatten(plan)
      val cached =
        if (nodes.exists(_.isInstanceOf[InMemoryTableScanExec]))
          Some(s"${op.name}: the executed plan reads a cache\n$plan")
        else None
      // an explode with no aggregate under it reads the input's rows (the
      // others explode per-key arrays: sketch entries, band keys, pairs);
      // together those emit each token (shingle) row once
      val exploded = nodes.collect {
        case g: GenerateExec
            if !flatten(g.child).exists(_.isInstanceOf[BaseAggregateExec]) =>
          g.metrics("numOutputRows").value
      }
      val scanned = nodes.collect { case f: FileSourceScanExec =>
        f.metrics("numOutputRows").value }
      def rows(what: String, got: Seq[Long], expected: Option[Long]) =
        expected.filter(_ != got.sum).map(e =>
          s"${op.name}: $what ${got.mkString(" + ")} rows, expected $e\n$plan")
      cached ++ rows("input explodes emitted", exploded, op.corpusExplodeRows) ++
        rows("scans read", scanned, op.scanRows)
    }
    assert(faults.isEmpty, faults.mkString("\n\n"))
  }

  test("nested-schema pruning: reading struct metadata never drags the binary payload") {
    // The multimodal layout at 100 TB: an opaque binary payload column
    // beside a typed metadata STRUCT (the mm1/mm2 shape, written to
    // parquet). A metadata-only query must prune the scan to the struct
    // LEAVES it touches — a plan that reads the whole struct (or worse,
    // the payload) turns a KB-per-row metadata sweep into a full-corpus
    // byte read. Catalyst's nested-schema pruning (on by default) is the
    // surface under pin.
    import org.apache.spark.sql.functions.{col, lit, struct, avg}
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_nested").toString + "/media"
    (1 to 200).map(i => (i.toLong, i % 5))
      .toDF("media_id", "m")
      .select(col("media_id"),
        struct((col("m") * 100 + 640).as("width"), lit(480).as("height"),
          lit("h264").as("codec")).as("meta"),
        lit(Array.fill[Byte](256)(7)).as("payload"))
      .write.parquet(dir)
    val q = spark.read.parquet(dir)
      .groupBy(col("meta.codec").as("codec"))
      .agg(avg(col("meta.width")).as("avg_w"))
    q.collect()
    val scans = flatten(q.queryExecution.executedPlan).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.size == 1)
    val read = scans.head.requiredSchema.catalogString
    assert(read.contains("width") && read.contains("codec"),
      s"touched struct leaves missing from ReadSchema: $read")
    assert(!read.contains("payload"), s"payload read for a metadata query: $read")
    assert(!read.contains("height"), s"untouched struct leaf not pruned: $read")
  }

  test("runtime bloom-filter injection prunes the fact side of a shuffle join") {
    // The engine-native sibling of bf1's hand-built sketch: Catalyst's
    // InjectRuntimeFilter plants a bloom-filter aggregate over the
    // SELECTIVE dim side and probes it in a filter ABOVE the fact scan,
    // so fact rows that cannot join never reach the shuffle — at 100 TB
    // this is the difference between shuffling the corpus and shuffling
    // the matching sliver. Thresholds lowered so local-scale bytes trip
    // the same rule that fires at warehouse scale (the application-side
    // default is 10 GB); broadcast disabled because a broadcast join
    // already prunes at the probe and the rule correctly stays out.
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
    import org.apache.spark.sql.functions.{col, sum}
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val li = Tables.lineitem(spark, dir).select("l_orderkey", "l_quantity")
      val sel = Tables.orders(spark, dir)
        .filter(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 150000.0)
        .select("o_orderkey", "o_totalprice")
      val joined = li.join(sel, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderkey").agg(sum(col("l_quantity")).as("qty"))
      val rows = joined.collect()
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("might_contain"),
        s"no runtime bloom filter injected on the fact side:\n${p.take(4000)}")
      // and injection must not change RESULTS: replay without the rule
      spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "10GB")
      val plain = li.join(sel, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderkey").agg(sum(col("l_quantity")).as("qty"))
      assert(rows.sortBy(_.getLong(0)).toSeq ==
        plain.collect().sortBy(_.getLong(0)).toSeq)
    } finally prev.foreach { case (k, v) =>
      v match { case Some(x) => spark.conf.set(k, x); case None => spark.conf.unset(k) }
    }
  }

  test("s8 freq-sketch window: one typed-imperative agg, no WindowExec") {
    val df = QueryCatalog.byName("s8_stream_freq_sketch").run(spark, dir)
    df.collect()
    val nodes = flatten(df.queryExecution.executedPlan)
    // win_total rides the sketch's own n — the per-window total needs no
    // second agg pass and no window function
    assert(!nodes.exists(_.isInstanceOf[WindowExec]),
      df.queryExecution.executedPlan.toString)
    assert(nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec]),
      df.queryExecution.executedPlan.toString)
  }

  test("sd2 semantic dedup: cell-blocked pair join, no cartesian, windows keyed") {
    // the component walk checkpoints (lineage truncated), so the guard
    // runs on the exposed pair stage — the part with a pair space to lose
    val df = graft.api.Corpus.semanticDuplicatePairs(
      Tables.embeddings(spark, dir), cosMin = 0.9, cells = 4)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    assert(p.contains("cosine_sim"), p) // fused codegen cosine on the pair space
    assertNoPartitionWindowsBounded(df, "sd2")
  }

  test("dd5 near-dup pair join is hot-bucket capped before the self-join") {
    // the cap is a label-keyed count window + filter ABOVE the join: a
    // degenerate hot label drops out instead of exploding to m² pairs in
    // one task. Guard: the cap window exists, keyed by label, and no
    // cartesian/nested-loop join sneaks in.
    val p = plan("dd5_embed_neardup")
    assert(p.contains("windowspecdefinition(label"), p)
    assert(p.contains("bsz"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
  }

  test("x9 self-repeat pair join is occurrence-capped, equi-joined, doc-bounded windows") {
    // the within-doc pair space is bounded by the per-(doc, gram)
    // occurrence window + cap filter ABOVE the self-join; the chain walk
    // partitions by (doc, diag) — state bounded by one document, and no
    // global (unpartitioned) window anywhere near the fact
    val p = plan("x9_longest_repeat")
    assert(p.contains("windowspecdefinition(doc_id"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
  }

  test("d6c exact VST: sample-dim size factors broadcast back, no window on the fact") {
    // the frozen (a0, a1) ride as fold-able literals; the only joins are
    // the size-factor broadcast — the fact is scanned, aggregated by
    // sample, and mapped, never windowed or range-shuffled
    val df = QueryCatalog.byName("d6c_vst_exact").run(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.toLowerCase.contains("windowspecdefinition"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
  }

  test("mm3 pHash pair join is band-bucket capped, equi-joined, never cartesian") {
    // simhashNearPairs' shape reused on the byte-aHash: the bucket cap
    // window (band, bkey) sits ABOVE the self-join, the join itself is a
    // keyed equi-join on the band bucket — a degenerate bucket (constant
    // payloads) drops out instead of emitting m² pairs in one task.
    val p = plan("mm3_phash_neardup")
    assert(p.contains("windowspecdefinition(band"), p)
    assert(p.contains("bsz"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
  }

  test("mm4 audio-fingerprint pair join is band-bucket capped, equi-joined, never cartesian") {
    // the audio rung rides simhashNearPairs verbatim (60-bit print, 4-bit
    // bands): same cap-above-join contract as mm3 — a degenerate bucket
    // (constant payloads) drops out instead of emitting m² pairs
    val p = plan("mm4_audio_neardup")
    assert(p.contains("windowspecdefinition(band"), p)
    assert(p.contains("bsz"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
  }

  test("s12 stream-minhash batch replay: capped ref side, banded equi-join, no cartesian") {
    // the stream-static probe must stay a keyed equi-join on (band, bkey)
    // with the hot-bucket cap window on the REFERENCE side only — a hot
    // ref bucket is what blows up the per-batch join cost
    val p = plan("s12_stream_minhash")
    assert(p.contains("windowspecdefinition(band"), p)
    assert(p.contains("bsz"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
  }

  test("tc1 triangle joins are all equi-joins — no cartesian, no nested loop") {
    // degree orientation only pays off if every pair stage is a keyed
    // join: apex for wedges, (v, w) for closure. A nested-loop anywhere
    // means the m^1.5 bound is gone.
    val p = plan("tc1_triangle_count")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
  }

  test("graph family: every round is keyed joins/aggs — kc1, bfs1, pr1") {
    // the iterative graph ops are rounds of hash joins + aggregations on
    // node ids; a cartesian/nested-loop anywhere means a round degraded
    for (name <- Seq("kc1_kcore_peel", "bfs1_graph_bfs")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
        s"$name:\n$p")
    }
    // pr1 keeps its deliberate 1-ROW broadcast cross join (the N scalar
    // riding nodesN) — only a true cartesian would be a degradation
    val p = plan("pr1_pagerank")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("qd1/s9 DDSketch: fact never range-shuffles; rank windows sit on the bucket frame") {
    // the sketch's whole point vs wz1's exact ranks: the only full-data
    // pass is a hash aggregation. A RangePartitioning anywhere means the
    // fact took the exact-quantile sort it exists to avoid; the cum-count
    // windows must be keyed AND fed by the histogram agg (constant-sized),
    // never by the fact.
    for (name <- Seq("qd1_ddsketch_quantiles", "s9_stream_value_sketch")) {
      val df = QueryCatalog.byName(name).run(spark, dir)
      df.collect()
      val nodes = flatten(df.queryExecution.executedPlan)
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("rangepartitioning"), s"$name:\n$p")
      val windows = nodes.collect { case w: WindowExec => w }
      assert(windows.nonEmpty, s"$name:\n$p")
      windows.foreach { w =>
        assert(w.partitionSpec.nonEmpty, s"$name: unkeyed window\n$p")
        assert(flatten(w.child).exists(_.isInstanceOf[BaseAggregateExec]),
          s"$name: window not above the histogram agg\n$p")
      }
    }
  }

  test("or1 ORC scan: ship-date predicate pushed to the ORC reader, columns pruned") {
    val df = QueryCatalog.byName("or1_orc_interchange").run(spark, dir)
    df.collect()
    val scan = flatten(df.queryExecution.executedPlan).collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(fail("no FileSourceScanExec in or1 plan"))
    assert(scan.metadata.getOrElse("Format", "").toLowerCase.contains("orc"),
      scan.metadata.toString)
    assert(scan.metadata.getOrElse("PushedFilters", "").contains("l_shipdate"),
      scan.metadata.toString)
    // projection pruning: the scan reads only the four written columns
    assert(scan.schema.fieldNames.toSet ==
      Set("l_orderkey", "l_linenumber", "l_shipdate", "l_extendedprice"),
      scan.schema.treeString)
  }

  test("zo1 z-order box scan: predicates pushed, most file stat-boxes miss") {
    val df = QueryCatalog.byName("zo1_zorder_prune").run(spark, dir)
    df.collect()
    val scan = flatten(df.queryExecution.executedPlan).collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(fail("no FileSourceScanExec in zo1 plan"))
    // both box predicates must reach the parquet reader — that is what
    // turns each file's footer min/max into row-group skipping
    val pushed = scan.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("o_totalprice") && pushed.contains("o_custkey"), pushed)
    // the files-pruned witness (engine-independent, the PartitioningSpec
    // stance: Spark's V1 scan LISTS every file regardless, so numFiles
    // can't show it — the skipping acts via footer stats / a manifest):
    // at most half of the 16 clustered files' [min,max] boxes may
    // intersect the query box on BOTH columns
    // reuse the query's own cache key so the test reads the layout the
    // query actually wrote (a reconstructed key silently validated a
    // stale pre-rename layout — round-6 verdict)
    val path =
      s"/tmp/graft_zo1/${graft.queries.RelationalQueries.cacheKey(dir, "orders.parquet")}"
    val boxes = spark.read.parquet(path)
      .groupBy(org.apache.spark.sql.functions.input_file_name().as("f"))
      .agg(org.apache.spark.sql.functions.min("o_totalprice").as("plo"),
        org.apache.spark.sql.functions.max("o_totalprice").as("phi"),
        org.apache.spark.sql.functions.min("o_custkey").as("clo"),
        org.apache.spark.sql.functions.max("o_custkey").as("chi"))
    val total = boxes.count()
    val hit = boxes.filter(
      org.apache.spark.sql.functions.col("plo") <= 150000.0 &&
        org.apache.spark.sql.functions.col("phi") >= 100000.0 &&
        org.apache.spark.sql.functions.col("clo") <= 2000L &&
        org.apache.spark.sql.functions.col("chi") >= 100L).count()
    assert(total >= 8, s"expected a multi-file layout, got $total")
    assert(hit * 2 <= total, s"box intersects $hit of $total stat-boxes")
  }

  test("ols1/cal1/dp1 are single-exchange hash aggs, no windows") {
    // the screening/eval/release aggregates must stay one-shuffle cheap:
    // everything before the groupBy is narrow map work riding the scan,
    // everything after is closed-form column math on the group frame
    Seq("ols1_grouped_regression", "cal1_calibration_bins",
      "cm1_confusion_matrix", "dp1_noisy_counts").foreach { name =>
      val df = QueryCatalog.byName(name).run(spark, dir)
      df.collect()
      val nodes = flatten(df.queryExecution.executedPlan)
      val shuffles = nodes.count(_.isInstanceOf[
        org.apache.spark.sql.execution.exchange.ShuffleExchangeLike])
      assert(shuffles == 1, s"$name: expected 1 exchange, got $shuffles\n" +
        df.queryExecution.executedPlan)
      assert(!nodes.exists(_.isInstanceOf[WindowExec]),
        s"$name: unexpected window")
    }
  }

  test("dm1 reweighting: scalars ride broadcast 1-row joins, no fact cartesian") {
    val df = QueryCatalog.byName("dm1_doremi_weights").run(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    assertNoPartitionWindowsBounded(df, "dm1_doremi_weights")
  }

  test("mo1 self-joined aggregate: ReuseExchange computes the fact agg ONCE") {
    // The report is written as rev JOIN rev (shifted key) — the naive
    // two-pass shape. Catalyst must canonicalize both join inputs to the
    // same scan+partial-agg+shuffle subplan and plan the second side as a
    // ReusedExchange over the first's shuffle files; at 100 TB that is one
    // fact pass instead of two. Strongest witness: exactly ONE parquet
    // scan in the whole executed plan (ReusedExchangeExec is a leaf, so
    // the reused subtree is not double-walked).
    val df = QueryCatalog.byName("mo1_month_over_month").run(spark, dir)
    df.collect()
    val nodes = flatten(df.queryExecution.executedPlan)
    assert(nodes.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.exchange.ReusedExchangeExec]),
      "no ReusedExchange — fact aggregated twice:\n" +
        df.queryExecution.executedPlan)
    val scans = nodes.count(
      _.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec])
    assert(scans == 1, s"expected 1 fact scan, got $scans\n" +
      df.queryExecution.executedPlan)
    // and the month-frame join itself broadcasts (months are tiny)
    assert(nodes.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
      "month self-join did not broadcast:\n" + df.queryExecution.executedPlan)
  }

  test("na1 NOT IN plans as a null-aware anti HASH join, never a nested loop") {
    // The rewritten `key = k OR isnull(key = k)` condition would naively
    // be a BroadcastNestedLoopJoin (probe x build); the single-column
    // NAAJ optimization must rescue it into a hash join.
    val df = QueryCatalog.byName("na1_notin_nullaware").run(spark, dir)
    df.collect()
    val nodes = flatten(df.queryExecution.executedPlan)
    val naaj = nodes.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }
    assert(naaj.exists(_.isNullAwareAntiJoin),
      "no null-aware anti hash join:\n" + df.queryExecution.executedPlan)
    assert(!nodes.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec]),
      "NOT IN fell back to a nested loop:\n" + df.queryExecution.executedPlan)
  }

  test("DE's prior collect and KM's subject frame aggregate the raw counts by gene ONCE") {
    // D1's gene totals and the size factors' geomeans come from one
    // per-gene pass (Normalization.withGeomean): one gene-keyed shuffle of
    // an aggregate over the raw counts, and one broadcast of the kept
    // genes, whichever branch reads them. A second shuffle or broadcast
    // means the pass was split again (the geomean pruned from one
    // branch, or a second gene aggregate).
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, Exchange,
      ReusedExchangeExec, ShuffleExchangeExec}
    val fx = TcgaFixtures.tables(spark)
    val path = java.nio.file.Files.createTempDirectory("graft_plan_expr").toFile.getPath +
      "/expression"
    fx.expression.write.parquet(path)
    val t = fx.copy(expression = spark.read.parquet(path))
    // the plan that filled the frame's one library cache
    def cachedPlan(df: DataFrame): SparkPlan =
      df.queryExecution.withCachedData.collect { case r: InMemoryRelation => r } match {
        case Seq(r) => r.cacheBuilder.cachedPlan
        case other => fail(s"expected one cache under the frame, got ${other.size}")
      }
    def rawGeneShuffle(p: SparkPlan): Boolean = p match {
      case e: ShuffleExchangeExec =>
        (e.outputPartitioning match {
          case HashPartitioning(Seq(a: Attribute), _) => a.name == "gene_id"
          case _ => false
        }) && flatten(e.child).collectFirst { case a: BaseAggregateExec => a }
          .exists(_.aggregateExpressions.exists(_.references.exists(_.name == "count"))) &&
          flatten(e.child).exists(_.isInstanceOf[FileSourceScanExec])
      case _ => false
    }
    def rawGeneStage(p: SparkPlan): Boolean = p match {
      case r: ReusedExchangeExec => rawGeneShuffle(r.child)
      case _ => rawGeneShuffle(p)
    }
    // the nodes below `p` down to, and including, the next exchanges
    def toExchanges(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => toExchanges(a.executedPlan)
      case q: QueryStageExec => toExchanges(q.plan)
      case _: Exchange | _: ReusedExchangeExec => Seq(p)
      case other => other +: other.children.flatMap(toExchanges)
    }
    def assertOnePass(plan: SparkPlan): Unit = {
      // a reused exchange is a leaf here: each shuffle is counted once
      assert(flatten(plan).count(rawGeneShuffle) == 1, plan)
      val keptBroadcasts = flatten(plan).count {
        case b: BroadcastExchangeExec => toExchanges(b.child).exists(rawGeneStage)
        case _ => false
      }
      assert(keptBroadcasts == 1, plan)
    }
    val de = Tcga.differentialExpression(t, "short_letter_code", Seq("NT", "TP"))
    assertOnePass(cachedPlan(de)) // the prior collect has filled it
    de.write.format("noop").mode("overwrite").save() // releases the cells
    val (curves, tests) = Tcga.kmByMedianExpression(t, Seq("DEG10", "GENE1"))
    curves.write.format("noop").mode("overwrite").save()
    assertOnePass(cachedPlan(curves))
    tests.write.format("noop").mode("overwrite").save() // releases the strata
  }

  test("drugKmFanOut normalizes each cohort in one per-(class, gene) pass, no window") {
    // The per-cohort D1 and size-factor geomeans come from one pass keyed
    // by cg = class|gene (Normalization.withGeomean), as kmByMedianExpression's
    // come from one keyed by gene_id: the KM subject cache's plan holds no
    // window over cg (a windowed D1) and no more cg-keyed shuffles than
    // kmByMedianExpression's holds gene_id-keyed ones.
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val t = TcgaFixtures.tables(spark)
    val goi = Seq("DEG10", "GENE1")
    // the nodes of the KM subject cache's executed plan; acting on both
    // outputs releases the cache
    def cacheNodes(outputs: (DataFrame, DataFrame)): Seq[SparkPlan] = {
      val (curves, tests) = outputs
      curves.write.format("noop").mode("overwrite").save()
      val nodes = curves.queryExecution.withCachedData
        .collect { case r: InMemoryRelation => r } match {
        case Seq(r) => flatten(r.cacheBuilder.cachedPlan)
        case other => fail(s"expected one cache under the curves, got ${other.size}")
      }
      tests.write.format("noop").mode("overwrite").save()
      nodes
    }
    def shuffledBy(key: String)(p: SparkPlan): Boolean = p match {
      case e: ShuffleExchangeExec => e.outputPartitioning match {
        case HashPartitioning(Seq(a: Attribute), _) => a.name == key
        case _ => false
      }
      case _ => false
    }
    val drug = cacheNodes(Tcga.drugKmFanOut(t, Seq("Tamoxifen", "Chemotherapy"), goi))
    val km = cacheNodes(Tcga.kmByMedianExpression(t, goi))
    val cgWindows = drug.collect {
      case w: WindowExec if w.partitionSpec.exists(_.references.exists(_.name == "cg")) => w
    }
    assert(cgWindows.isEmpty, cgWindows.mkString("\n"))
    val (cg, gene) = (drug.count(shuffledBy("cg")), km.count(shuffledBy("gene_id")))
    assert(gene > 0 && cg <= gene, s"$cg cg-keyed shuffles against $gene gene_id-keyed")
  }
}
