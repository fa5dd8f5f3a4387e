package graft

import graft.api.Corpus
import org.apache.spark.sql.functions._

class CorpusSpec extends SparkSpec {
  import spark.implicits._

  private val good =
    "the quick brown fox jumps over the lazy dog and runs to the field again"
  private lazy val docs = Seq(
    (1L, good),
    (2L, good), // exact dup of 1 -> dropped, keeper 1
    (3L, good + " with one extra tail phrase appended here"), // near dup
    (4L, "!!! ??? ### $$$ %%% ^^^"), // too_noisy
    (5L, "tiny"), // too_short
    (6L, "completely different content about spark catalyst engines and the planner"))
    .toDF("doc_id", "text")

  test("scored: bands separate keepers from noise and shorts") {
    val bands = Corpus.scored(docs).select("doc_id", "band")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(bands(1L) == "ok" && bands(6L) == "ok")
    assert(bands(4L) == "too_noisy" && bands(5L) == "too_short")
  }

  test("cleaned: quality gate + exact dedup keep-min in one pass") {
    val kept = Corpus.cleaned(docs)
    val ids = kept.select("doc_id").as[Long].collect().toSet
    assert(ids == Set(1L, 3L, 6L)) // 2 deduped into 1; 4,5 rejected
    val copies = kept.filter($"doc_id" === 1L)
      .select("n_copies").as[Long].head()
    assert(copies == 2L)
    assert(kept.columns.contains("band") && kept.columns.contains("n_tokens"))
  }

  test("nearDuplicates: exact-dup pair at jaccard 1.0; strangers absent") {
    val pairs = Corpus.nearDuplicates(docs, jaccardMin = 0.3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs.contains((1L, 2L)) && pairs((1L, 2L)) == 1.0)
    assert(pairs.keySet.flatMap(p => Set(p._1, p._2)).intersect(Set(6L)).isEmpty)
  }

  test("fingerprinted: identical prefixes share prefix_fp; distinct texts differ") {
    val fp = Corpus.fingerprinted(docs)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(fp(1L) == fp(2L))
    assert(fp(1L)._1 == fp(3L)._1) // same first 8 tokens -> same prefix fp
    assert(fp(1L) != fp(6L))
  }

  test("sample: deterministic, nested, stratified rates respected") {
    val corpus = (1L to 2000L).map(i => (i, if (i % 2 == 0) "web" else "book"))
      .toDF("doc_id", "src")
    val s10 = Corpus.sample(corpus, 0.1).select("doc_id").as[Long].collect().toSet
    val s30 = Corpus.sample(corpus, 0.3).select("doc_id").as[Long].collect().toSet
    assert(s10.subsetOf(s30) && s10.nonEmpty)
    val strat = Corpus.sample(corpus, 0.0, stratum = Some(col("src")),
      byStratum = Map("web" -> 0.5))
    assert(strat.filter($"src" === "book").count() === 0)
    assert(strat.filter($"src" === "web").count() > 0)
  }

  test("ruleFiltered: edge stop lists — empty list counts 0, punctuated entries " +
      "fall back to the array form (ADVICE r10)") {
    // empty stopList: n_stop must be 0 (r_stop false), not a plan-time throw
    val empty = Corpus.ruleFiltered(docs, stopList = Nil)
      .select("doc_id", "n_stop").collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("n_stop")).toMap
    assert(empty.values.forall(_ == 0L))
    // punctuated entry ("e.g.") cannot ride the padded-regex probe —
    // the interpreted array_intersect fallback must count it correctly
    val punct = Corpus.ruleFiltered(
        Seq((1L, "we use e.g. the short form"), (2L, "no markers here")).toDF("doc_id", "text"),
        stopList = Seq("e.g.", "the"))
      .select("doc_id", "n_stop").collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("n_stop")).toMap
    assert(punct(1L) == 2L && punct(2L) == 0L)
    // NULL text propagates NULL through the literal-token probe path
    val withNull = docs.withColumn("text",
      when($"doc_id" === 5L, lit(null: String)).otherwise($"text"))
    val ns = Corpus.ruleFiltered(withNull)
      .select("doc_id", "n_stop").collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(ns(5L).isEmpty && ns(1L).nonEmpty)
  }

  test("contamination: flags only test docs overlapping the train split") {
    val corpus = Seq(
      (1L, good, true),
      (10L, "the quick brown fox with a novel continuation", false), // leaks
      (11L, "held out text with zero verbatim overlap whatsoever", false))
      .toDF("doc_id", "text", "is_train")
    val got = Corpus.contamination(corpus, $"is_train")
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(got === Set(10L))
  }

  test("trimDuplicatedText keeps the exemplar copy, trims the clones") {
    val passage = "alpha beta gamma delta epsilon zeta eta theta"
    val corpus = Seq(
      (1L, passage),
      (2L, passage), // verbatim clone: trims fully under keepFirst
      (3L, "entirely different words nothing shared here at all"))
      .toDF("doc_id", "text")
    val out = Corpus.trimDuplicatedText(corpus, n = 3)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_kept"), r.getAs[String]("trimmed_text")))).toMap
    assert(out(1L)._1 == 8 && out(1L)._2 == passage) // exemplar intact
    assert(out(2L)._1 == 0 && out(2L)._2.isEmpty)    // clone excised
    assert(out(3L)._1 == 8)                          // untouched
    val spans = Corpus.duplicatedTextSpans(corpus, n = 3, keepFirst = true)
      .collect()
    assert(spans.forall(_.getAs[Long]("doc_id") == 2L)) // only the clone flagged
  }

  test("repetitionScores: a looping doc scores high, varied text low") {
    val corpus = Seq(
      (1L, "spam spam spam spam spam spam spam spam"),
      (2L, "each word here appears exactly once only"))
      .toDF("doc_id", "text")
    val got = Corpus.repetitionScores(corpus)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Double]("dup_frac"), r.getAs[Double]("top_frac"))).toMap
    assert(got(1L)._1 > 0.8 && got(1L)._2 == 1.0) // 7 copies of one 2-gram
    assert(got(2L)._1 == 0.0 && got(2L)._2 < 0.2)
  }

  test("dedupClusters: transitive near-dups share a component, min id keeps") {
    val chain = Seq(
      (1L, good),
      (2L, good + " tail one"),
      (3L, good + " tail one two"),
      (50L, "completely different content about catalyst planner internals here"))
      .toDF("doc_id", "text")
    val got = Corpus.dedupClusters(chain, jaccardMin = 0.3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    // 1-2 and 2-3 are near-dups; 1-3 may only connect THROUGH 2
    assert(got.keySet === Set(1L, 2L, 3L))
    assert(got.values.map(_._1).toSet === Set(1L))
    assert(got(1L)._2 && !got(2L)._2 && !got(3L)._2)
  }

  test("dedupClusters keeperBy: the highest-scoring member keeps, not the min id") {
    val chain = Seq(
      (1L, good),
      (2L, good + " tail one"),
      (3L, good + " tail one two"), // longest -> highest length score
      (50L, "completely different content about catalyst planner internals here"))
      .toDF("doc_id", "text")
    val got = Corpus.dedupClusters(chain, jaccardMin = 0.3,
        keeperBy = Some(length(col("text"))))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(got.keySet === Set(1L, 2L, 3L))
    assert(got.values.map(_._1).toSet === Set(1L)) // comp label still min id
    assert(got(3L)._2 && !got(1L)._2 && !got(2L)._2) // longest doc elected
  }

  test("fuzzyDuplicates: finds pairs across a length-band boundary exactly once") {
    import spark.implicits._
    // maxDist=20 → band width 21. len("x"*20)=20 (band 0), len("x"*22)=22
    // (band 1): the pair straddles the boundary and must be found ONCE.
    val docs = Seq(
      (1L, "s", "x" * 20), (2L, "s", "x" * 22), // dist 2, bands 0 vs 1
      (3L, "s", "y" * 20), // dist 20 to doc 1 (all substitutions), kept at bound
      (4L, "t", "x" * 20), // other block: never pairs with 1/2/3
      (5L, "s", "z" * 80)) // length gap > 20 from everything: pruned
      .toDF("doc_id", "source", "text")
    val got = Corpus.fuzzyDuplicates(docs)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("dist")))
    assert(got.length == got.toSet.size, s"duplicate pairs: ${got.mkString(",")}")
    // (2,3) is length-eligible (diff 2) but dist 22 > 20 → filtered
    assert(got.toSet === Set((1L, 2L, 2L), (1L, 3L, 20L)))
  }

  test("fuzzyDuplicates: a BINDING bucket cap drops hot buckets whole, audits the count") {
    import spark.implicits._
    // 30 identical-length docs in one block blow a cap of 10 — BOTH band
    // buckets (band0 and band0+1, 30 rows each) exceed it, so the hot
    // block contributes ZERO pairs; the 4-doc cold block is untouched.
    // This pins the binding regime of the r12 fz1 fix: bucket dropped
    // WHOLE (never truncated — truncation would make results order-
    // dependent), audit metric = exploded rows in over-cap buckets.
    val hot = (1L to 30L).map(i => (i, "hot", "h" * 10))
    val cold = Seq((101L, "ok", "a" * 10), (102L, "ok", "a" * 9 + "b"),
      (103L, "ok", "a" * 8 + "bb"), (104L, "ok", "b" * 10))
    val docs = (hot ++ cold).toDF("doc_id", "source", "text")
    val capped = Corpus.fuzzyDuplicates(docs, maxBucket = 10)
    val got = capped.collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(got === Set((101L, 102L), (101L, 103L), (101L, 104L),
      (102L, 103L), (102L, 104L), (103L, 104L)))
    // the drop audit observed exactly the hot block's 60 banded rows
    val dropped = capped.queryExecution.observedMetrics.collect {
      case (name, row) if name.startsWith("graft_capped_fuzzyDuplicates") =>
        row.getAs[Long]("dropped_rows")
    }.sum
    assert(dropped == 60L, s"dropped=$dropped")
    // the exact default finds the hot pairs the cap dropped (435 + 6)
    assert(Corpus.fuzzyDuplicates(docs).count() == 441L)
  }

  test("tfidf and LM scores agree on a corpus where one term is unique") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta beta"), (2L, "alpha gamma gamma"), (3L, "alpha alpha alpha"))
      .toDF("doc_id", "text")
    val tf = Corpus.tfidfTopTerms(docs, topK = 1)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("term")).toMap
    // the doc-unique term always out-scores the everywhere term "alpha"
    assert(tf(1L) == "beta" && tf(2L) == "gamma")
    val lm = Corpus.languageModelScores(docs)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("mean_logprob")).toMap
    // doc 3 is all high-probability tokens → least surprising
    assert(lm(3L) > lm(1L) && lm(3L) > lm(2L))
    lm.values.foreach(v => assert(v < 0.0))
  }

  test("searchTopKApprox with nProbe = cells equals the exact search") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter(col("vec_id") % 100 === 0)
    val exact = Corpus.searchTopK(emb, q, topK = 3)
    val approx = Corpus.searchTopKApprox(emb, q, topK = 3, cells = 8, nProbe = 8)
    assert(approx.exceptAll(exact).count() == 0 && exact.exceptAll(approx).count() == 0)
  }

  test("semanticDuplicates: planted near-identical vectors cluster, keeper = min id") {
    // two tight semantic groups ({1,2,3} around e1, {10,11} around e2,
    // transitively linked through the middle member) + two singletons far
    // from everything; magnitudes differ inside groups — cosine ignores them
    def v(x: Double, y: Double, z: Double) = Array(x.toFloat, y.toFloat, z.toFloat)
    val emb = Seq(
      (1L, v(1.0, 0.0, 0.01)), (2L, v(2.0, 0.0, 0.0)), (3L, v(0.98, 0.0, -0.01)),
      (10L, v(0.0, 5.0, 0.0)), (11L, v(0.0, 0.9, 0.02)),
      (20L, v(0.0, 0.0, 1.0)), (21L, v(1.0, 1.0, 1.0)))
      .toDF("vec_id", "embedding")
    val out = Corpus.semanticDuplicates(emb, cosMin = 0.99, cells = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val byComp = out.groupBy(_._2).map { case (c, rs) => c -> rs.map(_._1).toSet }
    assert(byComp == Map(1L -> Set(1L, 2L, 3L), 10L -> Set(10L, 11L)), byComp)
    assert(out.filter(_._3).map(_._1).toSet == Set(1L, 10L)) // keepers
    // singletons never appear
    assert(!out.exists(r => r._1 == 20L || r._1 == 21L))
  }

  private lazy val funnelCorpus = Seq(
      (1L, good, "en", "train"),
      (2L, good, "en", "train"), // exact dup of 1
      (3L, good + " with extra tail words here", "en", "train"), // near dup, LONGEST
      (6L, "completely different content about spark catalyst engines and the planner", "de", "train"),
      (7L, "held out evaluation text that must never leak into the training data", "en", "eval"),
      (8L, "held out evaluation text that must never leak into the training data okay", "en", "train"))
    .toDF("doc_id", "text", "lang", "split")
  private def funnel() = Corpus.pretrainingRun(funnelCorpus,
    col("split") === "eval", jaccardMin = 0.3, contaminationMax = 0.5,
    alpha = 1.0, budget = 1.0, packBudget = 8)
  private def ids(df: org.apache.spark.sql.DataFrame) =
    df.select("doc_id").as[Long].collect().toSet

  test("pretrainingRun: the staged funnel composes end to end") {
    val st = funnel()
    assert(ids(st.cleaned) == Set(1L, 3L, 6L, 7L, 8L)) // exact dup 2 gone
    // near-dup clusters {1,3} and {7,8}: the LONGEST exemplar keeps in
    // each — note 8 (train) wins over 7 (eval) here, which is exactly why
    // decontamination below rebuilds its dictionary from the ORIGINAL
    // eval split, not the deduped frame
    assert(ids(st.deduped) == Set(3L, 6L, 8L))
    // doc 8 leaks eval shingles -> dropped; eval docs never in the output
    assert(ids(st.decontaminated) == Set(3L, 6L))
    assert(ids(st.mixed) == Set(3L, 6L)) // alpha=1, budget=1 -> rate 1
    val packs = st.packed.select("doc_id", "pack_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(packs.keySet == Set(3L, 6L) && packs.values.forall(_ >= 0L))
  }

  test("pretrainingRun: cleaned and deduped are checkpoints the sink reads, not re-scores") {
    import org.apache.spark.sql.catalyst.expressions.{RegExpExtractAll, RegExpReplace}
    import org.apache.spark.sql.execution.LogicalRDD
    val st = funnel()
    for ((name, df) <- Seq("cleaned" -> st.cleaned, "deduped" -> st.deduped))
      assert(df.queryExecution.analyzed.isInstanceOf[LogicalRDD],
        s"$name is not a checkpoint: ${df.queryExecution.analyzed.nodeName}")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.mkString("\u0001")).sorted.toSeq
    val before = Seq(rows(st.cleaned), rows(st.deduped))
    val sink = st.packed
    assert(sink.collect().nonEmpty)
    // Corpus.scored's punctuation and stopword ratios are the only regex
    // expressions on the pretraining path
    val scoring = PlanNodes(sink.queryExecution.executedPlan, intoCaches = true)
      .flatMap(_.expressions.flatMap(_.collect {
        case e: RegExpExtractAll => e
        case e: RegExpReplace => e
      }))
    assert(scoring.isEmpty, s"the packed sink re-scores the documents: $scoring")
    // the sink neither released nor re-planned the stages it read
    assert(Seq(rows(st.cleaned), rows(st.deduped)) == before)
  }

  test("semanticDuplicates: a corpus with no near pairs yields an empty result") {
    def v(x: Double, y: Double) = Array(x.toFloat, y.toFloat, 0f)
    val emb = Seq((1L, v(1, 0)), (2L, v(0, 1)), (3L, v(-1, 0)), (4L, v(0, -1)))
      .toDF("vec_id", "embedding")
    assert(Corpus.semanticDuplicates(emb, cosMin = 0.99, cells = 2).count() == 0)
  }

  /** The sd2/sd2b twin-injected corpus (EmbeddingQueries.sd2Corpus's
    * shape), rebuilt here over an arbitrary fixture dir. */
  private def twinCorpus(dir: String) = {
    val base = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    base.unionByName(base.filter(col("vec_id") % 97 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
  }

  test("indexCoverageGap names live ids absent from the index; the audit leaves the serve unchanged") {
    import graft.operators.Ann
    val corpus = twinCorpus("/root/testdata/sf0.001")
    // full-coverage index: gap is empty and the serve finds the twins
    val full = java.nio.file.Files.createTempDirectory("graft_cov_full").toString
    Ann.writeIvfIndex(corpus, "vec_id", "embedding", full, k = 4, iters = 2)
    assert(Corpus.indexCoverageGap(spark, full, corpus).count() == 0)
    val audited = Corpus.semanticDuplicatesFromIndex(spark, full, cosMin = 0.9,
        auditCorpus = Some(corpus))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val plain = Corpus.semanticDuplicatesFromIndex(spark, full, cosMin = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(audited == plain && plain.nonEmpty)
    // stale index: built BEFORE the twins arrived — the gap names exactly
    // the unindexed ids (and the serve verdict would silently miss their
    // clusters, which is the failure mode the audit exists to name)
    val stale = java.nio.file.Files.createTempDirectory("graft_cov_stale").toString
    Ann.writeIvfIndex(corpus.filter(col("vec_id") < 1000000L),
      "vec_id", "embedding", stale, k = 4, iters = 2)
    val gap = Corpus.indexCoverageGap(spark, stale, corpus)
      .as[Long].collect().toSet
    val expected = corpus.filter(col("vec_id") >= 1000000L)
      .select("vec_id").as[Long].collect().toSet
    assert(gap == expected && gap.nonEmpty)
    // null-cell rows are probe-unreachable and serve-filtered (cell >= 0)
    // — the audit must NOT count them as covering (review finding): a
    // legacy layout's cell=-1 row would otherwise read as covered while
    // its clusters are silently absent from every verdict
    Seq((999999999L, Seq.fill(64)(0.5))).toDF("id", "v")
      .write.parquet(s"$full/corpus/cell=-1")
    val live2 = corpus.unionByName(
      Seq((999999999L, Array.fill(64)(0.5f))).toDF("vec_id", "embedding"))
    val gap2 = Corpus.indexCoverageGap(spark, full, live2)
      .as[Long].collect().toSet
    assert(gap2 == Set(999999999L))
  }

  test("indexSkewReport flags a drifted append's hot cell; tombstoned ids read as uncovered") {
    import graft.operators.Ann
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select("vec_id", "embedding")
    val path = java.nio.file.Files.createTempDirectory("graft_skew").toString
    Ann.writeIvfIndex(emb, "vec_id", "embedding", path, k = 4, iters = 2)
    val uniform = Corpus.indexSkewReport(spark, path)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(uniform.length > 1)
    assert(math.abs(uniform.map(_._3).sum - 1.0) < 1e-9) // shares sum to 1
    // drifted ingest: one vector replicated 2x-corpus-many times under new
    // ids — the FROZEN centroids funnel every copy into a single cell,
    // which is exactly the silent pruned-serve degradation the audit names
    val n = emb.count()
    val skewed = emb.filter(col("vec_id") === 0).select(col("embedding"))
      .crossJoin(spark.range(1, 2 * n).select((col("id") + 1000000L).as("vec_id")))
      .select(col("vec_id"), col("embedding"))
    Ann.appendIvfIndex(skewed, "vec_id", "embedding", path)
    val report = Corpus.indexSkewReport(spark, path)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(report.head._2 >= 2 * n - 1, s"hot cell rows: ${report.head}")
    assert(report.head._4 > 2.0,
      s"drifted hot cell not flagged: skew ${report.head._4}")
    // a tombstoned live id is a coverage gap: the serve can never return
    // it, so treating it as covered would recreate the silence the audit
    // exists to name
    Ann.deleteFromIndex(spark, path, emb.filter(col("vec_id") === 5), "vec_id")
    val gap = Corpus.indexCoverageGap(spark, path, emb, "vec_id")
      .as[Long].collect().toSet
    assert(gap == Set(5L))
  }

  test("sd2 oracle validity: every qualifying pair in the twin-injected verify corpus is an identical-vector twin") {
    // The sd2/sd2b UNBLOCKED recursive-CTE oracle equals the cell-blocked
    // engine only if no qualifying (cos >= 0.9) pair can straddle a cell
    // boundary. Identical vectors provably co-assign under ANY centroids;
    // a NON-identical qualifying pair could straddle. This pins the
    // data-dependent leg on the exact verify fixture (sf0.01): the
    // qualifying set is exactly the injected twins — no non-twin pair
    // exists for the blocking to split (r14 ADVICE).
    graft.expressions.GraftFunctions.register(spark)
    val corpus = twinCorpus("/root/testdata/sf0.01")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val qualifying = corpus.select(col("vec_id").as("ia"), col("v").as("va"))
      .crossJoin(corpus.select(col("vec_id").as("ib"), col("v").as("vb")))
      .filter(col("ia") < col("ib"))
      .withColumn("cos", expr("cosine_sim(va, vb)"))
      .filter(col("cos") >= 0.9)
    val nTwins = corpus.filter(col("vec_id") % 97 === 0 &&
      col("vec_id") < 1000000L).count()
    assert(nTwins > 0)
    assert(qualifying.count() == nTwins)
    // every qualifying pair is the twin relation with IDENTICAL vectors
    assert(qualifying.filter(!(col("ib") === col("ia") + 1000000L &&
      col("ia") % 97 === 0 && col("va") === col("vb"))).count() == 0)
  }
}
