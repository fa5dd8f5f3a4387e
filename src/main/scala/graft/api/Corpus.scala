package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import org.apache.spark.sql.Column

import graft.operators.{Ann, Dedup, Sampling, TextFunctions}

/** The training-corpus user surface: score → filter → dedup → fingerprint
  * → search over `documents(doc_id, text, …)` and `embeddings(vec_id,
  * embedding, …)` tables — the LLM-data-pipeline face of the engine,
  * packaged the way [[Tcga]] packages the reference's TCGA pipelines.
  *
  * Thin composition over `operators.{TextFunctions, Dedup, Ann}`; the
  * underlying steps are the same ones the oracle-checked catalog runs
  * (x1/x2/p1, dd1/dd2/dd4, ss1/ss3). Everything stays a declarative plan:
  * no step collects, every candidate-generation join is bucket-capped.
  */
object Corpus {

  private val logger = org.slf4j.LoggerFactory.getLogger(getClass)

  val DefaultStopwords: Seq[String] = Seq("the", "a", "of", "and", "to")

  /** Quality scoring (X2): token counts (whitespace + BPE-ish regex),
    * punctuation/stopword ratios, and the keep/reject band. Row-level —
    * needs no id column. */
  def scored(docs: DataFrame, textCol: String = "text",
      stopwords: Seq[String] = DefaultStopwords): DataFrame =
    docs
      .withColumn("toks", TextFunctions.tokens(col(textCol)))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("n_regex_tokens",
        TextFunctions.regexTokenCount(col(textCol)).cast("long"))
      .withColumn("punct_ratio", TextFunctions.punctRatio(col(textCol)))
      .withColumn("stop_ratio",
        TextFunctions.stopwordRatio(col(textCol), col("toks"), stopwords))
      .withColumn("band", TextFunctions.qualityBand(
        col("n_tokens"), col("punct_ratio"), col("stop_ratio")))
      .drop("toks")

  /** P1, the canonical pre-training flow: quality gate → exact-dedup →
    * keep one representative per distinct text. Returns the scored
    * keeper rows plus each text's `n_copies`. */
  def cleaned(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text",
      stopwords: Seq[String] = DefaultStopwords): DataFrame = {
    val ok = scored(docs, textCol, stopwords)
      .filter(col("band") === "ok")
    val keepers = Dedup.exact(ok, idCol, textCol)
      .select(col("keeper").as(idCol), col("n_copies"))
    ok.join(keepers, idCol) // inner join on keeper ids = keep-min semantics
  }

  /** Near-duplicate pairs: MinHash-LSH candidate generation (banding,
    * hot buckets capped) followed by an exact shingle-Jaccard verify
    * restricted to the candidates — never an all-pairs join. */
  def nearDuplicates(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", shingleN: Int = 3, numHashes: Int = 6,
      bandsOf: Int = 2, jaccardMin: Double = 0.5,
      maxBucket: Int = 1000): DataFrame = {
    // persist: shingles feed the signatures AND both sides of the verify;
    // released after the caller's consuming action
    val sh = Dedup.shingleRows(docs, idCol, textCol, shingleN).persist()
    graft.Caches.releaseAfterAction(sh)
    val cands = Dedup.minhashCandidates(
      Dedup.minhashSignatures(sh, numHashes), numHashes, bandsOf, maxBucket)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("nsh"))
    cands
      .join(sh.select(col("doc_id").as("doc_a"), col("sh")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh")), Seq("doc_b", "sh"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("n_inter"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("nsh").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("nsh").as("nb")), "doc_b")
      .withColumn("jaccard",
        col("n_inter") / (col("na") + col("nb") - col("n_inter")))
      .filter(col("jaccard") >= jaccardMin)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Content fingerprints (X3): md5 of the first `prefixK` tokens and the
    * minimum shingle hash — cheap join keys for cross-corpus containment. */
  def fingerprinted(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", prefixK: Int = 8,
      shingleN: Int = 3): DataFrame =
    docs
      .withColumn("toks", TextFunctions.tokens(col(textCol)))
      .select(col(idCol),
        TextFunctions.prefixFingerprint(col("toks"), prefixK).as("prefix_fp"),
        TextFunctions.minShingleFingerprint(col("toks"), shingleN).as("min_shingle_fp"))

  /** Near-dup CLUSTERS with keeper election: [[nearDuplicates]] pairs →
    * connected components (duplicate relations are transitive in effect —
    * A≈B, B≈C means keep one of the three) → keeper = the component's
    * minimum doc id, or, when `keeperBy` is given, the member maximizing
    * that SCORE (min id breaks ties) — the realistic election: keep the
    * highest-quality exemplar, not the accident of id order. Returns one
    * row per clustered doc: `(doc_id, comp, keeper Boolean)`; docs with
    * no near-dup stay out (they are all keepers trivially).
    *
    * Scale shape of the scored election: one broadcast-able join of the
    * node-sized component frame back to the scores, then a window
    * PARTITIONED BY component — state bounded by the largest duplicate
    * cluster, never the corpus. */
  def dedupClusters(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", shingleN: Int = 3, numHashes: Int = 6,
      bandsOf: Int = 2, jaccardMin: Double = 0.5,
      maxBucket: Int = 1000, keeperBy: Option[Column] = None): DataFrame = {
    requireIntegralId(docs, idCol, "dedupClusters")
    val pairs = nearDuplicates(docs, idCol, textCol, shingleN, numHashes,
      bandsOf, jaccardMin, maxBucket)
    electKeepers(graft.operators.Components
      .connectedComponents(pairs, "doc_a", "doc_b"), docs, idCol, keeperBy)
  }

  // fail fast: the component walk's min-label algebra needs NUMERIC ids —
  // a string id would cast to null deep inside an executor task
  private def requireIntegralId(docs: DataFrame, idCol: String,
      caller: String): Unit = {
    val idType = docs.schema(idCol).dataType
    require(Seq(org.apache.spark.sql.types.LongType,
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.ByteType).contains(idType),
      s"$caller: $idCol must be an integral id column, got ${idType.sql}" +
        " (hash or zip non-numeric ids first)")
  }

  /** [[dedupClusters]]' keeper election over the component labels
    * `comps(id, comp)`. */
  private def electKeepers(comps: DataFrame, docs: DataFrame, idCol: String,
      keeperBy: Option[Column]): DataFrame =
    keeperBy match {
      case None =>
        comps.select(col("id").as(idCol), col("comp"),
          (col("id") === col("comp")).as("keeper"))
      case Some(score) =>
        val scored = docs.select(col(idCol).cast("long").as("id"),
          score.as("__score"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("comp"))
          .orderBy(col("__score").desc, col("id").asc)
        comps.join(scored, "id")
          .withColumn("__rk", row_number().over(w))
          .select(col("id").as(idCol), col("comp"),
            (col("__rk") === 1).as("keeper"))
    }

  /** Deterministic corpus subsample (SM1): keep iff
    * `hash60(id) < rate·2^60` — reproducible across reruns, layouts and
    * engines, nested across rates (a 10% sample ⊂ the 30% sample), and a
    * pure narrow filter (no shuffle). `byStratum` rates override `rate`
    * per stratum value when a stratum column is given. */
  def sample(docs: DataFrame, rate: Double, idCol: String = "doc_id",
      stratum: Option[Column] = None,
      byStratum: Map[String, Double] = Map.empty): DataFrame =
    stratum match {
      case Some(s) =>
        Sampling.stratifiedHashSample(docs, col(idCol), s, byStratum, rate)
      case None => Sampling.hashSample(docs, col(idCol), rate)
    }

  /** Train→test leakage scan (CT1, Dedup.contamination): test docs sharing
    * verbatim word n-grams with the training split, linear in shingle
    * volume (distinct-shingle dictionary semi-join, hot shingles capped). */
  def contamination(docs: DataFrame, trainFlag: Column,
      idCol: String = "doc_id", textCol: String = "text", shingleN: Int = 3,
      maxShingleTrainDocs: Int = 1000): DataFrame =
    Dedup.contamination(docs, idCol, textCol, trainFlag, shingleN,
      maxShingleTrainDocs)

  /** Maximal duplicated spans across the corpus (Lee et al. 2022 shape):
    * one row per maximal run of text whose word n-grams appear in ≥ 2
    * documents — `(doc_id, span_start, span_len, n_grams_in_span)`.
    * `keepFirst = true` marks only non-exemplar occurrences (the
    * lowest-id document keeps its copy). See
    * [[graft.operators.Dedup.duplicatedSpanList]]. */
  def duplicatedTextSpans(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 5,
      keepFirst: Boolean = false): DataFrame =
    Dedup.duplicatedSpanList(docs, idCol, textCol, n, keepFirst)

  /** The APPLY step: every document rebuilt with its duplicated spans
    * excised — `(doc_id, n_tok, n_kept, trimmed_text)`. `keepFirst =
    * true` is the faithful Lee-et-al removal (one exemplar copy
    * survives); false is the aggressive C4-style variant. See
    * [[graft.operators.Dedup.trimDuplicatedSpans]]. */
  def trimDuplicatedText(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 5,
      keepFirst: Boolean = true): DataFrame =
    Dedup.trimDuplicatedSpans(docs, idCol, textCol, n, keepFirst)

  /** Within-document repetition scores (X5, the Gopher quality-rule
    * family): over each doc's word n-grams, `dup_frac` = 1 −
    * distinct/total and `top_frac` = the most frequent n-gram's share.
    * Docs with fewer than n tokens have no n-grams and drop out.
    * `Dedup.spread` (conditional) parallelizes the lambda-heavy shingle
    * scan only when the input has fewer partitions than the cluster. */
  def repetitionScores(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 2): DataFrame =
    graft.operators.Dedup
      .shingleExplode(docs, Seq("doc_id" -> col(idCol)), textCol, n)
      .groupBy("doc_id", "sh").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_total"), count(lit(1)).as("n_distinct"),
        max(col("c")).as("max_rep"))
      .withColumn("dup_frac", lit(1.0) - col("n_distinct") / col("n_total"))
      .withColumn("top_frac", col("max_rep") / col("n_total"))

  /** TF-IDF top-k terms per document (TF1): tf = term count / doc tokens,
    * idf = ln(N/df). Corpus scalars ride a 1-row broadcast; the per-doc
    * rank window is bounded by doc length. `score` is unrounded — catalog
    * callers round for cross-engine hashing. */
  def tfidfTopTerms(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", topK: Int = 3): DataFrame = {
    // persisted: three consumers (per-doc totals, df, corpus count) —
    // unpersisted, each re-runs the tokenize+explode+agg corpus pass
    val tc = docs
      .select(col(idCol).as("doc_id"),
        explode(TextFunctions.tokens(col(textCol))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .persist()
    graft.Caches.releaseAfterAction(tc)
    val withN = tc.withColumn("n_tok",
      sum(col("tf")).over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"))))
    val df = tc.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = tc.select(countDistinct(col("doc_id")).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
      .orderBy(round(col("score"), 9).desc, col("term").asc)
    withN.join(df, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        (col("tf").cast("double") / col("n_tok")) *
          log(col("n_docs").cast("double") / col("df")))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= topK)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("score"), col("rnk"))
  }

  /** Unigram-LM document scores (LM1): corpus-MLE token probabilities,
    * per doc the count-weighted mean ln p(t) and perplexity exp(−mean).
    * No smoothing — every scored token is in the corpus by construction. */
  def languageModelScores(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val tc = docs
      .select(col(idCol).as("doc_id"),
        explode(TextFunctions.tokens(col(textCol))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("k"))
    val gc = tc.groupBy("term").agg(sum(col("k")).as("c"))
    val tot = gc.select(sum(col("c")).as("t_total"))
    tc.join(gc, "term")
      .crossJoin(broadcast(tot))
      .groupBy("doc_id")
      .agg(sum(col("k")).as("n_tokens"),
        sum(col("k").cast("double") *
          log(col("c").cast("double") / col("t_total"))).as("s"))
      .select(col("doc_id"), col("n_tokens"),
        (col("s") / col("n_tokens")).as("mean_logprob"),
        exp(-col("s") / col("n_tokens")).as("ppl"))
  }

  /** Interpolated Kneser–Ney bigram LM document scores (LM2, Kneser & Ney
    * 1995; Chen & Goodman 1999): P(w2|w1) = max(c12−D,0)/c1 +
    * (D·N1+(w1·)/c1)·N1+(·w2)/N1+(··), per doc the count-weighted mean
    * ln P over its bigrams and perplexity exp(−mean). Docs with fewer
    * than two tokens have no bigram and are excluded.
    *
    * One corpus pass (bigram explode → per-doc hash agg); all model
    * tables are bigram-TYPE-sized and join by key; the single scalar
    * (total bigram types) rides a 1-row broadcast cross join. */
  def knBigramScores(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", discount: Double = 0.75): DataFrame = {
    val toks = docs
      .select(col(idCol).as("doc_id"), TextFunctions.tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= 2)
    val big = toks.select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("toks")) - 1),
        i => struct(element_at(col("toks"), i).as("w1"),
          element_at(col("toks"), i + 1).as("w2")))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val k = big.groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("k"))
    val c12 = k.groupBy("w1", "w2").agg(sum(col("k")).as("c12"))
    val c1 = c12.groupBy("w1").agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1f"))
    val bw = c12.groupBy("w2").agg(count(lit(1)).as("n1b"))
    val tt = c12.agg(count(lit(1)).as("tt"))
    val p = c12.join(c1, "w1").join(bw, "w2")
      .crossJoin(broadcast(tt))
      .select(col("w1"), col("w2"),
        ((greatest(col("c12") - lit(discount), lit(0.0)) / col("c1"))
          + (((lit(discount) * col("n1f")) / col("c1")) * (col("n1b") / col("tt"))))
          .as("p"))
    k.join(p, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(sum(col("k")).as("n_bigrams"), sum(col("k") * log(col("p"))).as("s"))
      .select(col("doc_id"), col("n_bigrams"),
        (col("s") / col("n_bigrams")).as("mean_logprob"),
        exp(-(col("s") / col("n_bigrams"))).as("ppl"))
  }

  /** DSIR-style importance weights (DS1, Xie et al. 2023): per document,
    * the mean per-token log-likelihood ratio between a TARGET unigram LM
    * (docs matching `targetPred`, add-`alpha` smoothing over the raw
    * vocabulary) and the raw-corpus unigram LM. `carryCols` are doc-level
    * columns carried through the per-doc aggregation unchanged.
    *
    * One corpus pass to (doc, term) counts; vocab-sized model tables join
    * by term; corpus scalars ride 1-row broadcast cross joins. */
  def dsirScores(docs: DataFrame, targetPred: Column,
      idCol: String = "doc_id", textCol: String = "text",
      carryCols: Seq[String] = Seq("source"), alpha: Double = 0.5): DataFrame = {
    val tok = docs
      .select((col(idCol).as("doc_id") +: targetPred.as("_is_target") +:
        explode(TextFunctions.tokens(col(textCol))).as("term") +:
        carryCols.map(col)): _*)
    val grp = Seq("doc_id", "_is_target", "term") ++ carryCols
    val tc = tok.groupBy(grp.map(col): _*).agg(count(lit(1)).as("k"))
    val raw = tc.groupBy("term").agg(sum(col("k")).as("cr"))
    val tgt = tc.filter(col("_is_target"))
      .groupBy("term").agg(sum(col("k")).as("ct"))
    val rt = raw.agg(sum(col("cr")).as("tr"), count(lit(1)).as("v"))
    val gt = tgt.agg(coalesce(sum(col("ct")), lit(0L)).as("tt"))
    val stats = raw.join(tgt, Seq("term"), "left")
      .na.fill(0L, Seq("ct"))
      .crossJoin(broadcast(rt)).crossJoin(broadcast(gt))
      .select(col("term"),
        (log((col("ct") + lit(alpha)) / (col("tt") + lit(alpha) * col("v")))
          - log(col("cr") / col("tr"))).as("lr"))
    tc.join(stats, "term")
      .groupBy(("doc_id" +: carryCols).map(col): _*)
      .agg(sum(col("k")).as("n_tokens"),
        (sum(col("k") * col("lr")) / sum(col("k"))).as("w"))
  }

  /** Character-level fuzzy near-dup pairs (FZ1): Levenshtein ≤ `maxDist`
    * within a block, under length-banded blocking — the join key is
    * (block, length band of width maxDist+1), each doc emitted into its
    * own and the next band, each qualifying pair met exactly once in
    * `greatest(band_a, band_b)`. Parallelism scales with blocks × bands,
    * not the block count; the threshold-bounded Levenshtein runs the
    * banded DP. Docs longer than `maxChars` are excluded by contract —
    * edit distance on long texts belongs to the shingle family.
    *
    * `maxBucket` caps a (block, band) bucket like every other pair
    * generator in the engine (drop-audited): the block/band key space is
    * FIXED (blocks × ~maxChars/maxDist bands), so without the cap the
    * per-bucket pair count grows quadratically with corpus size — the
    * r12 scale ramp measured 14.7× wall at 5× docs on the uncapped
    * join, the one super-linear pair path left in the catalog. The
    * DEFAULT is exact (no cap) to keep the public API's historical
    * contract — capped callers (every catalog/pipeline site) opt in
    * explicitly, and the drop audit logs what a binding cap discarded.
    * NOTE (r13 default change, see BASELINE.md changelog): before r13
    * the default capped at 1000; an uncapped call now logs a warning at
    * plan time so a caller relying on the old default sees the quadratic
    * risk instead of silently inheriting it. */
  def fuzzyDuplicates(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", blockCol: String = "source",
      maxChars: Int = 200, maxDist: Int = 20,
      maxBucket: Int = Int.MaxValue): DataFrame = {
    if (maxBucket == Int.MaxValue) logger.warn(
      "fuzzyDuplicates: running UNCAPPED (exact) — per-bucket pair counts " +
        "grow quadratically with corpus size (r12 measured 14.7x wall at " +
        "5x docs); pass maxBucket (pre-r13 default: 1000) for the capped, " +
        "drop-audited scale path")
    val bandW = maxDist + 1
    val short = docs
      .select(col(idCol).as("doc_id"), col(blockCol).as("blk"),
        col(textCol).as("text"), length(col(textCol)).as("len"))
      .filter(col("len") <= maxChars)
      .withColumn("band0", (col("len") / bandW).cast("long"))
    val banded = Dedup.capBuckets(
      short.withColumn("bkey", explode(array(col("band0"), col("band0") + 1))),
      Seq(col("blk"), col("bkey")), maxBucket, "fuzzyDuplicates")
    banded.as("a").join(banded.as("b"),
        col("a.blk") === col("b.blk") &&
          col("a.bkey") === col("b.bkey") &&
          col("a.bkey") === greatest(col("a.band0"), col("b.band0")) &&
          col("a.doc_id") < col("b.doc_id") &&
          abs(col("a.len") - col("b.len")) <= maxDist)
      .withColumn("dist",
        // threshold levenshtein behind the lossless char-bag + bigram
        // lower-bound cascade — ~90% of the blocked candidates are FAR
        // and never reach the O(n·maxDist) DP (bit-identical output,
        // so the oracle replays plain levenshtein unchanged)
        graft.expressions.EditDistanceCapped.of(
          col("a.text"), col("b.text"), maxDist).cast("long"))
      .filter(col("dist") >= 0)
      .select(col("a.blk").as(blockCol), col("a.doc_id").as("doc_a"),
        col("b.doc_id").as("doc_b"), col("dist"))
  }

  /** Exact cosine top-k (SS1): the verification baseline. */
  def searchTopK(emb: DataFrame, queries: DataFrame, topK: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    Ann.bruteTopK(emb, queries, idCol, vecCol, topK)

  /** IVF ANN top-k (SS3): k-means coarse quantizer trained on a bounded
    * sample, probe `nProbe` cells, exact re-rank inside them. */
  def searchTopKApprox(emb: DataFrame, queries: DataFrame, topK: Int,
      cells: Int = 64, nProbe: Int = 8, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    Ann.ivfTopK(emb, queries, idCol, vecCol, k = cells, iters = 3,
      nProbe = nProbe, topK = topK)

  /** The pair stage of [[semanticDuplicates]], exposed like
    * [[nearDuplicates]]: `(id_a, id_b, cos)` with `cos ≥ cosMin`, pair
    * space blocked by the learned k-means cells (hot cells capped +
    * audited). */
  def semanticDuplicatePairs(emb: DataFrame, cosMin: Double = 0.95,
      cells: Int = 64, idCol: String = "vec_id",
      vecCol: String = "embedding", maxCell: Int = 10000): DataFrame = {
    val cents = Ann.kmeansCentroids(emb, idCol, vecCol, k = cells, iters = 3)
    cellBlockedPairs(
      Ann.assigned(emb, idCol, vecCol, cents)
        .select(col("id"), col("vn").as("vec"), col("cell")),
      cosMin, maxCell)
  }

  /** The shared within-cell pair stage of the SemDeDup family: capped +
    * drop-audited cell blocking, `id_a < id_b` self-join, exact cosine
    * threshold. `assigned` carries `(id, vec, cell)`; `vec` may be raw or
    * L2-normalized — `cosine_sim` (the fused single-loop codegen
    * expression; the zip_with+aggregate form allocates two arrays per
    * candidate pair and benched 4× slower on the in-cell pair space)
    * normalizes internally, so both sources score identically. */
  private def cellBlockedPairs(assigned: DataFrame, cosMin: Double,
      maxCell: Int): DataFrame = {
    val a = Dedup.capBuckets(assigned, Seq(col("cell")), maxCell,
      "semdedup_cell")
    a.select(col("cell"), col("id").as("id_a"), col("vec").as("va"))
      .join(a.select(col("cell"), col("id").as("id_b"), col("vec").as("vb")),
        Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", graft.expressions.GraftFunctions.cosineSim(col("va"), col("vb")))
      .filter(col("cos") >= cosMin)
      .select("id_a", "id_b", "cos")
  }

  /** The shared cluster tail: pairs → connected components → min-id
    * keeper election (one row per vector in a ≥2-member cluster). */
  private def semanticClusters(pairs: DataFrame, idOut: String): DataFrame =
    graft.operators.Components.connectedComponents(pairs, "id_a", "id_b")
      .select(col("id").as(idOut), col("comp"),
        (col("id") === col("comp")).as("keeper"))

  /** SemDeDup-style SEMANTIC dedup (Abbas et al. 2023, "SemDeDup:
    * Data-efficient learning at web-scale through semantic
    * deduplication"): embeddings are clustered by the bounded-sample
    * k-means quantizer, exact pairwise cosine runs INSIDE each cell
    * only, and pairs at ≥ `cosMin` become duplicate clusters (connected
    * components, keeper = minimum id — the paper keeps one exemplar per
    * ε-ball). Near-identical vectors that straddle a cell boundary are
    * missed — the paper's own trade; raise `cells` resolution or lower
    * `cosMin` to taste.
    *
    * Scale shape: training is sample-bounded, assignment is one narrow
    * fold over the centroid literal (no join, no shuffle), the pair
    * space is block-bounded by the cell histogram with hot cells capped
    * + audited (`maxCell`), and the component walk is node-sized.
    * @return `(id, comp, keeper)` — one row per vector in a ≥2-member
    *         semantic cluster */
  def semanticDuplicates(emb: DataFrame, cosMin: Double = 0.95,
      cells: Int = 64, idCol: String = "vec_id",
      vecCol: String = "embedding", maxCell: Int = 10000): DataFrame = {
    val pairs = semanticDuplicatePairs(emb, cosMin, cells, idCol, vecCol, maxCell)
    semanticClusters(pairs, idCol)
  }

  /** [[semanticDuplicates]] SERVED from a persisted
    * [[graft.operators.Ann.writeIvfIndex]] layout — the build-once/
    * serve-many completion of the SemDeDup story: the k-means fit and the
    * corpus assignment happened ONCE at index-build time, so the serve
    * path reads `(id, v, cell)` straight off the cell-partitioned parquet
    * (no quantizer re-train, no assignment scan — at 100 TB the re-fit is
    * most of a per-run SemDeDup's cost) and runs only the within-cell
    * pair stage + component walk. Same semantics as the in-memory path:
    * identical vectors always share a cell (any centroid set assigns a
    * vector pair with equal coordinates identically), so a qualifying
    * exact-twin pair can never be split by serving from stored cells.
    * Hot cells are capped + drop-audited exactly as in
    * [[semanticDuplicatePairs]]. `cosine_sim` normalizes internally, so
    * the stored RAW vectors feed it directly.
    *
    * Only REACHABLE cells participate (`cell >= 0` — matching
    * `ivfIndexTopK`'s effective reachability): current layouts never
    * store the null cell (the build/append domain filter sheds wrong-dim
    * vectors with an audit), but a legacy uncoded layout could carry
    * malformed vectors under `cell=-1`, and pairing those with each
    * other would diverge from what a coded layout of the same corpus
    * reports (r14 ADVICE).
    *
    * STALENESS: the serve trusts the layout to cover the corpus —
    * embeddings ingested after the last build/append are silently absent
    * from the dedup verdict. Pass `auditCorpus` (the live corpus ids) to
    * turn that silence into a named number: the uncovered-id count is
    * computed by [[indexCoverageGap]]'s anti-join and logged before the
    * serve plan is returned (the PQ domain-drop-audit discipline).
    *
    * Reads [[graft.operators.Ann.liveCorpus]]: the generation pointer
    * resolves once at plan construction (never straddles a compaction
    * cutover) and `deleteFromIndex` tombstones are anti-joined out — a
    * deleted vector neither pairs nor anchors a cluster.
    * @return `(id, comp, keeper)` — one row per vector in a ≥2-member
    *         semantic cluster (ids as stored in the index) */
  def semanticDuplicatesFromIndex(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, cosMin: Double = 0.95,
      maxCell: Int = 10000, idOut: String = "vec_id",
      auditCorpus: Option[DataFrame] = None,
      auditIdCol: String = "vec_id"): DataFrame = {
    auditCorpus.foreach { live =>
      val gap = indexCoverageGap(spark, indexPath, live, auditIdCol).count()
      if (gap > 0) System.err.println(
        s"[graft] semanticDuplicatesFromIndex: $gap corpus id(s) ABSENT " +
          s"from the index layout at $indexPath — the dedup verdict " +
          "under-reports until the index is appended/rebuilt")
    }
    val corpus = Ann.liveCorpus(spark, indexPath)
      .filter(col("cell") >= 0)
      .select(col("id"), col("v").as("vec"), col("cell"))
    semanticClusters(cellBlockedPairs(corpus, cosMin, maxCell), idOut)
  }

  /** The ids of `corpus` (column `idCol`) ABSENT from the
    * [[graft.operators.Ann.writeIvfIndex]] layout at `indexPath` — the
    * index-staleness audit behind [[semanticDuplicatesFromIndex]]'s
    * `auditCorpus`, exposed so any index consumer can gate on coverage.
    * One distributed anti-join on the id column alone (both sides prune
    * to a single column at the scan); never a vector read. Counts only
    * rows a serve can actually return as covering: REACHABLE cells
    * (`cell >= 0` — a legacy layout's null-cell rows are invisible to
    * every probe) and NOT tombstoned (`Ann.liveCorpus` masks
    * `deleteFromIndex` ids — a deliberately deleted id that is still in
    * the live corpus IS a divergence this audit should name). */
  def indexCoverageGap(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, corpus: DataFrame,
      idCol: String = "vec_id"): DataFrame =
    corpus.select(col(idCol).as("id")).distinct()
      .join(Ann.liveCorpus(spark, indexPath)
          .filter(col("cell") >= 0).select("id"),
        Seq("id"), "left_anti")
      .select(col("id").as(idCol))

  /** CELL-SKEW drift audit for a [[graft.operators.Ann.writeIvfIndex]]
    * layout (r15 verdict #6), beside [[indexCoverageGap]]: appends
    * assign with FROZEN centroids, so a drifting ingest distribution
    * piles rows into few cells and the pruned serve degrades toward
    * brute force with no signal — this names the rebuild trigger.
    * Returns one row per reachable cell, skewest first:
    * `(cell, n_rows, share, skew)` where `share` = cell rows / total and
    * `skew` = share × n_cells (1.0 = perfectly uniform; a top cell at
    * skew ≥ ~2–4 means probes that land there read that multiple of the
    * uniform cost — re-train the quantizer). Counts PHYSICAL rows
    * (tombstoned rows still cost the serve I/O until a compact drops
    * them), and reads only the `cell` partition column + parquet footer
    * counts — never a vector. */
  def indexSkewReport(spark: org.apache.spark.sql.SparkSession,
      indexPath: String): DataFrame = {
    val counts = spark.read
      .parquet(graft.operators.Ann.corpusPath(spark, indexPath))
      .filter(col("cell") >= 0)
      .groupBy(col("cell").cast("int").as("cell"))
      .agg(count(lit(1)).as("n_rows"))
    // the window runs over the k-bounded per-cell counts (tens to
    // thousands of rows), never the corpus
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1))
    counts
      .withColumn("share",
        col("n_rows").cast("double") / sum(col("n_rows")).over(w))
      .withColumn("skew", col("share") * count(lit(1)).over(w))
      .orderBy(col("n_rows").desc, col("cell"))
  }

  /** C4/Gopher-style heuristic rule filters with per-rule audit flags
    * (X7): token-count band, mean-word-length band, distinct-token ratio,
    * stopword presence; `keep` = every rule passes. Entirely narrow
    * array/scalar expressions — shuffle-free at any scale, and the same
    * projection works unchanged on a `readStream` source (stateless
    * streaming filter). */
  def ruleFiltered(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text",
      stopList: Seq[String] = Seq("a", "the", "fast", "slow", "key"),
      carry: Seq[String] = Nil): DataFrame =
    docs
      // textCol added only when carry does not already bring it — a
      // duplicate column would make every col(textCol) below ambiguous
      .select(col(idCol) +: carry.map(col) ++:
        (if (carry.contains(textCol)) Nil else Seq(col(textCol))) :+
        TextFunctions.tokens(col(textCol)).as("toks"): _*)
      .withColumn("n_tok", size(col("toks")).cast("long"))
      .withColumn("mwl", TextFunctions.meanWordLen(col(textCol), col("toks")))
      .withColumn("dr",
        size(array_distinct(col("toks"))).cast("double") / size(col("toks")))
      // distinct-presence count via the shared guarded helper: codegen
      // `contains` probes for literal word lists, the interpreted
      // array_intersect fallback for empty / punctuated stop lists the
      // probes cannot express (ADVICE r10 — the bare probe reduce threw
      // on both of those edge inputs)
      .withColumn("n_stop",
        TextFunctions.tokenPresenceCount(col(textCol), col("toks"), stopList))
      .select(col(idCol) +: carry.map(col) :+ col("n_tok") :+
        round(col("mwl"), 6).as("mean_word_len") :+
        round(col("dr"), 6).as("distinct_ratio") :+
        col("n_stop") :+
        (col("n_tok") >= 30 && col("n_tok") <= 5000).as("r_len") :+
        (col("mwl") >= 4.0 && col("mwl") <= 5.0).as("r_mwl") :+
        (col("dr") >= 0.35).as("r_distinct") :+
        (col("n_stop") >= 2).as("r_stop"): _*)
      .withColumn("keep",
        col("r_len") && col("r_mwl") && col("r_distinct") && col("r_stop"))

  /** Deterministic global training shuffle + round-robin shard id (SH1):
    * order by a seeded content hash through the two-phase rank — never a
    * one-task global sort, never `rand()`. Reshuffle = new seed. */
  def shuffleShards(docs: DataFrame, nShards: Int, seed: String = "42",
      idCol: String = "doc_id"): DataFrame = {
    val keyed = docs.withColumn("shuffle_key",
      Dedup.hash60(concat(lit(seed + ":"), col(idCol).cast("string"))))
    graft.operators.Ranks
      .rowNumber(keyed, Nil, Seq(col("shuffle_key"), col(idCol)), out = "rn")
      .withColumn("shard_id", (col("rn") - 1) % nShards)
      // internal helpers stay internal: a persisted seed-dependent hash
      // column would poison schema parity across differently-seeded runs
      .drop("__n", "shuffle_key")
  }

  /** Context-window chunking (CH1): `size`-token windows advancing by
    * `stride`. */
  def chunks(docs: DataFrame, size: Int, stride: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    graft.operators.Chunking.chunkTokens(docs, idCol, textCol, size, stride)

  /** Mixture resampling toward a target domain distribution (SM2). */
  def mixtureSample(docs: DataFrame, weight: Column => Column,
      budget: Double, idCol: String = "doc_id",
      stratumCol: String = "source"): DataFrame =
    Sampling.mixtureResample(docs, col(idCol), col(stratumCol), weight, budget)

  /** Incremental near-dedup (DD7): flag each NEW doc whose MinHash
    * signature shares an LSH band bucket with the REFERENCE corpus —
    * the bipartite join shape of daily-increment dedup. */
  def incrementalDuplicates(newDocs: DataFrame, refDocs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      shingleN: Int = 3, numHashes: Int = 6, bandsOf: Int = 2,
      maxBucket: Int = 1000): DataFrame = {
    val newSigs = Dedup.minhashSignaturesOf(
      newDocs, idCol, textCol, shingleN, numHashes)
    val refSigs = Dedup.minhashSignaturesOf(
      refDocs, idCol, textCol, shingleN, numHashes)
    Dedup.minhashCandidatesAgainst(newSigs, refSigs, numHashes, bandsOf,
        maxBucket)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_ref_matches"), min("ref_id").as("first_ref"))
  }

  /** The staged frames of [[pretrainingRun]]. `cleaned` and `deduped`
    * hold data: each is an eager `localCheckpoint`, materialized before
    * [[pretrainingRun]] returns, so no later action re-scores or
    * re-deduplicates the raw documents. `decontaminated`, `mixed` and
    * `packed` are lazy plans over `deduped`; a caller can act on any
    * stage (or just the last) and audit the funnel with plain counts. */
  final case class PretrainStages(cleaned: DataFrame, deduped: DataFrame,
      decontaminated: DataFrame, mixed: DataFrame, packed: DataFrame)

  /** The canonical pretraining-data run as ONE composition: quality gate
    * + exact dedup ([[cleaned]]) → near-dup cluster election keeping the
    * highest-quality exemplar ([[dedupClusters]] with a length score) →
    * eval decontamination ([[contamination]] against `evalFlag` docs at
    * ≥ `contaminationMax` overlap) → temperature language mixture
    * ([[Sampling.temperatureResample]]) → token-budget packing
    * (`Sharding.packByBudget`). Every stage is the library's own
    * oracle-checked operator.
    *
    * The call itself runs the first two stages. It checkpoints the
    * cleaned corpus, runs the near-dup component walk over it (an edge
    * count and a checkpointed label frame), checkpoints the deduped
    * corpus and then drops the labels. Every later stage reads those two
    * checkpoints, so its plan starts there. Decontamination, mixture and
    * packing run only when the caller acts on a stage.
    *
    * The two checkpoints' blocks live until the caller drops `cleaned`,
    * `deduped` and every frame derived from them; Spark's `ContextCleaner`
    * then frees them, or `Caches.releaseBlocks` on both frees them at
    * once. At scale this puts the cleaned corpus, every kept document's
    * text, into executor block storage, and, like the component walk's
    * labels (see [[graft.operators.Components]]), a block lost with its
    * executor is not recomputed: lineage is truncated, so a later action
    * on the stage fails.
    *
    * @param evalFlag  rows marking the EVAL/held-out reference split;
    *                  kept docs sharing ≥ `contaminationMax` of their
    *                  shingles with it are dropped from the training side
    */
  def pretrainingRun(docs: DataFrame, evalFlag: Column,
      idCol: String = "doc_id", textCol: String = "text",
      langCol: String = "lang",
      jaccardMin: Double = 0.5, contaminationMax: Double = 0.5,
      alpha: Double = 0.7, budget: Double = 1.0,
      packBudget: Long = 4096L): PretrainStages = {
    requireIntegralId(docs, idCol, "pretrainingRun")
    // c1 and c2 feed every later stage, and the sink re-plans the whole
    // chain: the checkpoints cut each plan there, so the quality-scoring
    // scan of `docs` and the dedup run once
    val c1 = cleaned(docs, idCol, textCol)
      .select(docs.columns.map(col).toSeq: _*)
      .localCheckpoint(eager = true)
    val labels = graft.operators.Components.connectedComponents(
      nearDuplicates(c1, idCol, textCol, jaccardMin = jaccardMin),
      "doc_a", "doc_b")
    val losers = electKeepers(labels, c1, idCol, Some(length(col(textCol))))
      .filter(!col("keeper")).select(idCol)
    val c2 = c1.join(losers, Seq(idCol), "left_anti")
      .localCheckpoint(eager = true)
    // c2 holds the election's outcome; no plan reads the labels again
    graft.Caches.releaseBlocks(labels)
    // contamination normalizes its id column to "doc_id" — rename back
    // so a non-default idCol joins correctly
    val leaked = contamination(c2.filter(!evalFlag).unionByName(docs.filter(evalFlag)),
        evalFlag, idCol, textCol)
      .filter(col("contamination") >= contaminationMax)
      .select(col("doc_id").as(idCol))
    val c3 = c2.filter(!evalFlag).join(leaked, Seq(idCol), "left_anti")
    val c4 = Sampling.temperatureResample(c3, col(idCol), col(langCol),
      alpha, budget)
    val packed = graft.sinks.Sharding.packByBudget(
      c4.withColumn("n_tokens",
        size(TextFunctions.tokens(col(textCol))).cast("long")),
      "n_tokens", packBudget, Seq(col(idCol)))
    PretrainStages(c1, c2, c3, c4, packed)
  }
}
