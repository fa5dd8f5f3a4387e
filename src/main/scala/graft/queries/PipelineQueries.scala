package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{AsOfJoin, Dedup, Ranks, Sampling, TextFunctions}

/** Round-3 training-pipeline operators beyond the dedup/ANN/text set:
  * corpus vocabulary top-k, Gopher-style within-document repetition
  * scoring, train→test contamination scanning, deterministic stratified
  * sampling, as-of joins over the event stream, and scale-safe exact
  * group quantiles. Every entry carries a DuckDB oracle.
  */
object PipelineQueries {

  private val toksSql =
    """SELECT doc_id, lang, source, n_chars, text,
         string_split_regex(trim(lower(text)), '\s+') AS toks
       FROM documents"""

  /** Shared oracle CTE: per-(source, token) counts — the one heavy
    * corpus pass gc1/jd1/zf1 all start from (mirrors
    * [[sourceTokenCounts]]). */
  private val tcSql =
    s"""t AS ($toksSql),
        tok AS (SELECT source, unnest(toks) AS token FROM t),
        tc AS (SELECT source, token, CAST(count(*) AS BIGINT) AS k
               FROM tok GROUP BY 1, 2)"""

  /** Per-(source, token) occurrence counts — ONE corpus-sized explode +
    * partial+final hash agg; every downstream diversity/divergence query
    * (x4, gc1, jd1, zf1, pm1's unigram leg) works on this
    * vocabulary-sized frame.
    *
    * Deliberately re-derived PER CATALOG QUERY, not session-shared: the
    * catalog's contract is that every query is self-contained (the pv1/
    * wt1 rationale — no cross-query cache coupling, so Verify/Bench
    * isolation and per-query plan audits stay meaningful), and each
    * re-derivation is one corpus pass that the queries' own persists
    * already amortize within their single action. A library caller
    * auditing SEVERAL token metrics in one session should instead call
    * this once (it is public for exactly that), persist the returned
    * frame, and build gc1/jd1/zf1-style metrics on the persisted handle —
    * that cuts the audit family to one corpus pass total. */
  def sourceTokenCounts(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    Tables.documents(s, d)
      .select(col("source"),
        explode(TextFunctions.tokens(col("text"))).as("token"))
      .groupBy(col("source"), col("token")).agg(count(lit(1)).as("k"))

  /** X4 — corpus vocabulary top-k: token frequencies, highest 100 with a
    * deterministic tiebreak. The canonical map-side-combine demonstration:
    * partial hash aggs per partition, one shuffled final agg, then
    * orderBy+limit plans as TakeOrderedAndProject (per-partition top-k
    * heaps — no global sort materializes the vocabulary). */
  private val x4 = Q(
    "x4_vocab_topk",
    (s, d) =>
      Tables.documents(s, d)
        .select(explode(TextFunctions.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token"))
        .limit(100),
    Some(s"""WITH t AS ($toksSql),
             tok AS (SELECT unnest(toks) AS token FROM t)
             SELECT token, count(*) AS cnt FROM tok
             GROUP BY token ORDER BY cnt DESC, token LIMIT 100"""))

  /** GC1 — vocabulary-concentration GINI per source: the Gini
    * coefficient of the term-frequency mass, the standard one-number
    * corpus-diversity check (a healthy Zipfian domain sits ~0.8+; a
    * template-spam domain collapses toward a few tokens carrying all
    * mass). Computed by the rank identity over ascending counts,
    * G = 2·Σᵢ i·cᵢ / (n·Σc) − (n+1)/n, which is exact integer
    * arithmetic up to the two final divisions: the ONE heavy pass is
    * the (source, term) count agg (x4's map-side-combine shape); the
    * rank then runs over the VOCABULARY, not the corpus — and it is the
    * two-phase [[Ranks.rowNumber]] (range-partition on (k, token), rank
    * locally, stitch offsets — r7 verdict #3), so even a domain whose
    * vocabulary outgrows one task's sort (web-scale shingle/ngram
    * "vocabularies" at 100 TB) never funnels through a single-task
    * window. Ties order by (count, term) so both engines rank
    * identically; i·cᵢ promotes to DECIMAL(38,0) before the product
    * (HUGEINT on the oracle side). */
  private val gc1 = Q(
    "gc1_vocab_gini",
    (s, d) => {
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      Ranks.rowNumber(sourceTokenCounts(s, d), Seq(col("source")),
          Seq(col("k"), col("token")), out = "i")
        .groupBy(col("source")).agg(
          count(lit(1)).as("n_terms"),
          sum(col("k").cast(dec)).as("s1"),
          sum(col("i").cast(dec) * col("k")).as("s2"))
        .select(col("source"), col("n_terms"),
          col("s1").cast("long").as("n_tokens"),
          round(lit(2.0) * col("s2").cast("double") /
            (col("n_terms").cast("double") * col("s1").cast("double")) -
            (col("n_terms").cast("double") + lit(1.0)) /
            col("n_terms").cast("double"), 6).as("gini"))
    },
    Some(s"""WITH $tcSql,
             r AS (SELECT source, k,
                     CAST(row_number() OVER (PARTITION BY source
                       ORDER BY k, token) AS BIGINT) AS i
                   FROM tc),
             a AS (SELECT source, CAST(count(*) AS BIGINT) AS n_terms,
                     CAST(sum(k) AS BIGINT) AS s1, sum(i * k) AS s2
                   FROM r GROUP BY source)
             SELECT source, n_terms, s1 AS n_tokens,
               round(2.0 * CAST(s2 AS DOUBLE)
                 / (CAST(n_terms AS DOUBLE) * CAST(s1 AS DOUBLE))
                 - (CAST(n_terms AS DOUBLE) + 1.0)
                 / CAST(n_terms AS DOUBLE), 6) AS gini
             FROM a"""))

  /** JD1 — per-domain token ENTROPY and KL divergence against the corpus
    * unigram distribution: the information-theoretic complement to gc1's
    * Gini (entropy measures within-domain diversity; KL(P_s ‖ P_corpus)
    * measures how far a domain's token mix drifts from the corpus — the
    * one-number "is this domain template spam / is this domain
    * off-distribution" pair a mixture scheduler reads). KL is
    * well-defined because support(P_s) ⊆ support(P_corpus) by
    * construction.
    *
    * Cross-engine exactness: each per-token information term is scaled
    * to an exact integer BEFORE any cross-row sum (the dm1 ulp-absorb
    * convention): e = round(ln(n_s/k)·10⁶), f = round(ln((k/n_s)/(k_t/N))
    * ·10⁶), then Σk·e and Σk·f accumulate in DECIMAL(38,0) (HUGEINT on
    * the oracle side, with k CAST to HUGEINT before the product — the
    * per-term k·e alone reaches ~10¹⁹ at 10¹²-token domains, so a
    * BIGINT product would overflow before any widened sum saw it) and
    * divide once at the end.
    *
    * Scale shape: ONE corpus pass (the shared (source, token) count
    * agg); `kt` and `n_s` are windows over it and `nn` its 1-row agg. (A
    * join on `source` would infer a NULL filter into its branch only,
    * re-running the pass; the output's filter stops at the `kt` window.) */
  private val jd1 = Q(
    "jd1_domain_divergence",
    (s, d) => {
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val tc = sourceTokenCounts(s, d)
      val nn = tc.agg(sum(col("k")).as("nn"))
      tc.withColumn("kt", sum(col("k")).over(Window.partitionBy(col("token"))))
        .withColumn("n_s", sum(col("k")).over(Window.partitionBy(col("source"))))
        .filter(col("source").isNotNull)
        .crossJoin(broadcast(nn))
        .withColumn("e",
          round(log(col("n_s").cast("double") / col("k")) * lit(1000000.0))
            .cast("long"))
        .withColumn("f",
          round(log((col("k").cast("double") / col("n_s")) /
            (col("kt").cast("double") / col("nn"))) * lit(1000000.0))
            .cast("long"))
        .groupBy(col("source"), col("n_s")).agg(
          sum(col("k").cast(dec) * col("e")).as("se"),
          sum(col("k").cast(dec) * col("f")).as("sf"))
        .select(col("source"), col("n_s").as("n_tokens"),
          round(col("se").cast("double") /
            (col("n_s").cast("double") * lit(1000000.0)), 6).as("entropy"),
          round(col("sf").cast("double") /
            (col("n_s").cast("double") * lit(1000000.0)), 6).as("kl_corpus"))
    },
    Some(s"""WITH $tcSql,
             ns AS (SELECT source, CAST(sum(k) AS BIGINT) AS n_s
                    FROM tc GROUP BY 1),
             ct AS (SELECT token, CAST(sum(k) AS BIGINT) AS kt
                    FROM tc GROUP BY 1),
             tot AS (SELECT CAST(sum(n_s) AS BIGINT) AS nn FROM ns),
             terms AS (SELECT tc.source, ns.n_s, tc.k,
                 CAST(round(ln(CAST(ns.n_s AS DOUBLE) / tc.k) * 1000000.0)
                   AS BIGINT) AS e,
                 CAST(round(ln((CAST(tc.k AS DOUBLE) / ns.n_s)
                   / (CAST(ct.kt AS DOUBLE) / tot.nn)) * 1000000.0)
                   AS BIGINT) AS f
               FROM tc JOIN ct USING (token) JOIN ns USING (source)
               CROSS JOIN tot),
             a AS (SELECT source, n_s,
                     sum(CAST(k AS HUGEINT) * e) AS se,
                     sum(CAST(k AS HUGEINT) * f) AS sf
                   FROM terms GROUP BY 1, 2)
             SELECT source, n_s AS n_tokens,
               round(CAST(se AS DOUBLE)
                 / (CAST(n_s AS DOUBLE) * 1000000.0), 6) AS entropy,
               round(CAST(sf AS DOUBLE)
                 / (CAST(n_s AS DOUBLE) * 1000000.0), 6) AS kl_corpus
             FROM a"""))

  /** Terms per domain entering zf1's Zipf fit — the rank cutoff that
    * bounds the regression frame (shared literal, both engines). */
  private val zipfTopK = 1000

  /** ZF1 — Zipf-law slope per domain: OLS of ln(count) on ln(rank) over
    * each domain's top-[[zipfTopK]] terms. Natural text sits near slope
    * −1 (Zipf 1949); a near-flat slope flags synthetic/templated token
    * mixes and a cliff flags boilerplate domination — the standard
    * rank-frequency diagnostic beside gc1/jd1's mass-concentration
    * numbers.
    *
    * Scale shape: ranks come from the two-phase [[Ranks.rowNumber]]
    * over the VOCABULARY-sized count frame (descending count, token
    * tiebreak — never a one-task-per-domain sort, the auc1/gc1 r7
    * lesson baked in from birth); the rank≤k filter bounds the
    * regression input to k rows per domain, and the OLS moments are the
    * ols1 convention — ln values scaled to exact round(·10⁶) integers,
    * DECIMAL(38,0)/HUGEINT moment sums, one closed-form combination at
    * the end (identical op order both engines; slope is scale-free
    * because x and y carry the same 10⁶ factor). Domains with fewer
    * than 10 ranked terms are dropped (degenerate fit). */
  private val zf1 = Q(
    "zf1_zipf_slope",
    (s, d) => {
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val nD = col("n_terms").cast("double")
      val slope = (nD * col("sxy").cast("double") -
          col("sx").cast("double") * col("sy").cast("double")) /
        (nD * col("sxx").cast("double") -
          col("sx").cast("double") * col("sx").cast("double"))
      Ranks.rowNumber(sourceTokenCounts(s, d), Seq(col("source")),
          Seq(col("k").desc, col("token")), out = "r")
        .filter(col("r") <= zipfTopK)
        .withColumn("x",
          round(log(col("r").cast("double")) * lit(1000000.0)).cast("long"))
        .withColumn("y",
          round(log(col("k").cast("double")) * lit(1000000.0)).cast("long"))
        .groupBy(col("source")).agg(
          count(lit(1)).as("n_terms"),
          sum(col("x").cast(dec)).as("sx"),
          sum(col("y").cast(dec)).as("sy"),
          sum(col("x").cast(dec) * col("y")).as("sxy"),
          sum(col("x").cast(dec) * col("x")).as("sxx"))
        .filter(col("n_terms") >= 10)
        .select(col("source"), col("n_terms"),
          round(slope, 6).as("zipf_slope"),
          round((col("sy").cast("double") - slope * col("sx").cast("double")) /
            (nD * lit(1000000.0)), 6).as("intercept_ln"))
    },
    Some(s"""WITH $tcSql,
             rk AS (SELECT source, k,
                      CAST(row_number() OVER (PARTITION BY source
                        ORDER BY k DESC, token) AS BIGINT) AS r
                    FROM tc),
             xy AS (SELECT source,
                      CAST(round(ln(CAST(r AS DOUBLE)) * 1000000.0) AS BIGINT) AS x,
                      CAST(round(ln(CAST(k AS DOUBLE)) * 1000000.0) AS BIGINT) AS y
                    FROM rk WHERE r <= $zipfTopK),
             m AS (SELECT source, CAST(count(*) AS BIGINT) AS n_terms,
                     sum(x) AS sx, sum(y) AS sy,
                     sum(x * y) AS sxy, sum(x * x) AS sxx
                   FROM xy GROUP BY 1),
             sl AS (SELECT source, n_terms, sx, sy,
                      (CAST(n_terms AS DOUBLE) * CAST(sxy AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                      / (CAST(n_terms AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS s_raw
                    FROM m WHERE n_terms >= 10)
             SELECT source, n_terms,
               round(s_raw, 6) AS zipf_slope,
               round((CAST(sy AS DOUBLE) - s_raw * CAST(sx AS DOUBLE))
                 / (CAST(n_terms AS DOUBLE) * 1000000.0), 6) AS intercept_ln
             FROM sl"""))

  /** Bigram support floor for pm1 — PMI is unstable below a handful of
    * observations (Church & Hanks 1990 recommend ≥ 5). */
  private val pmiMinCount = 5

  /** PM1 — PMI bigram collocation mining (Church & Hanks 1990): the
    * top-100 adjacent-token bigrams by pointwise mutual information
    * among those seen ≥ [[pmiMinCount]] times — the classic phrase /
    * multi-word-expression miner a tokenizer-prep or topic-audit
    * pipeline runs over a corpus.
    *
    * Cross-engine exactness: PMI's argument is a quotient of exact
    * integer counts evaluated in one fixed parenthesization
    * ((c_xy/M) / (c_x/N)) / (c_y/N) — bit-identical IEEE division both
    * sides; ln's last ulp is absorbed by round(·, 6), and the top-k
    * orders by the ROUNDED pmi with the bigram string as tiebreak (the
    * rounded-before-ranking rule) so both engines select the same 100.
    *
    * Scale shape: corpus touched twice (unigram + bigram explode, both
    * map-side-combine hash aggs); everything after is vocabulary-sized —
    * the support filter prunes the bigram frame BEFORE its two
    * (token)-keyed joins against the unigram counts, scalar totals ride
    * one broadcast row, and the top-k plans as TakeOrderedAndProject
    * (per-partition heaps, no global sort). Each count frame has several
    * consumers — the bigram frame the total and the filtered path, the
    * unigram frame the total and both w1/w2 joins — and they all read
    * its one aggregate exchange, so each explode runs once. */
  private val pm1 = Q(
    "pm1_pmi_bigrams",
    (s, d) => {
      val t = Tables.documents(s, d)
        .select(TextFunctions.tokens(col("text")).as("toks"))
      val uni = t.select(explode(col("toks")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("cw"))
      val bi0 = t
        .select(explode(TextFunctions.shingles(col("toks"), 2)).as("bg"))
        .groupBy(col("bg")).agg(count(lit(1)).as("cxy"))
      val totals = uni.agg(sum(col("cw")).as("nn"))
        .crossJoin(bi0.agg(sum(col("cxy")).as("mm")))
      bi0.filter(col("cxy") >= pmiMinCount)
        .withColumn("w1", split(col("bg"), " ").getItem(0))
        .withColumn("w2", split(col("bg"), " ").getItem(1))
        // `<=>` (no side is NULL): `===` infers a NULL filter into this
        // branch only, which then re-runs the bigram explode
        .join(uni.select(col("w").as("u1"), col("cw").as("cx")),
          col("w1") <=> col("u1"))
        .join(uni.select(col("w").as("u2"), col("cw").as("cy")),
          col("w2") <=> col("u2"))
        .crossJoin(broadcast(totals))
        .withColumn("pmi", round(log(
          col("cxy").cast("double") / col("mm") /
            (col("cx").cast("double") / col("nn")) /
            (col("cy").cast("double") / col("nn"))), 6))
        .select(col("bg").as("bigram"), col("cxy").as("n_pair"),
          col("cx").as("n_left"), col("cy").as("n_right"), col("pmi"))
        .orderBy(col("pmi").desc, col("bigram"))
        .limit(100)
    },
    Some(s"""WITH t AS ($toksSql),
             u0 AS (SELECT unnest(toks) AS w FROM t),
             u AS (SELECT w, CAST(count(*) AS BIGINT) AS cw
                   FROM u0 GROUP BY w),
             b0 AS (SELECT unnest(list_transform(range(1, len(toks)),
                      i -> toks[i] || ' ' || toks[i + 1])) AS bg FROM t),
             b AS (SELECT bg, CAST(count(*) AS BIGINT) AS cxy
                   FROM b0 GROUP BY bg),
             tot AS (SELECT (SELECT CAST(sum(cw) AS BIGINT) FROM u) AS nn,
                       (SELECT CAST(sum(cxy) AS BIGINT) FROM b) AS mm)
             SELECT bg AS bigram, cxy AS n_pair,
               ul.cw AS n_left, ur.cw AS n_right,
               round(ln(CAST(cxy AS DOUBLE) / mm
                 / (CAST(ul.cw AS DOUBLE) / nn)
                 / (CAST(ur.cw AS DOUBLE) / nn)), 6) AS pmi
             FROM b
             JOIN u ul ON ul.w = string_split(bg, ' ')[1]
             JOIN u ur ON ur.w = string_split(bg, ' ')[2]
             CROSS JOIN tot
             WHERE cxy >= $pmiMinCount
             ORDER BY pmi DESC, bigram LIMIT 100"""))

  /** HL1 — approximate distinct-token cardinality per language through
    * Spark's HyperLogLog++ (`approx_count_distinct`, rsd 2%): THE
    * mergeable-sketch answer to "how big is each language's vocabulary"
    * at 100 TB — map-side partial sketches merge associatively, one pass,
    * O(1) state per group, where the exact count pays a full
    * distinct-shuffle of every token occurrence. Rows-only under the
    * driver gate BY DESIGN: DuckDB's approx_distinct runs a different
    * sketch, so cross-engine hashes cannot match for an estimator whose
    * whole point is not being exact; the ≤ 2·rsd error bound against the
    * exact count is pinned in AnalyticsSpec instead. */
  private val hl1 = Q(
    "hl1_approx_distinct",
    (s, d) =>
      Tables.documents(s, d)
        .select(col("lang"), explode(TextFunctions.tokens(col("text"))).as("token"))
        .groupBy("lang")
        .agg(approx_count_distinct(col("token"), 0.02).as("approx_vocab")),
    None)

  /** hl2's register-index bits — shared between the Spark side and the
    * oracle SQL so the two can never drift apart. */
  private val hllP = 12

  /** HL2 — portable HyperLogLog vocabulary estimate per language
    * ([[graft.operators.Sketches.portableHllDistinct]]): the same
    * sketch-not-distinct-shuffle scale shape as `hl1`, but over the
    * engine's own md5-derived hash60, so EVERY stage — register index,
    * leading-zero rank, the exact-integer register sum, the estimator
    * and its linear-counting branch — replays in DuckDB and the whole
    * approximate-distinct family graduates from rows-only to a full
    * hash oracle (hl1 keeps pinning the built-in HLL++ against the
    * exact count in AnalyticsSpec). */
  private val hl2 = Q(
    "hl2_portable_hll",
    (s, d) =>
      graft.operators.Sketches.portableHllDistinct(
        Tables.documents(s, d)
          .select(col("lang"),
            explode(TextFunctions.tokens(col("text"))).as("token")),
        Seq("lang"), "token", p = hllP),
    Some {
      val num = graft.operators.Sketches.hllNumerator(hllP)
      val m = 1 << hllP
      val maxRank = 60 - hllP + 1
      s"""WITH t AS ($toksSql),
          tok AS (SELECT lang, unnest(toks) AS token FROM t),
          h AS (SELECT lang,
                  ${OracleSql.hash60("token")} AS h
                FROM tok),
          r AS (SELECT lang, h % $m AS b, h // $m AS rem FROM h),
          regs AS (SELECT lang, b,
                     max(CASE WHEN rem = 0 THEN $maxRank
                              ELSE $maxRank - length(bin(rem)) END) AS reg
                   FROM r GROUP BY 1, 2),
          agg AS (SELECT lang, CAST(count(*) AS BIGINT) AS used,
                    CAST(sum(CAST(1 AS BIGINT) << CAST($maxRank - reg AS INT))
                      AS BIGINT) AS s_used
                  FROM regs GROUP BY 1),
          e AS (SELECT lang, used,
                  s_used + ($m - used) * (CAST(1 AS BIGINT) << $maxRank) AS sint,
                  $m - used AS v
                FROM agg)
          SELECT lang, used AS n_buckets_used,
            round(CASE WHEN v > 0 AND $num / sint <= ${2.5 * m}
                  THEN $m.0 * ln($m.0 / v)
                  ELSE $num / sint END, 6) AS est
          FROM e"""
    })

  /** X5 — within-document repetition scoring (the Gopher quality-rule
    * family): per doc over its word 2-grams, the duplicate fraction
    * (1 − distinct/total) and the top-gram fraction (most frequent 2-gram's
    * share). Docs with < 2 tokens have no 2-grams and drop out — mirrored
    * by the oracle's unnest. Two chained hash aggs, no window, no join. */
  private val x5 = Q(
    "x5_repetition",
    (s, d) => graft.api.Corpus.repetitionScores(Tables.documents(s, d))
      .withColumn("dup_frac", round(col("dup_frac"), 6))
      .withColumn("top_frac", round(col("top_frac"), 6))
      .select("doc_id", "n_total", "n_distinct", "max_rep", "dup_frac", "top_frac"),
    Some(s"""WITH t AS ($toksSql),
             g AS (SELECT doc_id,
                     unnest(list_transform(range(1, len(toks)),
                       i -> toks[i] || ' ' || toks[i+1])) AS sh
                   FROM t),
             c AS (SELECT doc_id, sh, count(*) AS c FROM g GROUP BY 1, 2),
             tot AS (SELECT doc_id, count(*) AS n_total FROM g GROUP BY 1),
             dis AS (SELECT doc_id, count(*) AS n_distinct, max(c) AS max_rep
                     FROM c GROUP BY 1)
             SELECT doc_id, n_total, n_distinct, max_rep,
               round(1 - n_distinct / n_total, 6) AS dup_frac,
               round(max_rep / n_total, 6) AS top_frac
             FROM tot JOIN dis USING (doc_id)"""))

  /** X9 — WITHIN-document longest repeated substring (token-level), the
    * Gopher repetition signal x5's fixed-n ratios cannot see: a single
    * long verbatim self-repeat barely moves any small-n duplicate
    * fraction but dominates this score. Suffix-automaton-free: the ng5
    * diagonal-chain trick turned inward (Dedup.longestSelfRepeat) —
    * within-doc 2-gram position pairs grouped by diagonal, consecutive
    * positions chained into maximal runs, longest run + n − 1 tokens =
    * the longest exact self-repeat (overlapping repeats included, the
    * classic LRS convention). Pair space occurrence-capped per
    * (doc, gram) at 64 with the standard drop audit; all-integer
    * arithmetic → full DuckDB hash oracle. */
  private val x9 = Q(
    "x9_longest_repeat",
    (s, d) => Dedup.longestSelfRepeat(Tables.documents(s, d), "doc_id", "text",
      n = 2, maxOccPerGram = 64),
    Some(s"""WITH t AS ($toksSql),
             b AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tok FROM t),
             occ AS (SELECT doc_id, n_tok, toks, unnest(range(0, n_tok - 1)) AS pos
                     FROM b WHERE n_tok >= 2),
             g AS (SELECT doc_id, n_tok, pos,
                     toks[CAST(pos + 1 AS INT)] || ' ' ||
                       toks[CAST(pos + 2 AS INT)] AS gram
                   FROM occ),
             c AS (SELECT doc_id, gram, count(*) AS occs FROM g GROUP BY 1, 2),
             dup AS (SELECT g.doc_id, g.pos, g.gram
                     FROM g JOIN c ON g.doc_id = c.doc_id AND g.gram = c.gram
                     WHERE occs BETWEEN 2 AND 64),
             pairs AS (SELECT a.doc_id, a.pos AS pa, a.pos - b2.pos AS diag
                       FROM dup a JOIN dup b2
                         ON a.doc_id = b2.doc_id AND a.gram = b2.gram
                           AND a.pos > b2.pos),
             r AS (SELECT doc_id, diag, pa,
                     lag(pa) OVER (PARTITION BY doc_id, diag ORDER BY pa) AS prev_pa
                   FROM pairs),
             runs AS (SELECT doc_id, diag, pa,
                        sum(CASE WHEN prev_pa IS NULL OR pa > prev_pa + 1
                                 THEN 1 ELSE 0 END)
                          OVER (PARTITION BY doc_id, diag ORDER BY pa
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                          AS run
                      FROM r),
             rl AS (SELECT doc_id, diag, run, max(pa) - min(pa) + 2 AS rep_len
                    FROM runs GROUP BY 1, 2, 3),
             best AS (SELECT doc_id, max(rep_len) AS longest_repeat
                      FROM rl GROUP BY 1)
             SELECT b.doc_id, b.n_tok,
               CAST(coalesce(longest_repeat, 0) AS BIGINT) AS longest_repeat,
               round(coalesce(longest_repeat, 0) / b.n_tok, 6) AS repeat_frac
             FROM b LEFT JOIN best USING (doc_id)"""))

  /** CT1 — train→test contamination scan (Dedup.contamination): sources
    * src0–src9 are the training split, src10–src19 the held-out split;
    * report every test doc sharing a verbatim 3-gram with training data.
    * Linear in shingle volume — a distinct-shingle dictionary semi-join,
    * never a doc×doc pair space. */
  private val contaminationSql =
    s"""WITH t AS ($toksSql),
             shg AS (SELECT DISTINCT doc_id,
                       CAST(substring(source, 4) AS INT) < 10 AS is_train, sh
                     FROM (SELECT doc_id, source,
                             unnest(list_transform(range(1, len(toks) - 1),
                               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
                           FROM t)),
             tr AS (SELECT sh FROM (SELECT sh, count(*) AS c FROM shg
                                    WHERE is_train GROUP BY sh)
                    WHERE c <= 1000),
             te AS (SELECT doc_id, sh FROM shg WHERE NOT is_train),
             tot AS (SELECT doc_id, count(*) AS n_sh FROM te GROUP BY 1),
             ov AS (SELECT doc_id, count(*) AS n_shared
                    FROM te JOIN tr USING (sh) GROUP BY 1)
             SELECT doc_id, n_sh, n_shared,
               round(n_shared / n_sh, 6) AS contamination
             FROM ov JOIN tot USING (doc_id)"""

  private val ct1 = Q(
    "ct1_contamination",
    (s, d) => Dedup.contamination(Tables.documents(s, d), "doc_id", "text",
      substring(col("source"), 4, 10).cast("int") < 10, 3, 1000),
    Some(contaminationSql))

  /** BF1 — the SAME contamination scan re-planned for the 100 TB
    * asymmetry (Dedup.contaminationBloom): a Bloom sketch of the train
    * dictionary rides the test-side scan as a narrow codegen
    * `bloom_might_contain` probe, so only probe-passing shingles reach
    * the exact verify join. Same oracle as ct1 — the sketch prunes the
    * join input, it never changes the result. */
  private val bf1 = Q(
    "bf1_bloom_contamination",
    // expectedItems passed explicitly: the auto-size path costs one extra
    // cache-materialization job, which at bench scale outweighs the
    // smaller bitset. A caller who KNOWS the dictionary magnitude should
    // always pass it; auto-sizing is for unknown dictionaries.
    (s, d) => Dedup.contaminationBloom(Tables.documents(s, d), "doc_id", "text",
      substring(col("source"), 4, 10).cast("int") < 10, 3, 1000,
      expectedItems = 1L << 17, fpp = 0.01),
    Some(contaminationSql))

  private val sampleRates: Seq[(String, Double)] = Seq(
    "en" -> 0.5, "de" -> 0.25, "es" -> 0.25, "fr" -> 0.125, "zh" -> 0.125)

  /** SM1 — deterministic stratified hash sample (Sampling): per-language
    * rates, keep iff hash60(doc_id) < rate·2^60. A pure narrow filter —
    * no shuffle, no RNG, reproducible across engines, layouts and reruns,
    * and nested across rates (the scaling-ladder property). */
  private val sm1 = Q(
    "sm1_stratified_sample",
    (s, d) => Sampling.stratifiedHashSample(
        Tables.documents(s, d), col("doc_id"), col("lang"), sampleRates.toMap)
      .select("doc_id", "lang", "source", "n_chars"),
    Some {
      val cases = sampleRates
        .map { case (l, r) => s"WHEN '$l' THEN ${Sampling.threshold(r)}" }
        .mkString(" ")
      s"""SELECT doc_id, lang, source, n_chars FROM documents
          WHERE ${OracleSql.hash60("CAST(doc_id AS VARCHAR)")}
            < CASE lang $cases ELSE 0 END"""
    })

  /** QT1 — exact per-group quantiles (p25/p50/p75 of n_chars per lang)
    * through the two-phase rank (Ranks.rowNumber): range partition + local
    * rank + bounded offset stitch, so no language's rows ever funnel into
    * one sort task — the scale-safe alternative to `percentile`'s
    * collect-to-buffer or a one-task group window. Quantile = the value at
    * 1-based rank ceil(q·n) (discrete, lower-rounding); q values are
    * binary-exact doubles so ceil(q·n) is engine-stable. */
  private val qt1 = Q(
    "qt1_group_quantiles",
    (s, d) => Ranks.quantiles(
      Tables.documents(s, d).select("lang", "n_chars", "doc_id"),
      Seq("lang"), "n_chars", "doc_id",
      Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75)),
    Some("""WITH r AS (SELECT lang, n_chars,
                         row_number() OVER (PARTITION BY lang
                           ORDER BY n_chars, doc_id) AS rn,
                         count(*) OVER (PARTITION BY lang) AS n
                       FROM documents)
            SELECT lang, max(n) AS n,
              max(CASE WHEN rn = CAST(ceil(n * 0.25) AS BIGINT) THEN n_chars END) AS p25,
              max(CASE WHEN rn = CAST(ceil(n * 0.5)  AS BIGINT) THEN n_chars END) AS p50,
              max(CASE WHEN rn = CAST(ceil(n * 0.75) AS BIGINT) THEN n_chars END) AS p75
            FROM r GROUP BY lang"""))

  /** AJ1 — as-of join over the event stream: each click picks up the most
    * recent at-or-before purchase of the same user (AsOfJoin — union +
    * one keyed window, never the quadratic join+rank). Timestamps compare
    * in the µs domain on both engines (s2's convention). */
  private val aj1 = Q(
    "aj1_asof_join",
    (s, d) => {
      val ev = Tables.events(s, d).withColumn("ts_us", Tables.eventTsMicros)
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts_us", "value")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("user_id", "ts_us", "value", "event_id")
      AsOfJoin.asOf(clicks, purchases, Seq("user_id"), "ts_us",
          payload = Seq("value", "event_id"), tieCol = "event_id")
        .select(col("event_id"), col("user_id"), col("ts_us"),
          round(col("value"), 6).as("value"),
          col("r_ts_us"), round(col("r_value"), 6).as("r_value"),
          col("r_event_id"))
    },
    Some("""WITH l AS (SELECT event_id, user_id, epoch_us(ts) AS tsu, value
                       FROM events WHERE event_type = 'click'),
            r0 AS (SELECT user_id, epoch_us(ts) AS tsu, value, event_id,
                     row_number() OVER (PARTITION BY user_id, epoch_us(ts)
                       ORDER BY event_id) AS rn
                   FROM events WHERE event_type = 'purchase'),
            r AS (SELECT user_id, tsu, value, event_id FROM r0 WHERE rn = 1),
            j AS (SELECT l.event_id, l.user_id, l.tsu, l.value,
                    r.tsu AS r_tsu, r.value AS r_value, r.event_id AS r_event_id,
                    row_number() OVER (PARTITION BY l.event_id
                      ORDER BY r.tsu DESC) AS rn
                  FROM l LEFT JOIN r
                    ON l.user_id = r.user_id AND r.tsu <= l.tsu)
            SELECT event_id, user_id, tsu AS ts_us, round(value, 6) AS value,
                   r_tsu AS r_ts_us, round(r_value, 6) AS r_value, r_event_id
            FROM j WHERE rn = 1"""))

  /** AJ2 — the SAME as-of semantics as `aj1` through the (c)-tier NATIVE
    * operator ([[graft.plans.NativeAsOf]]): custom LogicalPlan → planner
    * Strategy → sorted-merge AsOfJoinExec, children co-partitioned by
    * `EnsureRequirements`. One shuffle per side, per-partition O(L+R)
    * merge with O(1) state — no union materialization, no window pass.
    * Shares aj1's DuckDB oracle verbatim (identical output contract);
    * NativeAsOfSpec holds the plan guard + generated parity suite. */
  private val aj2 = Q(
    "aj2_asof_native",
    (s, d) => {
      val ev = Tables.events(s, d).withColumn("ts_us", Tables.eventTsMicros)
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts_us", "value")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("user_id", "ts_us", "value", "event_id")
      graft.plans.NativeAsOf.asOf(clicks, purchases, Seq("user_id"), "ts_us",
          payload = Seq("value", "event_id"), tieCol = "event_id")
        .select(col("event_id"), col("user_id"), col("ts_us"),
          round(col("value"), 6).as("value"),
          col("r_ts_us"), round(col("r_value"), 6).as("r_value"),
          col("r_event_id"))
    },
    aj1.oracle)

  /** X6 — PII scrubbing (TextFunctions.scrubPii): emails / phones / IPv4
    * replaced with typed placeholders, plus the per-doc redaction count.
    * The synthetic corpus has no organic PII, so deterministic PII is
    * INJECTED by doc_id residue on both engines — the oracle then actually
    * exercises every pattern (a no-match scrub would vacuously pass).
    * Patterns avoid backtracking features, so Java regex (Spark) and RE2
    * (DuckDB) agree. */
  private val x6 = Q(
    "x6_pii_scrub",
    (s, d) => {
      import graft.operators.TextFunctions._
      val injected = Tables.documents(s, d).withColumn("tx",
        concat(col("text"),
          when(col("doc_id") % 7 === 0,
            concat(lit(" reach me at user"), col("doc_id").cast("string"),
              lit("@example.com")))
            .when(col("doc_id") % 7 === 1, lit(" call +1 555-123-4567 now"))
            .when(col("doc_id") % 7 === 2, lit(" server at 10.0.0.42 port"))
            .otherwise(lit(""))))
      injected.select(col("doc_id"),
        piiCount(col("tx")).cast("long").as("n_pii"),
        md5(scrubPii(col("tx"))).as("scrub_md5"))
    },
    Some {
      import graft.operators.TextFunctions.{EmailRe, Ipv4Re, PhoneRe}
      s"""WITH t AS (SELECT doc_id, text || CASE CAST(doc_id % 7 AS INT)
               WHEN 0 THEN ' reach me at user' || CAST(doc_id AS VARCHAR) || '@example.com'
               WHEN 1 THEN ' call +1 555-123-4567 now'
               WHEN 2 THEN ' server at 10.0.0.42 port'
               ELSE '' END AS tx
             FROM documents)
          SELECT doc_id,
            CAST(len(regexp_extract_all(tx, '$EmailRe'))
               + len(regexp_extract_all(tx, '$Ipv4Re'))
               + len(regexp_extract_all(
                   regexp_replace(regexp_replace(tx, '$EmailRe', ' ', 'g'),
                     '$Ipv4Re', ' ', 'g'), '$PhoneRe')) AS BIGINT) AS n_pii,
            md5(regexp_replace(regexp_replace(regexp_replace(tx,
              '$EmailRe', '<EMAIL>', 'g'), '$Ipv4Re', '<IP>', 'g'),
              '$PhoneRe', '<PHONE>', 'g')) AS scrub_md5
          FROM t"""
    })

  private val packBudget = 8192L

  /** PK1 — token-budget packing (the sharding step of a tokenize-and-pack
    * pipeline): cumulative token count over a deterministic document order
    * via the two-phase prefix scan (Ranks.prefixSum — the corpus never
    * funnels through a one-task window), then pack = integer division of
    * the running total by the budget. Integer sums are exactly
    * associative, so pack boundaries are bit-stable at any partitioning. */
  private val pk1 = Q(
    "pk1_token_packing",
    (s, d) => {
      val withTokens = Tables.documents(s, d)
        .select(col("doc_id"),
          size(TextFunctions.tokens(col("text"))).cast("long").as("n_tokens"))
      Ranks.prefixSum(withTokens, Nil, Seq(col("doc_id")), col("n_tokens"),
          out = "cum_tokens")
        .withColumn("pack_id", expr(s"(cum_tokens - 1) div $packBudget"))
    },
    Some(s"""WITH t AS (SELECT doc_id,
                 CAST(len(string_split_regex(trim(lower(text)), '\\s+')) AS BIGINT)
                   AS n_tokens
               FROM documents),
             c AS (SELECT doc_id, n_tokens,
                     CAST(sum(n_tokens) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                       AS cum_tokens
                   FROM t)
             SELECT doc_id, n_tokens, cum_tokens,
               (cum_tokens - 1) // $packBudget AS pack_id
             FROM c"""))

  /** PK2 — LENGTH-BUCKETED token packing (the padding-efficiency upgrade
    * over pk1's in-order packing: batching docs of similar length keeps
    * per-batch padding near zero — the standard tokenizer-aware batch
    * sampler). Band = 4-tile of `n_tokens` through the two-phase ntile
    * (no one-task window), then pk1's exact prefix-scan packing runs PER
    * BAND — both stages are the scale-safe Ranks machinery, so pack
    * boundaries stay bit-stable under any partitioning. Pack key =
    * (band, pack_id). */
  private val pk2 = Q(
    "pk2_length_bucketed_packing",
    (s, d) => {
      val withTokens = Tables.documents(s, d)
        .select(col("doc_id"),
          size(TextFunctions.tokens(col("text"))).cast("long").as("n_tokens"))
      val banded = Ranks.ntile(withTokens, Nil,
        Seq(col("n_tokens"), col("doc_id")), 4, out = "band")
      Ranks.prefixSum(banded, Seq(col("band")), Seq(col("doc_id")),
          col("n_tokens"), out = "cum_tokens")
        .withColumn("pack_id", expr(s"(cum_tokens - 1) div $packBudget"))
        .select("doc_id", "n_tokens", "band", "cum_tokens", "pack_id")
    },
    Some(s"""WITH t AS (SELECT doc_id,
                 CAST(len(string_split_regex(trim(lower(text)), '\\s+')) AS BIGINT)
                   AS n_tokens
               FROM documents),
             b AS (SELECT doc_id, n_tokens,
                     ntile(4) OVER (ORDER BY n_tokens, doc_id) AS band
                   FROM t),
             c AS (SELECT doc_id, n_tokens, band,
                     CAST(sum(n_tokens) OVER (PARTITION BY band ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                       AS cum_tokens
                   FROM b)
             SELECT doc_id, n_tokens, band, cum_tokens,
               (cum_tokens - 1) // $packBudget AS pack_id
             FROM c"""))

  def all: Seq[Q] = Seq(x4, gc1, jd1, zf1, pm1, hl1, hl2, x5, x9, x6, ct1, bf1, sm1,
    qt1, aj1, aj2, pk1, pk2)
}
