package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.expressions.GraftFunctions
import graft.operators.{Chunking, Dedup, Ranks, Sampling, TextFunctions}

/** Round-4 corpus-curation operators — the remaining steps of a
  * large-scale training-data pipeline: deterministic global shuffle +
  * shard assignment (training order), C4/Gopher-style rule filtering
  * with per-rule audit flags, context-window chunking with overlap,
  * mixture resampling toward a target domain distribution, and
  * incremental (new-batch vs reference-corpus) near-dedup. Every entry
  * carries a DuckDB oracle.
  */
object CurationQueries {

  private val toksSql =
    """SELECT doc_id, lang, source, n_chars,
         string_split_regex(trim(lower(text)), '\s+') AS toks
       FROM documents"""

  // ------------------------------------------------------- sh1: shuffle+shard

  private val shuffleSeed = "42"
  private val nShards = 16

  /** SH1 — deterministic global training shuffle: order the corpus by a
    * seeded content hash (reshuffling = changing the seed), assign shards
    * round-robin. The global order comes from the two-phase rank
    * (Ranks.rowNumber): range-partition on the hash, rank locally, stitch
    * with per-partition offsets — the corpus NEVER funnels through a
    * one-task sort, which is what `orderBy(rand())`-style shuffles do at
    * 100 TB. And unlike `rand()`, the order is a pure function of
    * (seed, doc_id): stable under retries, layouts, and engines. */
  private val sh1 = Q(
    "sh1_shuffle_shard",
    (s, d) => {
      val keyed = Tables.documents(s, d).select(col("doc_id"),
        Dedup.hash60(concat(lit(shuffleSeed + ":"), col("doc_id").cast("string")))
          .as("shuffle_key"))
      Ranks.rowNumber(keyed, Nil, Seq(col("shuffle_key"), col("doc_id")), out = "rn")
        .select(col("doc_id"), col("shuffle_key"), col("rn"),
          ((col("rn") - 1) % nShards).as("shard_id"))
    },
    Some(s"""WITH k AS (SELECT doc_id,
                 ${OracleSql.hash60(s"'$shuffleSeed:'||CAST(doc_id AS VARCHAR)")} AS shuffle_key
               FROM documents),
             r AS (SELECT doc_id, shuffle_key,
                     CAST(row_number() OVER (ORDER BY shuffle_key, doc_id) AS BIGINT) AS rn
                   FROM k)
             SELECT doc_id, shuffle_key, rn, (rn - 1) % $nShards AS shard_id
             FROM r"""))

  // ------------------------------------------------------- x7: rule filters

  private val stopList = Seq("a", "the", "fast", "slow", "key")

  /** X7 — C4/Gopher-style heuristic rule filters with per-rule audit
    * flags: token-count band, mean-word-length band, distinct-token
    * ratio, stopword presence; `keep` = every rule passes. All narrow
    * array/scalar expressions riding the scan — a rule pass over 100 TB
    * is shuffle-free by construction. Rule flags stay in the output (the
    * audit shape: downstream you `groupBy` flags to see what each rule
    * costs, rather than silently dropping rows). */
  private val x7 = Q(
    "x7_rule_filters",
    (s, d) => graft.api.Corpus.ruleFiltered(Tables.documents(s, d),
      stopList = stopList),
    Some(s"""WITH t AS ($toksSql),
             m AS (SELECT doc_id,
                     CAST(len(toks) AS BIGINT) AS n_tok,
                     CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE)
                       / len(toks) AS mwl,
                     CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS dr,
                     CAST(len(list_intersect(list_distinct(toks),
                       [${stopList.map(w => s"'$w'").mkString(",")}])) AS BIGINT) AS n_stop
                   FROM t)
             SELECT doc_id, n_tok,
               round(mwl, 6) AS mean_word_len,
               round(dr, 6) AS distinct_ratio,
               n_stop,
               n_tok >= 30 AND n_tok <= 5000 AS r_len,
               mwl >= CAST(4.0 AS DOUBLE) AND mwl <= CAST(5.0 AS DOUBLE) AS r_mwl,
               dr >= CAST(0.35 AS DOUBLE) AS r_distinct,
               n_stop >= 2 AS r_stop,
               (n_tok >= 30 AND n_tok <= 5000)
                 AND (mwl >= CAST(4.0 AS DOUBLE) AND mwl <= CAST(5.0 AS DOUBLE))
                 AND dr >= CAST(0.35 AS DOUBLE) AND n_stop >= 2 AS keep
             FROM m"""))

  // ------------------------------------------------------- ch1: chunking

  private val chunkSize = 32
  private val chunkStride = 24

  /** CH1 — context-window chunking (Chunking.chunkTokens): 32-token
    * windows advancing by 24 (8-token overlap), one row per chunk with
    * the chunk's md5. A pure narrow fan-out — no shuffle anywhere. */
  private val ch1 = Q(
    "ch1_doc_chunks",
    (s, d) => Chunking.chunkTokens(Tables.documents(s, d), "doc_id", "text",
      chunkSize, chunkStride),
    Some(s"""WITH t AS ($toksSql),
             n AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tok FROM t),
             s AS (SELECT doc_id, toks, n_tok,
                     unnest(range(0, n_tok, $chunkStride)) AS start
                   FROM n)
             SELECT doc_id,
               start // $chunkStride AS chunk_idx,
               start,
               CAST(len(list_slice(toks, start + 1, start + $chunkSize)) AS BIGINT)
                 AS n_chunk_tokens,
               md5(array_to_string(list_slice(toks, start + 1, start + $chunkSize), ' '))
                 AS chunk_md5
             FROM s"""))

  // ------------------------------------------------------- sm2: mixture

  // 4 domain classes (source number mod 4) with target mixture
  // 0.4 / 0.3 / 0.2 / 0.1, spread over the 5 sources of each class.
  private val classWeights = Array(0.4, 0.3, 0.2, 0.1)
  private val perSourceW: Array[Double] = classWeights.map(_ / 5.0)
  private val mixBudget = 0.5

  /** SM2 — mixture resampling (Sampling.mixtureResample): thin each
    * source so the kept corpus approaches the target domain mixture at
    * half the original volume. Census agg + in-plan rate arithmetic +
    * broadcast join + hash60 filter — two narrow passes over the corpus,
    * zero driver collects, deterministic under relayout. */
  private val sm2 = Q(
    "sm2_mixture_resample",
    (s, d) => {
      val weight: Column => Column = src => {
        val cls = substring(src, 4, 10).cast("int") % 4
        when(cls === 0, lit(perSourceW(0)))
          .when(cls === 1, lit(perSourceW(1)))
          .when(cls === 2, lit(perSourceW(2)))
          .otherwise(lit(perSourceW(3)))
      }
      Sampling.mixtureResample(Tables.documents(s, d), col("doc_id"),
          col("source"), weight, mixBudget)
        .select("doc_id", "source", "lang", "n_chars", "sample_rate")
    },
    Some {
      val caseW = s"""CASE CAST(substring(source, 4) AS INT) % 4
          WHEN 0 THEN CAST(${perSourceW(0)} AS DOUBLE)
          WHEN 1 THEN CAST(${perSourceW(1)} AS DOUBLE)
          WHEN 2 THEN CAST(${perSourceW(2)} AS DOUBLE)
          ELSE CAST(${perSourceW(3)} AS DOUBLE) END"""
      s"""WITH cnt AS (SELECT source, count(*) AS n_s FROM documents GROUP BY source),
          tot AS (SELECT count(*) AS n_total FROM documents),
          r AS (SELECT source,
                  least(CAST(1.0 AS DOUBLE),
                    CAST($mixBudget AS DOUBLE) * n_total * ($caseW) / n_s) AS rate
                FROM cnt CROSS JOIN tot)
          SELECT d.doc_id, d.source, d.lang, d.n_chars,
            round(r.rate, 6) AS sample_rate
          FROM documents d JOIN r ON d.source = r.source
          WHERE ${OracleSql.hash60("CAST(d.doc_id AS VARCHAR)")}
            < CAST(floor(r.rate * CAST(1152921504606846976 AS DOUBLE)) AS BIGINT)"""
    })

  // ------------------------------------------------- tm1: temperature mix

  private val tmAlpha = 0.7
  private val tmBudget = 0.5

  /** TM1 — temperature-based language mixture
    * (Sampling.temperatureResample): per-language target share
    * q_l ∝ n_l^0.7 derived from the census IN-PLAN (the mBERT/XLM/mT5
    * multilingual sampling scheme — α up-weights low-resource languages),
    * overall volume thinned to half. Rates are 6-dp-rounded before the
    * keep threshold so engine `pow` ulp differences cannot flip a
    * boundary doc; the oracle states the identical arithmetic. */
  private val tm1 = Q(
    "tm1_temperature_mix",
    (s, d) => Sampling.temperatureResample(Tables.documents(s, d),
        col("doc_id"), col("lang"), tmAlpha, tmBudget)
      .select("doc_id", "lang", "source", "n_chars", "sample_rate"),
    Some(s"""WITH cnt AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_s,
                   pow(CAST(count(*) AS DOUBLE), $tmAlpha) AS w
                 FROM documents GROUP BY lang),
          tot AS (SELECT sum(w) AS z, CAST(sum(n_s) AS BIGINT) AS n_total
                  FROM cnt),
          r AS (SELECT lang,
                  round(least(CAST(1.0 AS DOUBLE),
                    CAST($tmBudget AS DOUBLE) * n_total * (w / z) / n_s), 6)
                    AS rate
                FROM cnt CROSS JOIN tot)
          SELECT d.doc_id, d.lang, d.source, d.n_chars,
            r.rate AS sample_rate
          FROM documents d JOIN r ON d.lang = r.lang
          WHERE ${OracleSql.hash60("CAST(d.doc_id AS VARCHAR)")}
            < CAST(floor(r.rate * CAST(1152921504606846976 AS DOUBLE)) AS BIGINT)"""))

  // ------------------------------------------------------- dd7: incremental

  private val ddK = 6
  private val ddBandsOf = 2
  private val ddMaxBucket = 1000
  private val refSplit = 15 // sources 0..14 = reference corpus, 15..19 = new batch

  /** DD7 — incremental near-dedup (Dedup.minhashCandidatesAgainst): the
    * new batch (sources 15–19) is scanned against the reference corpus
    * (sources 0–14) through the bipartite LSH band join — new docs never
    * self-pair, so a daily increment costs |new| × bucket occupancy, not
    * |corpus|². Output: each new doc with its reference-candidate count
    * and first matching reference doc. */
  private val dd7 = Q(
    "dd7_incremental_dedup",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val sigs = Dedup.minhashSignaturesOf(docs, "doc_id", "text", 3, ddK)
      val flagged = sigs.join(
        docs.select(col("doc_id"),
          (substring(col("source"), 4, 10).cast("int") < refSplit).as("is_ref")),
        "doc_id")
      Dedup.minhashCandidatesAgainst(
          flagged.filter(!col("is_ref")).drop("is_ref"),
          flagged.filter(col("is_ref")).drop("is_ref"),
          ddK, ddBandsOf, ddMaxBucket)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_ref_matches"), min("ref_id").as("first_ref"))
    },
    Some {
      val p = Dedup.MinhashP
      val mins = Dedup.minhashCoeffs(ddK).zipWithIndex
        .map { case ((a, b), k) => s"min((hs * $a + $b) % $p) AS h$k" }
        .mkString(",\n  ")
      val bandSelects = (0 until ddK / ddBandsOf).map { b =>
        s"""SELECT doc_id, $b AS band,
              md5(CAST(h${2 * b} AS VARCHAR) || '_' || CAST(h${2 * b + 1} AS VARCHAR)) AS bkey
            FROM mh"""
      }.mkString("\nUNION ALL\n")
      s"""WITH t AS ($toksSql),
          sh AS (SELECT DISTINCT doc_id, sh
                 FROM (SELECT doc_id,
                         unnest(list_transform(range(1, len(toks) - 1),
                           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
                       FROM t)),
          hs AS (SELECT doc_id, ${OracleSql.hash60("sh")} % $p AS hs FROM sh),
          mh AS (SELECT doc_id, $mins FROM hs GROUP BY doc_id),
          fl AS (SELECT doc_id, CAST(substring(source, 4) AS INT) < $refSplit AS is_ref
                 FROM documents),
          bands AS ($bandSelects),
          nb AS (SELECT b.doc_id, band, bkey FROM bands b JOIN fl USING (doc_id)
                 WHERE NOT is_ref),
          rb0 AS (SELECT b.doc_id, band, bkey FROM bands b JOIN fl USING (doc_id)
                  WHERE is_ref),
          rb AS (SELECT doc_id, band, bkey
                 FROM (SELECT *, count(*) OVER (PARTITION BY band, bkey) AS bsz FROM rb0)
                 WHERE bsz <= $ddMaxBucket),
          pr AS (SELECT DISTINCT n.doc_id, r.doc_id AS ref_id
                 FROM nb n JOIN rb r ON n.band = r.band AND n.bkey = r.bkey)
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ref_matches,
            min(ref_id) AS first_ref
          FROM pr GROUP BY doc_id"""
    })

  // ------------------------------------------------------- rs1: reservoir

  private val rsK = 5

  /** RS1 — weighted reservoir sample via the custom `priority_topk`
    * TypedImperativeAggregate: k docs per language, inclusion probability
    * ∝ n_chars, in ONE partial+final hash aggregation with O(k) state per
    * group (no per-group window sort — the shape that survives a 100 TB
    * group). Priorities are Efraimidis–Spirakis exponential jumps over
    * the portable hash60, so the "random" sample is deterministic,
    * retry-safe, and reproducible in the DuckDB oracle (which spells the
    * same selection as a rank window — small-scale-only shape). */
  private val rs1 = Q(
    "rs1_weighted_sample",
    (s, d) => {
      val u = (Dedup.hash60(col("doc_id").cast("string")) + 1).cast("double") /
        lit(math.pow(2.0, 60))
      Tables.documents(s, d)
        .select(col("lang"), col("doc_id"),
          (negate(log(u)) / col("n_chars")).as("pr"))
        .groupBy("lang")
        .agg(GraftFunctions.priorityTopK(col("pr"), col("doc_id"), rsK).as("sample"))
        .select(col("lang"), posexplode(col("sample")).as(Seq("pos0", "doc_id")))
        .select(col("lang"), (col("pos0") + 1).cast("long").as("pos"), col("doc_id"))
    },
    Some(s"""WITH p AS (SELECT lang, doc_id,
                 -ln(CAST(${OracleSql.hash60("CAST(doc_id AS VARCHAR)")} + 1 AS DOUBLE)
                     / CAST(1152921504606846976 AS DOUBLE)) / n_chars AS pr
               FROM documents),
             r AS (SELECT lang, doc_id,
                     CAST(row_number() OVER (PARTITION BY lang ORDER BY pr, doc_id)
                       AS BIGINT) AS pos
                   FROM p)
             SELECT lang, pos, doc_id FROM r WHERE pos <= $rsK"""))

  // ------------------------------------------------------- ng1: dup spans

  private val ngN = 5 // gram width for span marking

  /** The ng1–ng6 input. Like fz1, the synthetic corpus has no organic
    * repeated 5-grams, so deterministic twin EXCERPTS are injected on
    * both engines: every 9th long doc gains a 20-token middle slice as a
    * new doc at doc_id + 2·10^7 — the original then shows a partial
    * duplicated span (tokens 5..24) and the excerpt full coverage. */
  private def docsWithTwins(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val toks = TextFunctions.tokens(col("text"))
    docs.unionByName(docs
      .filter(col("doc_id") % 9 === 0 && size(toks) >= 30)
      .select((col("doc_id") + 20000000L).as("doc_id"),
        concat_ws(" ", slice(toks, 6, 20)).as("text")))
  }

  /** SQL twin of [[docsWithTwins]], tokenized down to one row per 5-gram
    * occurrence: CTEs `b (doc_id, toks, n_tok)` and `g (<gCols>, gram)`. */
  private def twinGramsSql(gCols: String): String =
    s"""WITH t0 AS (SELECT doc_id, text FROM documents),
             ex AS (SELECT doc_id + 20000000 AS doc_id,
                      array_to_string(list_slice(
                        string_split_regex(trim(lower(text)), '\\s+'), 6, 25),
                        ' ') AS text
                    FROM t0
                    WHERE doc_id % 9 = 0
                      AND len(string_split_regex(trim(lower(text)), '\\s+')) >= 30),
             u AS (SELECT * FROM t0 UNION ALL SELECT * FROM ex),
             b AS (SELECT doc_id,
                     string_split_regex(trim(lower(text)), '\\s+') AS toks,
                     CAST(len(string_split_regex(trim(lower(text)), '\\s+'))
                       AS BIGINT) AS n_tok
                   FROM u),
             occ AS (SELECT doc_id, n_tok, toks,
                       unnest(range(0, n_tok - ${ngN - 1})) AS pos
                     FROM b WHERE n_tok >= $ngN),
             g AS (SELECT $gCols,
                     array_to_string(list_slice(toks,
                       CAST(pos + 1 AS INT), CAST(pos + $ngN AS INT)), ' ') AS gram
                   FROM occ)"""

  /** ng1–ng3: the gram occurrences seen in ≥ 2 docs. */
  private val dupGramsSql =
    """dict AS (SELECT gram FROM g
                      GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
             dup AS (SELECT doc_id, n_tok, pos FROM g
                     WHERE gram IN (SELECT gram FROM dict))"""

  /** ng1–ng4: each duplicated gram's token interval `[pos, e]` and the
    * furthest end before it in its doc. */
  private val spanSql =
    s"""sp AS (SELECT doc_id, n_tok, pos,
                      least(pos + ${ngN - 1}, n_tok - 1) AS e,
                      max(least(pos + ${ngN - 1}, n_tok - 1)) OVER (
                        PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                        AS prev_end
                    FROM dup)"""

  /** ng2–ng4: `sp` intervals numbered into merged islands. */
  private val islandSql =
    """isl AS (SELECT doc_id, pos, e,
                       CAST(sum(CASE WHEN prev_end IS NULL OR pos > prev_end + 1
                                     THEN 1 ELSE 0 END) OVER (
                         PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         AS BIGINT) AS island
                     FROM sp)"""

  /** The trim tail of ng3, ng4 and ng6: merged spans `[min(s0), max(e0)]`
    * per island of `from`, every `b` doc rebuilt from the tokens outside
    * them. */
  private def trimSql(s0: String, e0: String, from: String): String =
    s"""spans AS (SELECT doc_id, min($s0) AS s0, max($e0) AS e0
                       FROM $from GROUP BY doc_id, island),
             tok AS (SELECT doc_id, n_tok, unnest(range(0, n_tok)) AS pos, toks
                     FROM b),
             kept AS (SELECT t.doc_id, t.n_tok, t.pos,
                        toks[CAST(t.pos + 1 AS INT)] AS tok
                      FROM tok t
                      WHERE NOT EXISTS (SELECT 1 FROM spans s
                        WHERE s.doc_id = t.doc_id
                          AND t.pos >= s.s0 AND t.pos <= s.e0)),
             agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
                       string_agg(tok, ' ' ORDER BY pos) AS trimmed_text
                     FROM kept GROUP BY doc_id)
             SELECT b.doc_id, b.n_tok,
               coalesce(agg.n_kept, 0) AS n_kept,
               coalesce(agg.trimmed_text, '') AS trimmed_text
             FROM b LEFT JOIN agg USING (doc_id)"""

  /** NG1 — duplicated-span coverage (Dedup.duplicatedSpans): the
    * distributed n-gram stand-in for Lee et al. 2022's suffix-array
    * exact-substring dedup, over [[docsWithTwins]] — so the interval-merge
    * path is exercised non-vacuously. */
  private val ng1 = Q(
    "ng1_dup_spans",
    (s, d) => Dedup.duplicatedSpans(docsWithTwins(s, d), "doc_id", "text", ngN),
    Some(s"""${twinGramsSql("doc_id, n_tok, pos")},
             $dupGramsSql,
             $spanSql,
             cv AS (SELECT doc_id,
                      CAST(count(*) AS BIGINT) AS n_dup_grams,
                      CAST(sum(greatest(0, e - greatest(pos,
                        coalesce(prev_end + 1, pos)) + 1)) AS BIGINT)
                        AS n_cov_tokens
                    FROM sp GROUP BY doc_id)
             SELECT b.doc_id, b.n_tok,
               greatest(0, b.n_tok - ${ngN - 1}) AS n_grams,
               coalesce(cv.n_dup_grams, 0) AS n_dup_grams,
               coalesce(cv.n_cov_tokens, 0) AS n_cov_tokens,
               round(coalesce(cv.n_cov_tokens, 0) / b.n_tok, 6) AS dup_frac
             FROM b LEFT JOIN cv USING (doc_id)"""))

  /** NG2 — MAXIMAL duplicated spans (Dedup.duplicatedSpanList): the
    * Lee et al. span-list output — one row per maximal run of text whose
    * 5-gram windows appear in ≥ 2 docs, `(doc_id, span_start, span_len,
    * n_grams_in_span)`. Over [[docsWithTwins]], so the expected spans are
    * non-trivial on both engines: the excerpt-source docs report the
    * merged partial span, the excerpts full coverage. */
  private val ng2 = Q(
    "ng2_dup_span_list",
    (s, d) => Dedup.duplicatedSpanList(docsWithTwins(s, d), "doc_id", "text", ngN),
    Some(s"""${twinGramsSql("doc_id, n_tok, pos")},
             $dupGramsSql,
             $spanSql,
             $islandSql
             SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
               CAST(max(e) - min(pos) + 1 AS BIGINT) AS span_len,
               CAST(count(*) AS BIGINT) AS n_grams_in_span
             FROM isl GROUP BY doc_id, island"""))

  /** NG3 — span-trim APPLY step (Dedup.trimDuplicatedSpans): every doc
    * rebuilt with its maximal duplicated spans excised (aggressive
    * C4-style removal of ALL duplicated occurrences). Over
    * [[docsWithTwins]]: excerpt docs trim to empty, source docs lose
    * their middle slice. Full hash oracle — the rebuild is pure token
    * slicing both engines can express. */
  private val ng3 = Q(
    "ng3_span_trim",
    (s, d) => Dedup.trimDuplicatedSpans(docsWithTwins(s, d), "doc_id", "text", ngN),
    Some(s"""${twinGramsSql("doc_id, n_tok, pos")},
             $dupGramsSql,
             $spanSql,
             $islandSql,
             ${trimSql("pos", "e", "isl")}"""))

  /** NG4 — keep-one-exemplar span trim (Dedup.trimDuplicatedSpans with
    * `keepFirst`): the FAITHFUL Lee-et-al removal — each duplicated
    * gram's occurrence in its lowest-id document survives; only the other
    * documents lose the span. On the injected twins: source docs keep
    * their text intact, excerpts (+2·10⁷ ids) trim to empty. */
  private val ng4 = Q(
    "ng4_span_trim_keep_one",
    (s, d) => Dedup.trimDuplicatedSpans(docsWithTwins(s, d), "doc_id", "text",
      ngN, keepFirst = true),
    Some(s"""${twinGramsSql("doc_id, n_tok, pos")},
             dict AS (SELECT gram, min(doc_id) AS keeper FROM g
                      GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
             dup AS (SELECT g.doc_id, g.n_tok, g.pos FROM g
                     JOIN dict ON g.gram = dict.gram
                     WHERE g.doc_id <> dict.keeper),
             $spanSql,
             $islandSql,
             ${trimSql("pos", "e", "isl")}"""))

  /** Occurrence cap for ng5's pair space — a gram seen more than this
    * many times corpus-wide is dropped from matching (shared literal,
    * both engines; the drop is surfaced by the capBuckets observe/log
    * audit on the engine side). */
  private val ng5Cap = 64

  /** ng5/ng6: same-diagonal gram matches per document pair `(da < db)`
    * chained into maximal runs `(da, db, diag, pa0, pa1)`. */
  private val chainRunsSql =
    s"""dict AS (SELECT gram FROM g GROUP BY gram
                      HAVING count(DISTINCT doc_id) >= 2
                         AND count(*) <= $ng5Cap),
             dup AS (SELECT doc_id, pos, gram FROM g
                     WHERE gram IN (SELECT gram FROM dict)),
             pr AS (SELECT a.doc_id AS da, CAST(a.pos AS BIGINT) AS pa,
                      b2.doc_id AS db, CAST(b2.pos AS BIGINT) AS pb
                    FROM dup a JOIN dup b2
                      ON a.gram = b2.gram AND a.doc_id < b2.doc_id),
             dg AS (SELECT da, db, pa - pb AS diag, pa,
                      lag(pa) OVER (PARTITION BY da, db, pa - pb
                        ORDER BY pa) AS prev_pa
                    FROM pr),
             rn AS (SELECT da, db, diag, pa,
                      sum(CASE WHEN prev_pa IS NULL OR pa > prev_pa + 1
                               THEN 1 ELSE 0 END) OVER (
                        PARTITION BY da, db, diag ORDER BY pa
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS run
                    FROM dg),
             runs AS (SELECT da, db, diag, run,
                        min(pa) AS pa0, max(pa) AS pa1
                      FROM rn GROUP BY 1, 2, 3, 4)"""

  /** ng5/ng6: per-doc match intervals `iv (doc_id, sp, ep, partner,
    * diag)` merged where they INTERSECT, numbered into islands `m1`. */
  private val chainIslandsSql =
    """m0 AS (SELECT doc_id, sp, ep, partner, diag,
                      max(ep) OVER (PARTITION BY doc_id
                        ORDER BY sp, ep, partner, diag
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                        AS prev_end
                    FROM iv),
             m1 AS (SELECT doc_id, sp, ep,
                      sum(CASE WHEN prev_end IS NULL OR sp > prev_end
                               THEN 1 ELSE 0 END) OVER (
                        PARTITION BY doc_id ORDER BY sp, ep, partner, diag
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS island
                    FROM m0)"""

  /** NG5 — maximal exact-substring matches via rolling-gram CHAIN
    * EXTENSION (Dedup.maximalMatchSpans): the real Lee et al. 2022 span
    * semantics, closing the ng1–ng4 shingle stand-in's documented gap.
    * Where ng2 merges token-ADJACENT duplicated windows regardless of
    * which partner document supports them (reporting "spans" contiguous
    * nowhere else), ng5 chains same-diagonal gram matches per document
    * PAIR into provably maximal exact matches (grams compared as exact
    * token strings — a position adjacent to a run means the tokens
    * differ), then merges only INTERSECTING intervals per doc. Over
    * [[docsWithTwins]] like ng1–ng4, so every excerpt yields one
    * full-coverage match row and its source the partial one; organic
    * cross-doc repeats join them. Pair space capped at [[ng5Cap]]
    * occurrences per gram on both engines. */
  private val ng5 = Q(
    "ng5_maximal_matches",
    (s, d) => Dedup.maximalMatchSpans(docsWithTwins(s, d), "doc_id", "text",
      ngN, maxOccPerGram = ng5Cap),
    Some(s"""${twinGramsSql("doc_id, pos")},
             $chainRunsSql,
             iv AS (SELECT da AS doc_id, pa0 AS sp,
                      pa1 + ${ngN - 1} AS ep, db AS partner, diag FROM runs
                    UNION ALL
                    SELECT db, pa0 - diag, pa1 - diag + ${ngN - 1}, da, diag
                    FROM runs),
             $chainIslandsSql
             SELECT doc_id, CAST(min(sp) AS BIGINT) AS span_start,
               CAST(max(ep) - min(sp) + 1 AS BIGINT) AS span_len,
               CAST(count(*) AS BIGINT) AS n_matches
             FROM m1 GROUP BY doc_id, island"""))

  /** NG6 — keep-one span trim at MATCH granularity over the ng5
    * chain-extension spans (Dedup.trimMaximalMatches with keepLowestId):
    * for every maximal pairwise exact match, only the HIGHER-id document
    * loses the span — the lower-id copy is the surviving exemplar, so
    * each removed span's text survives verbatim in its matched partner's
    * ORIGINAL text (post-trim, the guarantee holds for a component's
    * minimum-id document; see Dedup.trimMaximalMatches on overlapping
    * chains). The faithful Lee-et-al removal one
    * rung above ng4's per-GRAM keeper rule (which can excise a passage
    * from every document when no single doc holds the min id for all
    * its grams); the C4-style both-sides variant is NOT a separate
    * query because its covered positions provably equal ng3's (the
    * DedupSpec coverage property). Over [[docsWithTwins]] like ng1-ng5
    * (sources keep their text; excerpts trim to empty); same
    * [[ng5Cap]] on the pair space. */
  private val ng6 = Q(
    "ng6_chain_trim_keep_one",
    (s, d) => Dedup.trimMaximalMatches(docsWithTwins(s, d), "doc_id", "text",
      ngN, maxOccPerGram = ng5Cap, keepLowestId = true),
    Some(s"""${twinGramsSql("doc_id, pos")},
             $chainRunsSql,
             iv AS (SELECT db AS doc_id, pa0 - diag AS sp,
                      pa1 - diag + ${ngN - 1} AS ep, da AS partner, diag
                    FROM runs),
             $chainIslandsSql,
             ${trimSql("sp", "ep", "m1")}"""))

  // ------------------------------------------------------- cu1: mixture cube

  /** CU1 — training-mixture report: doc and token counts by
    * (source, lang) with every CUBE rollup level, plus each cell's share
    * of the total token budget. ONE hash aggregation produces all four
    * grouping levels (Spark expands the cube BEFORE the shuffle, so it
    * stays partial+final); the share denominator is a broadcast of the
    * one-row grand total — the report a mixture-resampling run (sm2)
    * reads before choosing weights. */
  private val cu1 = Q(
    "cu1_mixture_cube",
    (s, d) => {
      val base = Tables.documents(s, d).select(col("source"), col("lang"),
        size(TextFunctions.tokens(col("text"))).cast("long").as("n_tok"))
      val cube = base.cube(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
          grouping_id().cast("long").as("lvl"))
      val total = base.agg(sum(col("n_tok")).as("tot"))
      cube.crossJoin(broadcast(total))
        .select(col("source"), col("lang"), col("n_docs"), col("n_tokens"),
          col("lvl"), round(col("n_tokens") / col("tot"), 6).as("token_share"))
    },
    Some("""WITH b AS (SELECT source, lang,
                 CAST(len(string_split_regex(trim(lower(text)), '\s+'))
                   AS BIGINT) AS n_tok
               FROM documents),
             c AS (SELECT source, lang,
                     CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(n_tok) AS BIGINT) AS n_tokens,
                     CASE WHEN source IS NULL AND lang IS NULL THEN 3
                          WHEN lang IS NULL THEN 1
                          WHEN source IS NULL THEN 2 ELSE 0 END AS lvl
                   FROM b GROUP BY CUBE (source, lang)),
             t AS (SELECT CAST(sum(n_tok) AS BIGINT) AS tot FROM b)
             SELECT source, lang, n_docs, n_tokens, lvl,
               round(n_tokens / tot, 6) AS token_share
             FROM c CROSS JOIN t"""))

  // ------------------------------------------------------- lr1: classifier

  /** LR1 — train-and-score a quality classifier
    * (functions.LogisticRegression): the fastText/C4-style curation step,
    * here fit to imitate the x7 rule filter from its own features under
    * 10% deterministic hash-noise label flips. Each Newton iteration is
    * ONE treeAggregate pass (O(p²) driver state, p=5); scoring is a
    * narrow codegen'd sigmoid column. Iterative float fit → rows-only
    * under the driver gate (like d3/pc1); planted-weight recovery is
    * unit-tested in LogisticRegressionSpec. */
  private val lr1 = Q(
    "lr1_quality_classifier",
    (s, d) => {
      // each rule's violation DEPTH (signed margin clipped at zero —
      // zero inside the band, negative outside): the AND of rules is
      // then linearly separable (keep docs sit exactly at the all-zero
      // point), so the model's ceiling is the 10% label-flip floor
      // rather than the ~69% a raw-feature linear boundary manages
      val feats = graft.api.Corpus.ruleFiltered(Tables.documents(s, d),
          stopList = stopList)
        .select(col("doc_id"),
          least(least(log(col("n_tok").cast("double")) - math.log(30.0),
            lit(math.log(5000.0)) - log(col("n_tok").cast("double"))),
            lit(0.0)).as("f_len"),
          least(least(col("mean_word_len") - 4.0,
            lit(5.0) - col("mean_word_len")), lit(0.0)).as("f_mwl"),
          least(col("distinct_ratio") - 0.35, lit(0.0)).as("f_dr"),
          least(col("n_stop").cast("double") - 2.0, lit(0.0)).as("f_stop"),
          col("keep"))
        .withColumn("noise",
          (Dedup.hash60(concat(lit("lr:"), col("doc_id").cast("string")))
            % 100L) < 10L)
        .withColumn("label", (col("keep") =!= col("noise")).cast("int"))
      val fit = graft.functions.LogisticRegression.fit(feats,
        Seq("f_len", "f_mwl", "f_dr", "f_stop"), "label")
      val fcols = Seq(col("f_len"), col("f_mwl"), col("f_dr"), col("f_stop"))
      feats.select(col("doc_id"), col("label").cast("long").as("label"),
        round(fit.probCol(fcols), 6).as("p_keep"),
        (fit.probCol(fcols) > 0.5).as("pred_keep"))
    },
    None)

  /** Frozen classifier weights for `lr1b` (intercept, then one weight
    * per feature in `lr1bFeats` order) — all exactly binary-representable
    * doubles, so the literal parses to the same bits on both engines. */
  private val lr1bW = Array(4.0, 2.5, 1.75, 3.0, 0.5)

  /** Shared lr1b/auc1 feature pass (Spark side): the x7 rule margins +
    * `keep` flag from `Corpus.ruleFiltered`, with optional carried
    * columns — ONE copy so the two queries' hash oracles can never
    * drift apart. `mean_word_len`/`distinct_ratio` arrive PRE-ROUNDED
    * (cross-engine parity proven by x7's hash match); the length margin
    * is pure rational arithmetic. */
  private def classifierFeats(s: SparkSession, d: String,
      carry: Seq[String] = Nil): DataFrame =
    graft.api.Corpus.ruleFiltered(Tables.documents(s, d),
        stopList = stopList, carry = carry)
      .select(col("doc_id") +: carry.map(col) :+
        least(least(col("n_tok").cast("double") / 30.0 - 1.0,
          lit(1.0) - col("n_tok").cast("double") / 5000.0), lit(0.0)).as("f_len") :+
        least(least(col("mean_word_len") - 4.0,
          lit(5.0) - col("mean_word_len")), lit(0.0)).as("f_mwl") :+
        least(col("distinct_ratio") - 0.35, lit(0.0)).as("f_dr") :+
        least(col("n_stop").cast("double") - 2.0, lit(0.0)).as("f_stop") :+
        col("keep"): _*)

  /** The SQL mirror of [[classifierFeats]], ending in CTE `f` with
    * (doc_id, source, f_len, f_mwl, f_dr, f_stop, keep). Parity rules:
    * the FEATURES use the 6-dp-rounded mwl/dr (matching ruleFiltered's
    * rounded output columns), the `keep` flag uses the UNROUNDED values
    * (matching ruleFiltered's r_* flags and the x7 oracle precedent —
    * rounding before the threshold comparison would be a latent label
    * divergence near rule boundaries). */
  private val classifierFeatSql =
    s"""t AS (SELECT doc_id, source,
                string_split_regex(trim(lower(text)), '\\s+') AS toks
              FROM documents),
        m AS (SELECT doc_id, source,
                CAST(len(toks) AS BIGINT) AS n_tok,
                CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE)
                  / len(toks) AS mwl,
                CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS dr,
                CAST(len(list_intersect(list_distinct(toks),
                  [${stopList.map(w => s"'$w'").mkString(",")}])) AS BIGINT) AS n_stop
              FROM t),
        f AS (SELECT doc_id, source,
                least(least(CAST(n_tok AS DOUBLE) / 30.0 - 1.0,
                  1.0 - CAST(n_tok AS DOUBLE) / 5000.0), 0.0) AS f_len,
                least(least(round(mwl, 6) - 4.0, 5.0 - round(mwl, 6)), 0.0) AS f_mwl,
                least(round(dr, 6) - 0.35, 0.0) AS f_dr,
                least(CAST(n_stop AS DOUBLE) - 2.0, 0.0) AS f_stop,
                (n_tok >= 30 AND n_tok <= 5000)
                  AND (mwl >= CAST(4.0 AS DOUBLE) AND mwl <= CAST(5.0 AS DOUBLE))
                  AND dr >= CAST(0.35 AS DOUBLE) AND n_stop >= 2 AS keep
              FROM m)"""

  /** The frozen-weight score as SQL — mirrors `scoreCol`'s left-assoc
    * accumulation order exactly. */
  private val lr1bZSql =
    s"(${lr1bW(0)} + f_len * ${lr1bW(1)} + f_mwl * ${lr1bW(2)}" +
      s" + f_dr * ${lr1bW(3)} + f_stop * ${lr1bW(4)})"

  /** LR1B — the SCORING stage of `lr1` behind FROZEN weights: given a
    * model checkpoint, `Fit.probCol` is a deterministic codegen'd
    * sigmoid over per-doc features ([[classifierFeats]]), so unlike the
    * Newton fit it takes a full hash oracle — every input to the
    * sigmoid is bit-identical across engines; `round(p, 6)` absorbs
    * nothing more than exp()'s final ulp. */
  private val lr1b = Q(
    "lr1b_classifier_apply",
    (s, d) => {
      val feats = classifierFeats(s, d)
      val fit = graft.functions.LogisticRegression.Fit(
        lr1bW, iters = 0, converged = true, logLik = 0.0, n = 0L)
      val fcols = Seq(col("f_len"), col("f_mwl"), col("f_dr"), col("f_stop"))
      feats.select(col("doc_id"),
        round(fit.probCol(fcols), 6).as("p_keep"),
        (fit.probCol(fcols) > 0.5).as("pred_keep"))
    },
    Some(s"""WITH $classifierFeatSql
          SELECT doc_id,
                 round(1.0 / (1.0 + exp(-$lr1bZSql)), 6) AS p_keep,
                 1.0 / (1.0 + exp(-$lr1bZSql)) > 0.5 AS pred_keep
          FROM f"""))

  /** AUC1 — classifier EVALUATION at scale: rank-based ROC AUC of the
    * FROZEN lr1b scorer against lr1's noisy rule labels, per `source`
    * block (the per-domain eval shape a curation pipeline reports). AUC
    * is computed exactly via the Mann–Whitney identity
    * AUC = (Σ_pos r̄ − n₁(n₁+1)/2)/(n₁n₀) with tie-AVERAGE ranks — the
    * same `2·min(rn)+ties−1` integer rank the d7/sp1 family uses, over
    * the 6-dp-ROUNDED score (the e1/rz1 rounded-before-ranking rule, so
    * both engines see identical tie structure). All integer arithmetic
    * up to the final division → hash-exact cross-engine.
    *
    * Scale shape: one narrow feature/score pass riding the scan, then a
    * per-source sort (the inherent cost of exact AUC — at 100 TB the
    * window partitions by eval domain, and a domain that can't sort
    * per-partition would move to a binned/approximate AUC, documented
    * trade). No driver math, no fact-sized collect. */
  /** Shared auc1/cal1 eval frame (Spark side): the frozen lr1b score
    * `p` (6-dp-rounded sigmoid) beside lr1's noisy rule label, one row
    * per (doc_id, source) — ONE copy so the two eval queries grade the
    * same scorer against the same labels. */
  private def labeledScores(s: SparkSession, d: String): DataFrame = {
    val feats = classifierFeats(s, d, carry = Seq("source"))
      .withColumn("noise",
        (Dedup.hash60(concat(lit("lr:"), col("doc_id").cast("string")))
          % 100L) < 10L)
      .withColumn("label", (col("keep") =!= col("noise")).cast("long"))
    val fit = graft.functions.LogisticRegression.Fit(
      lr1bW, iters = 0, converged = true, logLik = 0.0, n = 0L)
    val fcols = Seq(col("f_len"), col("f_mwl"), col("f_dr"), col("f_stop"))
    feats.select(col("doc_id"), col("source"), col("label"),
      round(fit.probCol(fcols), 6).as("p"))
  }

  /** SQL mirror of [[labeledScores]]: `classifierFeatSql` extended by
    * CTE `l` with (doc_id, source, label, p). */
  private val labeledScoreSql =
    s"""$classifierFeatSql,
          l AS (SELECT doc_id, source,
                  CASE WHEN keep !=
                    (${OracleSql.hash60("'lr:'||CAST(doc_id AS VARCHAR)")} % 100 < 10)
                    THEN 1 ELSE 0 END AS label,
                  round(1.0 / (1.0 + exp(-$lr1bZSql)), 6) AS p
                FROM f)"""

  private val auc1 = Q(
    "auc1_rank_auc",
    (s, d) =>
      graft.functions.Stats.rankAuc(
        labeledScores(s, d), "source", "label", "p", "doc_id"),
    Some {
      s"""WITH $labeledScoreSql,
          r0 AS (SELECT source, label, p,
                   row_number() OVER (PARTITION BY source
                     ORDER BY p, doc_id) AS rn
                 FROM l),
          r AS (SELECT source, label,
                  2 * min(rn) OVER (PARTITION BY source, p)
                    + count(*) OVER (PARTITION BY source, p) - 1 AS rx
                FROM r0),
          a AS (SELECT source, CAST(sum(label) AS BIGINT) AS n_pos,
                  CAST(count(*) - sum(label) AS BIGINT) AS n_neg,
                  -- no BIGINT cast: srx stays HUGEINT so the oracle keeps
                  -- the same >2^63 headroom the engine's DECIMAL(38,0)
                  -- accumulator has (a BIGINT cast here would make the
                  -- oracle the first to overflow at ~2.1e9 rows/group,
                  -- inverting the documented parity rationale)
                  sum(CASE WHEN label = 1 THEN rx ELSE 0 END) AS srx
                FROM r GROUP BY source)
          SELECT source, n_pos, n_neg,
            round(CAST(srx - CAST(n_pos AS HUGEINT) * (n_pos + 1) AS DOUBLE)
              / (2.0 * n_pos * n_neg), 6) AS auc
          FROM a WHERE n_pos > 0 AND n_neg > 0"""
    })

  /** CAL1 — classifier CALIBRATION at scale: the reliability-diagram
    * aggregate (per-(source, decile-of-p) count, mean predicted p,
    * observed positive rate) plus the per-bin Brier contribution, over
    * the same frozen-scorer-vs-noisy-labels frame auc1 grades
    * ([[labeledScores]]). auc1 answers "does the scorer RANK well";
    * cal1 answers "do its probabilities MEAN anything" — the two
    * standard eval surfaces a curation pipeline reports side by side.
    *
    * Scale shape: pure partial+final hash agg keyed by (source, bin) —
    * unlike auc1 there is no per-domain sort, so this is the eval that
    * stays one-scan cheap at any corpus size (output = sources × ≤10
    * rows).
    *
    * Cross-engine exactness: p is 6-dp-rounded, so pm = round(p·10⁶) is
    * an exact integer on both engines; mean_p, frac_pos and the Brier
    * sum Σ(pm − label·10⁶)² are integer sums divided once — the Brier
    * term reaches 10¹² per row, so its sum accumulates in DECIMAL(38,0)
    * (engine) / HUGEINT (oracle) like sp1/ols1; a LONG sum would wrap
    * past ~9e6 rows per bin. The decile floor(p·10) is computed from
    * the same double on both sides; p = 1.0 clamps into bin 9. */
  private val cal1 = Q(
    "cal1_calibration_bins",
    (s, d) => {
      val b = labeledScores(s, d)
        .withColumn("pm", round(col("p") * lit(1000000.0)).cast("long"))
        .withColumn("bin",
          least(floor(col("p") * lit(10.0)).cast("long"), lit(9L)))
      b.groupBy(col("source"), col("bin")).agg(
          count(lit(1)).as("n"),
          round(sum(col("pm")).cast("double") /
            (count(lit(1)).cast("double") * lit(1000000.0)), 6).as("mean_p"),
          round(sum(col("label")).cast("double") /
            count(lit(1)).cast("double"), 6).as("frac_pos"),
          round(sum(((col("pm") - col("label") * lit(1000000L)) *
              (col("pm") - col("label") * lit(1000000L)))
              .cast(org.apache.spark.sql.types.DecimalType(38, 0)))
            .cast("double") /
            (count(lit(1)).cast("double") * lit(1.0e12)), 6).as("brier"))
    },
    Some(s"""WITH $labeledScoreSql,
          b AS (SELECT source, label, p,
                  CAST(round(p * 1000000.0) AS BIGINT) AS pm,
                  least(CAST(floor(p * 10.0) AS BIGINT), 9) AS bin
                FROM l)
          SELECT source, bin, CAST(count(*) AS BIGINT) AS n,
            round(CAST(sum(pm) AS DOUBLE)
              / (CAST(count(*) AS DOUBLE) * 1000000.0), 6) AS mean_p,
            round(CAST(sum(label) AS DOUBLE)
              / CAST(count(*) AS DOUBLE), 6) AS frac_pos,
            round(CAST(sum((pm - label * 1000000) * (pm - label * 1000000))
                AS DOUBLE)
              / (CAST(count(*) AS DOUBLE) * 1000000000000.0), 6) AS brier
          FROM b GROUP BY source, bin"""))

  // ---------------------------------------------------- scd1: type-2 history

  /** SCD1 — slowly-changing-dimension TYPE-2 history from the sd1
    * snapshot pair: one row per (doc, content version) with
    * `[valid_from, valid_to)` effective epochs and a current flag —
    * removed docs close at epoch 2, changed docs carry a closed old row
    * plus an open new one, unchanged docs keep one open row from epoch 1.
    * ONE full-outer hash join + a per-row array explode (≤ 2 versions
    * here) — the standard warehouse versioning build, scan-shaped and
    * co-locating for free when snapshots are bucketed by the key. */
  private val scd1 = Q(
    "scd1_dimension_history",
    (s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val old = docs.filter(col("doc_id") % 17 =!= 3)
        .select(col("doc_id"), md5(col("text")).as("old_md5"))
      val nw = docs.filter(col("doc_id") % 19 =!= 7)
        .select(col("doc_id"), md5(when(col("doc_id") % 13 === 5,
          concat(col("text"), lit(" rev2"))).otherwise(col("text"))).as("new_md5"))
      def ver(m: Column, from: Column, to: Column, cur: Column) =
        struct(m.as("content_md5"), from.cast("long").as("valid_from"),
          to.cast("long").as("valid_to"), cur.as("is_current"))
      val nullL = lit(null).cast("long")
      old.join(nw, Seq("doc_id"), "full_outer")
        .select(col("doc_id"), explode(
          when(col("old_md5").isNull,
            array(ver(col("new_md5"), lit(2), nullL, lit(true))))
          .when(col("new_md5").isNull,
            array(ver(col("old_md5"), lit(1), lit(2), lit(false))))
          .when(col("old_md5") =!= col("new_md5"),
            array(ver(col("old_md5"), lit(1), lit(2), lit(false)),
              ver(col("new_md5"), lit(2), nullL, lit(true))))
          .otherwise(array(ver(col("old_md5"), lit(1), nullL, lit(true)))))
          .as("v"))
        .select(col("doc_id"), col("v.*"))
    },
    Some("""WITH o AS (SELECT doc_id, md5(text) AS old_md5 FROM documents
                       WHERE doc_id % 17 <> 3),
             n AS (SELECT doc_id,
                     md5(CASE WHEN doc_id % 13 = 5 THEN text || ' rev2'
                              ELSE text END) AS new_md5
                   FROM documents WHERE doc_id % 19 <> 7),
             j AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
                     o.old_md5, n.new_md5
                   FROM o FULL JOIN n ON o.doc_id = n.doc_id)
             SELECT doc_id, old_md5 AS content_md5,
               CAST(1 AS BIGINT) AS valid_from, CAST(2 AS BIGINT) AS valid_to,
               false AS is_current
             FROM j
             WHERE old_md5 IS NOT NULL
               AND (new_md5 IS NULL OR new_md5 <> old_md5)
             UNION ALL
             SELECT doc_id, new_md5,
               CAST(CASE WHEN old_md5 IS NULL OR old_md5 <> new_md5
                    THEN 2 ELSE 1 END AS BIGINT),
               CAST(NULL AS BIGINT), true
             FROM j WHERE new_md5 IS NOT NULL"""))

  // ------------------------------------------------------- dr1: mixture drift

  /** DR1 — population-stability-index drift between two corpus snapshots
    * (the monitoring metric a recurring crawl pipeline alarms on): per
    * source, share in the old vs new snapshot (sd1's deterministic
    * snapshot views) and the PSI contribution (p_new − p_old)·ln(p_new /
    * p_old); Σ < 0.1 is the conventional "stable" band. Two stratum-
    * cardinality censuses + broadcast totals — the corpus is touched by
    * exactly two narrow passes, output is source-sized. */
  private val dr1 = Q(
    "dr1_mixture_drift",
    (s, d) => {
      val docs = Tables.documents(s, d)
      def census(f: Column) = docs.filter(f).groupBy("source")
        .agg(count(lit(1)).as("n"))
      val a = census(col("doc_id") % 17 =!= 3)
        .select(col("source"), col("n").as("n_a"))
      val b = census(col("doc_id") % 19 =!= 7)
        .select(col("source"), col("n").as("n_b"))
      val ta = a.agg(sum(col("n_a")).as("t_a"))
      val tb = b.agg(sum(col("n_b")).as("t_b"))
      a.join(b, "source")
        .crossJoin(broadcast(ta)).crossJoin(broadcast(tb))
        .withColumn("p_old", col("n_a").cast("double") / col("t_a"))
        .withColumn("p_new", col("n_b").cast("double") / col("t_b"))
        .withColumn("psi",
          round((col("p_new") - col("p_old")) * log(col("p_new") / col("p_old")), 6))
        .select(col("source"), round(col("p_old"), 6).as("p_old"),
          round(col("p_new"), 6).as("p_new"), col("psi"))
    },
    Some("""WITH a AS (SELECT source, CAST(count(*) AS BIGINT) AS n_a
                       FROM documents WHERE doc_id % 17 <> 3 GROUP BY source),
             b AS (SELECT source, CAST(count(*) AS BIGINT) AS n_b
                   FROM documents WHERE doc_id % 19 <> 7 GROUP BY source),
             ta AS (SELECT CAST(sum(n_a) AS BIGINT) AS t_a FROM a),
             tb AS (SELECT CAST(sum(n_b) AS BIGINT) AS t_b FROM b),
             j AS (SELECT source,
                     CAST(n_a AS DOUBLE) / t_a AS p_old,
                     CAST(n_b AS DOUBLE) / t_b AS p_new
                   FROM a JOIN b USING (source) CROSS JOIN ta CROSS JOIN tb)
             SELECT source, round(p_old, 6) AS p_old, round(p_new, 6) AS p_new,
               round((p_new - p_old) * ln(p_new / p_old), 6) AS psi
             FROM j"""))

  // ------------------------------------------------------- sd1: snapshot diff

  /** SD1 — corpus snapshot diff (the dataset-versioning audit between two
    * crawls/releases): added / removed / changed docs by content hash.
    * Two deterministic snapshot views are derived from the one table
    * (docs with id%17=3 arrive only in the new snapshot, id%19=7 only in
    * the old, id%13=5 change text between them), then ONE full-outer
    * hash join on doc_id compares md5s — the scan-shaped diff that
    * co-locates for free when both snapshots are bucketed by doc_id.
    * Unchanged docs are dropped (the audit output stays |delta|-sized,
    * not corpus-sized). */
  private val sd1 = Q(
    "sd1_snapshot_diff",
    (s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val old = docs.filter(col("doc_id") % 17 =!= 3)
        .select(col("doc_id"), md5(col("text")).as("old_md5"))
      val nw = docs.filter(col("doc_id") % 19 =!= 7)
        .select(col("doc_id"), md5(when(col("doc_id") % 13 === 5,
          concat(col("text"), lit(" rev2"))).otherwise(col("text"))).as("new_md5"))
      old.join(nw, Seq("doc_id"), "full_outer")
        .withColumn("status",
          when(col("old_md5").isNull, "added")
            .when(col("new_md5").isNull, "removed")
            .when(col("old_md5") =!= col("new_md5"), "changed")
            .otherwise("unchanged"))
        .filter(col("status") =!= "unchanged")
        .select("doc_id", "status", "old_md5", "new_md5")
    },
    Some("""WITH o AS (SELECT doc_id, md5(text) AS old_md5 FROM documents
                       WHERE doc_id % 17 <> 3),
             n AS (SELECT doc_id,
                     md5(CASE WHEN doc_id % 13 = 5 THEN text || ' rev2'
                              ELSE text END) AS new_md5
                   FROM documents WHERE doc_id % 19 <> 7),
             j AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
                     o.old_md5, n.new_md5
                   FROM o FULL JOIN n ON o.doc_id = n.doc_id)
             SELECT doc_id,
               CASE WHEN old_md5 IS NULL THEN 'added'
                    WHEN new_md5 IS NULL THEN 'removed'
                    ELSE 'changed' END AS status,
               old_md5, new_md5
             FROM j
             WHERE old_md5 IS NULL OR new_md5 IS NULL OR old_md5 <> new_md5"""))

  // ------------------------------------------------------- ds1: DSIR select

  private val dsTarget = "src7"
  private val dsTopN = 50
  private val dsAlpha = 0.5

  /** DS1 — DSIR-style importance-weighted data selection (Xie et al.
    * 2023): score every raw document by the mean per-token log-likelihood
    * ratio between a TARGET unigram LM (here the `src7` slice standing in
    * for "high-quality domain") and the RAW-corpus unigram LM, keep the
    * top-`dsTopN`. Add-α smoothing (α=0.5 over the raw vocab) keeps
    * target-unseen terms finite; raw probabilities need none — every
    * scored term is in the raw corpus by construction.
    *
    * Scale shape: one corpus pass to (doc, term) counts; model tables are
    * vocab-sized and join by term; the three corpus scalars (raw total,
    * vocab size, target total) ride 1-row broadcast cross joins; the
    * selection is a global top-N = TakeOrderedAndProject, never a full
    * sort. The ranking key is `round(w, 9)` on BOTH engines (the tf1
    * convention) so ulp-level sum association cannot flip membership. */
  private val ds1 = Q(
    "ds1_dsir_select",
    (s, d) => graft.api.Corpus.dsirScores(Tables.documents(s, d),
        targetPred = col("source") === dsTarget, alpha = dsAlpha)
      .orderBy(round(col("w"), 9).desc, col("doc_id"))
      .limit(dsTopN)
      .select(col("doc_id"), col("source"), col("n_tokens"),
        round(col("w"), 6).as("weight")),
    Some(s"""WITH t AS ($toksSql),
             tok AS (SELECT doc_id, source, unnest(toks) AS term FROM t),
             tc AS (SELECT doc_id, source, term, CAST(count(*) AS BIGINT) AS k
                    FROM tok GROUP BY 1, 2, 3),
             raw AS (SELECT term, CAST(sum(k) AS BIGINT) AS cr FROM tc GROUP BY 1),
             tgt AS (SELECT term, CAST(sum(k) AS BIGINT) AS ct
                     FROM tc WHERE source = '$dsTarget' GROUP BY 1),
             rt AS (SELECT CAST(sum(cr) AS BIGINT) AS tr,
                      CAST(count(*) AS BIGINT) AS v FROM raw),
             gt AS (SELECT CAST(coalesce(sum(ct), 0) AS BIGINT) AS tt FROM tgt),
             st AS (SELECT raw.term,
                      ln((coalesce(tgt.ct, 0) + CAST($dsAlpha AS DOUBLE))
                         / (gt.tt + CAST($dsAlpha AS DOUBLE) * rt.v))
                      - ln(raw.cr / rt.tr) AS lr
                    FROM raw LEFT JOIN tgt USING (term)
                    CROSS JOIN rt CROSS JOIN gt),
             sc AS (SELECT tc.doc_id, tc.source, CAST(sum(tc.k) AS BIGINT) AS n_tokens,
                      sum(tc.k * st.lr) / sum(tc.k) AS w
                    FROM tc JOIN st USING (term) GROUP BY 1, 2)
             SELECT doc_id, source, n_tokens, round(w, 6) AS weight
             FROM sc ORDER BY round(w, 9) DESC, doc_id LIMIT $dsTopN"""))

  /** QS1 — top-p% selection: keep each language's longest 10% of
    * documents, threshold = the EXACT per-group p90 via the two-phase
    * Ranks.quantiles (no one-task sort), joined back as a broadcast
    * (one row per language). This is the quality-threshold selection
    * step of a curation pipeline (score here = n_chars so the oracle
    * stays integer-exact; a model score column composes identically).
    * Ties at the threshold are kept — ">= exact p90" semantics. */
  private val qs1 = Q(
    "qs1_topp_select",
    (s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "lang", "n_chars")
      val thr = Ranks.quantiles(docs, Seq("lang"), "n_chars", "doc_id",
          Seq("p90" -> 0.90))
        .select(col("lang"), col("p90"))
      docs.join(broadcast(thr), Seq("lang"))
        .filter(col("n_chars") >= col("p90"))
        .select("doc_id", "lang", "n_chars")
    },
    Some("""WITH r AS (SELECT lang, n_chars, doc_id,
                         row_number() OVER (PARTITION BY lang
                           ORDER BY n_chars, doc_id) AS rn,
                         count(*) OVER (PARTITION BY lang) AS n
                       FROM documents),
            thr AS (SELECT lang,
                      max(CASE WHEN rn = CAST(ceil(n * 0.90) AS BIGINT)
                          THEN n_chars END) AS p90
                    FROM r GROUP BY lang)
            SELECT d.doc_id, d.lang, d.n_chars
            FROM documents d JOIN thr ON d.lang = thr.lang
            WHERE d.n_chars >= thr.p90"""))

  /** DQ1 — data-profiling report (the pre-flight audit every ingest
    * runs): per column of `customer`, row count, null count, distinct
    * count. ONE pass over the table — Spark plans the multi-distinct
    * agg as a single Expand + partial/final hash agg (rows × columns,
    * map-side combined), then a 1-row→5-row stack; nothing here is
    * driver-side. All outputs are integers — exact on both engines. */
  private val dq1 = Q(
    "dq1_profile",
    (s, d) => {
      val cols = Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal",
        "c_mktsegment")
      val aggs = count(lit(1)).as("n_rows") +:
        cols.flatMap(c => Seq(count(col(c)).as(s"nn_$c"),
          count_distinct(col(c)).as(s"nd_$c")))
      val one = Tables.customer(s, d).agg(aggs.head, aggs.tail: _*)
      val stacked = cols.map(c =>
        s"'$c', n_rows, n_rows - nn_$c, nd_$c").mkString(", ")
      one.selectExpr(s"stack(${cols.size}, $stacked) AS " +
        "(col_name, n_rows, n_nulls, n_distinct)")
    },
    Some("""SELECT 'c_custkey' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(count(*) - count(c_custkey) AS BIGINT) AS n_nulls,
                   CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_distinct
            FROM customer
            UNION ALL
            SELECT 'c_name', CAST(count(*) AS BIGINT),
                   CAST(count(*) - count(c_name) AS BIGINT),
                   CAST(count(DISTINCT c_name) AS BIGINT) FROM customer
            UNION ALL
            SELECT 'c_nationkey', CAST(count(*) AS BIGINT),
                   CAST(count(*) - count(c_nationkey) AS BIGINT),
                   CAST(count(DISTINCT c_nationkey) AS BIGINT) FROM customer
            UNION ALL
            SELECT 'c_acctbal', CAST(count(*) AS BIGINT),
                   CAST(count(*) - count(c_acctbal) AS BIGINT),
                   CAST(count(DISTINCT c_acctbal) AS BIGINT) FROM customer
            UNION ALL
            SELECT 'c_mktsegment', CAST(count(*) AS BIGINT),
                   CAST(count(*) - count(c_mktsegment) AS BIGINT),
                   CAST(count(DISTINCT c_mktsegment) AS BIGINT) FROM customer"""))

  // ------------------------------------------------------- dc1: source cap

  private val dcCap = 10
  private val dcSeed = "17"

  /** DC1 — per-domain document cap (the C4/RefinedWeb anti-spam rule: no
    * single source may contribute more than `dcCap` documents to the
    * training mix): keep the `dcCap` lowest-seeded-hash documents per
    * source, with the full per-source count kept as the audit column.
    * The keep-set selection is the O(k)-state `priority_topk` aggregate —
    * one partial+final hash aggregation; a hot domain with 10⁹ documents
    * ships k rows per (domain, partition), never a per-domain window
    * sort. Which docs survive is a pure function of (seed, doc_id) —
    * stable under retries, layouts, and engines — and re-capping with a
    * different seed is a one-constant change. Hash priorities are
    * reduced mod 2^53 so the DOUBLE priority the aggregate orders by is
    * exact (bit-identical ordering to the oracle's BIGINT sort key). */
  private val dc1 = Q(
    "dc1_source_cap",
    (s, d) => {
      val keyed = Tables.documents(s, d).select(col("source"), col("doc_id"),
        (Dedup.hash60(concat(lit(dcSeed + ":"), col("doc_id").cast("string")))
          % lit(9007199254740992L)).as("pk"))
      keyed.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          GraftFunctions.priorityTopK(
            col("pk").cast("double"), col("doc_id"), dcCap).as("kept"))
        .select(col("source"), col("n_docs"),
          posexplode(col("kept")).as(Seq("pos0", "doc_id")))
        .select(col("source"), col("n_docs"),
          (col("pos0") + 1).cast("long").as("pos"), col("doc_id"))
    },
    Some(s"""WITH k AS (SELECT source, doc_id,
                 ${OracleSql.hash60(s"'$dcSeed:'||CAST(doc_id AS VARCHAR)")}
                   % 9007199254740992 AS pk
               FROM documents),
             n AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
                   FROM k GROUP BY source),
             r AS (SELECT source, doc_id,
                     CAST(row_number() OVER (PARTITION BY source
                       ORDER BY pk, doc_id) AS BIGINT) AS pos
                   FROM k)
             SELECT r.source, n.n_docs, r.pos, r.doc_id
             FROM r JOIN n USING (source) WHERE r.pos <= $dcCap"""))

  // ------------------------------------------------- dp1: DP count release

  /** Per-release privacy budget for dp1. Sensitivity is 1 (each document
    * contributes to exactly one (source, lang) count), so the two-sided
    * geometric mechanism with alpha = e^(-eps) is eps-differentially
    * private (Ghosh-Roughgarden-Sundararajan). */
  private val dpEps = 1.0

  /** Survival thresholds of the one-sided Geometric(1 - e^(-eps)) on the
    * 60-bit hash range: G >= k  <=>  u < alpha^k  <=>  h < floor(alpha^k
    * * 2^60). Computed ONCE driver-side and embedded as the SAME
    * literals in both the Spark plan and the oracle SQL (the bs1
    * Poisson-ladder pattern), so the inverse-CDF draw is exact-integer
    * on both engines. Truncated at k = 30: P(G > 30) = e^-30 ~ 9.4e-14
    * per side — an immaterial tail clip, identical by construction. */
  private val geomThresholds: Seq[Long] =
    (1 to 30).map(k =>
      math.floor(math.exp(-k * dpEps) * math.pow(2.0, 60)).toLong)

  /** G = max{k : h < t_k} (0 if none) — the geometric draw as a
    * when-ladder over the embedded thresholds. */
  private def geomDraw(h: Column): Column =
    geomThresholds.zipWithIndex.foldLeft(lit(0L): Column) {
      case (acc, (t, i)) => when(h < t, lit((i + 1).toLong)).otherwise(acc)
    }

  /** SQL mirror of [[geomDraw]] — descending CASE ladder, same max-k
    * semantics (thresholds decrease in k, so the first match from the
    * smallest threshold up is the max). */
  private def geomDrawSql(h: String): String = {
    val ladder = geomThresholds.zipWithIndex.reverse
      .map { case (t, i) => s"WHEN $h < $t THEN ${i + 1}" }.mkString(" ")
    s"CASE $ladder ELSE 0 END"
  }

  /** DP1 — two-sided-geometric noisy-count release mechanism, TEST-MODE
    * ONLY: **the committed form is NOT differentially private and must
    * not be used as a release mechanism as-is.** Its noise draws are
    * deterministic 60-bit hashes of the PUBLIC group key (the bs1
    * reproducible-replica convention, needed so the query is
    * hash-oracleable), so anyone can recompute G1 − G2 and invert
    * `noisy_n` back to the exact true count. What this query exercises —
    * and what IS the eps-DP mechanism once the hash is swapped for a
    * sealed RNG seed, with mechanism/ladder/arithmetic unchanged — is
    * the integer analogue of the Laplace mechanism (Ghosh–Roughgarden–
    * Sundararajan two-sided geometric, eps = 1, sensitivity 1 since each
    * document lands in exactly one (source, lang) cell): per-group
    * document counts released as noisy_n = n + G1 − G2, the governance
    * surface for publishing training-data composition stats without
    * certifying any individual document's membership.
    *
    * Scale shape: one partial+final count agg (group cardinality =
    * sources x langs), noise is per-GROUP map math on the tiny
    * aggregated frame — free at any corpus size. */
  private val dp1 = Q(
    "dp1_noisy_counts",
    (s, d) => {
      val h1 = Dedup.hash60(
        concat(lit("dp:a:"), col("source"), lit(":"), col("lang")))
      val h2 = Dedup.hash60(
        concat(lit("dp:b:"), col("source"), lit(":"), col("lang")))
      Tables.documents(s, d)
        .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("n_true"))
        .select(col("source"), col("lang"),
          (col("n_true") + geomDraw(h1) - geomDraw(h2)).as("noisy_n"))
    },
    Some(s"""WITH c AS (SELECT source, lang,
                   CAST(count(*) AS BIGINT) AS n_true
                 FROM documents GROUP BY 1, 2)
             SELECT source, lang,
               n_true + ${geomDrawSql(OracleSql.hash60("'dp:a:'||source||':'||lang"))}
                 - ${geomDrawSql(OracleSql.hash60("'dp:b:'||source||':'||lang"))}
                 AS noisy_n
             FROM c"""))

  /** CM1 — the confusion-matrix eval completing the frozen-classifier
    * report beside auc1 (ranking) and cal1 (calibration): per `source`,
    * TP/FP/FN/TN of the 0.5-threshold decision against the noisy rule
    * labels, with precision, recall and F1. Pure integer counts from ONE
    * partial+final hash agg (same single-exchange shape as cal1); the
    * three ratios are single divisions of exact integers with NULL on
    * empty denominators, identically guarded on both engines (F1 from
    * the count identity 2TP/(2TP+FP+FN) — one division, no compounded
    * rounding through precision/recall). */
  private val cm1 = Q(
    "cm1_confusion_matrix",
    (s, d) => {
      val b = labeledScores(s, d)
        .withColumn("pred", (col("p") > 0.5).cast("long"))
      val cts = b.groupBy(col("source")).agg(
        sum(col("pred") * col("label")).as("tp"),
        sum(col("pred") * (lit(1L) - col("label"))).as("fp"),
        sum((lit(1L) - col("pred")) * col("label")).as("fn"),
        sum((lit(1L) - col("pred")) * (lit(1L) - col("label"))).as("tn"))
      cts.select(col("source"), col("tp"), col("fp"), col("fn"), col("tn"),
        when(col("tp") + col("fp") > 0,
          round(col("tp").cast("double") / (col("tp") + col("fp")), 6))
          .as("precision"),
        when(col("tp") + col("fn") > 0,
          round(col("tp").cast("double") / (col("tp") + col("fn")), 6))
          .as("recall"),
        when(lit(2L) * col("tp") + col("fp") + col("fn") > 0,
          round(lit(2.0) * col("tp") /
            (lit(2L) * col("tp") + col("fp") + col("fn")), 6)).as("f1"))
    },
    Some(s"""WITH $labeledScoreSql,
          b AS (SELECT source, label,
                  CASE WHEN p > 0.5 THEN 1 ELSE 0 END AS pred
                FROM l),
          c AS (SELECT source,
                  CAST(sum(pred * label) AS BIGINT) AS tp,
                  CAST(sum(pred * (1 - label)) AS BIGINT) AS fp,
                  CAST(sum((1 - pred) * label) AS BIGINT) AS fn,
                  CAST(sum((1 - pred) * (1 - label)) AS BIGINT) AS tn
                FROM b GROUP BY source)
          SELECT source, tp, fp, fn, tn,
            CASE WHEN tp + fp > 0
              THEN round(CAST(tp AS DOUBLE) / (tp + fp), 6) END AS precision,
            CASE WHEN tp + fn > 0
              THEN round(CAST(tp AS DOUBLE) / (tp + fn), 6) END AS recall,
            CASE WHEN 2 * tp + fp + fn > 0
              THEN round(2.0 * tp / (2 * tp + fp + fn), 6) END AS f1
          FROM c"""))

  // ---------------------------------------------- dm1: DoReMi mixture step

  /** DM1 — DoReMi-style domain-mixture reweighting STEP (Xie et al.
    * 2023, "DoReMi: Optimizing Data Mixtures Speeds Up Language Model
    * Pretraining"): per training domain (`source`), the exponentiated-
    * gradient update w_i ∝ exp(η·excess_i) over the domain's EXCESS
    * proxy loss — its mean per-doc unigram-LM NLL minus the corpus-wide
    * mean (the reference-model baseline stand-in; η = 1). The output is
    * the normalized next-round sampling weight per domain — the control
    * signal the mixture scheduler (tm1/sm2) consumes. Docs with no
    * tokens carry no LM score and are outside the mixture on both sides.
    *
    * Cross-engine exactness: per-doc NLL rides the lm1-proven chain and
    * is scaled to the exact integer smi = round(−mean_logprob·10⁶); all
    * domain/corpus means are integer-sum ratios in identical op order;
    * exp's final ulp is absorbed by the same ·10⁶ integer scaling BEFORE
    * the normalizing sum, so the weight denominator is exact (the lr1b
    * sigmoid precedent). NOTE both engines accumulate Σsmi in 64-bit
    * (long / BIGINT) — deliberately matched bounds, good to ~9e18 of
    * scaled NLL mass per domain (≈ 4e11 docs at 20 nats/token), unlike
    * the DECIMAL/HUGEINT pairs (auc1/bs1) whose products overflow 64
    * bits far sooner. Scale shape: the one heavy pass is the lm
    * chain itself; everything after is domain-cardinality (every
    * consumer reads the per-domain agg's one exchange, so the chain runs
    * once; both normalizing scalars ride broadcast 1-row cross joins). */
  private val dm1 = Q(
    "dm1_doremi_weights",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val ds = graft.api.Corpus.languageModelScores(docs)
        .select(col("doc_id"),
          round(-col("mean_logprob") * lit(1000000.0)).cast("long").as("smi"))
        .join(AnalyticsQueries.docColumnById(docs, "source"), col("doc_id") <=> col("d_id"))
        .groupBy(col("source")).agg(
          count(lit(1)).as("n_docs"), sum(col("smi")).as("ts"))
      val g = ds.agg(sum(col("n_docs")).as("gn"), sum(col("ts")).as("gs"))
      val e = ds.crossJoin(broadcast(g))
        .withColumn("mean_nll", col("ts").cast("double") /
          (col("n_docs").cast("double") * lit(1000000.0)))
        .withColumn("excess", greatest(lit(0.0),
          col("mean_nll") -
            col("gs").cast("double") / (col("gn").cast("double") * lit(1000000.0))))
        .withColumn("em", round(exp(col("excess")) * lit(1000000.0)).cast("long"))
      val z = e.agg(sum(col("em")).as("zt"))
      e.crossJoin(broadcast(z))
        .select(col("source"), col("n_docs"),
          round(col("mean_nll"), 6).as("mean_nll"),
          round(col("excess"), 6).as("excess"),
          round(col("em").cast("double") / col("zt").cast("double"), 6).as("weight"))
    },
    Some(s"""WITH ${AnalyticsQueries.lmDocSql},
          sc AS (SELECT doc_id,
                   CAST(round(-(s / n_tokens) * 1000000.0) AS BIGINT) AS smi
                 FROM d),
          ds AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(smi) AS BIGINT) AS ts
                 FROM sc JOIN documents USING (doc_id) GROUP BY source),
          g AS (SELECT CAST(sum(n_docs) AS BIGINT) AS gn,
                  CAST(sum(ts) AS BIGINT) AS gs FROM ds),
          e AS (SELECT source, n_docs,
                  CAST(ts AS DOUBLE) / (CAST(n_docs AS DOUBLE) * 1000000.0)
                    AS mean_nll,
                  greatest(0.0,
                    CAST(ts AS DOUBLE) / (CAST(n_docs AS DOUBLE) * 1000000.0)
                    - CAST(gs AS DOUBLE) / (CAST(gn AS DOUBLE) * 1000000.0))
                    AS excess
                FROM ds CROSS JOIN g),
          w AS (SELECT source, n_docs, mean_nll, excess,
                  CAST(round(exp(excess) * 1000000.0) AS BIGINT) AS em
                FROM e),
          z AS (SELECT CAST(sum(em) AS BIGINT) AS zt FROM w)
          SELECT source, n_docs, round(mean_nll, 6) AS mean_nll,
            round(excess, 6) AS excess,
            round(CAST(em AS DOUBLE) / CAST(zt AS DOUBLE), 6) AS weight
          FROM w CROSS JOIN z"""))

  def all: Seq[Q] = Seq(sh1, x7, ch1, sm2, tm1, dd7, rs1, ng1, ng2, ng3, ng4, ng5, ng6, cu1, lr1, lr1b, auc1,
    cal1, cm1, sd1, scd1, dr1, ds1, qs1, dq1, dc1, dp1, dm1)
}
