package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.expressions.GraftFunctions
import graft.operators.Ranks

/** Round-4 corpus/OLAP analytics: TF-IDF term ranking, unigram-LM document
  * scoring, batch sessionization, rollup aggregates, and winsorized
  * normalization. Every query carries a DuckDB oracle.
  *
  * Scale notes common to the text queries: token work explodes to
  * (doc, term) rows and aggregates by hash — never a per-doc collect; all
  * windows partition by doc or user (bounded rows per partition, the
  * event-table argument); corpus-level scalars (doc count, token total)
  * ride a 1-row broadcast cross join, the same shape as the VST trend.
  */
object AnalyticsQueries {

  private val toksSql =
    """SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
       FROM documents"""

  /** Shared per-doc unigram-LM CTE chain ending in
    * `d(doc_id, n_tokens, s)` where `s` is the summed ln-prob — the SQL
    * mirror of `Corpus.languageModelScores`, ONE copy serving the lm1
    * and dm1 oracles. */
  private[queries] val lmDocSql =
    s"""t AS ($toksSql),
             tok AS (SELECT doc_id, unnest(toks) AS term FROM t),
             tc AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS k
                    FROM tok GROUP BY 1, 2),
             gc AS (SELECT term, CAST(sum(k) AS BIGINT) AS c FROM tc GROUP BY 1),
             tot AS (SELECT CAST(sum(c) AS BIGINT) AS t_total FROM gc),
             d AS (SELECT tc.doc_id, CAST(sum(tc.k) AS BIGINT) AS n_tokens,
                     sum(CAST(tc.k AS DOUBLE)
                       * ln(CAST(gc.c AS DOUBLE) / tot.t_total)) AS s
                   FROM tc JOIN gc USING (term) CROSS JOIN tot
                   GROUP BY tc.doc_id)"""

  /** TF1 — TF-IDF top-3 terms per document: tf = term count / doc tokens,
    * idf = ln(N / df) (docs-containing-term), top 3 by score with a term
    * tiebreak. The ranking key is `round(score, 9)` on BOTH engines: tf,
    * df, N are integers so score bits match across engines except at ulp
    * level in `ln`; rounding to 9 absorbs that without disturbing any
    * real ordering. Per-doc rank windows are bounded by doc length. */
  private val tf1 = Q(
    "tf1_tfidf_topk",
    (s, d) => graft.api.Corpus.tfidfTopTerms(Tables.documents(s, d), topK = 3)
      .withColumn("score", round(col("score"), 6)),
    Some(s"""WITH t AS ($toksSql),
             tok AS (SELECT doc_id, unnest(toks) AS term FROM t),
             tc AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
                    FROM tok GROUP BY 1, 2),
             dn AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tok
                    FROM tc GROUP BY 1),
             df AS (SELECT term, CAST(count(*) AS BIGINT) AS df
                    FROM tc GROUP BY 1),
             nn AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM dn),
             sc AS (SELECT tc.doc_id, tc.term, tc.tf, df.df,
                      (CAST(tc.tf AS DOUBLE) / dn.n_tok)
                        * ln(CAST(nn.n_docs AS DOUBLE) / df.df) AS score
                    FROM tc JOIN dn USING (doc_id) JOIN df USING (term)
                    CROSS JOIN nn),
             r AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
                     ORDER BY round(score, 9) DESC, term) AS BIGINT) AS rnk
                   FROM sc)
             SELECT doc_id, term, tf, df, round(score, 6) AS score, rnk
             FROM r WHERE rnk <= 3"""))

  /** LM1 — unigram-LM document scoring (the perplexity-style quality
    * signal): corpus MLE p(t) = count(t)/total, per doc the token-count-
    * weighted mean of ln p(t) and its perplexity exp(−mean). No smoothing
    * needed — every scored token is in the corpus by construction. The
    * per-doc sum runs over grouped (doc, term) rows; `round(·, 6)` after
    * the division absorbs float association order on both engines. */
  private val lm1 = Q(
    "lm1_unigram_lm",
    (s, d) => graft.api.Corpus.languageModelScores(Tables.documents(s, d))
      .withColumn("mean_logprob", round(col("mean_logprob"), 6))
      .withColumn("ppl", round(col("ppl"), 6)),
    Some(s"""WITH $lmDocSql
             SELECT doc_id, n_tokens, round(s / n_tokens, 6) AS mean_logprob,
               round(exp(-(s / n_tokens)), 6) AS ppl
             FROM d"""))

  /** `(d_id, c)` of the docs with an id, for a `<=>` join to LM scores:
    * an `===` join would infer a NULL-id filter into the LM chain's
    * per-doc branch only, which then re-runs the corpus explode. */
  private[queries] def docColumnById(docs: DataFrame, c: String): DataFrame =
    docs.filter(col("doc_id").isNotNull).select(col("doc_id").as("d_id"), col(c))

  /** CC1 — CCNet-style perplexity bucketing (Wenzek et al. 2020,
    * "CCNet: Extracting High Quality Monolingual Datasets from Web Crawl
    * Data"): per LANGUAGE, documents sort by LM perplexity and split into
    * head / middle / tail terciles — the canonical crawl-curation gate
    * (train on head+middle, drop or down-weight tail). Thresholds come
    * from the two-phase exact quantile (`Ranks.quantiles` — rank
    * `ceil(n·q)` under a (ppl, doc_id) order, no one-task sort), rounded
    * ppl on BOTH engines so the tercile boundaries agree bit-for-bit;
    * the threshold frame is language-cardinality and broadcasts. */
  private val cc1 = Q(
    "cc1_ccnet_buckets",
    (s, d) => {
      val docs = Tables.documents(s, d)
      // cached: a count prunes the bucket side, which then re-runs the LM chain (1.41 → 1.76 s)
      val scores = graft.api.Corpus.languageModelScores(docs)
        .select(col("doc_id"), round(col("ppl"), 6).as("ppl"))
        .join(docColumnById(docs, "lang"), col("doc_id") <=> col("d_id"))
        .drop("d_id")
        .persist()
      val th = Ranks.quantiles(scores, Seq("lang"), "ppl", "doc_id",
        Seq(("t1", 1.0 / 3), ("t2", 2.0 / 3))).drop("n")
      val out = scores.join(broadcast(th), "lang")
        .withColumn("bucket",
          when(col("ppl") <= col("t1"), "head")
            .when(col("ppl") <= col("t2"), "middle")
            .otherwise("tail"))
        .select(col("doc_id"), col("lang"), col("ppl"), col("bucket"))
      graft.Caches.releaseAfterConsumers(Seq(out), scores)
      out
    },
    Some(s"""WITH t AS ($toksSql),
             tok AS (SELECT doc_id, unnest(toks) AS term FROM t),
             tc AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS k
                    FROM tok GROUP BY 1, 2),
             gc AS (SELECT term, CAST(sum(k) AS BIGINT) AS c FROM tc GROUP BY 1),
             tot AS (SELECT CAST(sum(c) AS BIGINT) AS t_total FROM gc),
             sc0 AS (SELECT tc.doc_id,
                       sum(CAST(tc.k AS DOUBLE)
                         * ln(CAST(gc.c AS DOUBLE) / tot.t_total))
                         / CAST(sum(tc.k) AS BIGINT) AS mlp
                     FROM tc JOIN gc USING (term) CROSS JOIN tot
                     GROUP BY tc.doc_id),
             sc AS (SELECT sc0.doc_id, round(exp(-mlp), 6) AS ppl, lang
                    FROM sc0 JOIN documents USING (doc_id)),
             r AS (SELECT *,
                     row_number() OVER (PARTITION BY lang ORDER BY ppl, doc_id) AS rnk,
                     count(*) OVER (PARTITION BY lang) AS n
                   FROM sc),
             th AS (SELECT lang,
                      max(CASE WHEN rnk = CAST(ceil(n * (1.0/3)) AS BIGINT)
                          THEN ppl END) AS t1,
                      max(CASE WHEN rnk = CAST(ceil(n * (2.0/3)) AS BIGINT)
                          THEN ppl END) AS t2
                    FROM r GROUP BY lang)
             SELECT doc_id, lang, ppl,
               CASE WHEN ppl <= t1 THEN 'head'
                    WHEN ppl <= t2 THEN 'middle'
                    ELSE 'tail' END AS bucket
             FROM sc JOIN th USING (lang)"""))

  private val sessionGapUs = 1800L * 1000000L // 30 min

  /** SE1 — batch sessionization of the event stream (the batch twin of the
    * streaming session windows): per user, a new session opens when the
    * gap to the previous event exceeds 30 min; lag + running sum of
    * boundary flags numbers the sessions, then one hash agg per session.
    * Timestamps compare in the µs domain on both engines (s2/aj1's
    * convention); per-user windows are bounded by that user's event count. */
  private val se1 = Q(
    "se1_sessionize",
    (s, d) => {
      val ev = Tables.events(s, d).select(col("event_id"), col("user_id"),
        Tables.eventTsMicros.as("tsu"), col("value"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("tsu"), col("event_id"))
      ev.withColumn("prev", lag(col("tsu"), 1).over(w))
        .withColumn("brk",
          when(col("prev").isNull || col("tsu") - col("prev") > sessionGapUs, 1L)
            .otherwise(0L))
        .withColumn("session_seq", sum(col("brk"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "session_seq")
        .agg(count(lit(1)).as("n_events"),
          min(col("tsu")).as("t_start_us"), max(col("tsu")).as("t_end_us"),
          (max(col("tsu")) - min(col("tsu"))).as("duration_us"),
          round(sum(col("value")), 6).as("total_value"))
    },
    Some(s"""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS tsu, value
                        FROM events),
             l AS (SELECT *, lag(tsu) OVER (PARTITION BY user_id
                     ORDER BY tsu, event_id) AS prev FROM e),
             b AS (SELECT *, CASE WHEN prev IS NULL OR tsu - prev > $sessionGapUs
                     THEN 1 ELSE 0 END AS brk FROM l),
             x AS (SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id
                     ORDER BY tsu, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS session_seq FROM b)
             SELECT user_id, session_seq, CAST(count(*) AS BIGINT) AS n_events,
               min(tsu) AS t_start_us, max(tsu) AS t_end_us,
               max(tsu) - min(tsu) AS duration_us,
               round(sum(value), 6) AS total_value
             FROM x GROUP BY 1, 2"""))

  /** RU1 — OLAP rollup: revenue and order counts by region → nation with
    * subtotal and grand-total rows (`ROLLUP`). Decimal-exact revenue sums
    * (association-order-proof, the fan1 pattern); the rollup level is
    * Spark's grouping-bit vector, mirrored in the oracle by the NULL
    * pattern — r_name/n_name are never organically NULL here, so nullness
    * identifies the subtotal rows without relying on DuckDB's GROUPING()
    * spelling. Runs through the engine's SQL surface: Spark 4.1's
    * ambiguous-self-join detector false-positives on DataFrame
    * `rollup` over a multi-join input (the Expand duplicates the grouping
    * attributes), while the identical plan through `spark.sql` analyzes
    * clean — and the catalog should exercise the SQL face anyway. */
  private val ru1 = Q(
    "ru1_rollup_revenue",
    (s, d) => {
      Tables.registerViews(s, d)
      s.sql("""SELECT r_name AS region, n_name AS nation,
                 CAST(count(*) AS BIGINT) AS n_orders,
                 CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
                 CAST(grouping_id() AS BIGINT) AS lvl
               FROM orders
               JOIN customer ON o_custkey = c_custkey
               JOIN nation ON c_nationkey = n_nationkey
               JOIN region ON n_regionkey = r_regionkey
               GROUP BY ROLLUP (r_name, n_name)""")
    },
    Some("""SELECT r_name AS region, n_name AS nation,
              CAST(count(*) AS BIGINT) AS n_orders,
              CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
              CASE WHEN r_name IS NULL THEN 3
                   WHEN n_name IS NULL THEN 1 ELSE 0 END AS lvl
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY ROLLUP (r_name, n_name)"""))

  /** SJ1 — flagship multi-table star join (the TPC-H Q5 shape): local
    * supplier revenue by nation for one region and one order year, over
    * customer ⋈ orders ⋈ lineitem ⋈ supplier ⋈ nation ⋈ region with the
    * Q5 cross-condition c_nationkey = s_nationkey. This is the catalog's
    * one 6-table warehouse query: every other join entry is 2-table, so
    * this is where Catalyst's multi-join PLANNING (not just execution)
    * is exercised and asserted.
    *
    * Deliberately written in comma-form FROM with all predicates as
    * WHERE conjuncts: the parser hands Catalyst an undifferentiated
    * cross-join bundle and the ReorderJoin/EliminateCrossJoin rules must
    * recover a join tree in which every join carries an equi-condition —
    * the join order in the executed plan is the OPTIMIZER's choice from
    * relation sizes, not this query's syntax. PlanSpec asserts the
    * outcome: zero cartesian/nested-loop joins, every dimension
    * (region, nation, supplier, customer) on the build side of a
    * BroadcastHashJoin, and the lineitem fact never broadcast.
    *
    * At 100 TB the same declarative form holds: region/nation prune to
    * one region before touching anything big, the dims broadcast below
    * the auto-broadcast threshold, and the only shuffle is
    * orders ⋈ lineitem on the order key (AQE picks SMJ/shuffled-hash
    * when the filtered orders side outgrows the broadcast threshold).
    *
    * Cross-engine exactness: revenue Σ price·(1−disc) follows the ru1
    * convention — cast to DECIMAL(18,2)/(4,2) BEFORE the product (the
    * discount grid is exact hundredths, so the product is an exact
    * scale-4 decimal), sum in decimal (association-order-proof), one
    * cast to double at the end. */
  private val sj1 = Q(
    "sj1_star_join",
    (s, d) => {
      Tables.registerViews(s, d)
      s.sql("""SELECT n_name AS nation,
                 CAST(count(*) AS BIGINT) AS n_items,
                 CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                   * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
                   AS revenue
               FROM customer, orders, lineitem, supplier, nation, region
               WHERE c_custkey = o_custkey
                 AND l_orderkey = o_orderkey
                 AND l_suppkey = s_suppkey
                 AND c_nationkey = s_nationkey
                 AND s_nationkey = n_nationkey
                 AND n_regionkey = r_regionkey
                 AND r_name = 'ASIA'
                 AND o_orderdate >= '1996-01-01'
                 AND o_orderdate < '1997-01-01'
               GROUP BY n_name""")
    },
    Some("""SELECT n_name AS nation,
              CAST(count(*) AS BIGINT) AS n_items,
              CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
                AS revenue
            FROM customer, orders, lineitem, supplier, nation, region
            WHERE c_custkey = o_custkey
              AND l_orderkey = o_orderkey
              AND l_suppkey = s_suppkey
              AND c_nationkey = s_nationkey
              AND s_nationkey = n_nationkey
              AND n_regionkey = r_regionkey
              AND r_name = 'ASIA'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1997-01-01'
            GROUP BY n_name"""))

  /** GS1 — arbitrary GROUPING SETS (the general form ROLLUP/CUBE
    * specialize): the report mixes heterogeneous aggregation levels —
    * (segment, priority), (segment), (priority) — in ONE Expand pass +
    * one hash agg, where three separate GROUP BYs would scan the join
    * three times. `grouping_id()` disambiguates the all-NULL cells on
    * both engines. */
  private val gs1 = Q(
    "gs1_grouping_sets",
    (s, d) => {
      Tables.registerViews(s, d)
      s.sql("""SELECT c_mktsegment AS segment, o_orderpriority AS priority,
                 CAST(count(*) AS BIGINT) AS n_orders,
                 CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
                 CAST(grouping_id() AS BIGINT) AS lvl
               FROM orders JOIN customer ON o_custkey = c_custkey
               GROUP BY GROUPING SETS ((c_mktsegment, o_orderpriority),
                 (c_mktsegment), (o_orderpriority))""")
    },
    Some("""SELECT c_mktsegment AS segment, o_orderpriority AS priority,
              CAST(count(*) AS BIGINT) AS n_orders,
              CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
              CASE WHEN c_mktsegment IS NOT NULL AND o_orderpriority IS NOT NULL
                     THEN 0
                   WHEN c_mktsegment IS NOT NULL THEN 1 ELSE 2 END AS lvl
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY GROUPING SETS ((c_mktsegment, o_orderpriority),
              (c_mktsegment), (o_orderpriority))"""))

  /** WZ1 — winsorized normalization: clamp `l_extendedprice` to its
    * per-flag [p01, p99] band. The quantiles come from the distinct-value
    * prefix scan (Ranks.quantilesByValue — the fact itself never takes a
    * range shuffle, only its tie-class frame does); the clamp is then a
    * broadcast join of the tiny per-group band frame back onto the fact,
    * a pure narrow map. Rank-quantile values are tie-order-independent,
    * so this is bit-identical to the rowwise-rank form the oracle runs. */
  private val wz1 = Q(
    "wz1_winsorize",
    (s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_returnflag").as("flag"), col("l_extendedprice").as("price"))
      val bands = Ranks.quantilesByValue(li, Seq("flag"), "price",
          Seq("p01" -> 0.01, "p99" -> 0.99))
        .select(col("flag"), col("p01"), col("p99"))
      li.join(broadcast(bands), "flag")
        .select(col("l_orderkey"), col("l_linenumber"), col("flag"),
          round(col("price"), 6).as("price"),
          round(least(greatest(col("price"), col("p01")), col("p99")), 6)
            .as("wins_price"),
          (col("price") < col("p01") || col("price") > col("p99")).as("clipped"))
    },
    Some("""WITH r AS (SELECT l_returnflag AS flag, l_extendedprice AS v,
                         row_number() OVER (PARTITION BY l_returnflag
                           ORDER BY l_extendedprice, l_orderkey) AS rn,
                         count(*) OVER (PARTITION BY l_returnflag) AS n
                       FROM lineitem),
            q AS (SELECT flag,
                    max(CASE WHEN rn = CAST(ceil(n * 0.01) AS BIGINT) THEN v END) AS p01,
                    max(CASE WHEN rn = CAST(ceil(n * 0.99) AS BIGINT) THEN v END) AS p99
                  FROM r GROUP BY flag)
            SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag AS flag,
              round(l.l_extendedprice, 6) AS price,
              round(least(greatest(l.l_extendedprice, q.p01), q.p99), 6) AS wins_price,
              l.l_extendedprice < q.p01 OR l.l_extendedprice > q.p99 AS clipped
            FROM lineitem l JOIN q ON l.l_returnflag = q.flag"""))

  /** RZ1 — robust z-score normalization per group: (x − median) /
    * (1.4826·MAD), the outlier-immune standardization (mean/stddev moves
    * with the outliers it should flag; median/MAD has a 50% breakdown
    * point — the same family as the GLM's robustDispForCooks). Both
    * exact quantile passes read ONE tie-class histogram's exchange:
    * the median from the (flag, price) classes, the MAD from the SAME
    * frame remapped to |price − med| rows (a narrow projection, r16 —
    * the fact itself is never re-aggregated). The fact is
    * touched twice: the histogram agg and the final narrow projection
    * against the broadcast (med, mad) row per group. Rank-quantile
    * values are exact column values, so both engines agree bit-for-bit
    * before the final round. */
  private val rz1 = Q(
    "rz1_robust_zscore",
    (s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_returnflag").as("flag"), col("l_extendedprice").as("price"))
      // NULL flags (which the output's join drops) leave the shared
      // histogram, not the MAD pass's copy only
      val cls = li.filter(col("flag").isNotNull)
        .groupBy(col("flag"), col("price"))
        .agg(count(lit(1)).as("__c"))
      val med = Ranks.quantilesOfClasses(cls, Seq("flag"), "price", "__c",
          Seq("med" -> 0.5))
        .select(col("flag"), col("med"))
      // MAD classes from the histogram directly — r5 routed this
      // through the median's ranked frame, paying that pass's window +
      // offsets join a second time for columns (flag, price, __c) the
      // histogram already holds (the r5→r6 rz1 cut, ~25% off the in-suite
      // time). `med` rides the grouping keys (constant per flag), so the
      // stat frame stays ONE subplan with the median chain inside it.
      // r16: NO re-aggregation into unique |price−med| classes — the
      // rank-quantile selection is tie-order-independent over duplicate
      // class values (whichever duplicate row's cumulative interval
      // covers the target rank carries the same adev), so the raw
      // remapped rows feed the prefix scan directly. Interleaved A/B
      // (OPTIMIZATION_r16.md:144, 8 warm pairs): agg form mean 5.8 s vs
      // raw 5.2 s — the symmetric-merge agg's full-frame exchange costs
      // more than the ~2× row reduction saves the range scan; output
      // hash identical both forms.
      val devCls = cls.join(broadcast(med), "flag")
        .select(col("flag"), col("med"),
          abs(col("price") - col("med")).as("adev"), col("__c"))
      val stats = Ranks.quantilesOfClasses(devCls, Seq("flag", "med"),
          "adev", "__c", Seq("mad" -> 0.5))
        .select(col("flag"), col("med"), col("mad"))
      li.join(broadcast(stats), "flag")
        .select(col("l_orderkey"), col("l_linenumber"), col("flag"),
          round(col("price"), 6).as("price"),
          round((col("price") - col("med")) / (lit(1.4826) * col("mad")), 6)
            .as("robust_z"))
    },
    Some("""WITH r AS (SELECT l_orderkey, l_linenumber,
                         l_returnflag AS flag, l_extendedprice AS v,
                         row_number() OVER (PARTITION BY l_returnflag
                           ORDER BY l_extendedprice, l_orderkey) AS rn,
                         count(*) OVER (PARTITION BY l_returnflag) AS n
                       FROM lineitem),
            m AS (SELECT flag,
                    max(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT) THEN v END)
                      AS med
                  FROM r GROUP BY flag),
            d AS (SELECT r.l_orderkey, r.l_linenumber, r.flag, r.v,
                    abs(r.v - m.med) AS adev, m.med,
                    row_number() OVER (PARTITION BY r.flag
                      ORDER BY abs(r.v - m.med), r.l_orderkey) AS rn2,
                    count(*) OVER (PARTITION BY r.flag) AS n2
                  FROM r JOIN m USING (flag)),
            q AS (SELECT flag,
                    max(CASE WHEN rn2 = CAST(ceil(n2 * 0.5) AS BIGINT) THEN adev END)
                      AS mad
                  FROM d GROUP BY flag)
            SELECT d.l_orderkey, d.l_linenumber, d.flag,
              round(d.v, 6) AS price,
              round((d.v - d.med) / (1.4826 * q.mad), 6) AS robust_z
            FROM d JOIN q USING (flag)"""))

  private val fzMaxChars = 200L
  private val fzMaxDist = 20L
  // hot-bucket cap, interpolated into BOTH the Spark side and the oracle
  // SQL: non-binding through sf1.0 (max observed bucket 308); its binding
  // regime is exercised synthetically in CorpusSpec
  private val fzMaxBucket = 1000L

  /** FZ1 — fuzzy near-duplicate pairs by edit distance — the
    * character-level complement to the token-level dedup family (dd2–dd4):
    * catches small in-word edits n-gram shingles miss. Scale shape:
    *
    *  - **Length-banded blocking.** The join key is (source, length band
    *    of width maxDist+1), each doc emitted into its own band and the
    *    next (a qualifying pair differs by ≤ maxDist chars, so it shares
    *    at least the HIGHER of the two bands — requiring the met band to
    *    equal `greatest(band_a, band_b)` counts each pair exactly once).
    *    Join-key cardinality is sources × bands, so parallelism scales
    *    with the corpus instead of capping at the source count.
    *  - **Length prune in the join condition** (edit distance ≥ length
    *    difference), so pruned pairs never materialize.
    *  - **Threshold-bounded Levenshtein**: the 3-arg `levenshtein` runs a
    *    banded O(n·maxDist) DP with early exit (−1 beyond the bound)
    *    instead of the full O(n·m) table; the oracle computes the plain
    *    distance and filters — same pair set.
    *  - Documents are bounded to 200 chars by the operator contract (edit
    *    distance on long texts belongs to the shingle family instead). */
  private val fz1 = Q(
    "fz1_fuzzy_pairs",
    // The synthetic corpus has no organic short-text near-dups (closest
    // organic pair at sf0.01 sits at distance 44), so deterministic TWIN
    // docs are INJECTED on both engines (the x6 PII pattern): every 7th
    // short doc gains a copy with a 4-char suffix at doc_id + 10^7. The
    // oracle then actually exercises the banded-distance path instead of
    // vacuously matching an empty result.
    (s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "source", "text", "n_chars")
      val twins = docs
        .filter(col("doc_id") % 7 === 0 && col("n_chars") <= fzMaxChars - 4)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("source"),
          concat(col("text"), lit(" abc")).as("text"),
          (col("n_chars") + 4).as("n_chars"))
      graft.api.Corpus.fuzzyDuplicates(docs.unionByName(twins),
        maxChars = fzMaxChars.toInt, maxDist = fzMaxDist.toInt,
        maxBucket = fzMaxBucket.toInt)
    },
    // the oracle replays the banded join + bucket cap literally (the
    // mm3/mm4 convention): band0 = len // (maxDist+1), each doc in its
    // own and the next band, pair met once in greatest(band_a, band_b),
    // buckets over the cap dropped on both engines
    Some(s"""WITH base AS (SELECT doc_id, source, text, n_chars FROM documents),
             twins AS (SELECT doc_id + 10000000 AS doc_id, source,
                         text || ' abc' AS text, n_chars + 4 AS n_chars
                       FROM base
                       WHERE doc_id % 7 = 0 AND n_chars <= ${fzMaxChars - 4}),
             u AS (SELECT * FROM base UNION ALL SELECT * FROM twins),
             s AS (SELECT *, n_chars // ${fzMaxDist + 1} AS band0 FROM u
                   WHERE n_chars <= $fzMaxChars),
             bd AS (SELECT *, band0 AS bkey FROM s
                    UNION ALL
                    SELECT *, band0 + 1 AS bkey FROM s),
             cb AS (SELECT * FROM
                     (SELECT *, count(*) OVER (PARTITION BY source, bkey) AS bsz
                      FROM bd)
                    WHERE bsz <= $fzMaxBucket)
             SELECT a.source, a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist
             FROM cb a JOIN cb b
               ON a.source = b.source AND a.bkey = b.bkey
               AND a.bkey = greatest(a.band0, b.band0)
               AND a.doc_id < b.doc_id
               AND abs(a.n_chars - b.n_chars) <= $fzMaxDist
             WHERE levenshtein(a.text, b.text) <= $fzMaxDist"""))

  /** W1 — the analytic-window family over per-customer order history:
    * lead/lag, percent_rank, cume_dist, first/last value and the running
    * decimal-exact spend, all on ONE per-customer window partitioning
    * (bounded by a customer's order count — one shuffle, every function
    * shares it). Rounds on both sides where float association could bite. */
  private val w1 = Q(
    "w1_window_family",
    (s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.orders(s, d).select(col("o_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"))
        .select(col("o_custkey"), col("o_orderkey"),
          lag(col("o_orderkey"), 1).over(w).as("prev_order"),
          lead(col("o_orderkey"), 1).over(w).as("next_order"),
          round(percent_rank().over(w), 6).as("pr"),
          round(cume_dist().over(w), 6).as("cd"),
          first(col("o_orderkey")).over(wr).as("first_order"),
          sum(col("o_totalprice").cast("decimal(18,2)")).over(wr)
            .cast("double").as("run_spend"))
    },
    Some("""SELECT o_custkey, o_orderkey,
              lag(o_orderkey) OVER w AS prev_order,
              lead(o_orderkey) OVER w AS next_order,
              round(percent_rank() OVER w, 6) AS pr,
              round(cume_dist() OVER w, 6) AS cd,
              first_value(o_orderkey) OVER
                (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_order,
              CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER
                (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS run_spend
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)"""))

  /** W2 — time-RANGE window frame: per user, trailing-1-hour event count
    * and value sum at every event (the rate/feature-engineering window a
    * fraud or engagement pipeline computes; ROWS frames — w1 — cannot
    * express it). Ordering key is the integer µs epoch, so the frame
    * arithmetic is exact on both engines; rows tied on ts share one
    * frame, so tie order cannot change any output row. The sum runs in
    * DECIMAL (w1's convention) — exact, association-free. Window is
    * partitioned by user: bounded state, shuffles once by user_id. */
  private val w2 = Q(
    "w2_range_frame",
    (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
        .rangeBetween(-3600000000L, 0)
      Tables.events(s, d)
        .select(col("user_id"), Tables.eventTsMicros.as("ts_us"),
          col("event_id"), col("value"))
        .select(col("user_id"), col("ts_us"), col("event_id"),
          count(lit(1)).over(w).as("n_1h"),
          sum(col("value").cast("decimal(18,6)")).over(w)
            .cast("double").as("sum_1h"))
    },
    Some("""SELECT user_id, epoch_us(ts) AS ts_us, event_id,
              CAST(count(*) OVER w AS BIGINT) AS n_1h,
              CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sum_1h
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
              RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)"""))

  // ------------------------------------------------------- ii1: inverted idx

  private val iiK = 20 // postings kept per term

  /** II1 — inverted-index build: per term, document frequency plus the
    * first `iiK` postings (smallest doc_ids). The postings list rides the
    * custom `priority_topk` TypedImperativeAggregate — O(k) state per
    * term inside ONE partial+final hash aggregation, so a stopword-grade
    * term with 10⁹ postings costs k rows per (term, partition), never a
    * per-term sort. (The unbounded spelling — `sort_array(collect_list)`
    * — is exactly the hot-key state explosion this engine bans.) Output
    * exploded to (term, df, pos, doc_id) rows. */
  private val ii1 = Q(
    "ii1_inverted_index",
    (s, d) => {
      val terms = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(graft.operators.TextFunctions.tokens(col("text"))).as("term"))
        .distinct()
      terms.groupBy("term")
        .agg(count(lit(1)).as("df"),
          GraftFunctions.priorityTopK(
            col("doc_id").cast("double"), col("doc_id"), iiK).as("postings"))
        .select(col("term"), col("df"),
          posexplode(col("postings")).as(Seq("pos0", "doc_id")))
        .select(col("term"), col("df"), (col("pos0") + 1).cast("long").as("pos"),
          col("doc_id"))
    },
    Some(s"""WITH t AS ($toksSql),
             tm AS (SELECT DISTINCT doc_id, unnest(toks) AS term FROM t),
             df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tm GROUP BY term),
             r AS (SELECT term, doc_id,
                     CAST(row_number() OVER (PARTITION BY term ORDER BY doc_id)
                       AS BIGINT) AS pos
                   FROM tm)
             SELECT r.term, df.df, r.pos, r.doc_id
             FROM r JOIN df USING (term) WHERE r.pos <= $iiK"""))

  // ------------------------------------------------------- bp1: BPE pairs

  private val bpTopK = 50

  /** BP1 — the distributed kernel of BPE tokenizer training: corpus-wide
    * adjacent-character-pair counts inside words (the statistic each BPE
    * merge round maximizes). One explode → hash agg → global top-k
    * (TakeOrderedAndProject, bounded by `bpTopK`); the full trainer loops
    * this pass with a broadcast merge table, the per-pass shape is what
    * must scale. Count ties broken by pair text for determinism. */
  private val bp1 = Q(
    "bp1_bpe_pairs",
    (s, d) => {
      val tok = Tables.documents(s, d)
        .select(explode(graft.operators.TextFunctions.tokens(col("text"))).as("tok"))
        .filter(length(col("tok")) >= 2)
      tok.select(explode(transform(
          sequence(lit(1), length(col("tok")) - 1),
          i => col("tok").substr(i, lit(2)))).as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair"))
        .limit(bpTopK)
    },
    Some(s"""WITH t AS ($toksSql),
             tok AS (SELECT unnest(toks) AS tok FROM t),
             p AS (SELECT unnest(list_transform(range(1, len(tok)),
                     i -> substring(tok, CAST(i AS INT), 2))) AS pair
                   FROM tok WHERE len(tok) >= 2),
             c AS (SELECT pair, CAST(count(*) AS BIGINT) AS n FROM p GROUP BY pair)
             SELECT pair, n FROM c ORDER BY n DESC, pair LIMIT $bpTopK"""))

  private val bpMerges = 30

  /** BP2 — end-to-end BPE: train `bpMerges` merges (operators.Bpe — one
    * corpus pass to word counts, then vocab-frame-sized merge rounds),
    * tokenize the corpus with the learned ranks (narrow map, broadcast
    * merge table), report the top-100 BPE token counts. Sequential merge
    * training is iterative → rows-only under the driver gate; the merge
    * sequence itself is hand-verified in BpeSpec. */
  private val bp2 = Q(
    "bp2_bpe_tokenize",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val merges = graft.operators.Bpe.fit(
        graft.operators.Bpe.wordCounts(docs, "text"), bpMerges)
      graft.operators.Bpe.tokenize(docs, "doc_id", "text", merges)
        .groupBy("bpe_token").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bpe_token")).limit(100)
    },
    None)

  /** BP2B — the APPLY stage of `bp2` behind the FROZEN
    * [[FrozenModels.bpeMerges]] checkpoint (a committed `Bpe.fit` result):
    * tokenization given a merge table is deterministic, so unlike the
    * sequential trainer it takes a full per-(doc, pos) hash oracle. The
    * SQL replays `Bpe.applyMerges` exactly, resting on two equivalences
    * (both property-tested in BpeSpec):
    *  1. lowest-rank-first application ≡ applying each rank exhaustively
    *     in rank order — a merge can only create symbols that participate
    *     in LATER-rank pairs (the symbol didn't exist when earlier ranks
    *     were learned), so exhausting ranks in order never misses an
    *     earlier-rank pair;
    *  2. one rank's exhaustive application ≡ a single greedy left-to-right
    *     fold — the merged symbol `l+r` can never itself be the `l` of the
    *     same pair (that would need `r` empty), so a left fold that joins
    *     `r` onto a trailing `l` IS `mergeOnce`.
    * Each rank is one `list_reduce` over the symbol list with a string
    * accumulator (join on ' ' — tokens never contain whitespace, the
    * tokenizer split them on `\s+`); ranks chain as 30 nested folds,
    * evaluated once per DISTINCT word, then joined back positionally.
    * Spark side stays the broadcast-ranks narrow map of `bp2`. */
  /** The frozen merge table as `Bpe.Merge` rows — shared by bp2b/tk1 so
    * the two queries can never tokenize with different checkpoints. */
  private def frozenBpeMerges: Seq[graft.operators.Bpe.Merge] =
    FrozenModels.bpeMerges.zipWithIndex.map { case ((l, r), i) =>
      graft.operators.Bpe.Merge(i, l, r)
    }

  /** Shared bp2b/tk1 oracle CTE chain: replays `Bpe.applyMerges` for the
    * frozen checkpoint, ending in `x(doc_id, wi, ti, bpe_token)` — one
    * row per emitted BPE token with its (word, within-word) order keys. */
  private def bpeApplyCtes: String = {
    def sqlStr(s0: String): String = "'" + s0.replace("'", "''") + "'"
    // one rank's greedy fold: join r onto a trailing l, else append x
    def rankFold(inner: String, l: String, r: String): String = {
      val ls = sqlStr(l); val rs = sqlStr(r)
      val lLen = l.codePointCount(0, l.length) + 1 // ' ' + l, in code points
      s"""string_split(list_reduce($inner,
           (acc, x) -> CASE WHEN x = $rs AND (acc = $ls OR right(acc, $lLen) = ' ' || $ls)
                       THEN acc || $rs ELSE acc || ' ' || x END), ' ')"""
    }
    val folds = FrozenModels.bpeMerges.foldLeft("regexp_split_to_array(w, '')") {
      case (inner, (l, r)) => rankFold(inner, l, r)
    }
    s"""t AS ($toksSql WHERE text IS NOT NULL),
        g0 AS (SELECT doc_id, unnest(toks) AS w,
                 unnest(range(1, len(toks) + 1)) AS wi FROM t),
        g AS (SELECT doc_id, w, wi FROM g0 WHERE len(w) > 0),
        tw AS (SELECT w, $folds AS tl FROM (SELECT DISTINCT w FROM g)),
        x AS (SELECT g.doc_id, g.wi, unnest(tw.tl) AS bpe_token,
                unnest(range(1, len(tw.tl) + 1)) AS ti
              FROM g JOIN tw USING (w))"""
  }

  private val bp2b = Q(
    "bp2b_bpe_apply",
    (s, d) =>
      graft.operators.Bpe.tokenize(Tables.documents(s, d), "doc_id", "text",
        frozenBpeMerges),
    Some(s"""WITH $bpeApplyCtes
          SELECT doc_id,
                 CAST(row_number() OVER (PARTITION BY doc_id ORDER BY wi, ti)
                   AS BIGINT) AS pos,
                 bpe_token
          FROM x"""))

  /** TK1 — tokenizer FERTILITY audit per domain under the frozen BPE
    * merges: docs, total chars, total BPE tokens, chars-per-token and
    * tokens-per-doc. Fertility (how many tokens a tokenizer spends per
    * unit of text) is the standard per-domain health check before
    * training — a domain whose chars/token collapses is being shredded
    * into bytes (cost blowup), one whose tokens/doc collapses is
    * near-empty. Riding the SAME frozen checkpoint and oracle CTE chain
    * as bp2b means the token counts here are exactly the hash-verified
    * tokenization, aggregated.
    *
    * Scale shape: tokenize is bp2b's narrow map (broadcast merge
    * table, per-row fold — no shuffle); then a per-doc hash agg, a
    * doc-keyed join back to the (doc_id, source, n_chars) projection,
    * and a domain-sized final agg. Left join + coalesce keeps
    * zero-token docs in the denominator on both engines. */
  private val tk1 = Q(
    "tk1_bpe_fertility",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val perDoc = graft.operators.Bpe
        .tokenize(docs, "doc_id", "text", frozenBpeMerges)
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_tok"))
      docs.select(col("doc_id"), col("source"), col("n_chars"))
        .join(perDoc, Seq("doc_id"), "left")
        .withColumn("nt", coalesce(col("n_tok"), lit(0L)))
        .groupBy(col("source")).agg(
          count(lit(1)).as("n_docs"),
          sum(col("nt")).as("n_tokens"),
          sum(col("n_chars")).as("n_chars"))
        .filter(col("n_tokens") > 0)
        .select(col("source"), col("n_docs"), col("n_tokens"), col("n_chars"),
          round(col("n_chars").cast("double") / col("n_tokens"), 6)
            .as("chars_per_token"),
          round(col("n_tokens").cast("double") / col("n_docs"), 6)
            .as("tokens_per_doc"))
    },
    Some(s"""WITH $bpeApplyCtes,
          pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok
                 FROM x GROUP BY 1),
          j AS (SELECT d.source, d.n_chars, COALESCE(pd.n_tok, 0) AS nt
                FROM documents d LEFT JOIN pd USING (doc_id)),
          a AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                  CAST(sum(nt) AS BIGINT) AS n_tokens,
                  CAST(sum(n_chars) AS BIGINT) AS n_chars
                FROM j GROUP BY 1)
          SELECT source, n_docs, n_tokens, n_chars,
            round(CAST(n_chars AS DOUBLE) / n_tokens, 6) AS chars_per_token,
            round(CAST(n_tokens AS DOUBLE) / n_docs, 6) AS tokens_per_doc
          FROM a WHERE n_tokens > 0"""))

  // ------------------------------------------------------- lm2: KN bigram LM

  private val knD = 0.75

  /** LM2 — interpolated Kneser–Ney bigram LM document scoring (the
    * perplexity-filter stage of CCNet-style pipelines, one model order up
    * from `lm1`): P(w2|w1) = max(c12−D,0)/c1 + (D·N1+(w1·)/c1)·P_cont(w2),
    * with continuation probability P_cont(w2) = N1+(·w2)/N1+(··)
    * (Kneser & Ney 1995; Chen & Goodman 1999), discount D = 0.75.
    *
    * Scale shape: the corpus is touched once (bigram explode → per-doc
    * hash agg); every model table after that is TYPE-sized (distinct
    * bigrams / contexts), joined by key — the same corpus-vs-vocab split
    * as BPE training. The single scalar (total bigram types) rides a
    * 1-row broadcast cross join (the VST-trend pattern). Scoring is one
    * join of per-doc bigram counts against the probability table + one
    * hash agg. All inputs to P are integers, so both engines compute
    * identical probabilities under the same parenthesization;
    * `round(·,6)` after the per-doc division absorbs sum association. */
  private val lm2 = Q(
    "lm2_bigram_kn",
    (s, d) => graft.api.Corpus.knBigramScores(Tables.documents(s, d), discount = knD)
      .withColumn("mean_logprob", round(col("mean_logprob"), 6))
      .withColumn("ppl", round(col("ppl"), 6)),
    Some(s"""WITH t AS ($toksSql),
             f AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 2),
             g AS (SELECT doc_id, unnest(range(1, len(toks))) AS i, toks FROM f),
             b AS (SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2 FROM g),
             k AS (SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS k
                   FROM b GROUP BY 1, 2, 3),
             c12 AS (SELECT w1, w2, CAST(sum(k) AS BIGINT) AS c12
                     FROM k GROUP BY 1, 2),
             c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
                      CAST(count(*) AS BIGINT) AS n1f FROM c12 GROUP BY 1),
             bw AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1b FROM c12 GROUP BY 1),
             tt AS (SELECT CAST(count(*) AS BIGINT) AS tt FROM c12),
             p AS (SELECT c12.w1, c12.w2,
                     (greatest(c12.c12 - CAST($knD AS DOUBLE), CAST(0.0 AS DOUBLE)) / c1.c1)
                     + (((CAST($knD AS DOUBLE) * c1.n1f) / c1.c1) * (bw.n1b / tt.tt)) AS p
                   FROM c12 JOIN c1 USING (w1) JOIN bw USING (w2) CROSS JOIN tt),
             d AS (SELECT k.doc_id, CAST(sum(k.k) AS BIGINT) AS n_bigrams,
                     sum(k.k * ln(p.p)) AS s
                   FROM k JOIN p ON k.w1 = p.w1 AND k.w2 = p.w2
                   GROUP BY 1)
             SELECT doc_id, n_bigrams, round(s / n_bigrams, 6) AS mean_logprob,
               round(exp(-(s / n_bigrams)), 6) AS ppl
             FROM d"""))

  private val hourUs = 3600L * 1000000L

  /** GF1 — time-series gap fill / hourly resample: per user, count+sum of
    * events per hour bucket with missing hours ZERO-FILLED between that
    * user's first and last active hour (the spine every downstream
    * rolling-feature join needs). The spine is `sequence(h0, h1)` per
    * user — generated, not scanned, and bounded per user by its own
    * active span, so the explode never amplifies beyond calendar size
    * (a user active 10 years is 87k rows; a 100 TB corpus adds users,
    * not per-user hours). Left join back to the hourly aggregate is
    * user-partitioned with no skew beyond the per-user span. Timestamps
    * bucket in the µs domain (the s2/aj1 convention). */
  private val gf1 = Q(
    "gf1_gap_fill",
    (s, d) => {
      val ev = Tables.events(s, d).select(col("user_id"),
        expr(s"(${Tables.eventTsMicrosSql}) div $hourUs").as("hour"), col("value"))
      val hourly = ev.groupBy("user_id", "hour")
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 6).as("v"))
      val spine = hourly.groupBy("user_id")
        .agg(min(col("hour")).as("h0"), max(col("hour")).as("h1"))
        .select(col("user_id"),
          explode(sequence(col("h0"), col("h1"))).as("hour"))
      spine.join(hourly, Seq("user_id", "hour"), "left")
        .select(col("user_id"), col("hour"),
          coalesce(col("n_events"), lit(0L)).as("n_events"),
          coalesce(col("v"), lit(0.0)).as("total_value"))
    },
    Some(s"""WITH e AS (SELECT user_id, epoch_us(ts) // $hourUs AS hour, value
                        FROM events),
             c AS (SELECT user_id, hour, CAST(count(*) AS BIGINT) AS n_events,
                     round(sum(value), 6) AS v
                   FROM e GROUP BY 1, 2),
             b AS (SELECT user_id, min(hour) AS h0, max(hour) AS h1
                   FROM c GROUP BY 1),
             sp AS (SELECT user_id, unnest(generate_series(h0, h1)) AS hour FROM b)
             SELECT sp.user_id, sp.hour,
               coalesce(c.n_events, 0) AS n_events,
               coalesce(c.v, CAST(0.0 AS DOUBLE)) AS total_value
             FROM sp LEFT JOIN c ON sp.user_id = c.user_id AND sp.hour = c.hour"""))

  /** LF1 — last-observation-carried-forward fill (the time-series twin of
    * gf1's zero-fill): `value` is masked NULL on click events
    * (deterministically, so both engines mask the same rows), then every
    * NULL picks up the user's most recent non-null value at-or-before it
    * — `last(ignoreNulls)` over a running per-user frame, DuckDB's
    * `last_value(x IGNORE NULLS)`. Leading NULLs (no prior observation)
    * stay NULL. Windows keyed by user — state bounded by one user's
    * history, never the stream. */
  private val lf1 = Q(
    "lf1_locf_fill",
    (s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .select(col("user_id"), Tables.eventTsMicros.as("ts_us"),
          col("event_id"),
          when(col("event_type") === "click", lit(null).cast("double"))
            .otherwise(col("value")).as("v"))
        .withColumn("filled_value",
          round(last(col("v"), ignoreNulls = true).over(w), 6))
        .select(col("user_id"), col("ts_us"), col("event_id"),
          round(col("v"), 6).as("v"), col("filled_value"))
    },
    Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
                         CASE WHEN event_type = 'click' THEN NULL
                              ELSE value END AS v
                       FROM events)
            SELECT user_id, ts_us, event_id, round(v, 6) AS v,
              round(last_value(v IGNORE NULLS) OVER (
                PARTITION BY user_id ORDER BY ts_us, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
                AS filled_value
            FROM e"""))

  private val hhPhi = 0.002 // heavy-hitter share threshold
  private val hhK = 512 // sketch capacity; guarantee needs k+1 > 1/phi

  /** HH1 — heavy hitters via sketch-then-verify: pass 1 folds the token
    * stream into ONE Misra–Gries `freq_sketch` (O(k) state per partition
    * through a regular partial+final agg — the bounded-state answer where
    * an exact per-term groupBy would shuffle the whole type table); the
    * sketch's no-false-negative guarantee (any term with share > 1/(k+1)
    * survives) makes its ≤ k entries a candidate SUPERSET of every term
    * above `hhPhi > 1/(k+1)`. Pass 2 re-counts ONLY the broadcast
    * candidates exactly and applies the threshold — so the result is the
    * EXACT heavy-hitter set, deterministic across partitionings even
    * though sketch internals are order-dependent, and the oracle is plain
    * GROUP BY + HAVING. */
  private val hh1 = Q(
    "hh1_heavy_hitters",
    (s, d) => {
      // two corpus passes by design: one shared token stream would need
      // a shuffle of every token by term, more than an exact count's
      val tok = Tables.documents(s, d)
        .select(explode(graft.operators.TextFunctions.tokens(col("text"))).as("term"))
      // ONE sketch pass: every Misra–Gries entry carries the exact total n
      val cands = tok
        .agg(GraftFunctions.freqSketch(col("term"), hhK).as("sk"))
        .select(explode(col("sk")).as("e"))
        .select(col("e.item").as("term"), col("e.n").as("n_total"))
      tok.join(broadcast(cands), "term")
        .groupBy("term", "n_total").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") > lit(hhPhi) * col("n_total"))
        .select(col("term"), col("cnt"),
          round(col("cnt") / col("n_total"), 6).as("share"))
    },
    Some(s"""WITH t AS ($toksSql),
             tok AS (SELECT unnest(toks) AS term FROM t),
             n AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM tok),
             c AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt
                   FROM tok GROUP BY term)
             SELECT c.term, c.cnt, round(c.cnt / n.n_total, 6) AS share
             FROM c CROSS JOIN n
             WHERE c.cnt > CAST($hhPhi AS DOUBLE) * n.n_total"""))

  /** MO1 — month-over-month revenue growth via a SELF-JOIN of one
    * aggregate frame: the deliberately naive report shape (current month
    * ⋈ previous month on a shifted key) that Catalyst's ReuseExchange
    * rescues — both join inputs canonicalize to the SAME scan → partial
    * agg → shuffle subplan, so the second side plans as a
    * ReusedExchange over the first's shuffle files and the orders fact
    * is scanned and aggregated ONCE, not twice (asserted in PlanSpec).
    * At 100 TB that reuse is the difference between one fact pass and
    * two. (A window `lag` expresses the same report in one pass; this
    * entry exists precisely to pin the optimizer's rescue of the
    * join-form, which real report SQL writes all the time.)
    *
    * Cross-engine exactness: revenue follows the ru1 decimal-sum
    * convention, and growth is one double division of two
    * exact-decimal-derived doubles, rounded at 6 dp on both engines. */
  private val mo1 = Q(
    "mo1_month_over_month",
    (s, d) => {
      val rev = Tables.orders(s, d)
        .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("mi"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice")
            .cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast("double").as("revenue"))
      // prev_n_orders is in the output deliberately: without it, column
      // pruning narrows the b-side aggregate to sum-only, the two agg
      // subplans no longer canonicalize equal, and ReuseExchange cannot
      // fire (observed: two full scans+aggs). With it both sides are the
      // identical subplan and the second plans as a ReusedExchange.
      rev.as("a").join(rev.as("b"), col("a.mi") === col("b.mi") + 1)
        .select(col("a.mi").as("mi"), col("a.n_orders").as("n_orders"),
          col("a.revenue").as("revenue"),
          col("b.n_orders").as("prev_n_orders"),
          col("b.revenue").as("prev_revenue"),
          round(col("a.revenue") / col("b.revenue") - 1.0, 6).as("growth"))
    },
    Some("""WITH rev AS (SELECT
                CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS mi,
                CAST(count(*) AS BIGINT) AS n_orders,
                CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                  AS revenue
              FROM orders GROUP BY 1)
            SELECT a.mi AS mi, a.n_orders AS n_orders, a.revenue AS revenue,
              b.n_orders AS prev_n_orders, b.revenue AS prev_revenue,
              round(a.revenue / b.revenue - 1.0, 6) AS growth
            FROM rev a JOIN rev b ON a.mi = b.mi + 1"""))

  /** FN1 — ordered-funnel analysis (signup → click → purchase, each stage
    * strictly at-or-after the previous): per user, the first signup, the
    * first click after it, the first purchase after that, and the stage
    * reached. Three conditional-min hash aggs chained by user-keyed
    * joins — every shuffle is on user_id, state is one row per user, no
    * window over event history. The per-user frame IS the funnel report;
    * stage counts are one more tiny agg away. */
  private val fn1 = Q(
    "fn1_funnel",
    (s, d) => {
      val ev = Tables.events(s, d).select(col("user_id"),
        Tables.eventTsMicros.as("tsu"), col("event_type"))
      val su = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min(col("tsu")).as("s_ts"))
      val cl = ev.filter(col("event_type") === "click")
        .join(su, "user_id").filter(col("tsu") >= col("s_ts"))
        .groupBy("user_id", "s_ts").agg(min(col("tsu")).as("c_ts"))
      val pu = ev.filter(col("event_type") === "purchase")
        .join(cl.select("user_id", "c_ts"), "user_id")
        .filter(col("tsu") >= col("c_ts"))
        .groupBy("user_id").agg(min(col("tsu")).as("p_ts"))
      su.join(cl.select("user_id", "c_ts"), Seq("user_id"), "left")
        .join(pu, Seq("user_id"), "left")
        .select(col("user_id"), col("s_ts"), col("c_ts"), col("p_ts"),
          (lit(1L) + when(col("c_ts").isNotNull, 1L).otherwise(0L)
            + when(col("p_ts").isNotNull, 1L).otherwise(0L)).as("stage"))
    },
    Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS tsu, event_type FROM events),
            su AS (SELECT user_id, min(tsu) AS s_ts FROM e
                   WHERE event_type = 'signup' GROUP BY 1),
            cl AS (SELECT e.user_id, su.s_ts, min(e.tsu) AS c_ts
                   FROM e JOIN su USING (user_id)
                   WHERE e.event_type = 'click' AND e.tsu >= su.s_ts
                   GROUP BY 1, 2),
            pu AS (SELECT e.user_id, min(e.tsu) AS p_ts
                   FROM e JOIN cl USING (user_id)
                   WHERE e.event_type = 'purchase' AND e.tsu >= cl.c_ts
                   GROUP BY 1)
            SELECT su.user_id, su.s_ts, cl.c_ts, pu.p_ts,
              CAST(1 + CASE WHEN cl.c_ts IS NOT NULL THEN 1 ELSE 0 END
                + CASE WHEN pu.p_ts IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS stage
            FROM su LEFT JOIN cl USING (user_id) LEFT JOIN pu USING (user_id)"""))

  private val weekUs = 7L * 24 * 3600 * 1000000L

  /** CO1 — cohort retention matrix: users cohorted by first-active week,
    * reported as (cohort_week, week_offset, n_users) — the standard
    * retention triangle. Two user-keyed hash aggs (first-seen, then
    * distinct user-week activity) and one join; the matrix is at most
    * cohorts × horizon rows. Weeks are epoch-µs integer buckets, exact
    * on both engines. */
  private val co1 = Q(
    "co1_cohort_retention",
    (s, d) => {
      val ev = Tables.events(s, d).select(col("user_id"),
        expr(s"(${Tables.eventTsMicrosSql}) div $weekUs").as("week"))
      val first = ev.groupBy("user_id").agg(min(col("week")).as("cohort_week"))
      val active = ev.distinct()
      active.join(first, "user_id")
        .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("week_offset"))
        .agg(count(lit(1)).as("n_users"))
        .select("cohort_week", "week_offset", "n_users")
    },
    Some(s"""WITH e AS (SELECT user_id, epoch_us(ts) // $weekUs AS week FROM events),
             f AS (SELECT user_id, min(week) AS cohort_week FROM e GROUP BY 1),
             a AS (SELECT DISTINCT user_id, week FROM e)
             SELECT f.cohort_week, a.week - f.cohort_week AS week_offset,
               CAST(count(*) AS BIGINT) AS n_users
             FROM a JOIN f USING (user_id)
             GROUP BY 1, 2"""))

  // ------------------------------------------------------- bm1: BM25 top-k

  private val bmTerms = Seq("spark", "vector", "stream")
  private val bmK1 = 1.2
  private val bmB = 0.75
  private val bmTopK = 20

  /** BM1 — BM25 document retrieval for a fixed query-term set (the
    * ranking function behind every inverted-index search engine, and the
    * sparse-retrieval half of a RAG corpus pipeline): per matched term,
    * idf · tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl)) with the Lucene idf
    * form ln(1 + (N−df+0.5)/(df+0.5)); per-doc sum; global top-`bmTopK`.
    *
    * Scale shape — ONE corpus scan, ONE shuffle: the exploded token
    * stream aggregates straight to a per-doc row of (dl, tf per query
    * term) in a single partial+final hash agg (the naive per-frame
    * spelling — separate dl / tf / df / stats frames — re-executes the
    * scan 4×, since Catalyst does not dedupe common DataFrame subtrees).
    * Every corpus scalar (N, avgdl, and each term's df) then reduces off
    * that per-doc frame (one exchange) into ONE 1-row broadcast; scoring +
    * top-k are a narrow map over matched docs feeding orderBy+limit —
    * TakeOrderedAndProject's per-partition heaps, no global sort.
    * Ranking key is `round(score, 9)` with a doc_id tiebreak on both
    * engines so `ln` ulp differences cannot flip the cut. */
  private val bm1 = Q(
    "bm1_bm25_topk",
    (s, d) => {
      val tok = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(graft.operators.TextFunctions.tokens(col("text"))).as("term"))
      val perDocAggs = count(lit(1)).as("dl") +: bmTerms.map(t =>
        sum(when(col("term") === t, 1L).otherwise(0L)).as(s"tf_$t"))
      val perDoc = tok.groupBy("doc_id")
        .agg(perDocAggs.head, perDocAggs.tail: _*)
      val statAggs = Seq(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl")) ++
        bmTerms.map(t => sum((col(s"tf_$t") > 0).cast("long")).as(s"df_$t"))
      val stats = perDoc.agg(statAggs.head, statAggs.tail: _*)
      val w = bmTerms.map { t =>
        val tf = col(s"tf_$t"); val df = col(s"df_$t")
        val idf = log(lit(1.0) + (col("n_docs") - df + lit(0.5)) / (df + lit(0.5)))
        when(tf > 0, idf * (tf * lit(bmK1 + 1.0)) /
          (tf + lit(bmK1) * (lit(1.0 - bmB) + lit(bmB) * col("dl") / col("avgdl"))))
          .otherwise(lit(0.0))
      }.reduce(_ + _)
      val nTerms = bmTerms.map(t => (col(s"tf_$t") > 0).cast("long")).reduce(_ + _)
      perDoc.filter(bmTerms.map(t => col(s"tf_$t") > 0).reduce(_ || _))
        .crossJoin(broadcast(stats))
        .withColumn("score0", w)
        .withColumn("n_terms", nTerms)
        .orderBy(round(col("score0"), 9).desc, col("doc_id"))
        .limit(bmTopK)
        .select(col("doc_id"), col("n_terms"), round(col("score0"), 6).as("score"))
    },
    Some(s"""WITH t AS ($toksSql),
             tok AS (SELECT doc_id, unnest(toks) AS term FROM t),
             dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok GROUP BY 1),
             st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                      avg(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
             tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tok
                    WHERE term IN (${bmTerms.map(t => s"'$t'").mkString(", ")})
                    GROUP BY 1, 2),
             df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
             w AS (SELECT tf.doc_id,
                     ln(1.0 + (st.n_docs - df.df + 0.5) / (df.df + 0.5))
                       * (tf.tf * (${bmK1} + 1.0))
                       / (tf.tf + ${bmK1} * ((1.0 - ${bmB}) + ${bmB} * dl.dl / st.avgdl)) AS w
                   FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN st),
             sc AS (SELECT doc_id, sum(w) AS score0,
                      CAST(count(*) AS BIGINT) AS n_terms
                    FROM w GROUP BY 1)
             SELECT doc_id, n_terms, round(score0, 6) AS score
             FROM sc ORDER BY round(score0, 9) DESC, doc_id LIMIT $bmTopK"""))

  // ------------------------------------------------------- pr1: PageRank

  private val prIters = 4
  private val prD = 0.85

  /** PR1 — PageRank over the customer→supplier trade graph (edges =
    * distinct (o_custkey, l_suppkey) pairs through orders⋈lineitem;
    * supplier ids offset by 2⁴⁰ into a shared node-id space — far above any
    * realistic custkey, so the two id ranges cannot collide at any SF): `prIters`
    * fixed power-iteration rounds at damping `prD`
    * ([[graft.operators.Graphs.pageRank]]). The canonical
    * O(rounds)-of-shuffles iterative workload — and, because the round
    * count is a CONSTANT, fully oracle-able: the SQL side unrolls the
    * same rounds as chained CTEs, so this is the rare iterative operator
    * with a hash oracle rather than a rows-only check. Dangling supplier
    * nodes leak mass by design (the literal formula is what both engines
    * replay). Float-literal parity: every SQL constant is the exact
    * Scala double (e.g. 1−0.85 prints as 0.15000000000000002) CAST to
    * DOUBLE, so both engines run identical IEEE arithmetic; per-node
    * in-edge sums are association-order-sensitive at ~1e-17 and
    * `round(pr, 6)` sits 11 orders of magnitude above that. */
  private val pr1 = Q(
    "pr1_pagerank",
    (s, d) => {
      val ed = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
        .join(Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"), (col("l_suppkey") + (1L << 40)).as("dst"))
      graft.operators.Graphs.pageRank(ed, prIters, prD)
        .select(col("id"), round(col("pr"), 6).as("pr"))
    },
    Some {
      val base =
        s"""WITH e AS (SELECT DISTINCT o_custkey AS src, l_suppkey + 1099511627776 AS dst
               FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
           og AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM e GROUP BY src),
           nodes AS (SELECT src AS id FROM e UNION SELECT dst AS id FROM e),
           nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
           p0 AS (SELECT id, CAST(1 AS DOUBLE) / nn.n AS pr FROM nodes CROSS JOIN nn)"""
      val steps = (1 to prIters).map { i =>
        s"""c$i AS (SELECT e.dst AS id, sum(p.pr / og.outdeg) AS m
               FROM e JOIN p${i - 1} p ON e.src = p.id JOIN og ON e.src = og.src
               GROUP BY e.dst),
           p$i AS (SELECT nodes.id,
                 CAST(${1.0 - prD} AS DOUBLE) / nn.n
                   + CAST($prD AS DOUBLE) * coalesce(c$i.m, 0.0) AS pr
               FROM nodes CROSS JOIN nn LEFT JOIN c$i ON nodes.id = c$i.id)"""
      }.mkString(",\n")
      s"$base,\n$steps\nSELECT id, round(pr, 6) AS pr FROM p$prIters"
    })

  // ------------------------------------------------- tc1: triangle count

  /** Co-shipment edges: orders adjacent when they take goods from the
    * same supplier in the same week. r16 optimization: ONE hash agg per
    * (sk, wk) block + an ordered-pair explode over the block's sorted
    * order set — the triangleCounts wedge-enumeration trick applied one
    * level earlier — instead of the old block self-join. The self-join
    * form shuffled the fact once but then SORTED both sides (or built a
    * hash relation) and probed the cache twice; the agg form is one
    * shuffle + one map-side-combinable agg + a narrow explode, and it
    * needs no fact persist (single reference). The emitted edge SET is
    * identical: `collect_set` + `sort_array` gives ok_i < ok_j for i<j —
    * the a.ok < b.ok predicate — and duplicate (ok, sk, wk) rows
    * collapse in the set exactly as the downstream edge distinct did.
    * Blocks hold ~2 orders each on this data so the per-block pair space
    * is bounded; a pathological single-block supplier-week stays
    * quadratic in ROW COUNT under any form (the edge definition itself
    * is quadratic in the block), but since r17 the pairs are emitted by
    * two nested Generates with O(n) per-row buffers rather than one
    * O(n²) in-row array — see the inline comment. Interleaved same-JVM
    * A/B (OPTIMIZATION_r16.md:100 and OPTIMIZATION_r17.md:79, local[32]
    * sf0.1, full triangleCounts downstream, 3 reps): old
    * 8.63/6.08/5.84 s vs new 6.59/5.04/4.44 s — a consistent ~1.1–1.4 s
    * cut at identical edge sets (503,935 rows both forms). */
  private def coShipEdges(blk: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    blk
      // null-key guard (r16 ADVICE): the old self-join form (and the SQL
      // oracle's equi-join) dropped null-keyed rows; groupBy would pool
      // them into one block and emit edges among them. Free on TPC-H's
      // non-null l_suppkey/l_shipdate — this pins the semantics for any
      // nullable reuse of the helper.
      .filter(col("sk").isNotNull && col("wk").isNotNull)
      .groupBy(col("sk"), col("wk"))
      .agg(sort_array(collect_set(col("ok"))).as("oks"))
      // TWO-LEVEL explode (r17, guide §5): posexplode picks each anchor,
      // slice takes its strict successors. The r16 single-explode form
      // (flatten(transform(.., transform(slice(..)..)))) materialized the
      // whole O(n²) pair array of a block in ONE row buffer — irrelevant
      // when blocks hold ~2 orders, but a hot (supplier, week) block with
      // 10⁵ orders would allocate 10¹⁰ structs in a single task. Nested
      // Generates bound per-row state at O(n) (the sorted block array)
      // and stream the pairs; the emitted edge SET is identical
      // (ok_i < ok_j for i < j, duplicates collapsed by collect_set).
      .select(col("oks"), posexplode(col("oks")).as(Seq("i", "src")))
      .select(col("src"),
        explode(slice(col("oks"), col("i") + lit(2), size(col("oks"))))
          .as("dst"))

  /** TC1 — per-node triangle counts on the order co-shipment graph:
    * orders are adjacent when they take goods from the same supplier in
    * the same `date_trunc('week')` (a sparse graph by construction —
    * supplier×week blocks hold ~2 orders each on this data, so edges ≈
    * rows and the per-block pair space is bounded). Counting runs through
    * [[graft.operators.Graphs.triangleCounts]]'s degree orientation —
    * out-degrees capped at O(√m), wedge join O(m^1.5) worst-case — while
    * the oracle replays the textbook a<b<c three-way self-join; both
    * count each triangle once and credit all three corners, so the
    * per-node counts hash-match exactly (pure integer arithmetic, no
    * float parity games). */
  private val tc1 = Q(
    "tc1_triangle_count",
    (s, d) => {
      val blk = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"),
          date_trunc("week", col("l_shipdate")).as("wk"))
      graft.operators.Graphs.triangleCounts(coShipEdges(blk))
    },
    Some("""WITH blk AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk,
                 date_trunc('week', l_shipdate) AS wk FROM lineitem),
            e0 AS (SELECT DISTINCT a.ok AS a, b.ok AS b FROM blk a JOIN blk b
                   ON a.sk = b.sk AND a.wk = b.wk AND a.ok < b.ok),
            tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
                    FROM e0 e1 JOIN e0 e2 ON e2.a = e1.a AND e2.b > e1.b
                    JOIN e0 e3 ON e3.a = e1.b AND e3.b = e2.b)
            SELECT id, CAST(count(*) AS BIGINT) AS n_tri
            FROM (SELECT x AS id FROM tri UNION ALL SELECT y AS id FROM tri
                  UNION ALL SELECT z AS id FROM tri)
            GROUP BY id"""))

  // ------------------------------------------------------ kc1: k-core

  private val kcK = 3
  private val kcRounds = 3

  /** KC1 — `kcRounds`-step k-core peel (k = `kcK`) on the same order
    * co-shipment graph as `tc1` ([[graft.operators.Graphs.kCore]]): each
    * round drops nodes whose surviving degree is < k plus their edges.
    * Like `pr1`, the FIXED round count is what buys an iterative
    * operator a full hash oracle — the SQL unrolls the identical peels
    * as chained CTEs. Pure integer arithmetic, no float parity games. */
  private val kc1 = Q(
    "kc1_kcore_peel",
    (s, d) => {
      // one ship-year of the tc1 graph — a pushdown-pruned slice keeps
      // the 3-round demo at catalog cost; the operator itself is
      // volume-agnostic (every round is keyed aggs/joins)
      // same one-agg edge build as tc1 (see coShipEdges) — no self-join,
      // no fact persist
      val blk = Tables.lineitem(s, d)
        .filter(col("l_shipdate").between("1995-01-01", "1995-12-31"))
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"),
          date_trunc("week", col("l_shipdate")).as("wk"))
      graft.operators.Graphs.kCore(coShipEdges(blk), kcK, kcRounds)
    },
    Some {
      val base =
        """WITH blk AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk,
               date_trunc('week', l_shipdate) AS wk FROM lineitem
               WHERE l_shipdate BETWEEN '1995-01-01' AND '1995-12-31'),
           e0 AS (SELECT DISTINCT a.ok AS a, b.ok AS b FROM blk a JOIN blk b
                  ON a.sk = b.sk AND a.wk = b.wk AND a.ok < b.ok)"""
      val steps = (1 to kcRounds).map { i =>
        s"""d$i AS (SELECT id, count(*) AS d FROM (SELECT a AS id FROM e${i - 1}
                 UNION ALL SELECT b AS id FROM e${i - 1}) GROUP BY id),
           k$i AS (SELECT id FROM d$i WHERE d >= $kcK),
           e$i AS (SELECT a, b FROM e${i - 1}
                 JOIN k$i ka ON e${i - 1}.a = ka.id
                 JOIN k$i kb ON e${i - 1}.b = kb.id)"""
      }.mkString(",\n")
      s"""$base,
          $steps
          SELECT id, CAST(count(*) AS BIGINT) AS deg
          FROM (SELECT a AS id FROM e$kcRounds UNION ALL SELECT b AS id FROM e$kcRounds)
          GROUP BY id"""
    })

  // ------------------------------------------------------- bfs1: BFS

  private val bfsDepth = 3

  /** BFS1 — hop distances from customers 1–3 over the (undirected)
    * customer↔supplier trade graph of `pr1`, `bfsDepth` level-synchronous
    * rounds ([[graft.operators.Graphs.bfsLevels]]). Dist 1 = their
    * suppliers, dist 2 = customers sharing a supplier, dist 3 = that
    * cohort's suppliers. Fixed depth → unrolled-CTE hash oracle; pure
    * integer arithmetic. */
  private val bfs1 = Q(
    "bfs1_graph_bfs",
    (s, d) => {
      // one order-year of the trade graph (pushdown-pruned, the kc1
      // stance) — BFS itself is volume-agnostic
      val ed = Tables.orders(s, d)
        .filter(col("o_orderdate").between("1995-01-01", "1995-12-31"))
        .select(col("o_orderkey"), col("o_custkey"))
        .join(Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"), (col("l_suppkey") + (1L << 40)).as("dst"))
      val sources = Tables.customer(s, d).filter(col("c_custkey") <= 3)
        .select(col("c_custkey").as("id"))
      graft.operators.Graphs.bfsLevels(ed, sources, bfsDepth)
    },
    Some {
      val base =
        """WITH e AS (SELECT DISTINCT o_custkey AS a, l_suppkey + 1099511627776 AS b
               FROM orders JOIN lineitem ON o_orderkey = l_orderkey
               WHERE o_orderdate BETWEEN '1995-01-01' AND '1995-12-31'),
           adj AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b AS u, a AS v FROM e),
           v0 AS (SELECT c_custkey AS id, CAST(0 AS BIGINT) AS dist
               FROM customer WHERE c_custkey <= 3)"""
      val steps = (1 to bfsDepth).map { i =>
        s"""f$i AS (SELECT DISTINCT adj.v AS id FROM adj
                 JOIN v${i - 1} p ON adj.u = p.id AND p.dist = ${i - 1}),
           n$i AS (SELECT f$i.id, CAST($i AS BIGINT) AS dist FROM f$i
                 WHERE NOT EXISTS (SELECT 1 FROM v${i - 1} v WHERE v.id = f$i.id)),
           v$i AS (SELECT id, dist FROM v${i - 1} UNION ALL SELECT id, dist FROM n$i)"""
      }.mkString(",\n")
      s"$base,\n$steps\nSELECT id, dist FROM v$bfsDepth"
    })

  // -------------------------------------------- qd1: DDSketch quantiles

  private val qdAlpha = 0.01
  private val qdQs = Seq(("p50", 0.5), ("p95", 0.95), ("p99", 0.99))

  /** QD1 — DDSketch 1%-relative-error quantiles of `l_extendedprice` per
    * return flag ([[graft.operators.Sketches.ddQuantiles]]): ONE
    * map-side-combined histogram pass over the fact (no range shuffle —
    * contrast `wz1`'s exact ranks), then rank selection on the
    * constant-sized (group × bucket) frame. The sketch is a pure
    * log-bucket groupBy — deterministic and merge-order-independent — so
    * unlike GK/t-digest it carries a FULL hash oracle: the SQL replays
    * the identical bucket arithmetic with ln(γ), γ, and 2/(γ+1)
    * interpolated from the very Scala doubles the Spark plan uses. */
  private val qd1 = Q(
    "qd1_ddsketch_quantiles",
    (s, d) => {
      val est = graft.operators.Sketches.ddQuantiles(
        Tables.lineitem(s, d), Seq("l_returnflag"), "l_extendedprice",
        qdAlpha, qdQs)
      est.select(col("l_returnflag") +: col("n") +:
        qdQs.map { case (nm, _) => round(col(nm), 6).as(nm) }: _*)
    },
    Some {
      val g = graft.operators.Sketches.gamma(qdAlpha)
      val lg = graft.operators.Sketches.lnGamma(qdAlpha)
      val coef = 2.0 / (g + 1.0)
      val picks = qdQs.map { case (nm, q) =>
        s"""round(max(CASE WHEN cum - c < ceil(n * $q) AND ceil(n * $q) <= cum
              THEN $coef * pow($g, b) END), 6) AS $nm"""
      }.mkString(",\n              ")
      s"""WITH h AS (SELECT l_returnflag,
                 CAST(ceil(ln(l_extendedprice) / $lg) AS BIGINT) AS b,
                 CAST(count(*) AS BIGINT) AS c
               FROM lineitem WHERE l_extendedprice > 0 AND isfinite(l_extendedprice) GROUP BY 1, 2),
          cum AS (SELECT l_returnflag, b, c,
                 CAST(sum(c) OVER (PARTITION BY l_returnflag ORDER BY b) AS BIGINT) AS cum,
                 CAST(sum(c) OVER (PARTITION BY l_returnflag) AS BIGINT) AS n FROM h)
          SELECT l_returnflag, max(n) AS n,
              $picks
          FROM cum GROUP BY l_returnflag"""
    })

  // -------------------------------------- qd2: signed DDSketch quantiles

  private val qd2Qs = Seq(("p25", 0.25), ("p50", 0.5), ("p75", 0.75))

  /** QD2 — DDSketch over the FULL real line: centered price deviations
    * (`l_extendedprice − 53000`, ≈ the corpus median, so both stores
    * fill) per return flag through
    * [[graft.operators.Sketches.ddQuantilesSigned]] — the paper's
    * mirrored negative store + zero bucket, folded into one
    * ORDER-PRESERVING key so the positive-store rank selection applies
    * unchanged. Same one-histogram-pass scale shape and the same
    * interpolated-constant float parity as `qd1`. */
  private val qd2 = Q(
    "qd2_signed_sketch",
    (s, d) => {
      val centered = Tables.lineitem(s, d)
        .withColumn("dev", col("l_extendedprice") - lit(53000.0))
      val est = graft.operators.Sketches.ddQuantilesSigned(
        centered, Seq("l_returnflag"), "dev", qdAlpha, qd2Qs)
      est.select(col("l_returnflag") +: col("n") +:
        qd2Qs.map { case (nm, _) => round(col(nm), 6).as(nm) }: _*)
    },
    Some {
      val g = graft.operators.Sketches.gamma(qdAlpha)
      val lg = graft.operators.Sketches.lnGamma(qdAlpha)
      val coef = 2.0 / (g + 1.0)
      val picks = qd2Qs.map { case (nm, q) =>
        s"""round(max(CASE WHEN cum - c < ceil(n * $q) AND ceil(n * $q) <= cum
              THEN CASE WHEN b > 0 THEN $coef * pow($g, b - 1000000)
                        WHEN b = 0 THEN 0.0
                        ELSE -$coef * pow($g, -b - 1000000) END END), 6) AS $nm"""
      }.mkString(",\n              ")
      s"""WITH v AS (SELECT l_returnflag, l_extendedprice - 53000.0 AS dev
               FROM lineitem),
          h AS (SELECT l_returnflag,
                 CASE WHEN dev > 0 THEN 1000000 + CAST(ceil(ln(dev) / $lg) AS BIGINT)
                      WHEN dev = 0 THEN 0
                      ELSE -1000000 - CAST(ceil(ln(-dev) / $lg) AS BIGINT) END AS b,
                 CAST(count(*) AS BIGINT) AS c
               FROM v WHERE isfinite(dev) GROUP BY 1, 2),
          cum AS (SELECT l_returnflag, b, c,
                 CAST(sum(c) OVER (PARTITION BY l_returnflag ORDER BY b) AS BIGINT) AS cum,
                 CAST(sum(c) OVER (PARTITION BY l_returnflag) AS BIGINT) AS n FROM h)
          SELECT l_returnflag, max(n) AS n,
              $picks
          FROM cum GROUP BY l_returnflag"""
    })

  // ------------------------------------------------- bs1: Poisson bootstrap

  private val bootB = 32

  /** Integer thresholds of the Poisson(1) CDF on the 60-bit hash range:
    * u = h/2⁶⁰ < CDF(k) ⇔ h < ⌊CDF(k)·2⁶⁰⌋. Computed ONCE driver-side and
    * embedded as the SAME literals in both the Spark plan and the oracle
    * SQL, so the inverse-CDF comparison is exact-integer on both engines.
    * Truncated at k = 8 (P(X ≥ 8) = 1 − CDF(7) ≈ 1.04e-5 — at most a
    * ~1e-5 weight-mass clip, identical on both sides by construction). */
  private val poissonThresholds: Seq[Long] = {
    var cdf = 0.0
    var fact = 1.0
    (0 to 7).map { k =>
      if (k > 0) fact *= k
      cdf += math.exp(-1.0) / fact
      math.floor(cdf * math.pow(2.0, 60)).toLong
    }
  }

  /** BS1 — ONE-PASS Poisson bootstrap (Chamandy et al., "Estimating
    * uncertainty for massive data streams"): per-`source` mean document
    * length with a bootstrap SE and 95% CI, from B=32 replicas where
    * each doc enters replica b with weight w ~ Poisson(1) — drawn
    * DETERMINISTICALLY from a 60-bit content hash of (b, doc_id) via the
    * embedded inverse-CDF thresholds. This is the scale-correct
    * uncertainty primitive: resampling rows is impossible at 100 TB, but
    * Poisson weights ride the scan (map-side B× fan-out is pure compute;
    * the shuffle carries only |groups|·B partial sums — map-side combine
    * keeps the exchange group-sized).
    *
    * Cross-engine parity: weights and weighted sums are exact integers;
    * only the final mean/SE/percentile arithmetic is float, identical
    * expression order both sides + round 6 (the d2 percentile
    * precedent). */
  private val bs1 = Q(
    "bs1_poisson_bootstrap",
    (s, d) => {
      def wOf(h: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        poissonThresholds.zipWithIndex.foldRight(lit(8): org.apache.spark.sql.Column) {
          case ((t, k), acc) => when(h < t, lit(k)).otherwise(acc)
        }
      val reps = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .withColumn("b", explode(sequence(lit(0), lit(bootB - 1))))
        .withColumn("h", graft.operators.Dedup.hash60(
          concat(lit("bs:"), col("b").cast("string"), lit(":"),
            col("doc_id").cast("string"))))
        .withColumn("w", wOf(col("h")).cast("long"))
      val means = reps.groupBy(col("source"), col("b")).agg(
          sum(col("w")).as("sw"),
          // DECIMAL accumulator: w*n_chars ~ 1e7/row, a LONG sum wraps
          // past ~1e12 rows per (source, replica); the oracle is HUGEINT
          sum((col("w") * col("n_chars"))
            .cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("swx"))
        .filter(col("sw") > 0)
        .withColumn("mean_b", col("swx").cast("double") / col("sw"))
      means.groupBy(col("source")).agg(
          count(lit(1)).as("n_boot"),
          round(avg(col("mean_b")), 6).as("boot_mean"),
          round(stddev_samp(col("mean_b")), 6).as("boot_se"),
          round(expr("percentile(mean_b, 0.025)"), 6).as("ci_lo"),
          round(expr("percentile(mean_b, 0.975)"), 6).as("ci_hi"))
    },
    Some {
      val h = OracleSql.hash60(
        "'bs:'||CAST(b AS VARCHAR)||':'||CAST(doc_id AS VARCHAR)")
      val ladder = poissonThresholds.zipWithIndex
        .map { case (t, k) => s"WHEN h < $t THEN $k" }
        .mkString(" ")
      s"""WITH reps AS (SELECT doc_id, source, n_chars,
                 unnest(range(0, $bootB)) AS b
               FROM documents),
          hw AS (SELECT source, b, n_chars,
                   CASE $ladder ELSE 8 END AS w
                 FROM (SELECT *, $h AS h FROM reps)),
          m AS (SELECT source, b, CAST(sum(w) AS BIGINT) AS sw,
                  -- no BIGINT cast: swx keeps DuckDB's HUGEINT sum so the
                  -- oracle matches the engine's DECIMAL(38,0) headroom
                  -- rather than being the first side to overflow
                  sum(w * n_chars) AS swx
                FROM hw GROUP BY 1, 2),
          mb AS (SELECT source, CAST(swx AS DOUBLE) / sw AS mean_b
                 FROM m WHERE sw > 0)
          SELECT source, CAST(count(*) AS BIGINT) AS n_boot,
            round(avg(mean_b), 6) AS boot_mean,
            round(stddev_samp(mean_b), 6) AS boot_se,
            round(percentile_cont(0.025) WITHIN GROUP (ORDER BY mean_b), 6) AS ci_lo,
            round(percentile_cont(0.975) WITHIN GROUP (ORDER BY mean_b), 6) AS ci_hi
          FROM mb GROUP BY source"""
    })

  // ------------------------------------------------ cs1: Count-Min sketch

  private val cmDepth = 4
  private val cmWidth = 256

  /** CS1 — portable Count-Min sketch (Cormode & Muthukrishnan 2005)
    * frequency estimates, sketch-then-verify like hh1: build the
    * [[graft.operators.Sketches.countMinRegisters]] table (4×256
    * all-integer cells from the engine's md5-hash60, so every register
    * replays in DuckDB), then report the top-50 tokens by TRUE count
    * beside their CM estimate and the overcount est − true (≥ 0 by the
    * sketch's one-sided error guarantee — asserted in SketchesSpec).
    * Completes the mergeable-sketch family: Misra–Gries (hh1) answers
    * "which keys are heavy", HLL (hl2) "how many distinct", DDSketch
    * (qd1) "what quantile", CM "how often is THIS key" — each O(1)
    * state, partial+final mergeable.
    *
    * Scale shape: one corpus pass to type-sized token counts (map-side
    * combine); the depth-way fan-out and the register agg touch the
    * VOCABULARY; the register table is 1024 cells at any corpus size
    * and rides a broadcast join; top-k is TakeOrderedAndProject. The
    * count frame's consumers (registers, top-k, estimate probes) read
    * its one aggregate exchange. */
  private val cs1 = Q(
    "cs1_countmin_est",
    (s, d) => {
      val tc = Tables.documents(s, d)
        .select(explode(graft.operators.TextFunctions.tokens(col("text")))
          .as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      val regs = graft.operators.Sketches
        .countMinRegisters(tc, "token", "cnt", cmDepth, cmWidth)
      val top = tc.orderBy(col("cnt").desc, col("token")).limit(50)
      graft.operators.Sketches
        .countMinEstimate(top, "token", regs, cmDepth, cmWidth)
        .select(col("token"), col("cnt").as("n_true"), col("est").as("n_est"),
          (col("est") - col("cnt")).as("overcount"))
    },
    Some {
      val h = OracleSql.hash60("'cm:'||CAST(r AS VARCHAR)||':'||token")
      s"""WITH t AS ($toksSql),
          tok AS (SELECT unnest(toks) AS token FROM t),
          tc AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt
                 FROM tok GROUP BY 1),
          rows AS (SELECT unnest(range(0, $cmDepth)) AS r),
          cells AS (SELECT r, $h % $cmWidth AS c, cnt
                    FROM tc CROSS JOIN rows),
          regs AS (SELECT r, c, CAST(sum(cnt) AS BIGINT) AS reg
                   FROM cells GROUP BY 1, 2),
          top AS (SELECT token, cnt FROM tc
                  ORDER BY cnt DESC, token LIMIT 50),
          pr AS (SELECT token, cnt, r, $h % $cmWidth AS c
                 FROM top CROSS JOIN rows),
          e AS (SELECT token, cnt, min(reg) AS est
                FROM pr JOIN regs USING (r, c) GROUP BY 1, 2)
          SELECT token, cnt AS n_true, est AS n_est,
            est - cnt AS overcount
          FROM e"""
    })

  def all: Seq[Q] = Seq(tf1, lm1, cc1, se1, ru1, sj1, mo1, gs1, wz1, rz1, fz1, w1, w2,
    ii1, bp1, bp2, bp2b, tk1, lm2, gf1, lf1, hh1, fn1, co1, bm1, pr1, tc1, qd1,
    kc1, bfs1, qd2, bs1, cs1)
}
