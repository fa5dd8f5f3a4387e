package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{Normalization, Stats}

/** SURVEY.md §2 groups D (aggregation/statistics) and E (windows) over the
  * driver star schema: D1 having-prefilter, D2 size factors, D5 BH, D6 VST,
  * D7 Wilcoxon, D8/D9 scalars, E1 ntile median-split.
  *
  * Oracle parity rules: exact `percentile` ↔ `percentile_cont`; identical
  * floating-op order on both sides; `round(x, 6)` on every
  * order-of-association-sensitive double.
  */
object StatsQueries {

  /** Exact-integer accumulator type for moment sums: DECIMAL(38,0) sums
    * stay exact to 1e38 where LONG sums overflow at bench-and-above group
    * sizes; the DuckDB oracle side accumulates in HUGEINT, so decimal is
    * what keeps the ENGINE as exact as the oracle. */
  private val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)

  /** D1 — grouped sum + HAVING prefilter (`rowSums(counts) >= 10`,
    * vital_status_DESeq.R:47-48). Partial+final hash agg; the filter runs on
    * the aggregated side so no second pass over the fact table. */
  private val d1 = Q(
    "d1_sum_having",
    (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_partkey"))
        .agg(sum(col("l_quantity")).as("total_qty"))
        .filter(col("total_qty") >= 800),
    Some("""SELECT l_partkey, sum(l_quantity) AS total_qty FROM lineitem
            GROUP BY l_partkey HAVING sum(l_quantity) >= 800"""))

  /** The catalog's long-form count fact, read by D2/D6 here and by the
    * DomainQueries pipelines: cell = (gene=part, sample=supplier,
    * count=Σqty), mirroring the expression matrix in long form (§1.4).
    * No repartition before the groupBy: cells ≈ input cardinality
    * (gene×sample nearly dense), so pre-spreading the one-task scan just
    * adds a same-sized shuffle (benched +15% on the pipelines). */
  private[queries] def cells(s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_partkey").as("gene"), col("l_suppkey").as("smp"))
      .agg(sum(col("l_quantity")).as("cnt"))

  /** [[cells]]' oracle SQL twin. */
  private[queries] val cellsSql =
    """SELECT l_partkey AS gene, l_suppkey AS smp, sum(l_quantity) AS cnt
       FROM lineitem GROUP BY 1, 2"""

  /** D2 — DESeq2 median-of-ratios size factors (vital_status_DESeq.R:51). */
  private val d2 = Q(
    "d2_size_factors",
    (s, d) =>
      Normalization.sizeFactors(cells(s, d), "gene", "smp", "cnt")
        .select(col("smp"), round(col("size_factor"), 6).as("size_factor")),
    Some(s"""WITH cell AS ($cellsSql),
             gm AS (SELECT gene, exp(avg(ln(cnt))) AS geomean
                    FROM cell WHERE cnt > 0 GROUP BY gene)
             SELECT smp,
               round(percentile_cont(0.5) WITHIN GROUP (ORDER BY ratio), 6) AS size_factor
             FROM (SELECT smp, cnt / geomean AS ratio
                   FROM cell JOIN gm USING (gene) WHERE cnt > 0)
             GROUP BY smp"""))

  /** Shared oracle CTE chain `cell → gm → sf` (geomean + median-of-ratios
    * size factors) — ONE copy serving d6's and wt1's oracles so a parity
    * fix to the float-op order can never be applied to one and missed in
    * the other (d2 stops at gm; d6b's trend chain is structurally
    * different and stays inline). */
  private val sfSql =
    s"""cell AS ($cellsSql),
             gm AS (SELECT gene, exp(avg(ln(cnt))) AS geomean
                    FROM cell WHERE cnt > 0 GROUP BY gene),
             sf AS (SELECT smp,
                      percentile_cont(0.5) WITHIN GROUP (ORDER BY ratio) AS size_factor
                    FROM (SELECT smp, cnt / geomean AS ratio
                          FROM cell JOIN gm USING (gene) WHERE cnt > 0)
                    GROUP BY smp)"""

  /** D6 — VST-approx normalized counts `log2(cnt/sf + 1)`
    * (vital_status_DESeq.R:100-101; deviation documented in Normalization). */
  private val d6 = Q(
    "d6_vst",
    (s, d) =>
      Normalization.vst(cells(s, d), "gene", "smp", "cnt")
        .select(col("gene"), col("smp"), round(col("vst"), 6).as("vst")),
    Some(s"""WITH $sfSql
             SELECT gene, smp, round(log2(cnt / size_factor + 1), 6) AS vst
             FROM cell JOIN sf USING (smp)"""))

  /** D6b — parametric dispersion-trend VST (DESeq2's closed form, the
    * "exact VST" of SURVEY.md §7.5): per-gene MoM dispersions → OLS trend
    * α(μ)=a0+a1/μ → closed-form transform. Entirely aggregations + scalar
    * math, so the oracle replays it exactly. */
  private val d6b = Q(
    "d6b_vst_trend",
    (s, d) =>
      Normalization.vstTrend(cells(s, d), "gene", "smp", "cnt")
        .select(col("gene"), col("smp"), round(col("vst"), 6).as("vst")),
    Some(s"""WITH cell AS ($cellsSql),
             gm AS (SELECT gene, exp(avg(ln(cnt))) AS geomean
                    FROM cell WHERE cnt > 0 GROUP BY gene),
             sfac AS (SELECT smp,
                       percentile_cont(0.5) WITHIN GROUP (ORDER BY ratio) AS size_factor
                      FROM (SELECT smp, cnt / geomean AS ratio
                            FROM cell JOIN gm USING (gene) WHERE cnt > 0)
                      GROUP BY smp),
             qt AS (SELECT gene, smp, cnt / size_factor AS q
                    FROM cell JOIN sfac USING (smp)),
             gs AS (SELECT gene, avg(q) AS mu, var_samp(q) AS v
                    FROM qt GROUP BY gene),
             ds AS (SELECT gene, 1.0 / mu AS x,
                      greatest((v - mu) / (mu * mu), 1e-8) AS disp
                    FROM gs WHERE mu > 0 AND v IS NOT NULL),
             sums AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx,
                        sum(disp) AS sy, sum(x * disp) AS sxy, sum(x * x) AS sxx
                      FROM ds),
             tr AS (SELECT greatest((n * sxy - sx * sy) / (n * sxx - sx * sx), 0.0) AS a1,
                      n, sx, sy FROM sums),
             ab AS (SELECT a1, greatest((sy - a1 * sx) / n, 1e-8) AS a0 FROM tr)
             SELECT gene, smp,
               round(${OracleSql.vst("q", "a0", "a1")}, 6) AS vst
             FROM qt CROSS JOIN ab"""))

  /** D6c — the EXACT DESeq2 closed-form VST behind a FROZEN fitted trend
    * (the d3b/d4b fit/apply pattern closing the SURVEY §7.4 "exact VST"
    * deviation): the design-aware gamma-GLM dispersion trend
    * α(μ) = a0 + a1/μ fitted ONCE on sf0.001 (`DiffExpression
    * .dispersionPrior`, frozen as `FrozenModels.vstTrendA0/A1`) ships as
    * two plan literals; size factors are recomputed in-query via the d2
    * median-of-ratios chain. Given (a0, a1) the transform is DESeq2's
    * closed form — deterministic scalar double arithmetic with identical
    * textual op order on both engines, so the query is fully
    * hash-oracled. (d6b keeps the in-query OLS-trend variant; d6 the
    * log2(q+1) approximation.) Scale shape identical to d6: one gene-dim
    * agg + one sample-dim agg broadcast back, then a scalar map. */
  private val d6c = Q(
    "d6c_vst_exact",
    (s, d) =>
      Normalization.vstClosedForm(cells(s, d), "gene", "smp", "cnt",
          FrozenModels.vstTrendA0, FrozenModels.vstTrendA1)
        .select(col("gene"), col("smp"), round(col("vst"), 6).as("vst")),
    Some {
      val a0 = FrozenModels.vstTrendA0.toString
      val a1 = FrozenModels.vstTrendA1.toString
      s"""WITH $sfSql,
             qt AS (SELECT gene, smp, cnt / size_factor AS q
                    FROM cell JOIN sf USING (smp))
          SELECT gene, smp,
            round(${OracleSql.vst("q", a0, a1)}, 6) AS vst
          FROM qt"""
    })

  /** D5 — Benjamini–Hochberg FDR over a deterministic pseudo p-value
    * (padj consumed at vital_status_DESeq.R:93). */
  private val d5 = Q(
    "d5_bh_adjust",
    (s, d) => {
      val p = Tables.part(s, d)
        .select(col("p_partkey"),
          (expr("(p_partkey * 2654435761) % 1000003") / 1000003.0).as("pval"))
      Stats.bhAdjust(p, "pval", "p_partkey")
        .select(col("p_partkey"), round(col("pval"), 6).as("pval"),
          round(col("padj"), 6).as("padj"))
    },
    Some("""WITH p AS (SELECT p_partkey,
                        ((p_partkey * 2654435761) % 1000003) / 1000003.0 AS pval
                       FROM part),
            r AS (SELECT p_partkey, pval,
                    row_number() OVER (ORDER BY pval, p_partkey) AS rk,
                    count(*) OVER () AS n
                  FROM p)
            SELECT p_partkey, round(pval, 6) AS pval,
              round(min(least(1.0, pval * n / rk)) OVER (
                ORDER BY pval DESC, p_partkey DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS padj
            FROM r"""))

  /** D7 — grouped Wilcoxon rank-sum, normal approx with tie correction
    * (`compare_means(counts ~ group, group.by = gene)`,
    * vital_status_DESeq.R:130). Quantities are integer-valued → heavy ties,
    * exercising the mid-rank + tie-variance path. */
  private val d7 = Q(
    "d7_wilcoxon",
    (s, d) => {
      val t = Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
        .select(col("p_brand").as("brand"), col("l_returnflag").as("cond"),
          col("l_quantity").as("v"))
      Stats.wilcoxon(t, "brand", "cond", "v", "A", "R")
        .select(col("brand"), col("n1"), col("n2"), round(col("u"), 6).as("u"),
          round(col("z"), 6).as("z"), round(col("pvalue"), 6).as("pvalue"))
    },
    Some {
      val inner =
        """WITH t AS (SELECT p_brand AS brand, l_returnflag AS flag, l_quantity AS v
                      FROM lineitem JOIN part ON l_partkey = p_partkey
                      WHERE l_returnflag IN ('A','R')),
           r AS (SELECT brand, flag, v,
                   rank() OVER (PARTITION BY brand ORDER BY v) AS rmin,
                   count(*) OVER (PARTITION BY brand, v) AS tcnt
                 FROM t),
           g AS (SELECT brand,
                   sum(CASE WHEN flag = 'A' THEN rmin + (tcnt - 1) / 2.0 END) AS r1,
                   CAST(sum(CASE WHEN flag = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                   CAST(sum(CASE WHEN flag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n2
                 FROM r GROUP BY brand),
           ties AS (SELECT brand, sum(tc*tc*tc - tc) AS tie3
                    FROM (SELECT brand, v, count(*) AS tc FROM t GROUP BY brand, v)
                    GROUP BY brand)
           SELECT g.brand, n1, n2,
             r1 - n1 * (n1 + 1) / 2.0 AS u,
             (r1 - n1 * (n1 + 1) / 2.0 - n1 * n2 / 2.0)
               / sqrt((n1 * n2 / 12.0) *
                      ((n1 + n2 + 1) - tie3 / CAST((n1 + n2) * (n1 + n2 - 1) AS DOUBLE))) AS z
           FROM g JOIN ties ON g.brand = ties.brand
           WHERE n1 > 0 AND n2 > 0
             AND (n1 * n2 / 12.0) *
                 ((n1 + n2 + 1) - tie3 / CAST((n1 + n2) * (n1 + n2 - 1) AS DOUBLE)) > 0"""
      OracleSql.withNormalSf(inner, "brand, n1, n2, round(u, 6) AS u, round(z, 6) AS z")
    })

  /** D8 — scalar max for plot bounds (vital_status_DESeq.R:142). */
  private val d8 = Q(
    "d8_scalar_max",
    (s, d) =>
      Tables.orders(s, d).agg(
        round(max(col("o_totalprice")), 6).as("max_price"),
        max(col("o_orderkey")).as("max_key")),
    Some("""SELECT round(max(o_totalprice), 6) AS max_price, max(o_orderkey) AS max_key
            FROM orders"""))

  /** D9 — group sizes for the plot legend (surv_analysis_median_exp.R:143-144). */
  private val d9 = Q(
    "d9_group_counts",
    (s, d) => Tables.events(s, d).groupBy(col("event_type")).agg(count(lit(1)).as("n")),
    Some("SELECT event_type, count(*) AS n FROM events GROUP BY event_type"))

  /** E1 — ntile(2) median split → LOW/HIGH stratification
    * (surv_analysis_median_exp.R:134-141). Tiebreak keys pin tile assignment
    * (dplyr::ntile and SQL NTILE are both order-dependent under ties).
    *
    * `l_returnflag` has 3 values, so a plain partitioned window sorts the
    * whole fact table in 3 tasks at any scale — [[graft.operators.Ranks]]
    * two-phase ntile keeps every task bounded by a range partition. */
  private val e1 = Q(
    "e1_ntile_split",
    (s, d) => {
      import graft.operators.Ranks
      // project BEFORE the rank: Ranks persists its input, and a persist
      // is a pruning barrier — unprojected, the range shuffle + cache
      // carry all 16 lineitem columns for a 2-column aggregate
      Ranks.ntile(Tables.lineitem(s, d)
            .select("l_returnflag", "l_extendedprice", "l_orderkey", "l_linenumber"),
          grp = Seq(col("l_returnflag")),
          order = Seq(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber")),
          tiles = 2, out = "tile")
        .withColumn("strat", when(col("tile") === 1, "LOW").otherwise("HIGH"))
        .groupBy(col("l_returnflag"), col("strat"))
        // exact decimal sum → double: association-order-proof across engines
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
            / count(lit(1)), 6).as("avg_v"))
    },
    Some("""WITH t AS (SELECT l_returnflag, l_extendedprice AS v,
                         ntile(2) OVER (PARTITION BY l_returnflag
                           ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS tile
                       FROM lineitem)
            SELECT l_returnflag, CASE WHEN tile = 1 THEN 'LOW' ELSE 'HIGH' END AS strat,
                   count(*) AS n,
                   round(CAST(sum(CAST(v AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_v
            FROM t GROUP BY 1, 2"""))

  /** X8 — chi-square test of independence between two categoricals
    * (lang × source class of the documents table): observed cell counts
    * vs the independence expectation row_total·col_total/N, χ² =
    * Σ (O−E)²/E. The contingency table is ONE hash agg (cells bounded by
    * the category product, not data volume); margins join back as
    * broadcasts; the statistic is a second cell-sized agg. The classic
    * companion to the rank tests (D7) and the log-rank χ² (D11). */
  private val x8 = Q(
    "x8_chi_square",
    (s, d) => {
      val t = Tables.documents(s, d).select(col("lang"),
        (substring(col("source"), 4, 10).cast("int") % 4).as("src_class"))
      val cells = t.groupBy("lang", "src_class").agg(count(lit(1)).as("o"))
      val rowm = cells.groupBy("lang").agg(sum(col("o")).as("rt"))
      val colm = cells.groupBy("src_class").agg(sum(col("o")).as("ct"))
      val tot = cells.agg(sum(col("o")).as("n"))
      cells.join(broadcast(rowm), "lang").join(broadcast(colm), "src_class")
        .crossJoin(broadcast(tot))
        .withColumn("e", col("rt").cast("double") * col("ct") / col("n"))
        .agg(count(lit(1)).cast("long").as("n_cells"),
          round(sum((col("o") - col("e")) * (col("o") - col("e")) / col("e")), 6)
            .as("chi2"))
    },
    Some("""WITH t AS (SELECT lang,
                         CAST(substring(source, 4) AS INT) % 4 AS src_class
                       FROM documents),
            c AS (SELECT lang, src_class, CAST(count(*) AS BIGINT) AS o
                  FROM t GROUP BY 1, 2),
            r AS (SELECT lang, CAST(sum(o) AS BIGINT) AS rt FROM c GROUP BY 1),
            k AS (SELECT src_class, CAST(sum(o) AS BIGINT) AS ct FROM c GROUP BY 1),
            n AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM c),
            e AS (SELECT c.o, CAST(r.rt AS DOUBLE) * k.ct / n.n AS e
                  FROM c JOIN r USING (lang) JOIN k USING (src_class) CROSS JOIN n)
            SELECT CAST(count(*) AS BIGINT) AS n_cells,
              round(sum((o - e) * (o - e) / e), 6) AS chi2
            FROM e"""))

  /** KS1 — two-sample Kolmogorov–Smirnov statistic (flag A vs R over
    * `l_extendedprice`): D = sup |F_A − F_B|. Ties collapse into the
    * DISTINCT-value frame first (one hash agg with per-group counts), so
    * both ECDFs step together at shared values; the cumulative counts
    * come from the scale-safe two-phase prefix scan over the distinct
    * values (no one-task window), and the sup is one more agg. The
    * distribution-free companion to D7's rank test. */
  private val ks1 = Q(
    "ks1_two_sample",
    (s, d) => {
      import graft.operators.Ranks
      val x = Tables.lineitem(s, d)
        .filter(col("l_returnflag").isin("A", "R"))
        .select(col("l_extendedprice").as("v"), col("l_returnflag").as("f"))
      val g = x.groupBy("v").agg(
        sum(when(col("f") === "A", 1L).otherwise(0L)).as("a"),
        sum(when(col("f") === "R", 1L).otherwise(0L)).as("b"))
      // ONE prefix scan for both ECDFs: pack (a, b) into a single long —
      // cumulative counts stay far below 2^32, so `a·2^32 + b` prefix-sums
      // exactly and unpacks with a shift/mask. Halves the two-phase-scan
      // cost vs chaining two passes (benched 4.5 s → ~2.5 s at sf0.1).
      val c = Ranks.prefixSum(g, Nil, Seq(col("v")),
          col("a") * lit(4294967296L) + col("b"), "cab")
        .withColumn("ca", shiftright(col("cab"), 32))
        .withColumn("cb", col("cab").bitwiseAND(lit(4294967295L)))
      // HARD precondition of the packed scan: each flag's total stays
      // below 2^32 (≈4.3 B rows per flag), else b's cumulative bits would
      // carry into a's. Enforced in-plan on the 1-row totals frame —
      // raise_error fires before any packed result is read; past ~4 B
      // rows per group, chain two prefix scans instead.
      def bounded(c: org.apache.spark.sql.Column,
          what: String): org.apache.spark.sql.Column =
        when(c < lit(4294967296L), c).otherwise(raise_error(concat(
          lit(s"ks1: $what total >= 2^32 - packed ECDF prefix scan would overflow"))))
      val tot = g.agg(bounded(sum(col("a")), "flag-A").as("na"),
        bounded(sum(col("b")), "flag-B").as("nb"))
      c.crossJoin(broadcast(tot))
        .agg(round(max(abs(col("ca").cast("double") / col("na")
            - col("cb").cast("double") / col("nb"))), 6).as("d_stat"),
          max(col("na")).as("n_a"), max(col("nb")).as("n_b"))
    },
    Some("""WITH x AS (SELECT l_extendedprice AS v, l_returnflag AS f
                       FROM lineitem WHERE l_returnflag IN ('A', 'R')),
            g AS (SELECT v,
                    CAST(count(*) FILTER (WHERE f = 'A') AS BIGINT) AS a,
                    CAST(count(*) FILTER (WHERE f = 'R') AS BIGINT) AS b
                  FROM x GROUP BY v),
            c AS (SELECT v, a, b,
                    CAST(sum(a) OVER (ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ca,
                    CAST(sum(b) OVER (ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cb
                  FROM g),
            t AS (SELECT CAST(sum(a) AS BIGINT) AS na,
                    CAST(sum(b) AS BIGINT) AS nb FROM g)
            SELECT round(max(abs(CAST(ca AS DOUBLE) / na
                - CAST(cb AS DOUBLE) / nb)), 6) AS d_stat,
              max(na) AS n_a, max(nb) AS n_b
            FROM c CROSS JOIN t"""))

  /** SP1 — Spearman rank correlation per group (quantity vs price within
    * each return flag): Pearson over tie-AVERAGED ranks, computed
    * entirely from TIE-CLASS statistics — the fact is never row-ranked.
    * For a tie class with count c and inclusive cumulative count cum
    * (distinct-value prefix scan, as in ks1), every member's doubled
    * average rank is the integer `2·r̄ = 2·cum − c + 1`; the five Σ are
    * then class-weighted sums (Σ c·r, Σ c·r², marginal frames) plus ONE
    * joint (flag, x, y) histogram join for Σ rx·ry. All longs (exact,
    * associative — max ≈ 6e5·(1.2e6)² ≈ 8.6e17 < 2^63; re-derive the
    * bound before running at n ≳ 2e6 per group), and ρ is invariant
    * under the ×2 scaling, so both engines evaluate the SAME closed form
    * over bit-identical integers.
    *
    * Asymmetric plan, exploiting the two columns' cardinalities: x
    * (quantity, ~50 distinct) gets its class ranks from a WINDOW over the
    * tiny (flag, x) histogram — bounded by distinct(x), broadcast back —
    * while y (price, ~unique) takes the ONE heavy two-phase row rank.
    * Replaces the symmetric two-row-rank formulation: one range shuffle
    * instead of two. */
  private val sp1 = Q(
    "sp1_spearman",
    (s, d) => {
      import graft.operators.Ranks
      val li = Tables.lineitem(s, d).select(
        col("l_returnflag").as("flag"),
        col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").as("x"), col("l_extendedprice").as("y"))
      // x side: class histogram + in-window prefix; rx = 2·cum − c + 1.
      // The window is keyed by flag and holds one row per distinct x —
      // scale-bounded by x's cardinality, not the fact.
      val wx = Window.partitionBy(col("flag")).orderBy(col("x"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val rx = li.groupBy(col("flag"), col("x")).agg(count(lit(1)).as("__c"))
        .withColumn("__cum", sum(col("__c")).over(wx))
        .select(col("flag"), col("x"),
          (lit(2) * col("__cum") - col("__c") + 1).as("rx"))
      // y side: the one heavy pass — two-phase row rank, tie-averaged
      val rn = Ranks.rowNumber(li, Seq(col("flag")),
        Seq(col("y"), col("l_orderkey"), col("l_linenumber")), "__rn", "__ny")
      val wy = Window.partitionBy(col("flag"), col("y"))
      val r = rn
        .withColumn("ry",
          lit(2) * min(col("__rn")).over(wy) + count(lit(1)).over(wy) - 1)
        .join(broadcast(rx), Seq("flag", "x"))
      // sums as DECIMAL(38,0): per-flag n at bench SF is ~2e5, so the
      // LONG combination n*syy ~ 1.3n^4 overflows past n ~ 1.6e5 — the
      // oracle's HUGEINT never does; decimal keeps Spark exact too
      // (identical values at every SF, so the sf0.01 hash is unchanged)
      r.groupBy("flag").agg(
          count(lit(1)).as("n"),
          sum(col("rx").cast(dec38)).as("sx"), sum(col("ry").cast(dec38)).as("sy"),
          sum((col("rx") * col("rx")).cast(dec38)).as("sxx"),
          sum((col("ry") * col("ry")).cast(dec38)).as("syy"),
          sum((col("rx") * col("ry")).cast(dec38)).as("sxy"))
        .select(col("flag"), col("n"),
          round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double") *
              (col("n") * col("syy") - col("sy") * col("sy")).cast("double")), 6)
            .as("rho"))
    },
    Some("""WITH b AS (SELECT l_returnflag AS flag, l_orderkey, l_linenumber,
                         l_quantity AS x, l_extendedprice AS y
                       FROM lineitem),
            rx0 AS (SELECT *, row_number() OVER (PARTITION BY flag
                      ORDER BY x, l_orderkey, l_linenumber, y) AS rnx FROM b),
            ry0 AS (SELECT *, row_number() OVER (PARTITION BY flag
                      ORDER BY y, l_orderkey, l_linenumber, y) AS rny FROM rx0),
            rr AS (SELECT flag,
                     2 * min(rnx) OVER (PARTITION BY flag, x)
                       + count(*) OVER (PARTITION BY flag, x) - 1 AS rx,
                     2 * min(rny) OVER (PARTITION BY flag, y)
                       + count(*) OVER (PARTITION BY flag, y) - 1 AS ry
                   FROM ry0),
            m AS (SELECT flag, CAST(count(*) AS BIGINT) AS n,
                    -- moments stay HUGEINT: the combination n*sxy - sx*sy is
                    -- ~1.3n^4 (1.6e21 at per-flag n ~ 2e5, the sf0.1 regime)
                    -- and overflows a BIGINT product — the same bound the
                    -- Spark side's DECIMAL(38,0) accumulators exist for
                    CAST(sum(rx) AS HUGEINT) AS sx, CAST(sum(ry) AS HUGEINT) AS sy,
                    CAST(sum(rx * rx) AS HUGEINT) AS sxx,
                    CAST(sum(ry * ry) AS HUGEINT) AS syy,
                    CAST(sum(rx * ry) AS HUGEINT) AS sxy
                  FROM rr GROUP BY flag)
            SELECT flag, n,
              round(CAST(n * sxy - sx * sy AS DOUBLE) /
                sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                  * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS rho
            FROM m"""))

  /** Shared oracle CTE chain `cell → gm → sf → vst → g → st → w` ending
    * in the per-gene wide two-group stat frame — the SQL mirror of
    * [[welchWide]], ONE copy serving the wt1 and wt2 oracles. */
  private val welchWideSql =
    s"""$sfSql,
             vst AS (SELECT gene, smp, log2(cnt / size_factor + 1) AS vst
                     FROM cell JOIN sf USING (smp)),
             g AS (SELECT gene,
                     CASE WHEN smp % 2 = 0 THEN 'A' ELSE 'B' END AS grp, vst
                   FROM vst),
             st AS (SELECT gene, grp, CAST(count(*) AS BIGINT) AS n,
                      avg(vst) AS m, var_samp(vst) AS v
                    FROM g GROUP BY 1, 2),
             w AS (SELECT gene,
                     max(CASE WHEN grp = 'A' THEN n END) AS n_a,
                     max(CASE WHEN grp = 'A' THEN m END) AS m_a,
                     max(CASE WHEN grp = 'A' THEN v END) AS v_a,
                     max(CASE WHEN grp = 'B' THEN n END) AS n_b,
                     max(CASE WHEN grp = 'B' THEN m END) AS m_b,
                     max(CASE WHEN grp = 'B' THEN v END) AS v_b
                   FROM st GROUP BY gene)"""

  /** WT1 — grouped two-sample WELCH z-test per gene over the VST-
    * normalized counts (the parametric screening complement to d7's
    * rank-based Wilcoxon — the limma-style "moderated-t without
    * moderation" shape, normal approximation documented; d7's exact
    * branch owns the small-n regime). Everything is closed-form:
    * per-(gene, group) count/mean/sample-variance in ONE partial+final
    * hash agg, conditional aggregation to wide per-gene columns (no
    * second shuffle), z = Δmean / √(v_a/n_a + v_b/n_b), p from the
    * shared Abramowitz–Stegun tail. Degenerate genes (a group smaller
    * than 2, or zero pooled variance — both-constant groups, which both
    * engines compute as exactly 0.0) are filtered identically on both
    * sides. Cross-engine float note: avg/var_samp are association-
    * sensitive at ulp scale; `round(·, 6)` on every emitted double
    * absorbs it (the d6b OLS-trend precedent). */
  /** Shared two-group per-gene VST stat frame — the wt1/wt2 front end
    * (and the input [[graft.FreezeModels]] fits the wt2 variance prior
    * on): one partial+final hash agg to (gene, grp) moments, conditional
    * aggregation to wide per-gene columns, no second shuffle. */
  private[graft] def welchWide(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val vst = Normalization.vst(cells(s, d), "gene", "smp", "cnt")
      .withColumn("grp", when(col("smp") % 2 === 0, "A").otherwise("B"))
    val st = vst.groupBy(col("gene"), col("grp")).agg(
      count(lit(1)).as("n"), avg(col("vst")).as("m"),
      var_samp(col("vst")).as("v"))
    st.groupBy(col("gene")).agg(
      max(when(col("grp") === "A", col("n"))).as("n_a"),
      max(when(col("grp") === "A", col("m"))).as("m_a"),
      max(when(col("grp") === "A", col("v"))).as("v_a"),
      max(when(col("grp") === "B", col("n"))).as("n_b"),
      max(when(col("grp") === "B", col("m"))).as("m_b"),
      max(when(col("grp") === "B", col("v"))).as("v_b"))
  }

  private val wt1 = Q(
    "wt1_welch_z",
    (s, d) => {
      val wide = welchWide(s, d)
      wide.filter(col("n_a") >= 2 && col("n_b") >= 2)
        .withColumn("se2", col("v_a") / col("n_a") + col("v_b") / col("n_b"))
        .filter(col("se2") > 0)
        .withColumn("zv", (col("m_a") - col("m_b")) / sqrt(col("se2")))
        .select(col("gene"), col("n_a"), col("n_b"),
          round(col("m_a") - col("m_b"), 6).as("mean_diff"),
          round(col("zv"), 6).as("z"),
          round(Stats.normalSfTwoSided(col("zv")), 6).as("pvalue"))
    },
    Some {
      val inner = s"""WITH $welchWideSql
             SELECT gene, n_a, n_b,
               round(m_a - m_b, 6) AS mean_diff,
               (m_a - m_b) / sqrt(v_a / n_a + v_b / n_b) AS z,
               round((m_a - m_b) / sqrt(v_a / n_a + v_b / n_b), 6) AS z_r
             FROM w
             WHERE n_a >= 2 AND n_b >= 2 AND v_a / n_a + v_b / n_b > 0"""
      OracleSql.withNormalSf(inner, "gene, n_a, n_b, mean_diff, z_r AS z")
    })

  /** WT2 — MODERATED z-test per gene: the limma `squeezeVar` complement
    * to wt1 behind a FROZEN variance prior (the d3b/lr1b fit/apply
    * split). The Smyth EB prior (d0, s0²) was fitted once on the sf0.001
    * pooled per-gene variances ([[graft.functions.Moderation
    * .fitVariancePrior]] — iterative only in the 1-D trigamma inversion,
    * hence frozen) and ships as two plan literals; the APPLY stage is
    * pure closed-form column math over the shared [[welchWide]] frame:
    *
    *   s²_g    = (ssq_A + ssq_B)/(n_A + n_B − 2)   pooled residual var
    *   s²_post = (d0·s0² + df_g·s²_g)/(d0 + df_g)  EB shrinkage
    *   z       = Δmean / √(s²_post·(1/n_A + 1/n_B)), p via the A&S tail
    *
    * computed from the 6-dp-rounded z on both sides (the d3b convention)
    * so the tail polynomial sees bit-identical input. Same scale shape
    * as wt1: one partial+final hash agg, no second shuffle, the prior is
    * two literals. Deviation from limma, documented: p from the normal
    * tail, not the t(d0+df) tail — the moderated-z screening form; wt1's
    * normal approximation precedent. */
  private val wt2 = Q(
    "wt2_moderated_z",
    (s, d) => {
      val d0 = FrozenModels.wtPriorDf
      val s02 = FrozenModels.wtPriorS2
      welchWide(s, d)
        .filter(col("n_a") >= 2 && col("n_b") >= 2)
        .withColumn("dfg", (col("n_a") + col("n_b") - 2).cast("double"))
        .withColumn("s2",
          (col("v_a") * (col("n_a") - 1) + col("v_b") * (col("n_b") - 1)) /
            col("dfg"))
        .withColumn("s2post",
          (lit(d0) * lit(s02) + col("dfg") * col("s2")) / (lit(d0) + col("dfg")))
        .filter(col("s2post") > 0)
        .withColumn("zr", round(
          (col("m_a") - col("m_b")) /
            sqrt(col("s2post") * (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))),
          6))
        .select(col("gene"), col("n_a"), col("n_b"),
          round(col("m_a") - col("m_b"), 6).as("mean_diff"),
          round(col("s2post"), 6).as("s2_post"),
          col("zr").as("z"),
          round(Stats.normalSfTwoSided(col("zr")), 6).as("pvalue"))
    },
    Some {
      val d0 = FrozenModels.wtPriorDf.toString
      val s02 = FrozenModels.wtPriorS2.toString
      val zInner = s"""WITH $welchWideSql,
             m AS (SELECT gene, n_a, n_b, m_a, m_b,
                     CAST(n_a + n_b - 2 AS DOUBLE) AS dfg,
                     (v_a * (n_a - 1) + v_b * (n_b - 1)) /
                       CAST(n_a + n_b - 2 AS DOUBLE) AS s2
                   FROM w WHERE n_a >= 2 AND n_b >= 2),
             p AS (SELECT gene, n_a, n_b, m_a, m_b, dfg,
                     ($d0 * $s02 + dfg * s2) / ($d0 + dfg) AS s2post
                   FROM m)
             SELECT gene, n_a, n_b,
               round(m_a - m_b, 6) AS mean_diff,
               round(s2post, 6) AS s2_post,
               round((m_a - m_b) / sqrt(s2post * (1.0 / n_a + 1.0 / n_b)), 6) AS z
             FROM p WHERE s2post > 0"""
      OracleSql.withNormalSf(zInner, "gene, n_a, n_b, mean_diff, s2_post, z")
    })

  /** OLS1 — grouped simple linear regression SCREEN: per part, the
    * least-squares line of extended price (y, in cents) on quantity (x),
    * with slope/intercept/R² and a slope z-test — the per-key
    * dose-response scan shape (one regression per gene/feature/part,
    * thousands at once; the d7/wt1 screening family's regression
    * member). Everything reduces to the five moment sums (Σx, Σy, Σx²,
    * Σy², Σxy), so the whole query is ONE partial+final hash agg over
    * the fact table and closed-form column math on the group frame — no
    * second shuffle, no window, no driver math; the scale cost is the
    * same as d1's grouped sum.
    *
    * Cross-engine exactness: x is integral quantity, y is
    * round(price·100) cents — both exact BIGINTs — and the moment sums
    * accumulate in DECIMAL(38,0) (engine) / HUGEINT (oracle), so the
    * n-scaled combinations dx = n·Σx²−(Σx)², dyv = n·Σy²−(Σy)²,
    * num = n·Σxy−ΣxΣy are exact integers cast once to double; the
    * closed forms (slope = num/dx, R² = num²/(dx·dyv),
    * se = √(ssr/((n−2)·dx)) with ssr = dyv − num²/dx) then follow the
    * identical-float-op-order rule, p from the shared A&S tail (normal
    * approximation of the slope t — the wt1 screening convention,
    * documented; n ≥ 3 enforced). Degenerate groups (constant x,
    * constant y, or a perfect fit, where se = 0) are filtered by the
    * same exact-arithmetic predicates on both sides. */
  private val ols1 = Q(
    "ols1_grouped_regression",
    (s, d) => {
      val li = Tables.lineitem(s, d).select(
        col("l_partkey"),
        col("l_quantity").cast("long").as("x"),
        round(col("l_extendedprice") * 100).cast("long").as("yc"))
      val a = li.groupBy(col("l_partkey")).agg(
          count(lit(1)).as("n"),
          sum(col("x").cast(dec38)).as("sx"),
          sum(col("yc").cast(dec38)).as("sy"),
          sum((col("x") * col("x")).cast(dec38)).as("sxx"),
          sum((col("yc") * col("yc")).cast(dec38)).as("syy"),
          sum((col("x") * col("yc")).cast(dec38)).as("sxy"))
        .filter(col("n") >= 3)
      val e = a
        .withColumn("dx",
          (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
        .withColumn("dyv",
          (col("n") * col("syy") - col("sy") * col("sy")).cast("double"))
        .withColumn("num",
          (col("n") * col("sxy") - col("sx") * col("sy")).cast("double"))
        .filter(col("dx") > 0 && col("dyv") > 0)
        .withColumn("slope_c", col("num") / col("dx"))
        .withColumn("ssr", col("dyv") - col("num") * col("num") / col("dx"))
        .filter(col("ssr") > 0)
        .withColumn("zv", col("slope_c") /
          sqrt(col("ssr") / ((col("n").cast("double") - lit(2.0)) * col("dx"))))
      e.select(col("l_partkey"), col("n"),
        round(col("slope_c") / 100.0, 6).as("slope_usd"),
        round((col("sy").cast("double") / col("n").cast("double") -
          col("slope_c") * (col("sx").cast("double") / col("n").cast("double")))
          / 100.0, 6).as("intercept_usd"),
        round(col("num") * col("num") / (col("dx") * col("dyv")), 6).as("r2"),
        round(col("zv"), 6).as("z"),
        round(Stats.normalSfTwoSided(col("zv")), 6).as("pvalue"))
    },
    Some {
      val inner = """WITH s AS (SELECT l_partkey,
                 CAST(l_quantity AS BIGINT) AS x,
                 CAST(round(l_extendedprice * 100) AS BIGINT) AS yc
               FROM lineitem),
          a AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n,
                  sum(x) AS sx, sum(yc) AS sy, sum(x * x) AS sxx,
                  sum(yc * yc) AS syy, sum(x * yc) AS sxy
                FROM s GROUP BY 1 HAVING count(*) >= 3),
          e AS (SELECT l_partkey, n,
                  CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
                  CAST(n * sxx - sx * sx AS DOUBLE) AS dx,
                  CAST(n * syy - sy * sy AS DOUBLE) AS dyv,
                  CAST(n * sxy - sx * sy AS DOUBLE) AS num
                FROM a),
          f AS (SELECT *, num / dx AS slope_c,
                  dyv - num * num / dx AS ssr
                FROM e WHERE dx > 0 AND dyv > 0),
          g AS (SELECT l_partkey, n, sxd, syd, dx, dyv, num, slope_c,
                  slope_c / sqrt(ssr / ((CAST(n AS DOUBLE) - 2.0) * dx)) AS z
                FROM f WHERE ssr > 0)
          SELECT l_partkey, n,
            round(slope_c / 100.0, 6) AS slope_usd,
            round((syd / CAST(n AS DOUBLE)
              - slope_c * (sxd / CAST(n AS DOUBLE))) / 100.0, 6) AS intercept_usd,
            round(num * num / (dx * dyv), 6) AS r2,
            z, round(z, 6) AS z_r
          FROM g"""
      OracleSql.withNormalSf(inner,
        "l_partkey, n, slope_usd, intercept_usd, r2, z_r AS z")
    })

  /** Long-document threshold for ab1 — a fixed public cut near the
    * corpus median length so both proportions are well-populated. */
  private val abLongChars = 300

  /** AB1 — two-proportion z-test per domain (the A/B-style composition
    * screen): for each `source`, the share of long documents
    * (n_chars ≥ [[abLongChars]]) tested against the REST of the corpus
    * (leave-one-out), pooled-variance z and two-sided p — the standard
    * "is this domain's composition different from everything else"
    * gate a curation pipeline runs per ingest batch, complementing
    * wt1's mean test with a rate test.
    *
    * Cross-engine exactness: all counts are exact integers from one
    * partial+final hash agg; p1/p2/p̂ and z are fixed-parenthesization
    * double arithmetic over those integers (bit-identical both
    * engines), and the A&S tail consumes the shared-op-order z (the
    * wt1/sp1 precedent). Degenerate rows (single-domain corpus, all-or-
    * no long docs overall) are filtered identically on both sides.
    *
    * Scale shape: one corpus-scan hash agg to domain cardinality; the
    * corpus totals ride a broadcast 1-row cross join; everything after
    * is per-domain scalar math. */
  private val ab1 = Q(
    "ab1_proportion_ztest",
    (s, d) => {
      val per = Tables.documents(s, d)
        .groupBy(col("source")).agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("n_chars") >= abLongChars, 1L).otherwise(0L))
            .as("n_long"))
      val tot = per.agg(sum(col("n_docs")).as("nt"),
        sum(col("n_long")).as("xt"))
      val p1 = col("n_long").cast("double") / col("n_docs")
      val p2 = (col("xt") - col("n_long")).cast("double") /
        (col("nt") - col("n_docs"))
      val pp = col("xt").cast("double") / col("nt")
      val zv = (p1 - p2) / sqrt(pp * (lit(1.0) - pp) *
        (lit(1.0) / col("n_docs") + lit(1.0) / (col("nt") - col("n_docs"))))
      per.crossJoin(broadcast(tot))
        .filter(col("nt") > col("n_docs") &&
          col("xt") > 0 && col("xt") < col("nt"))
        .select(col("source"), col("n_docs"), col("n_long"),
          round(p1, 6).as("p_long"),
          round(zv, 6).as("z"),
          round(Stats.normalSfTwoSided(zv), 6).as("pvalue"))
    },
    Some {
      val inner = s"""WITH per AS (SELECT source,
                 CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(CASE WHEN n_chars >= $abLongChars
                   THEN 1 ELSE 0 END) AS BIGINT) AS n_long
               FROM documents GROUP BY 1),
          tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS nt,
                    CAST(sum(n_long) AS BIGINT) AS xt FROM per),
          g AS (SELECT source, n_docs, n_long, nt, xt,
                  CAST(n_long AS DOUBLE) / n_docs AS p1,
                  CAST(xt - n_long AS DOUBLE) / (nt - n_docs) AS p2,
                  CAST(xt AS DOUBLE) / nt AS pp
                FROM per CROSS JOIN tot
                WHERE nt > n_docs AND xt > 0 AND xt < nt)
          SELECT source, n_docs, n_long,
            round(p1, 6) AS p_long,
            (p1 - p2) / sqrt(pp * (1.0 - pp)
              * (1.0 / n_docs + 1.0 / (nt - n_docs))) AS z,
            round((p1 - p2) / sqrt(pp * (1.0 - pp)
              * (1.0 / n_docs + 1.0 / (nt - n_docs))), 6) AS z_r
          FROM g"""
      OracleSql.withNormalSf(inner, "source, n_docs, n_long, p_long, z_r AS z")
    })

  /** PV1 — p-value-distribution QC over the wt1 Welch screen: the
    * 20-bin p-value histogram plus Storey's π0 estimate at λ = 0.5
    * (Storey 2002, "A direct approach to false discovery rates":
    * π0 = #{p > λ} / ((1−λ)·m), clamped to 1) — the standard sanity
    * report run over EVERY large screening result before trusting its
    * FDR: a U-shaped or right-leaning histogram means the null model is
    * wrong, and π0 calibrates how much of the corpus is null.
    *
    * Built ON wt1: the Spark side consumes `wt1.run`'s output frame and
    * the oracle WRAPS wt1's own oracle SQL as a CTE, so the two queries
    * can never diverge on what the p-values are. Everything downstream
    * of wt1 is integer bin counts and two scalar divisions: ONE per-bin
    * aggregate (with each bin's count of p > λ), whose totals are
    * windows over its ≤ 21 rows, so the Welch chain runs once.
    *
    * The re-run of the full wt1 chain when BOTH wt1 and pv1 execute in
    * one session is deliberate: catalog queries are self-contained by
    * contract (no cross-query shared caches), and the 2000-gene screen is
    * cheap relative to cache-coordination coupling; a caller auditing a
    * truly expensive screen should pass its own persisted stat frame. */
  private val pv1 = Q(
    "pv1_pvalue_qc",
    (s, d) => {
      val all = Window.partitionBy()
      wt1.run(s, d)
        .groupBy(least(floor(col("pvalue") * lit(20.0)).cast("long"), lit(19L))
          .as("bin"))
        .agg(count(lit(1)).as("n_genes"),
          sum(when(col("pvalue") > 0.5, 1L).otherwise(0L)).as("n_hi_bin"))
        .withColumn("n_tot", sum(col("n_genes")).over(all))
        .withColumn("n_hi", sum(col("n_hi_bin")).over(all))
        .select(col("bin"), col("n_genes"),
          round(col("n_genes").cast("double") / col("n_tot").cast("double"), 6)
            .as("frac"),
          round(least(lit(1.0), col("n_hi").cast("double") /
            (lit(0.5) * col("n_tot").cast("double"))), 6).as("pi0"))
    },
    Some(s"""WITH base AS (${wt1.oracle.get}),
          s AS (SELECT CAST(count(*) AS BIGINT) AS n_tot,
                  CAST(sum(CASE WHEN pvalue > 0.5 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_hi
                FROM base),
          b AS (SELECT least(CAST(floor(pvalue * 20.0) AS BIGINT), 19) AS bin,
                  CAST(count(*) AS BIGINT) AS n_genes
                FROM base GROUP BY 1)
          SELECT bin, n_genes,
            round(CAST(n_genes AS DOUBLE) / CAST(n_tot AS DOUBLE), 6) AS frac,
            round(least(1.0, CAST(n_hi AS DOUBLE)
              / (0.5 * CAST(n_tot AS DOUBLE))), 6) AS pi0
          FROM b CROSS JOIN s"""))

  def all: Seq[Q] =
    Seq(d1, d2, d5, d6, d6b, d6c, d7, d8, d9, e1, x8, ks1, sp1, wt1, wt2, ols1, ab1,
      pv1)
}
