package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Cast, Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

import graft.plans.{GraftStrategy, OrderedScan}

/** Two-phase ordered scans — global or per-group row numbers and running
  * sums without the one-task-per-group window-sort anti-pattern.
  *
  * A plain `row_number()` window partitioned by g and ordered by k sorts
  * each group in ONE task; with few (or no) groups that is a scale
  * killer. [[rowNumber]] and [[prefixSum]] (and so [[ntile]] and the
  * quantiles) are one physical operator instead,
  * [[graft.plans.OrderedScanExec]]: one range exchange and sort on
  * (group ++ order), then
  *
  *  1. one job that sums each group inside each range partition (a
  *     count, or the integer value), folded on the driver into each
  *     partition's carry — what its first group summed in earlier
  *     partitions — and each group's total;
  *  2. one pass over the same sorted partitions that adds the running
  *     sum to the carry.
  *
  * Both passes read the one shuffle output, so nothing is cached and the
  * returned frame stays lazy. The driver holds one entry per (group,
  * partition) a group touches — at most groups + 2 × the shuffle
  * partition count. Integer sums are exactly associative, so the result
  * is identical to the single-window formulation at any partitioning.
  */
object Ranks {

  /** The core: `df` plus `out` = the running sum of `value` (a row count,
    * never NULL, when `None`) over each `grp` group in `order`, and
    * `total` = the group's sum. Group keys and order may be expressions;
    * they are resolved against `df` the way a sort resolves them. */
  private def scan(df: DataFrame, grp: Seq[Column], order: Seq[Column],
      value: Option[Column], out: String, total: Option[String]): DataFrame = {
    require(order.nonEmpty, "a two-phase scan needs an order")
    val spark = df.sparkSession
    GraftStrategy.ensure(spark, asOfRules = false)
    val in = value.fold(df)(v => df.withColumn("__v", v))
    val sorted = GraftSqlBridge.analyzed(in.sortWithinPartitions(grp ++ order: _*))
      .asInstanceOf[Sort]
    val v = value.fold[Expression](Literal(1L)) { _ =>
      val a = sorted.child.output.find(_.name == "__v").get
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(a.dataType),
        s"prefixSum sums integral values only, got ${a.dataType.sql}")
      Cast(a, LongType)
    }
    val node = OrderedScan(sorted.order, grp.size, v,
      AttributeReference(out, LongType, nullable = value.isDefined)(),
      total.map(AttributeReference(_, LongType)()), sorted.child)
    GraftSqlBridge.ofRows(spark, node).select(df.columns.toIndexedSeq.map(col) ++
      (out +: total.toSeq).map(c => col(c).as(c)): _*)
  }

  /** `out` = 1-based rank of each row within its `grp` group under
    * `order`, plus `outN` = the group's total row count (handy for tile
    * math) — a running count of the core. Deterministic when (grp ++
    * order) is a total order; rows with fully-equal keys are
    * interchangeable. */
  def rowNumber(df: DataFrame, grp: Seq[Column], order: Seq[Column],
      out: String = "rn", outN: String = "__n"): DataFrame =
    scan(df, grp, order, None, out, Some(outN))

  /** Global (or per-group) running total of `value` under `order` — the
    * distributed prefix-scan, a running sum of the core; `outTotal`, when
    * named, is the per-group grand total. `value` must be integral (it is
    * summed as a `long`; a running double sum would change with the
    * shuffle width), else an `IllegalArgumentException` naming its type
    * is thrown before any job runs. Equal to the one-task running `sum`
    * window, NULL values included: a NULL adds
    * nothing, and the running total is NULL until the group's first
    * non-NULL value. Deterministic when (grp ++ order) is a total order.
    *
    * This is the backbone of sequence-packing style pipelines (cumulative
    * token budgets over a 100 TB corpus) where the naive no-partition
    * window would funnel the corpus through one task. */
  def prefixSum(df: DataFrame, grp: Seq[Column], order: Seq[Column],
      value: Column, out: String = "cumsum", outTotal: String = ""): DataFrame =
    scan(df, grp, order, Some(value), out, Option(outTotal).filter(_.nonEmpty))

  /** Exact per-group quantiles through the two-phase rank — the scale-safe
    * alternative to `percentile` (which buffers each group's values in one
    * aggregator) or a one-task group-window sort. Quantile q = the value
    * at 1-based rank `ceil(q·n)` (discrete, lower-rounding — DuckDB's
    * `quantile_disc`). Stick to binary-exact q (.25, .5, .75, .125…) when
    * cross-engine bit-stability of `ceil(q·n)` matters.
    *
    * @param qs (output column name, q) pairs, each q in (0, 1]
    * @return one row per group: grp ++ (`n`, qs names…)
    */
  def quantiles(df: DataFrame, grp: Seq[String], value: String,
      tieBreak: String, qs: Seq[(String, Double)]): DataFrame = {
    require(qs.nonEmpty && qs.forall { case (_, q) => q > 0.0 && q <= 1.0 },
      s"quantiles must be in (0,1]: $qs")
    val ranked = rowNumber(df, grp.map(col), Seq(col(value), col(tieBreak)),
      "__rnk", "__n")
    val aggs = qs.map { case (name, q) =>
      max(when(col("__rnk") === ceil(col("__n") * q), col(value))).as(name)
    }
    ranked.groupBy(grp.map(col): _*)
      .agg(max(col("__n")).as("n"), aggs: _*)
  }

  /** Same exact quantiles as [[quantiles]] (value at 1-based rank
    * `ceil(q·n)`, `quantile_disc` semantics) but computed over the
    * DISTINCT-VALUE frame: one hash agg collapses the fact to
    * (group, value, count), the two-phase prefix scan runs over tie
    * CLASSES instead of rows, and the quantile is the class whose
    * cumulative range covers the target rank. No tiebreak column needed —
    * rank-quantile values are tie-order-independent, so the result is
    * bit-identical to [[quantiles]] under any tiebreak. Strictly cheaper
    * whenever values repeat (the fact never takes a range shuffle: only
    * its distinct frame does) and never worse than ~the same cost when
    * they don't. */
  def quantilesByValue(df: DataFrame, grp: Seq[String], value: String,
      qs: Seq[(String, Double)]): DataFrame = {
    require(grp.nonEmpty, "quantilesByValue needs grouping keys (use quantiles for global)")
    val classes = df.groupBy((grp.map(col) :+ col(value)): _*)
      .agg(count(lit(1)).as("__c"))
    quantilesOfClasses(classes, grp, value, "__c", qs)
  }

  /** [[quantilesByValue]] when the caller ALREADY HOLDS the tie-class
    * histogram (one row per (group, value) with `countCol` members) —
    * e.g. a cached class frame serving several chained quantile
    * passes. Same `ceil(q·n)`-rank semantics. */
  def quantilesOfClasses(classes: DataFrame, grp: Seq[String], value: String,
      countCol: String, qs: Seq[(String, Double)]): DataFrame = {
    require(qs.nonEmpty && qs.forall { case (_, q) => q > 0.0 && q <= 1.0 },
      s"quantiles must be in (0,1]: $qs")
    require(grp.nonEmpty, "quantilesOfClasses needs grouping keys")
    // ONE pass: the prefix scan emits the per-group total alongside the
    // cumulative count (the driver folds both from the same per-partition
    // sums), so the rank target needs no second scan and no totals join
    val cum = prefixSum(
      classes.withColumn("__c", col(countCol).cast("long")),
      grp.map(col), Seq(col(value)), col("__c"), "__cum", "__n")
    val aggs = qs.map { case (name, q) =>
      val target = ceil(col("__n") * q)
      max(when(col("__cum") - col("__c") < target && target <= col("__cum"),
        col(value))).as(name)
    }
    cum.groupBy(grp.map(col): _*)
      .agg(max(col("__n")).as("n"), aggs: _*)
  }

  /** SQL `NTILE(tiles)` semantics via the two-phase rank: the first
    * `n % tiles` tiles hold `ceil(n/tiles)` rows, the rest `floor`.
    * (`/` on Columns is double division — `floor` recovers the integer
    * quotient; values stay far below 2^53.) */
  def ntile(df: DataFrame, grp: Seq[Column], order: Seq[Column], tiles: Int,
      out: String = "tile"): DataFrame = {
    val ranked = rowNumber(df, grp, order, "__rnk", "__n")
    val small = floor(col("__n") / tiles) // floor tile size
    val bigger = col("__n") % tiles // tiles holding one extra row
    val boundary = bigger * (small + 1) // ranks covered by the big tiles
    ranked
      .withColumn(out,
        when(col("__rnk") <= boundary,
          floor((col("__rnk") - 1) / (small + 1)) + 1)
          .otherwise(bigger + floor((col("__rnk") - boundary - 1) / small) + 1)
          .cast("int"))
      .drop("__rnk", "__n")
  }
}
