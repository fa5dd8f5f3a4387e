package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Two-phase ordered scans — global or per-group row numbers and running
  * sums without the one-task-per-group window-sort anti-pattern.
  *
  * A plain `row_number().over(Window.partitionBy(g).orderBy(k))` sorts
  * each group in ONE task; with few (or no) groups that is a scale
  * killer. [[rowNumber]] and [[prefixSum]] (and so [[ntile]] and the
  * quantiles) run on one core instead:
  *
  *  1. [[ranged]] aliases the group keys to generated names (so arbitrary
  *     EXPRESSIONS, not just named columns, group — the stitch joins by
  *     name), range-partitions on (group ++ order), tags each row with its
  *     physical partition `__pid`, and persists: the partition id must be
  *     identical across the carry branch and the local branch. The cache
  *     is released once the returned output has fed an action.
  *  2. [[carry]] computes an exactly associative aggregate (`count`, or
  *     `sum` over integers) per (group, partition), carries it over the
  *     group's earlier partitions — with the group total alongside when
  *     asked — and broadcast-joins that frame back onto the partition-local
  *     running aggregate (a window over one physical partition, so the
  *     tasks stay balanced).
  *
  * The only no-partition windows run over one row per (group, partition)
  * — bounded by groups × the shuffle partition count — and the result is
  * bit-identical to the single-window formulation at any partitioning
  * (over doubles, `sum` carries the usual float-association caveat). NOTE
  * the carry frame is broadcast: at LOW group cardinality (the catalog's
  * flags/langs/classes) that is a few rows; a million-group caller should
  * pre-aggregate or shard by group instead — the broadcast would then
  * scale with the group count.
  */
object Ranks {

  /** First phase of the core: `df` plus its group keys aliased to `__g0…`
    * (the names are returned), range-partitioned on (group ++ order),
    * tagged `__pid` and persisted. The persisted frame is returned too:
    * the caller registers its release against the output it builds. The
    * input is deliberately NOT persisted: the boundary-sampling pass
    * re-reads upstream once, which for the fact-sized frames these scans
    * target is cheaper at scale than a fact-sized cache materialization.
    * A caller behind an expensive upstream persists its own input. */
  private def ranged(df: DataFrame, grp: Seq[Column],
      order: Seq[Column]): (DataFrame, Seq[String], DataFrame) = {
    val g = grp.indices.map(i => s"__g$i")
    val keyed = grp.zip(g).foldLeft(df) { case (d, (c, n)) => d.withColumn(n, c) }
    val r = keyed.repartitionByRange((g.map(col) ++ order): _*)
      .withColumn("__pid", spark_partition_id())
      .persist()
    // Both stitch branches scan the cache's own relation, not a lookup by
    // plan. A lookup misses once the cache is released (a second action
    // on the output), and in the self-join's fresh copy of a checkpoint
    // leaf that records its partitioning (a checkpointed `spark.range`).
    // The branch that misses runs its own range exchange with its own
    // boundary sample, and its `__pid`s disagree with the other branch's.
    // Read directly, a released cache is rebuilt by the next action that
    // re-plans the output (a repeated action, or a second output over the
    // same ranged plan acted on after the first one's release), and that
    // copy lives outside the cache manager until the output is
    // garbage-collected.
    (GraftSqlBridge.ofRows(df.sparkSession, r.queryExecution.withCachedData), g, r)
  }

  /** An exactly associative aggregate the core carries: `part` over one
    * (group, partition), `fold` over such parts, and `local` as the
    * running form inside a partition. A row's result is its local value
    * plus the carry (NULL, read as 0, on the group's first partition). */
  private final case class Carry(part: Column, fold: Column => Column,
      local: Column)

  private val countCarry = Carry(count(lit(1)), sum(_), row_number())
  private def sumCarry(v: Column) = Carry(sum(v), sum(_), sum(v))

  /** Second phase of the core over a [[ranged]] frame `r` with group keys
    * `g`: adds `out` = the running `agg` of each row in (group, `order`),
    * and — when `total` is named — the group's total of `agg`. The
    * per-(group, partition) carry frame is broadcast (see the object doc's
    * group-cardinality note). */
  private def carry(r: DataFrame, g: Seq[String], order: Seq[Column],
      agg: Carry, out: String, total: String = ""): DataFrame = {
    val gc = g.map(col)
    val byPid = gc :+ col("__pid")
    val wPrev = Window.partitionBy(gc: _*).orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val parts = r.groupBy(byPid: _*).agg(agg.part.as("__part"))
      .withColumn("__carry", agg.fold(col("__part")).over(wPrev))
    val carried =
      if (total.isEmpty) parts
      else parts.withColumn(total, agg.fold(col("__part")).over(Window.partitionBy(gc: _*)))
    val wLocal = Window.partitionBy(byPid: _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    r.withColumn("__local", agg.local.over(wLocal))
      .join(broadcast(carried.drop("__part")), g :+ "__pid")
      .withColumn(out, coalesce(col("__carry"), lit(0L)) + col("__local"))
      .drop("__carry", "__local")
  }

  /** `out` = 1-based rank of each row within its `grp` group under
    * `order`, plus `outN` = the group's total row count (handy for tile
    * math) — a count carry of the core. Deterministic when (grp ++ order)
    * is a total order; rows with fully-equal keys are interchangeable. */
  def rowNumber(df: DataFrame, grp: Seq[Column], order: Seq[Column],
      out: String = "rn", outN: String = "__n"): DataFrame = {
    val (r, g, cache) = ranged(df, grp, order)
    val ranked = carry(r, g, order, countCarry, out, outN)
      .select((df.columns.toIndexedSeq :+ out :+ outN).map(col): _*)
    graft.Caches.releaseAfterConsumers(Seq(ranked), cache)
    ranked
  }

  /** Global (or per-group) running total of `value` under `order` — the
    * distributed prefix-scan, a sum carry of the core; `outTotal`, when
    * named, is the per-group grand total. Over integers it is
    * bit-identical to the one-task `sum().over(Window.orderBy(...))`.
    * Deterministic when (grp ++ order) is a total order.
    *
    * This is the backbone of sequence-packing style pipelines (cumulative
    * token budgets over a 100 TB corpus) where the naive no-partition
    * window would funnel the corpus through one task. */
  def prefixSum(df: DataFrame, grp: Seq[Column], order: Seq[Column],
      value: Column, out: String = "cumsum", outTotal: String = ""): DataFrame = {
    val (r, g, cache) = ranged(df.withColumn("__v", value), grp, order)
    val summed = carry(r, g, order, sumCarry(col("__v")), out, outTotal)
      .select(((df.columns.toIndexedSeq :+ out) ++ Option(outTotal).filter(_.nonEmpty))
        .map(col): _*)
    graft.Caches.releaseAfterConsumers(Seq(summed), cache)
    summed
  }

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
    * e.g. a persisted class frame serving several chained quantile
    * passes. Same `ceil(q·n)`-rank semantics. */
  def quantilesOfClasses(classes: DataFrame, grp: Seq[String], value: String,
      countCol: String, qs: Seq[(String, Double)]): DataFrame = {
    require(qs.nonEmpty && qs.forall { case (_, q) => q > 0.0 && q <= 1.0 },
      s"quantiles must be in (0,1]: $qs")
    require(grp.nonEmpty, "quantilesOfClasses needs grouping keys")
    // ONE pass: the prefix scan emits the per-group total alongside the
    // cumulative count (it lives on the same broadcast offsets frame), so
    // the rank target needs no second scan and no totals join
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
