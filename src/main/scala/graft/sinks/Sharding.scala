package graft.sinks

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.Ranks

/** Training-shard writers — the output end of a tokenize-and-pack
  * pipeline: files that respect a token budget, so sequence packing is a
  * pure reader-side concat. A plain `DataFrameWriter` plan — no
  * driver-side loops, no collect.
  */
object Sharding {

  /** Assign every row a `pack_id` by binning the running `sizeCol` total
    * into budget-width bins: the two-phase prefix scan
    * ([[Ranks.prefixSum]]) computes the cumulative total in `order`, then
    * pack = (cumsum − 1) div budget. Deterministic at any partitioning —
    * integer sums are exactly associative.
    *
    * Packing discipline: bins are FIXED cumsum intervals, so a document
    * straddling a boundary lands in the bin where it ENDS — a pack's
    * total can overshoot the budget by at most (that doc's size − 1), and
    * undershoot when the next doc is large. True greedy reset-on-overflow
    * packing is inherently sequential (each boundary depends on the
    * previous one); this one-pass binned discipline is the scalable
    * standard, and exact when sizes divide the budget. */
  def packByBudget(df: DataFrame, sizeCol: String, budget: Long,
      order: Seq[Column], out: String = "pack_id"): DataFrame = {
    require(budget > 0, s"budget must be positive: $budget")
    Ranks.prefixSum(df, Nil, order, col(sizeCol).cast("long"), "__cum")
      .withColumn(out, expr(s"(__cum - 1) div $budget"))
      .drop("__cum")
  }

  /** [[packByBudget]] + write one directory per pack
    * (`path/pack_id=N/…`): partition pruning gives a training reader
    * O(1) access to any pack.
    *
    * Pick `budget` at SHARD granularity (e.g. 10⁸–10⁹ tokens): the writer
    * creates one directory per pack, so a sequence-level budget over a
    * 100 TB corpus would mean billions of directories — do sequence-level
    * packing reader-side within each shard. */
  def writePacked(df: DataFrame, path: String, sizeCol: String, budget: Long,
      order: Seq[Column]): Unit =
    packByBudget(df, sizeCol, budget, order)
      .repartition(col("pack_id"))
      // pack_id FIRST: the dynamic-partition writer requires ordering by
      // the partition column and would otherwise insert its own unstable
      // sort on pack_id, discarding `order` within each pack file
      .sortWithinPartitions(col("pack_id") +: order: _*)
      .write.mode("overwrite").partitionBy("pack_id").parquet(path)
}
