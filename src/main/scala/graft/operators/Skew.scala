package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew mitigation for hot join keys (the 100 TB survival kit alongside
  * AQE's runtime skew-join split): explicit key salting.
  *
  * `saltedJoin(facts, dim, key, n)` spreads each fact row of a hot key
  * across `n` salted sub-keys and replicates the (small) right side n×, so
  * one executor no longer owns an entire hot key's partition. Semantics
  * equal `facts.join(dim, key)` exactly; use when a handful of keys carry
  * orders of magnitude more rows than the rest and the right side is too
  * big to broadcast whole but small enough to replicate n×.
  */
object Skew {

  /** Deterministic content-derived salt: identical input row → identical
    * salt, regardless of partition layout or recomputation. */
  def salt(saltCols: Seq[String], saltBuckets: Int): org.apache.spark.sql.Column =
    pmod(xxhash64(saltCols.map(col): _*), lit(saltBuckets.toLong))

  /** @param saltCols columns whose content derives the salt; defaults to all
    *   of `large`'s columns. The salt MUST be deterministic per row: a
    *   nondeterministic salt (e.g. `monotonically_increasing_id`) is a
    *   correctness hazard under stage retry — a recomputed map task would
    *   re-salt its rows differently from the partial shuffle output other
    *   reducers already fetched, silently dropping or duplicating rows.
    *   Content-derived salt survives recomputation bit-identically. If the
    *   hot key's rows are near-identical across all columns the spread
    *   degrades; pass a high-cardinality `saltCols` subset in that case. */
  def saltedJoin(large: DataFrame, small: DataFrame, key: String,
      saltBuckets: Int, saltCols: Seq[String] = Nil): DataFrame = {
    require(saltBuckets > 0)
    val src = if (saltCols.nonEmpty) saltCols else large.columns.toSeq
    val salted = large.withColumn("__salt", salt(src, saltBuckets))
    val replicated = small.withColumn("__salt",
      explode(sequence(lit(0L), lit(saltBuckets - 1L))))
    salted.join(replicated, Seq(key, "__salt")).drop("__salt")
  }
}
