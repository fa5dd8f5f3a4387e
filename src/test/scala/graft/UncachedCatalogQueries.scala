package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.TextFunctions
import graft.queries.QueryCatalog

/** The catalog queries that cache nothing although a shared intermediate
  * feeds several of their branches, over one sf directory, with what
  * their executed plan must read when that intermediate is computed once
  * per action. Where a query explodes the corpus, `corpusExplodeRows` is
  * the number of rows its explodes over the input must emit: the input's
  * token (shingle) rows, once per corpus pass the query's design makes
  * (each pass named at its query). Where it does not, `scanRows` is the
  * number of rows its parquet scans must read, in multiples of the
  * table's rows (each multiple is named at its query). */
object UncachedCatalogQueries {

  final case class Op(name: String, frame: () => DataFrame,
      corpusExplodeRows: Option[Long], scanRows: Option[Long])

  def apply(spark: SparkSession, dir: String): Seq[Op] = {
    val docs = Tables.documents(spark, dir).filter(col("text").isNotNull)
    val toks = TextFunctions.tokens(col("text"))
    def total(df: DataFrame, c: Column): Long =
      df.select(sum(c).cast("long")).head().getLong(0)
    val tokens = total(docs, size(toks))
    val bigrams = total(docs, size(TextFunctions.shingles(toks, 2)))
    // dd7's minhash signatures keep non-NULL ids only
    val shingles3 = total(docs.filter(col("doc_id").isNotNull),
      size(TextFunctions.shingles(toks, 3)))
    val lineitem = Tables.lineitem(spark, dir).count()
    val embeddings = Tables.embeddings(spark, dir).count()
    def q(name: String, explodeRows: Option[Long], scanRows: Option[Long] = None) =
      Op(name, () => QueryCatalog.byName(name).run(spark, dir), explodeRows, scanRows)
    Seq(
      // the class histogram, and the output's pass over the fact
      q("rz1_robust_zscore", None, Some(2 * lineitem)),
      // the sketch pass and the exact re-count of the candidates: the
      // Misra–Gries design's two corpus passes, each once
      q("hh1_heavy_hitters", Some(2 * tokens)),
      q("bm1_bm25_topk", Some(tokens)),
      q("cs1_countmin_est", Some(tokens)),
      q("jd1_domain_divergence", Some(tokens)),
      // its unigram and its bigram explode
      q("pm1_pmi_bigrams", Some(tokens + bigrams)),
      q("dd7_incremental_dedup", Some(shingles3)),
      q("dm1_doremi_weights", Some(tokens)),
      // wt1's own three reads of the fact (its counts, the genes' totals
      // and the size factors' ratios), once
      q("pv1_pvalue_qc", None, Some(3 * lineitem)),
      // the corpus side, and the query side (a filter over the scan)
      q("ss2_lsh_ann", None, Some(2 * embeddings)),
      // the encode, once for the three queries
      q("pq1_product_quantize", None, Some(embeddings)),
      // the counts, and the genes' totals
      q("d3b_wald_apply", None, Some(2 * lineitem)),
      q("d4b_contrast_apply", None, Some(2 * lineitem)),
      q("x9_longest_repeat", Some(bigrams)))
  }
}
