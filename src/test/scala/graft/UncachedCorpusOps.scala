package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, TextFunctions}
import graft.queries.QueryCatalog

/** The dedup and corpus operators that cache nothing, over one documents
  * table, each with the number of rows its explodes must emit when every
  * shared intermediate is computed once per action: the input's shingle
  * (or token) rows, plus docs × bands for the banded candidate joins. */
object UncachedCorpusOps {

  final case class Op(name: String, frame: () => DataFrame, explodeRows: Long)

  def apply(spark: SparkSession, dir: String): Seq[Op] = {
    def docs = Tables.documents(spark, dir)
    val toks = TextFunctions.tokens(col("text"))
    val live = docs.filter(col("doc_id").isNotNull && col("text").isNotNull)
    def total(c: org.apache.spark.sql.Column): Long =
      live.select(sum(c).cast("long")).head().getLong(0)
    val shingles3 = total(size(TextFunctions.shingles(toks, 3)))
    val tokens = total(size(toks))
    // a signature row per doc with at least one shingle (one token)
    val withShingle = total(when(size(TextFunctions.shingles(toks, 3)) > 0, 1L)
      .otherwise(0L))
    val withToken = total(when(size(toks) > 0, 1L).otherwise(0L))
    Seq(
      Op("minhashCandidates", () => Dedup.minhashCandidates(
          Dedup.minhashSignaturesOf(docs, "doc_id", "text", 3, 6), 6, 2),
        shingles3 + withShingle * 3),
      Op("simhashNearPairs", () => Dedup.simhashNearPairs(
          Dedup.simhash(docs, "doc_id", "text", 60), 60, 4, 3),
        tokens + withToken * 15),
      Op("contamination", () => Dedup.contamination(docs, "doc_id", "text",
          col("doc_id") % 5 =!= 0, 3), shingles3),
      Op("jaccardPairs", () => Dedup.jaccardPairs(docs, "doc_id", "text",
          "lang", 3, 0.3), shingles3),
      Op("tfidfTopTerms", () => graft.api.Corpus.tfidfTopTerms(docs, topK = 3),
        tokens),
      Op("nearDuplicates", () => graft.api.Corpus.nearDuplicates(docs),
        shingles3 + withShingle * 3),
      Op("dd8", () => QueryCatalog.byName("dd8_minhash_estimate").run(spark, dir),
        shingles3 + withShingle * 3))
  }
}
