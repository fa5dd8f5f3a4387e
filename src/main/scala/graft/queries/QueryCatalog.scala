package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: a Spark implementation plus (optionally) the
  * equivalent ANSI SQL the driver replays in DuckDB on the same parquet.
  *
  * Contract notes (driver compare):
  *  - columns are sorted by NAME before hashing → every computed column is
  *    aliased identically on both sides;
  *  - doubles that are not exactly representable / order-independent are
  *    `round(x, 6)`-ed on BOTH sides so shuffle-order float association
  *    can't flip the hash.
  */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    doc: String = "")

/** Oracle-SQL idioms shared across query groups — a dependency-free home
  * so no two query objects need to reference each other during
  * initialization (cross-object val cycles deadlock under concurrent
  * first-touch). */
object OracleSql {
  /** SQL mirror of `Dedup.hash60` — the ONE copy of the parity-critical
    * 60-bit md5 idiom every oracle derives hashes from. */
  def hash60(e: String): String =
    s"CAST(('0x'||substring(md5($e),1,15)) AS BIGINT)"

  /** DESeq2's closed-form VST of `q` under the trend α(μ) = a0 + a1/μ —
    * the SQL twin of `Normalization.vstOf`, same op order. */
  def vst(q: String, a0: String, a1: String): String =
    s"""log2((1.0 + $a1 + 2.0 * $a0 * $q +
          2.0 * sqrt($a0 * $q * (1.0 + $a1 + $a0 * $q))) / (4.0 * $a0))"""

  /** Two-sided normal p-value of column `z` of `inner` — the ONE SQL copy
    * of the Abramowitz–Stegun erfc polynomial (identical to
    * `Stats.normalSfTwoSided`). `keep` is the outer select list; `pvalue`
    * is rounded to 6 places unless `rounded` is false. */
  def withNormalSf(inner: String, keep: String, rounded: Boolean = true): String = {
    val p = """least(1.0, ((((1.061405429*tt - 1.453152027)*tt + 1.421413741)*tt
            - 0.284496736)*tt + 0.254829592)*tt * exp(-xx*xx))"""
    s"""SELECT $keep, ${if (rounded) s"round($p, 6)" else p} AS pvalue
        FROM (SELECT *, 1.0/(1.0 + 0.3275911*xx) AS tt
              FROM (SELECT *, abs(z)/sqrt(2) AS xx FROM ($inner)))"""
  }
}

object QueryCatalog {
  /** All registered query groups, in SURVEY.md §2 order. */
  def all: Seq[Q] =
    RelationalQueries.all ++
      StatsQueries.all ++
      SurvivalQueries.all ++
      ReshapeQueries.all ++
      ScaleOpsQueries.all ++
      PipelineQueries.all ++
      CurationQueries.all ++
      EmbeddingQueries.all ++
      AnalyticsQueries.all ++
      DomainQueries.all ++
      StreamParityQueries.all

  lazy val byName: Map[String, Q] = {
    val qs = all
    require(qs.map(_.name).distinct.size == qs.size, "duplicate query names")
    qs.map(q => q.name -> q).toMap
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    byName.map { case (n, q) => n -> q.run }

  def oracleSql: Map[String, String] =
    byName.collect { case (n, q) if q.oracle.isDefined => n -> q.oracle.get }
}
