package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, lit}

/** A5/A6 — delimited parameter-list scan and wide CSV export
  * (reference: `read.delim("genes.txt", header=F)[,1]` at
  * BRCA_path_stage_DESeq.R:7-9 / drug_km_median_exp.R:23-30, and
  * `write.csv(count_csv, row.names=F)` with NA→"" at
  * vital_status_DESeq.R:174-175).
  */
object CsvIO {

  /** First column of a tab-delimited param file as an uppercased
    * gene/cancer list (`toupper(goi)`, vital_status_DESeq.R:4). Tiny
    * driver-side config tables — the one legitimate `collect()` in the
    * engine (they parameterize plans, they are not on the fact path) —
    * read in ONE Spark job: the reader is given a one-column string
    * schema, so no job infers one. Parsing stays Spark's CSV parser:
    * quotes honored, blank lines skipped, any column after the first
    * ignored; values are trimmed and uppercased, and blank ones (an empty
    * first column reads as NULL) dropped. */
  def readParamList(spark: SparkSession, path: String): Seq[String] =
    spark.read.schema("value STRING").option("sep", "\t").csv(path)
      .collect().flatMap(r => Option(r.getString(0))).map(_.trim.toUpperCase)
      .filter(_.nonEmpty).toSeq

  /** Wide CSV export, NULL→"" (F10), single header file. `coalesce(1)` is
    * presentation-edge only — the frames exported this way are
    * genes×groups wide tables, never the fact table. */
  def writeWideCsv(df: DataFrame, path: String): Unit =
    df.select(df.columns.toIndexedSeq.map(c =>
        coalesce(df(c).cast("string"), lit("")).as(c)): _*)
      .coalesce(1)
      .write.mode("overwrite").option("header", "true").csv(path)
}
