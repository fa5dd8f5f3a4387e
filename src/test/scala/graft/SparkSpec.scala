package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one forked test JVM). */
object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.harness(4).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** Run `body` with the given session confs, restoring them after. */
  def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val saved = kvs.map { case (k, _) => k -> spark.conf.get(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  /** Seven range partitions that AQE does not coalesce back into one, so
    * a two-phase scan's carry crosses partitions even on small inputs. */
  def atWidth7[T](body: => T): T = withConf(
    "spark.sql.shuffle.partitions" -> "7",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "false")(body)

  /** How many non-empty partitions a range repartition of `df` on `keys`
    * fills at the current shuffle width. */
  def rangeSpan(df: DataFrame, keys: Column*): Long =
    df.repartitionByRange(keys: _*)
      .select(org.apache.spark.sql.functions.spark_partition_id())
      .distinct().count()
}
