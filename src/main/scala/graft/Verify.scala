package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    // SPARK_GRAFT_SHUFFLE_PARTITIONS decouples the shuffle width from the
    // core count for distributed-correctness sweeps: a real cluster runs
    // hundreds-to-thousands of shuffle partitions, and an operator whose
    // result accidentally depends on partition count (two-phase rank
    // stitches, salted writers, map-side combines) must be flushed out at
    // an adversarial width (prime, >> CPUs), not only at width = CPUs
    val shufflePartitions =
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus.toString)
    // SPARK_GRAFT_MAX_PARTITION_BYTES shrinks the scan-split size so the
    // small local fixtures read as MANY input partitions — the other
    // parallelism axis a 100 TB scan always exercises (thousands of
    // splits) and a one-file-per-table local run never does
    val maxPartitionBytes =
      sys.env.getOrElse("SPARK_GRAFT_MAX_PARTITION_BYTES", "134217728")
    val spark = GraftSession.harness(cpus)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.files.maxPartitionBytes", maxPartitionBytes)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=q1,q2 restricts the dump for local iteration;
    // the driver leaves it unset and verifies everything
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    SparkEntry.queries
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
      spark.catalog.clearCache() // queries persist() internally
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
