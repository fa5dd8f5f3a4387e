package graft

import org.apache.spark.sql.functions._
import graft.sources.{Partitioning, Zorder}

class PartitioningSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("zorder: interleave puts rank bits at the right positions") {
    import spark.implicits._
    // rank bit i of column j lands at position i*k + j: with k=2 and
    // ranks a=0b10, b=0b01 the set bits are a's bit1 -> position 2 and
    // b's bit0 -> position 1, so z = 4 + 2 = 6
    val z = Seq((2L, 1L)).toDF("a", "b")
      .select(Zorder.interleave(Seq(col("a"), col("b")), 2).as("z"))
      .head().getLong(0)
    assert(z == 6L, s"z=$z")
  }

  test("zorder layout: 2-D box intersects far fewer file stat-boxes than 1-D sort") {
    // The skipping witness an engine with file/row-group min-max stats
    // (parquet footers, Delta/Iceberg manifests) acts on: how many files'
    // [min,max] boxes intersect the query box. Engine-independent — no
    // reliance on Spark's V1 scan, which lists all files regardless.
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("value"))
    val files = 16
    val zPath = java.nio.file.Files.createTempDirectory("graft_z").toString
    val sPath = java.nio.file.Files.createTempDirectory("graft_s").toString
    Zorder.writeZordered(ev, zPath, Seq("user_id", "value"), files)
    ev.repartitionByRange(files, col("user_id"))
      .sortWithinPartitions("user_id")
      .write.mode("overwrite").parquet(sPath)

    // thin slab on `value`, all users: the user-sorted layout cannot
    // prune it, the z-order layout can
    val Array(lo, hi) = ev.stat.approxQuantile("value", Array(0.45, 0.55), 0.0)
    def intersecting(path: String): (Long, Long) = {
      val boxes = spark.read.parquet(path)
        .groupBy(input_file_name().as("f"))
        .agg(min("value").as("vlo"), max("value").as("vhi"))
      (boxes.filter(col("vlo") <= hi && col("vhi") >= lo).count(), boxes.count())
    }
    val (zHit, zTotal) = intersecting(zPath)
    val (sHit, sTotal) = intersecting(sPath)
    // range partitioning may leave empty partitions (no file written) on
    // a low-cardinality key — compare fractions, not absolute counts
    assert(zTotal >= files / 2 && sTotal >= files / 2, s"$zTotal/$sTotal")
    assert(sHit == sTotal, s"1-D layout should be unprunable here, hit $sHit/$sTotal")
    assert(zHit * 2 <= zTotal, s"z-order hit $zHit of $zTotal, 1-D hit $sHit/$sTotal")
    // parity: the layouts hold identical data
    val q = (d: org.apache.spark.sql.DataFrame) =>
      d.filter(col("value") >= lo && col("value") <= hi).count()
    assert(q(spark.read.parquet(zPath)) == q(ev))
  }

  test("static partition pruning: a lang predicate never reads other partitions") {
    val docs = Tables.documents(spark, sf)
    val path = java.nio.file.Files.createTempDirectory("graft_part").toString
    Partitioning.writePartitioned(docs, path, "lang")
    val part = Partitioning.readPartitioned(spark, path)

    val en = part.filter(col("lang") === "en")
    val n = en.count()
    // value parity with the unpartitioned filter
    assert(n == docs.filter(col("lang") === "en").count())
    // the predicate must be a PLANNING-time partition filter...
    val plan = en.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("lang"), plan)
    // ...and only files under lang=en are touched
    val files = en.select(input_file_name()).distinct()
      .collect().map(_.getString(0))
    assert(files.nonEmpty && files.forall(_.contains("lang=en")), files.mkString("\n"))
  }

  test("dynamic partition pruning: a filtered dim join prunes the fact scan at runtime") {
    val docs = Tables.documents(spark, sf)
    val path = java.nio.file.Files.createTempDirectory("graft_dpp").toString
    Partitioning.writePartitioned(docs, path, "lang")
    val fact = Partitioning.readPartitioned(spark, path)
    // dim table: language metadata; the filter on it is NOT a literal
    // predicate on the fact, so only DPP can prune the fact scan
    import spark.implicits._
    // the dim must be a real scan: a LocalRelation folds its filter away
    // (ConvertToLocalRelation), leaving no selective predicate for the
    // DPP rule to key on
    val dimPath = java.nio.file.Files.createTempDirectory("graft_dpp_dim").toString
    Seq(("en", "keep"), ("de", "drop"), ("es", "drop"),
      ("fr", "drop"), ("zh", "drop")).toDF("lang", "verdict")
      .write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath)
    // kB-scale test data fails DPP's cost heuristic (pruning benefit is
    // estimated against the scan size); force the decision so the test
    // exercises the MECHANISM — at real scale the stats say yes on their own
    val prevStats = spark.conf.get(
      "spark.sql.optimizer.dynamicPartitionPruning.useStats")
    val prevRatio = spark.conf.get(
      "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio")
    try {
      spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
      spark.conf.set(
        "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio", "1000")
      // NOTE: no input_file_name() probe here — a nondeterministic
      // projection above the scan blocks the very pruning under test;
      // the scan's own numFiles metric is the honest witness
      val joined = fact.join(dim, "lang").filter(col("verdict") === "keep")
      val n = joined.count()
      assert(n == docs.filter(col("lang") === "en").count())
      val plan = joined.queryExecution.executedPlan
      assert(plan.toString.contains("dynamicpruning"), plan.toString)
      val factScan = PlanNodes(plan).collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.metadata.get("Location").exists(_.contains("graft_dpp")) &&
            !f.metadata.get("Location").exists(_.contains("graft_dpp_dim")) => f
      }.getOrElse(fail("fact FileSourceScanExec not found"))
      val totalFiles = docs.select("lang").distinct().count() // >= 1 file per lang dir
      val readFiles = factScan.metrics("numFiles").value
      assert(readFiles < totalFiles,
        s"DPP read $readFiles files, expected fewer than $totalFiles")
    } finally {
      spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", prevStats)
      spark.conf.set(
        "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio", prevRatio)
    }
  }
}
