package graft

import org.apache.spark.sql.SparkSession

class GraftSessionSpec extends SparkSpec {

  test("GraftSession configures the engine's assumed settings on a builder") {
    // a builder is a bag of (k, v) until getOrCreate; read it back via the
    // options map reflection-free by building a session IN the shared
    // context: runtime confs (timeZone, AQE, shuffle partitions) apply to
    // the new session even though the context is shared. The static
    // extensions conf is covered by ExpressionsSpec's injector test.
    spark.sparkContext // force the shared suite context first
    val s = GraftSession(SparkSession.builder(), shufflePartitions = 7)
      .getOrCreate()
    try {
      assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
      assert(s.conf.get("spark.sql.adaptive.enabled") == "true")
      assert(s.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true")
      assert(s.conf.get("spark.sql.adaptive.coalescePartitions.enabled") == "true")
      assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    } finally {
      // restore the suite session's confs (getOrCreate returned the shared
      // session with the new runtime confs applied)
      s.conf.set("spark.sql.session.timeZone", "UTC")
      s.conf.set("spark.sql.shuffle.partitions", "4")
    }
  }

  test("harness resolves the Bench, Verify and test-suite session confs") {
    // static confs are fixed by the first builder in the JVM — the shared
    // suite session, itself GraftSession.harness(4)
    val sc = spark.sparkContext
    assert(sc.master == "local[4]")
    assert(sc.getConf.get("spark.ui.enabled") == "false")
    assert(sc.getConf.get("spark.sql.codegen.cache.maxEntries") == "1000")
    assert(spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:") == "/tmp/graft_warehouse")
    // runtime confs apply to the shared session through getOrCreate
    def resolved(b: SparkSession.Builder, keys: String*): Seq[String] = {
      val s = b.getOrCreate()
      try keys.map(s.conf.get)
      finally {
        s.conf.set("spark.sql.shuffle.partitions", "4")
        s.conf.unset("spark.sql.files.maxPartitionBytes")
      }
    }
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.session.timeZone",
      "spark.sql.join.preferSortMergeJoin", "spark.sql.files.maxPartitionBytes")
    // Bench: harness(cpus) alone (split size left at Spark's default)
    assert(resolved(GraftSession.harness(8), keys.take(3): _*) ==
      Seq("8", "UTC", "true"))
    // Verify: harness(cpus) plus its shuffle width and split size, at the
    // defaults and at the widths the robustness sweeps override them to
    def verify(width: String, split: String) = GraftSession.harness(8)
      .config("spark.sql.shuffle.partitions", width)
      .config("spark.sql.files.maxPartitionBytes", split)
    assert(resolved(verify("8", "134217728"), keys: _*) ==
      Seq("8", "UTC", "true", "134217728"))
    assert(resolved(verify("257", "16384"), keys: _*) ==
      Seq("257", "UTC", "true", "16384"))
  }

  test("a GraftSession-configured session runs a catalog query end to end") {
    val df = queries.QueryCatalog.byName("x2_quality_score")
      .run(spark, "/root/testdata/sf0.001")
    assert(df.count() > 0)
  }
}
