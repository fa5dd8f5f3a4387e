package graft

import java.nio.file.Files
import graft.sources.{CsvIO, JsonlIO, Stages}

class SourcesSpec extends SparkSpec {
  import spark.implicits._

  test("A5: delimited param list reads, trims, uppercases") {
    val dir = Files.createTempDirectory("graft_csv").toFile
    val f = new java.io.File(dir, "genes.txt")
    Files.writeString(f.toPath, "brca1\ntp53\n\negfr\n")
    assert(CsvIO.readParamList(spark, f.getAbsolutePath) == Seq("BRCA1", "TP53", "EGFR"))
    // quotes, a second column, surrounding blanks and an empty first
    // column, read in one Spark job (no schema-inference job)
    val g = new java.io.File(dir, "quoted.txt")
    Files.writeString(g.toPath,
      "\"kras\"\n\"a\tb\"\nmyc\tignored\n  pik3ca \n\tnot a gene\n")
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        started.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val read = try {
      val r = CsvIO.readParamList(spark, g.getAbsolutePath)
      var last = -1
      while (last != started.get()) { last = started.get(); Thread.sleep(300) }
      r
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(read == Seq("KRAS", "A\tB", "MYC", "PIK3CA"))
    assert(started.get() <= 1, s"readParamList ran ${started.get()} Spark jobs")
  }

  test("A6: wide CSV export fills NULL with empty string and round-trips") {
    val dir = Files.createTempDirectory("graft_csv_out").toFile.getAbsolutePath + "/wide"
    val df = Seq((1L, Some("x"), Some(2.5)), (2L, None, None))
      .toDF("id", "name", "score")
    CsvIO.writeWideCsv(df, dir)
    val back = spark.read.option("header", "true").csv(dir).orderBy("id").collect()
    assert(back.length == 2)
    assert(back(1).getString(1) == null || back(1).getString(1) == "") // NULL -> ""
    assert(back(0).getString(2) == "2.5")
  }

  test("scratch-layout GC: regen siblings and legacy keys reaped, other sf dirs kept") {
    import graft.queries.RelationalQueries.{cacheKey, gcStaleLayouts}
    val root = Files.createTempDirectory("graft_gc").toFile
    val sfDir = "/root/testdata/sf0.001"
    val key = cacheKey(sfDir, "orders.parquet")
    def mk(name: String) = { new java.io.File(root, name).mkdirs(); name }
    val current = mk(key)
    val regen = mk(key.take(32) + "_1_2") // same source dir, pre-regen mtime/size
    val legacy = mk("d178f9eb") // pre-rename hashCode-format key
    val other = mk("0123456789abcdef0123456789abcdef_5_6") // another sf dir
    // a key-format migration strands layouts whose prefix matches no sf
    // dir's md5 (ADVICE r10: pre-r10 bk keys) — the age clause reaps any
    // foreign-prefix dir untouched for 14+ days, while a RECENT foreign
    // prefix (a live other-sf-dir layout) survives
    val stranded = mk("fedcba9876543210fedcba9876543210_7_8")
    new java.io.File(root, stranded)
      .setLastModified(System.currentTimeMillis() - 15L * 24 * 3600 * 1000)
    gcStaleLayouts(root.getAbsolutePath, key)
    assert(new java.io.File(root, current).exists, "current layout must survive")
    assert(!new java.io.File(root, regen).exists, "regen sibling must be reaped")
    assert(!new java.io.File(root, legacy).exists, "legacy key must be reaped")
    assert(new java.io.File(root, other).exists, "other sf dir's layout must survive")
    assert(!new java.io.File(root, stranded).exists,
      "14-day-old foreign-prefix layout must be reaped (format-migration strandees)")
  }

  test("ensureLayout clears a partial key dir before rebuilding — stale files cannot survive the build") {
    // r14 ADVICE: a crash mid-build (ss5: after the append, before the
    // marker) leaves a sentinel-less PARTIAL layout; trusting the
    // builder's write.mode("overwrite") to clear it breaks under
    // partitionOverwriteMode=dynamic (only partitions present in the new
    // data are replaced). ensureLayout must delete the key dir itself.
    import graft.queries.RelationalQueries.ensureLayout
    val root = Files.createTempDirectory("graft_partial").toFile.getAbsolutePath
    val key = "0123456789abcdef0123456789abcdef_1_1"
    val partial = new java.io.File(s"$root/$key/cell=-1")
    partial.mkdirs()
    val strayFile = new java.io.File(partial, "stale-rows.parquet")
    assert(strayFile.createNewFile())
    var built = 0
    ensureLayout(root, key, Seq("_DONE")) { p =>
      built += 1
      assert(!strayFile.exists(),
        "partial layout must be cleared BEFORE the builder runs")
      new java.io.File(p).mkdirs()
      assert(new java.io.File(p, "_DONE").createNewFile())
    }
    assert(built == 1 && !strayFile.exists())
    // fresh layout: no rebuild, no delete
    ensureLayout(root, key, Seq("_DONE"))(_ => built += 1)
    assert(built == 1 && new java.io.File(s"$root/$key/_DONE").exists())
  }

  test("bk layout key: volatile inputs ride the suffix so GC reaps a bucket bump") {
    // ADVICE r9: the old bk key folded orders mtime/len + bucket count
    // into the md5 PREFIX, so after a regen or a constant bump the stale
    // layout had a different prefix, matched the valid key format, and
    // was kept forever. The invariant now: same sf dir -> same prefix;
    // any volatile change -> different SUFFIX under that prefix -> the
    // old layout is exactly what gcStaleLayouts reaps.
    import graft.queries.RelationalQueries.{bkKey, gcStaleLayouts}
    val sfDir = "/root/testdata/sf0.001"
    val k8 = bkKey(sfDir, 8)
    val k16 = bkKey(sfDir, 16)
    assert(k8.take(32) == k16.take(32), "same sf dir must share the md5 prefix")
    assert(k8 != k16, "bucket count must change the key")
    assert("^[0-9a-f]{32}_\\d+_\\d+$".r.findFirstIn(k8).isDefined,
      s"key must keep gcStaleLayouts' md5_digits_digits format: $k8")
    val root = Files.createTempDirectory("graft_bkgc").toFile
    new java.io.File(root, k8).mkdirs()  // the pre-bump layout
    new java.io.File(root, k16).mkdirs() // the current layout
    gcStaleLayouts(root.getAbsolutePath, k16)
    assert(new java.io.File(root, k16).exists, "current bk layout must survive")
    assert(!new java.io.File(root, k8).exists,
      "pre-bump bk layout must be reaped (same prefix, different suffix)")
  }

  test("A2-A4: loadOrBuild probes, materializes once, then reuses") {
    val path = Files.createTempDirectory("graft_stage").toFile.getAbsolutePath + "/stage1"
    var builds = 0
    def build = { builds += 1; Seq((1L, "a"), (2L, "b")).toDF("k", "v") }
    assert(!Stages.exists(spark, path))
    val first = Stages.loadOrBuild(spark, path)(build)
    assert(first.count() == 2 && builds == 1)
    val second = Stages.loadOrBuild(spark, path)(build)
    assert(second.count() == 2 && builds == 1) // cache hit, no rebuild
    assert(Stages.exists(spark, path))
  }

  test("JSONL: enforced schema, malformed lines quarantined not dropped") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft_jsonl").toFile
    Files.writeString(new java.io.File(dir, "docs.jsonl").toPath,
      """{"doc_id": 1, "text": "hello world", "lang": "en"}
        |{"doc_id": 2, "text": "zweites dokument", "lang": "de"}
        |{"doc_id": 3, "text": "truncated…
        |{"doc_id": 4, "text": null, "lang": "fr"}
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType)))
    val (clean, bad) = JsonlIO.partitionCorrupt(
      JsonlIO.readJsonl(spark, dir.getAbsolutePath, schema))
    assert(clean.columns.toSeq == Seq("doc_id", "text", "lang"))
    assert(clean.count() == 3) // null field is valid JSON, stays clean
    assert(bad.count() == 1)
    assert(bad.collect().head.getString(0).contains("truncated"))
  }

  test("JSONL: round-trip write/read preserves rows") {
    import org.apache.spark.sql.types._
    val out = Files.createTempDirectory("graft_jsonl_out").toFile.getAbsolutePath + "/docs"
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
    JsonlIO.writeJsonl(df, out)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val back = JsonlIO.readJsonl(spark, out, schema)
    val (clean, bad) = JsonlIO.partitionCorrupt(back)
    assert(bad.count() == 0)
    assert(clean.orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      == Seq((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("ORC interchange: round trip, predicate pushdown, column pruning") {
    // ORC is the other columnar lake format Spark reads natively (no
    // extra deps) — assert the same scan-side guarantees the parquet
    // paths get: filters reach the ORC reader, untouched columns are
    // never read, values round-trip exactly
    import org.apache.spark.sql.functions.col
    val out = Files.createTempDirectory("graft_orc").toFile.getAbsolutePath + "/li"
    val src = Tables.lineitem(spark, "/root/testdata/sf0.001")
      .select("l_orderkey", "l_quantity", "l_returnflag", "l_linestatus")
    src.write.mode("overwrite").orc(out)
    val back = spark.read.orc(out)
      .filter(col("l_quantity") > 25.0)
      .select("l_orderkey", "l_quantity")
    val p = back.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") && p.contains("l_quantity"), p)
    assert(!p.contains("l_linestatus"), "pruned column still read:\n" + p)
    val expect = src.filter(col("l_quantity") > 25.0)
      .select("l_orderkey", "l_quantity")
    assert(back.except(expect).isEmpty && expect.except(back).isEmpty)
  }
}
