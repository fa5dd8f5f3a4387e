package graft

import graft.api.Tcga

/** The Caches contract, end to end: a realistic session running the two
  * flagship pipelines (KM by median expression + NB-GLM differential
  * expression) must not accumulate cached frames — every library-internal
  * persist is released once the frame it feeds has run (VERDICT r02 #4),
  * and no other action on the session, failed or not, releases it. */
class CachesSpec extends SparkSpec {

  // the shared session outlives each suite: count only the persistent RDDs
  // a test made itself
  private def rddIds(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
  // QueryExecutionListener delivery is asynchronous — poll briefly
  private def settle(done: => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + 20000
    while (!done && System.currentTimeMillis() < deadline) Thread.sleep(200)
  }
  // raw RDD persists (checkpoints) survive catalog.clearCache: drop the
  // ones a test made so later tests count a clean slate
  private def dropRddsSince(earlier: Set[Int]): Unit =
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!earlier(id)) rdd.unpersist(blocking = true)
    }

  test("a full KM + DE session leaves at most one cached RDD behind") {
    val t = TcgaFixtures.tables(spark)
    spark.catalog.clearCache()
    val earlier = rddIds()
    val (curves, tests) =
      Tcga.kmByMedianExpression(t, Seq("DEG10", "GENE1", "GENE2"))
    assert(curves.collect().nonEmpty)
    assert(tests.collect().nonEmpty)
    val de = Tcga.differentialExpression(t, "short_letter_code", Seq("NT", "TP"))
    assert(de.collect().nonEmpty)
    def live() = (rddIds() -- earlier).size
    settle(live() <= 1)
    assert(live() <= 1, s"leaked cached RDDs: ${live()}")
  }

  test("an unrelated action keeps differentialExpression's cells; the caller's action releases them") {
    val t = TcgaFixtures.tables(spark)
    spark.catalog.clearCache()
    val cm = spark.sharedState.cacheManager
    val de = Tcga.differentialExpression(t, "short_letter_code", Seq("NT", "TP"))
    assert(!cm.isEmpty, "differentialExpression cached nothing")
    spark.range(3).count()
    (1 to 5).foreach { _ =>
      Thread.sleep(100)
      assert(!cm.isEmpty, "an unrelated action released the cells")
    }
    de.write.format("noop").mode("overwrite").save()
    settle(cm.isEmpty)
    assert(cm.isEmpty, "the cells outlived the caller's action")
  }

  private def cached(df: org.apache.spark.sql.DataFrame): Boolean =
    df.storageLevel != org.apache.spark.storage.StorageLevel.NONE
  // QueryExecutionListener delivery is asynchronous: a cache that must
  // stay is checked on several polls, one that must go is polled for
  private def stays(df: org.apache.spark.sql.DataFrame, why: String): Unit =
    (1 to 5).foreach { _ => Thread.sleep(100); assert(cached(df), why) }
  private def goes(df: org.apache.spark.sql.DataFrame, why: String): Unit = {
    val deadline = System.currentTimeMillis() + 20000
    while (cached(df) && System.currentTimeMillis() < deadline) Thread.sleep(100)
    assert(!cached(df), why)
  }

  test("a cache shared by two consumers outlives the first consumer's action") {
    import org.apache.spark.sql.functions._
    for (first <- Seq(0, 1)) {
      spark.catalog.clearCache()
      val shared = spark.range(200).withColumn("k", col("id") % 7).persist()
      val consumers = Seq(shared.groupBy("k").agg(sum("id").as("s")),
        shared.filter(col("id") > 20).select(max("id")))
      Caches.releaseAfterConsumers(consumers, shared)
      // an unrelated action does not count
      spark.range(3).count()
      stays(shared, s"released by an unrelated action (first = $first)")
      // the first consumer feeds a writer through a derived frame
      consumers(first).select(col(consumers(first).columns.head))
        .write.format("noop").mode("overwrite").save()
      stays(shared, s"released after one of two consumers (first = $first)")
      consumers(1 - first).collect()
      goes(shared, s"kept after both consumers (first = $first)")
    }
  }

  test("bhAdjust, kmCurve and logRankBy leave a caller's cache in place") {
    import graft.functions.{Stats, Survival}
    import org.apache.spark.sql.functions._
    spark.catalog.clearCache()
    val hyps = spark.range(60).select(col("id"),
      ((col("id") * 37) % 60 / 60.0).as("p"), (col("id") % 3).as("fam"))
      .persist()
    val subjects = spark.range(80).select(
      (col("id") % 4).as("g"), (col("id") % 2).cast("string").as("s"),
      ((col("id") * 13) % 29).cast("double").as("time"),
      (col("id") % 3 =!= 0).cast("long").as("event")).persist()
    Stats.bhAdjust(hyps, "p", "id", Seq("fam")).collect()
    Survival.kmCurve(subjects, "s", "time", "event").collect()
    Survival.logRankBy(subjects, "g", "s", "time", "event").collect()
    spark.range(3).count() // a later action must not release them either
    stays(hyps, "bhAdjust released its caller's cache")
    stays(subjects, "kmCurve or logRankBy released its caller's cache")
    spark.catalog.clearCache()
  }

  test("a failed action releases a cache only when its plan holds a consumer") {
    import org.apache.spark.sql.functions._
    spark.catalog.clearCache()
    val shared = spark.range(50).withColumn("k", col("id") % 5).persist()
    val consumers = Seq(shared.groupBy("k").count(), shared.select(sum("id")))
    Caches.releaseAfterConsumers(consumers, shared)
    val boom = udf((k: Long) => if (k >= 0) throw new IllegalStateException("boom") else k)
    intercept[Exception](spark.range(5).select(boom(col("id"))).collect())
    stays(shared, "an unrelated failed action released the cache")
    intercept[Exception](consumers.head.select(boom(col("k"))).collect())
    goes(shared, "a failed consumer action kept the cache")
  }

  test("a listener whose consumer never runs unregisters once clearCache drops its cache") {
    import org.apache.spark.sql.functions._
    def pending() = org.apache.spark.sql.QueryListeners.of(spark)
      .count(_.getClass.getName.startsWith("graft.Caches$"))
    // earlier suites may leave never-consumed listeners: drain them first
    spark.catalog.clearCache()
    spark.range(1).count()
    settle(pending() == 0)
    assert(pending() == 0, s"${pending()} listeners survived clearCache")
    val cache = spark.range(30).withColumn("k", col("id") % 3).persist()
    Caches.releaseAfterConsumers(Seq(cache.groupBy("k").count()), cache)
    spark.range(3).count()
    stays(cache, "an unrelated action released the cache")
    assert(pending() == 1)
    spark.catalog.clearCache()
    spark.range(3).count()
    settle(pending() == 0)
    assert(pending() == 0, "the listener outlived its cache")
  }

  test("ivfIndexTopK keeps its probe frame cached for the caller's action") {
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.functions._
    import graft.operators.Ann
    val emb = spark.range(400).select(col("id").as("vec_id"),
      array((1 to 8).map(j => sin(col("id") * j).cast("float")): _*).as("embedding"))
    val path = java.nio.file.Files.createTempDirectory("graft_caches_ivf").toString
    Ann.writeIvfIndex(emb, "vec_id", "embedding", path, k = 4, iters = 2)
    spark.catalog.clearCache()
    // hold the listener bus on its first event until the serve is built,
    // as a busy session does: the serve's own construction-time action
    // events are then still queued when ivfIndexTopK returns
    val built = new java.util.concurrent.CountDownLatch(1)
    val hold = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        built.await(30, java.util.concurrent.TimeUnit.SECONDS)
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(hold)
    val served =
      try Ann.ivfIndexTopK(spark, path,
        emb.filter(col("vec_id") % 100 === 0), "vec_id", "embedding",
        nProbe = 2, topK = 3)
      finally built.countDown()
    spark.listenerManager.unregister(hold)
    // the queued events are delivered now: none may release the probe frame
    Thread.sleep(1000)
    val cm = spark.sharedState.cacheManager
    assert(!cm.isEmpty, "the probe frame was released before the caller's action")
    val out = served.select(col("q_id"), col("id"))
    assert(out.collect().nonEmpty)
    assert(PlanNodes(out.queryExecution.executedPlan)
        .exists(_.isInstanceOf[InMemoryTableScanExec]),
      "the caller's action recomputed the probe frame")
    val deadline = System.currentTimeMillis() + 20000
    while (!cm.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(100)
    assert(cm.isEmpty, "the probe frame outlived the caller's action")
  }

  private def pretrainDocs = {
    import spark.implicits._
    (1L to 80L)
      .map(i => (i, s"document body ${i % 9} with some shared tokens and a " +
        s"longer tail of words to clear the quality gate number $i",
        if (i % 2 == 0) "en" else "de", if (i % 10 == 0) "eval" else "train"))
      .toDF("doc_id", "text", "lang", "split")
  }

  test("DE + KM and pretrainingRun + writePacked on two threads match a serial run") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    import graft.sinks.Sharding
    val t = TcgaFixtures.tables(spark)
    val docs = pretrainDocs
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq
    def tcgaRound(): Seq[Seq[String]] = {
      val de = Tcga.differentialExpression(t, "short_letter_code", Seq("NT", "TP"))
      val (curves, tests) = Tcga.kmByMedianExpression(t, Seq("DEG10", "GENE1", "GENE2"))
      Seq(rows(de), rows(curves), rows(tests))
    }
    def corpusRound(): Seq[Seq[String]] = {
      val st = graft.api.Corpus.pretrainingRun(docs, col("split") === "eval",
        jaccardMin = 0.95, contaminationMax = 1.01, budget = 0.9)
      val dir = java.nio.file.Files.createTempDirectory("graft_caches_packed").toString
      Sharding.writePacked(st.mixed.withColumn("n_tokens",
          size(graft.operators.TextFunctions.tokens(col("text"))).cast("long")),
        dir, "n_tokens", 4096L, Seq(col("doc_id")))
      Seq(rows(st.packed), rows(spark.read.parquet(dir)))
    }
    val earlier = rddIds()
    try {
      spark.catalog.clearCache()
      val serial = tcgaRound() ++ corpusRound()
      spark.catalog.clearCache()
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      val concurrent =
        try {
          val tcga = pool.submit(() => tcgaRound())
          val corpus = pool.submit(() => corpusRound())
          tcga.get(300, java.util.concurrent.TimeUnit.SECONDS) ++
            corpus.get(300, java.util.concurrent.TimeUnit.SECONDS)
        } finally pool.shutdown()
      assert(serial.forall(_.nonEmpty))
      assert(concurrent == serial, "the concurrent run's outputs differ from the serial run's")
      val cm = spark.sharedState.cacheManager
      settle(cm.isEmpty)
      assert(cm.isEmpty, "a library cache outlived both threads' actions")
    } finally dropRddsSince(earlier)
  }

  test("pretrainingRun releases every internal cache after the consuming action") {
    import org.apache.spark.sql.functions._
    val docs = pretrainDocs
    spark.catalog.clearCache()
    val earlier = rddIds()
    try {
      // thresholds loosened so rows survive every stage — this test is
      // about CACHE lifetime, not funnel semantics (CorpusSpec pins those)
      val st = graft.api.Corpus.pretrainingRun(docs, col("split") === "eval",
        jaccardMin = 0.95, contaminationMax = 1.01, budget = 0.9)
      // the checkpoints of `cleaned` and `deduped` are the stages' DATA
      // (truncated lineage), not leaked caches; they are all that may
      // stay
      def checkpointId(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.analyzed match {
          case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
          case other => fail(s"not a checkpoint: ${other.nodeName}")
        }
      val stages = Set(checkpointId(st.cleaned), checkpointId(st.deduped))
      // the component walk's labels are released by the call itself, not
      // left for the ContextCleaner once they are unreferenced
      val checkpoints = spark.sparkContext.getPersistentRDDs.collect {
        case (id, rdd) if !earlier(id) && rdd.isCheckpointed => id
      }.toSet
      assert(checkpoints == stages,
        s"checkpoints $checkpoints after construction, expected the stages' $stages")
      assert(st.packed.collect().nonEmpty)
      def live() = (rddIds() -- earlier).size
      settle(rddIds() -- earlier == stages)
      assert(live() <= 2, s"leaked cached RDDs: ${live()}")
      assert(rddIds() -- earlier == stages,
        s"persistent RDDs ${rddIds() -- earlier} are not the stage checkpoints $stages")
    } finally dropRddsSince(earlier)
  }

  test("construction-time jobs on a cache do not release it under the consumer rule") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    // each of these ran inside some operator's construction and fired the
    // deleted one-action rule; none holds the consumer's plan
    val jobs: Seq[(String, DataFrame => Unit)] = Seq(
      "collect" -> (df => { df.collect(); () }),
      "rdd count" -> (df => { df.rdd.count(); () }),
      "eager localCheckpoint" -> (df => { df.localCheckpoint(); () }),
      "lazy localCheckpoint" -> (df => { df.localCheckpoint(eager = false); () }))
    val earlier = rddIds()
    try jobs.foreach { case (label, job) =>
      spark.catalog.clearCache()
      val df = (1 to 100).toDF("v")
        .groupBy((col("v") % 10).as("k")).agg(count(lit(1)).as("n"))
        .persist()
      val consumer = df.filter(col("n") > 0)
      Caches.releaseAfterConsumers(Seq(consumer), df)
      job(df)
      stays(df, s"$label on the cache released it")
      consumer.collect()
      goes(df, s"the cache outlived its consumer's action ($label)")
    } finally dropRddsSince(earlier)
  }

  test("releaseAfterStreams unpersists once the last streaming query stops") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    spark.catalog.clearCache()
    val static = (1 to 50).toDF("v").groupBy((col("v") % 5).as("k"))
      .agg(count(lit(1)).as("n")).persist()
    static.count()
    Caches.releaseAfterStreams(static)
    def cached(): Boolean =
      spark.sharedState.cacheManager.lookupCachedData(
        static.asInstanceOf[org.apache.spark.sql.classic.Dataset[
          org.apache.spark.sql.Row]]).isDefined
    // batch actions must NOT release it — the stream-static cache
    // outlives actions.
    // Positive-condition POLLING, not one fixed sleep (r13 ADVICE: a
    // loaded host could race the async listener bus): the cache must
    // STAY live across repeated checks after the batch action lands.
    spark.range(3).count()
    (1 to 5).foreach { _ =>
      assert(cached(), "a batch action must not fire the streaming release")
      Thread.sleep(100)
    }
    // a streaming query starting and stopping DOES release it —
    // processAllAvailable() replaces the fixed start-up sleep: it returns
    // only after at least one micro-batch has fully processed, so the
    // query has definitely STARTED (and the cache must still be live)
    val q = spark.readStream.format("rate").option("rowsPerSecond", "5")
      .load().writeStream.format("noop").start()
    q.processAllAvailable()
    assert(cached(), "the cache must survive while its consumer is active")
    q.stop(); q.awaitTermination(20000)
    val deadline = System.currentTimeMillis() + 20000
    while (cached() && System.currentTimeMillis() < deadline) Thread.sleep(200)
    assert(!cached(), "stream termination must unpersist the static frame")
  }

  test("releaseAfterStreams releases when a PRE-existing query terminates last") {
    import org.apache.spark.sql.functions._
    spark.catalog.clearCache()
    // the r13 ADVICE leak: registration happens while an unrelated query
    // is already running; the builder's own query ends FIRST and the
    // pre-existing one terminates LAST. The old post-registration-ids-only
    // guard never released (cache + listener leaked until clearCaches).
    val pre = spark.readStream.format("rate").option("rowsPerSecond", "5")
      .load().writeStream.format("noop").start()
    pre.processAllAvailable()
    val static = spark.range(1, 51).toDF("v").groupBy((col("v") % 5).as("k"))
      .agg(count(lit(1)).as("n")).persist()
    static.count()
    Caches.releaseAfterStreams(static)
    def cached(): Boolean =
      spark.sharedState.cacheManager.lookupCachedData(
        static.asInstanceOf[org.apache.spark.sql.classic.Dataset[
          org.apache.spark.sql.Row]]).isDefined
    val own = spark.readStream.format("rate").option("rowsPerSecond", "5")
      .load().writeStream.format("noop").start()
    own.processAllAvailable()
    own.stop(); own.awaitTermination(20000)
    // the pre-existing query is still active → the cache must STAY live
    // (poll the positive condition; a wrong early release surfaces here)
    (1 to 5).foreach { _ =>
      assert(cached(),
        "terminating the post-registration query must not release while " +
          "a pre-existing query is still active")
      Thread.sleep(100)
    }
    pre.stop(); pre.awaitTermination(20000)
    val deadline = System.currentTimeMillis() + 20000
    while (cached() && System.currentTimeMillis() < deadline) Thread.sleep(200)
    assert(!cached(),
      "the LAST termination — a pre-existing query's — must release once " +
        "a post-registration consumer has been observed (r13 ADVICE leak)")
  }

  /** Building each frame registers no query listener, and writing it to
    * a `noop` sink leaves none and adds no persistent RDD. */
  private def assertCachesNothing(ops: Seq[(String, () => org.apache.spark.sql.DataFrame)]): Unit = {
    // the session-wide bucket-cap audit registers on first use; build
    // every frame once so it is in place before counting
    ops.foreach(_._2())
    spark.catalog.clearCache()
    spark.range(1).count()
    def pending() = org.apache.spark.sql.QueryListeners.of(spark)
      .count(_.getClass.getName.startsWith("graft.Caches$"))
    settle(pending() == 0)
    ops.foreach { case (name, frame) =>
      val listeners = org.apache.spark.sql.QueryListeners.of(spark).size
      val earlier = rddIds()
      val df = frame()
      assert(org.apache.spark.sql.QueryListeners.of(spark).size == listeners,
        s"$name: building the frame registered a query listener")
      df.write.format("noop").mode("overwrite").save()
      assert(org.apache.spark.sql.QueryListeners.of(spark).size == listeners,
        s"$name: the action left a query listener")
      assert(rddIds() == earlier,
        s"$name: the action added persistent RDDs ${rddIds() -- earlier}")
    }
  }

  test("uncached dedup and corpus operators register no listener and add no persistent RDD") {
    assertCachesNothing(UncachedCorpusOps(spark, "/root/testdata/sf0.01")
      .map(op => op.name -> op.frame))
  }

  test("uncached catalog queries register no listener and add no persistent RDD") {
    assertCachesNothing(UncachedCatalogQueries(spark, "/root/testdata/sf0.01")
      .map(op => op.name -> op.frame))
  }

  test("corpus near-dup + search session releases its caches too") {
    import spark.implicits._
    val docs = (1L to 60L)
      .map(i => (i, s"shared prefix body ${i % 7} tail $i tokens spread"))
      .toDF("doc_id", "text")
    spark.catalog.clearCache()
    val earlier = rddIds()
    val pairs = graft.api.Corpus.nearDuplicates(docs, jaccardMin = 0.2)
    pairs.collect()
    def live() = (rddIds() -- earlier).size
    settle(live() <= 1)
    assert(live() <= 1, s"leaked cached RDDs: ${live()}")
  }
}
