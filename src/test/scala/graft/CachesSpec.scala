package graft

import graft.api.Tcga

/** The Caches release-after-action contract, end to end: a realistic
  * session running the two flagship pipelines (KM by median expression +
  * NB-GLM differential expression) must not accumulate cached frames —
  * every library-internal persist is released once the caller's consuming
  * action completes (VERDICT r02 #4). */
class CachesSpec extends SparkSpec {

  test("a full KM + DE session leaves at most one cached RDD behind") {
    val t = TcgaFixtures.tables(spark)
    spark.catalog.clearCache()
    val (curves, tests) =
      Tcga.kmByMedianExpression(t, Seq("DEG10", "GENE1", "GENE2"))
    assert(curves.collect().nonEmpty)
    assert(tests.collect().nonEmpty)
    val de = Tcga.differentialExpression(t, "short_letter_code", Seq("NT", "TP"))
    assert(de.collect().nonEmpty)
    // QueryExecutionListener delivery is asynchronous — poll briefly
    def live() = spark.sparkContext.getPersistentRDDs.size
    val deadline = System.currentTimeMillis() + 20000
    while (live() > 1 && System.currentTimeMillis() < deadline) Thread.sleep(200)
    assert(live() <= 1, s"leaked cached RDDs: ${live()}")
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

  test("a failed action releases the caches of both release rules") {
    import org.apache.spark.sql.functions._
    spark.catalog.clearCache()
    val shared = spark.range(50).withColumn("k", col("id") % 5).persist()
    val single = spark.range(40).withColumn("k", col("id") % 3).persist()
    val consumers = Seq(shared.groupBy("k").count(), shared.select(sum("id")))
    Caches.releaseAfterConsumers(consumers, shared)
    Caches.releaseAfterAction(single)
    val boom = udf((k: Long) => if (k >= 0) throw new IllegalStateException("boom") else k)
    intercept[Exception](consumers.head.select(boom(col("k"))).collect())
    goes(shared, "a failed consumer action kept the shared cache")
    goes(single, "a failed action kept the one-action cache")
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

  test("pretrainingRun releases every internal cache after the consuming action") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = (1L to 80L)
      .map(i => (i, s"document body ${i % 9} with some shared tokens and a " +
        s"longer tail of words to clear the quality gate number $i",
        if (i % 2 == 0) "en" else "de", if (i % 10 == 0) "eval" else "train"))
      .toDF("doc_id", "text", "lang", "split")
    spark.catalog.clearCache()
    try {
      def ids() = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val earlier = ids()
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
      def live() = spark.sparkContext.getPersistentRDDs.size
      val deadline = System.currentTimeMillis() + 20000
      while (ids() -- earlier != stages && System.currentTimeMillis() < deadline)
        Thread.sleep(200)
      assert(live() <= 2, s"leaked cached RDDs: ${live()}")
      assert(ids() -- earlier == stages,
        s"persistent RDDs ${ids() -- earlier} are not the stage checkpoints $stages")
    } finally {
      // checkpointed stage RDDs survive catalog.clearCache (raw RDD
      // persists) — drop them so later tests count a clean slate
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
    }
  }

  test("which construction-time operations fire the one-shot release") {
    // Pins the trigger surface discovered in the r10 bf1 fix: the old
    // contaminationBloom registered releaseAfterAction BEFORE its
    // sketch-build jobs and lost the dictionary cache during
    // CONSTRUCTION, so the verify join silently replanned the dictionary
    // build inline. The rule for operator authors: register the release
    // LAST, after every construction-time job — this test documents
    // exactly which job kinds consume the one-shot listener.
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def fresh() = {
      val df = (1 to 100).toDF("v")
        .groupBy((col("v") % 10).as("k")).agg(count(lit(1)).as("n"))
        .persist()
      df.count() // materialize; the listener is registered AFTER this
      df
    }
    // ask the cache manager about THIS df — a global getPersistentRDDs
    // check would be satisfied by unrelated RDDs (localCheckpoint itself
    // persists a checkpoint RDD, which would make that probe vacuous)
    def cached(df: org.apache.spark.sql.DataFrame): Boolean =
      spark.sharedState.cacheManager.lookupCachedData(
        df.asInstanceOf[org.apache.spark.sql.classic.Dataset[
          org.apache.spark.sql.Row]]).isDefined
    def settle(): Unit = { Thread.sleep(400) } // async listener delivery
    def probe(label: String, fire: org.apache.spark.sql.DataFrame => Unit): Boolean = {
      spark.catalog.clearCache()
      val df = fresh()
      Caches.releaseAfterAction(df)
      fire(df)
      settle()
      val alive = cached(df)
      spark.catalog.clearCache()
      // drop any raw RDD persists the probe itself created (the
      // localCheckpoint RDD survives catalog.clearCache) so later tests
      // count a clean slate
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      // drain the listener if the probe did NOT fire it, so probes stay
      // independent (a later unrelated action would otherwise release a
      // later probe's frame early)
      if (alive) { spark.range(1).count(); settle() }
      alive
    }
    // SQL actions fire it: collect/count on any frame in the session
    assert(!probe("sql count", _.sparkSession.range(5).count()),
      "a SQL action must fire the one-shot release")
    assert(!probe("collect", _.collect().length: Unit),
      "collect must fire the one-shot release")
    // Dataset->RDD jobs (the bloomOf/treeAggregate shape) fire it too —
    // THE bf1 bug: registering before a .rdd job loses the cache
    assert(!probe("rdd count", df => { df.rdd.count(); () }),
      "a Dataset->RDD job must fire the one-shot release (bf1's root " +
        "cause — if this flips on a Spark upgrade, revisit the " +
        "register-last rule)")
    // localCheckpoint fires it in BOTH forms — even the lazy one runs no
    // job but still routes through Dataset.withAction, which notifies
    // QueryExecutionListeners. So registration order is the ONLY safety:
    // every iterative loop in the repo (Graphs.pageRank/kCore/bfs,
    // Components) checkpoints/counts INSIDE the loop and registers its
    // releases AFTER it — audited r10.
    assert(!probe("localCheckpoint", df => { df.localCheckpoint(); () }),
      "eager localCheckpoint no longer fires the one-shot release — " +
        "the register-last rule could be relaxed for it")
    assert(!probe("lazy localCheckpoint",
        df => { df.localCheckpoint(eager = false); () }),
      "lazy localCheckpoint no longer fires the one-shot release — " +
        "the register-last rule could be relaxed for it")
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
    // batch actions must NOT release it (that's releaseAfterAction's
    // trigger, not this one) — the stream-static cache outlives actions.
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

  test("corpus near-dup + search session releases its caches too") {
    import spark.implicits._
    val docs = (1L to 60L)
      .map(i => (i, s"shared prefix body ${i % 7} tail $i tokens spread"))
      .toDF("doc_id", "text")
    spark.catalog.clearCache()
    val pairs = graft.api.Corpus.nearDuplicates(docs, jaccardMin = 0.2)
    pairs.collect()
    def live() = spark.sparkContext.getPersistentRDDs.size
    val deadline = System.currentTimeMillis() + 20000
    while (live() > 1 && System.currentTimeMillis() < deadline) Thread.sleep(200)
    assert(live() <= 1, s"leaked cached RDDs: ${live()}")
  }
}
