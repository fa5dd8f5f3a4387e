package graft

import org.apache.spark.sql.functions._
import graft.streaming.{Event, EventStreams}
import graft.api.Tcga

/** Usage sample / smoke-drive of the library surfaces that are not part of
  * the driver's query catalog: batch-mode streaming operators over the real
  * `events` table, and the nested-treatments drug-cohort API.
  * Run: `sbt "runMain graft.Demo /root/testdata/sf0.01"`. */
object Demo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    // each run starts a fresh metastore; stale table dirs from a previous
    // JVM would fail saveAsTable with LOCATION_ALREADY_EXISTS
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File("/tmp/graft_warehouse"))
    val spark = GraftSession.harness(8).getOrCreate()
    import spark.implicits._
    spark.sparkContext.setLogLevel("ERROR")

    val ev = Tables.events(spark, sfDir).select(
      col("user_id").as("userId"),
      Tables.eventTs.as("ts"),
      col("event_type").as("eventType"), col("value"))
    val win = EventStreams.windowedTypeCounts(ev, windowLen = "1 hour")
    println(s"[demo] windowed rows = ${win.count()}")
    win.orderBy("win_start", "eventType").show(3, truncate = false)
    val sessions = EventStreams.sessionize(ev.as[Event], gapSeconds = 3600)
    println(s"[demo] sessions = ${sessions.count()}")

    val nested = Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey").cast("string").as("submitter_id"))
      .agg(collect_list(struct(
        col("o_custkey").cast("string").as("submitter_id"),
        col("o_orderpriority").as("treatment_type"),
        col("o_orderstatus").as("therapeutic_agents"))).as("treatments"))
      .withColumn("barcode", col("submitter_id"))
    val cohort = Tcga.drugCohort(nested, Seq("1-URGENT"))
    println(s"[demo] cohort = ${cohort.count()} of ${nested.count()}")

    // star-schema mapping of the driver tables -> boxplot frame + F12 branch
    val t = graft.api.TcgaTables(
      expression = Tables.lineitem(spark, sfDir).groupBy(
          col("l_partkey").cast("string").as("gene_id"),
          col("l_suppkey").cast("string").as("barcode"))
        .agg(sum(col("l_quantity")).cast("long").as("count")),
      genes = Tables.part(spark, sfDir).select(
        col("p_partkey").cast("string").as("gene_id"), col("p_name").as("gene_name")),
      samples = Tables.supplier(spark, sfDir).select(
        col("s_suppkey").cast("string").as("barcode"),
        when(col("s_suppkey") % 2 === 0, "NT").otherwise("TP").as("short_letter_code")))
    val goi = t.genes.limit(2).collect().map(_.getString(1)).toSeq
    val bp = Tcga.boxplotFrame(t, "short_letter_code", Seq("NT", "TP"), goi)
    println(s"[demo] boxplot frame rows = ${bp.count()} for goi=$goi")

    // N2 fan-out: KM per (drug_class, gene) in one plan, survival columns
    // manufactured deterministically from the sample dimension
    val samplesFull = t.samples
      .withColumn("submitter_id", col("barcode"))
      .withColumn("vital_status",
        when(col("barcode").cast("long") % 3 === 0, "Alive").otherwise("Dead"))
      .withColumn("days_to_death", (col("barcode").cast("long") * 37 % 997).cast("double"))
      .withColumn("paper_days_to_last_followup",
        (col("barcode").cast("long") * 53 % 997).cast("double"))
      .withColumn("treatments", array(struct(
        col("barcode").as("submitter_id"),
        when(col("barcode").cast("long") % 2 === 0, "Chemotherapy")
          .otherwise("Radiation Therapy").as("treatment_type"),
        when(col("barcode").cast("long") % 5 === 0, "Tamoxifen")
          .otherwise("Cisplatin").as("therapeutic_agents"))))
    val (kmCurves, kmTests) = Tcga.drugKmFanOut(t.copy(samples = samplesFull),
      Seq("Chemotherapy", "Tamoxifen"), goi)
    println(s"[demo] drug-km fan-out: curves = ${kmCurves.count()}, tests = ${kmTests.count()}")

    // A7 PNG plot sink (java2d edge renderer over the plot-ready frames):
    // boxplot with p.signif brackets (hide.ns), KM with the median "hv"
    // guides and n= legend counts — the full ggsurvplot/ggboxplot shape
    val bxPng = graft.sinks.Plots.writeBoxplotPng(bp, "/tmp/graft_plots/box.png",
      signif = Map(goi.head -> "**"))
    val oneCurve = kmCurves
      .filter(col("drug_class") === "Chemotherapy" && col("gene_name") === goi.head)
      .withColumnRenamed("strat", "arm")
    // demo approximation: max(n_risk) = subjects at risk at the arm's
    // first death time, an UNDERCOUNT when subjects censor earlier — a
    // real pipeline passes exact per-arm subject counts (d9-style) as
    // writeKmPng's doc says; the demo only exercises the legend plumbing
    val armCounts = oneCurve.groupBy("arm")
      .agg(max(col("n_risk")).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kmPng = graft.sinks.Plots.writeKmPng(oneCurve, "arm",
      "/tmp/graft_plots/km.png", pValue = Some(0.05), counts = armCounts)
    println(s"[demo] plot sink: ${bxPng.length()}B ${kmPng.length()}B PNGs written")

    // Corpus API: score -> gate -> dedup over the real documents table
    val corpus = graft.api.Corpus.cleaned(Tables.documents(spark, sfDir))
    println(s"[demo] corpus cleaned: ${corpus.count()} keepers of " +
      s"${Tables.documents(spark, sfDir).count()} docs")

    // IVF ANN over the real embeddings table
    val emb = Tables.embeddings(spark, sfDir)
    val q = emb.filter(col("vec_id") % 100 === 0)
    val ivf = graft.operators.Ann.ivfTopK(emb, q, "vec_id", "embedding",
      k = 8, iters = 3, nProbe = 3, topK = 5)
    println(s"[demo] ivf top-k rows = ${ivf.count()}")
    ivf.orderBy("q_id", "rnk").show(5, truncate = false)

    // round-3 corpus surfaces: deterministic sample, contamination scan,
    // repetition scores, packed-shard writer, streaming as-of enrich
    val docs = Tables.documents(spark, sfDir)
    val sampled = graft.api.Corpus.sample(docs, 0.25)
    println(s"[demo] hash sample 0.25 -> ${sampled.count()} of ${docs.count()}")
    val leaks = graft.api.Corpus.contamination(docs,
      substring(col("source"), 4, 10).cast("int") < 10)
    println(s"[demo] contaminated test docs = ${leaks.count()}")
    val reps = graft.api.Corpus.repetitionScores(docs)
    println(s"[demo] repetition-scored docs = ${reps.count()}")

    // round-4 corpus surfaces: TF-IDF terms, LM scoring, fuzzy dedup
    val top = graft.api.Corpus.tfidfTopTerms(docs, topK = 2)
    println(s"[demo] tfidf top-2 term rows = ${top.count()}")
    val lm = graft.api.Corpus.languageModelScores(docs)
    println(s"[demo] LM-scored docs = ${lm.count()}")
    // explicit cap: the demo shows the SCALE path (drop-audited hot-bucket
    // cap), not the exact-uncapped default whose pair space is quadratic
    val fz = graft.api.Corpus.fuzzyDuplicates(docs, maxBucket = 1000)
    println(s"[demo] fuzzy (edit-distance) near-dup pairs = ${fz.count()}")

    // round-4 curation surfaces: rule filters, shuffle-shard, chunking,
    // mixture resample, incremental dedup, reservoir sample, PCA
    val ruled = graft.api.Corpus.ruleFiltered(docs)
    println(s"[demo] rule filter keeps ${ruled.filter(col("keep")).count()} " +
      s"of ${ruled.count()}")
    val shards = graft.api.Corpus.shuffleShards(docs, nShards = 8)
    println(s"[demo] shuffle shards = " +
      shards.select("shard_id").distinct().count())
    val chk = graft.api.Corpus.chunks(docs, size = 32, stride = 24)
    println(s"[demo] 32/24 chunks = ${chk.count()}")
    val mixed = graft.api.Corpus.mixtureSample(docs,
      weight = src => when(substring(src, 4, 10).cast("int") % 2 === 0, 0.07)
        .otherwise(0.03),
      budget = 0.5)
    println(s"[demo] mixture resample keeps ${mixed.count()}")
    val newBatch = docs.filter(substring(col("source"), 4, 10).cast("int") >= 15)
    val refCorpus = docs.filter(substring(col("source"), 4, 10).cast("int") < 15)
    val incr = graft.api.Corpus.incrementalDuplicates(newBatch, refCorpus)
    println(s"[demo] incremental near-dups vs reference = ${incr.count()}")
    val semPairs = graft.api.Corpus.semanticDuplicatePairs(
      Tables.embeddings(spark, sfDir), cosMin = 0.4, cells = 8)
    println(s"[demo] semantic near-dup pairs (IVF-cell blocked) = ${semPairs.count()}")
    val tempMix = graft.operators.Sampling.temperatureResample(
      docs, col("doc_id"), col("lang"), alpha = 0.7, budget = 0.5)
    println(s"[demo] temperature-mix (a=0.7) keeps ${tempMix.count()} of ${docs.count()}")

    // real image decode (java.desktop ImageIO): render PNGs, push them
    // through the binary pipeline, decode + resize for real
    val imgs = spark.createDataFrame((1 to 4).map { i =>
      val img = new java.awt.image.BufferedImage(32, 16,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until 16).foreach(y => (0 until 32).foreach(x =>
        img.setRGB(x, y, (x * 8) << 16 | (y * 16) << 8 | i * 60)))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      (i.toLong, bos.toByteArray)
    }).toDF("media_id", "payload")
    val decoded = graft.operators.Multimodal.decodeImageFeatures(
      graft.operators.Multimodal.resizeImage(imgs, 8, 8))
    val okDims = decoded.filter(col("decode_ok") && col("width") === 8 &&
      col("height") === 8).count()
    println(s"[demo] real PNG decode+resize: $okDims/4 payloads at 8x8")
    val reservoir = docs.groupBy("lang")
      .agg(graft.expressions.GraftFunctions.priorityTopK(
        col("n_chars").cast("double"), col("doc_id"), 3).as("top3"))
    println(s"[demo] per-lang priority_topk groups = ${reservoir.count()}")
    val pcaModel = graft.operators.Pca.fit(emb, "embedding", 8)
    println(f"[demo] PCA top-8 explains " +
      f"${pcaModel.explainedRatio.sum * 100}%.1f%% of variance")
    val projected = graft.operators.Pca.project(emb, "embedding", pcaModel)
    println(s"[demo] PCA-projected vectors = ${projected.count()}")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File("/tmp/graft_packs"))
    graft.sinks.Sharding.writePacked(
      docs.select(col("doc_id"), (col("n_chars") / 5).cast("long").as("n_tok")),
      "/tmp/graft_packs", "n_tok", budget = 10000, order = Seq(col("doc_id")))
    println(s"[demo] packed shards = " +
      spark.read.parquet("/tmp/graft_packs").select("pack_id").distinct().count())
    val enriched = EventStreams.asOfEnrich(
      ev.as[Event].filter(col("eventType") === "click"),
      ev.as[Event].filter(col("eventType") === "purchase"))
    println(s"[demo] as-of enriched clicks = ${enriched.count()}")

    // round-4b surfaces: span dedup, bloom contamination, quality classifier
    val spans = graft.operators.Dedup.duplicatedSpans(docs, "doc_id", "text", 3)
    println(s"[demo] docs with duplicated 3-gram spans = " +
      spans.filter(col("n_dup_grams") > 0).count())
    val bloomed = graft.operators.Dedup.contaminationBloom(docs, "doc_id", "text",
      substring(col("source"), 4, 10).cast("int") < 10, 3,
      expectedItems = 1L << 16, fpp = 0.01)
    println(s"[demo] bloom-prescan contaminated docs = ${bloomed.count()}")
    val lrFeats = graft.api.Corpus.ruleFiltered(docs)
      .select(col("doc_id"), col("distinct_ratio").as("f_dr"),
        col("n_stop").cast("double").as("f_stop"),
        col("r_distinct").cast("int").as("label"))
    // r_distinct is a deterministic threshold on f_dr (separable) — the
    // ridge keeps the MLE finite, as in LogisticRegressionSpec
    val lrFit = graft.functions.LogisticRegression.fit(
      lrFeats, Seq("f_dr", "f_stop"), "label", ridge = 0.5)
    println(s"[demo] logreg converged=${lrFit.converged} iters=${lrFit.iters} " +
      s"n=${lrFit.n}")

    // round-4c surfaces: BPE tokenizer, KN bigram LM, DSIR selection,
    // heavy-hitter sketch, hopping windows, partitioned layout
    val merges = graft.operators.Bpe.fit(
      graft.operators.Bpe.wordCounts(docs, "text"), numMerges = 20)
    val bpeToks = graft.operators.Bpe.tokenize(docs, "doc_id", "text", merges)
    println(s"[demo] BPE: ${merges.size} merges, ${bpeToks.count()} tokens")
    val kn = graft.api.Corpus.knBigramScores(docs)
    println(s"[demo] KN-bigram-scored docs = ${kn.count()}")
    val dsir = graft.api.Corpus.dsirScores(docs, col("source") === "src7")
    println(s"[demo] DSIR-weighted docs = ${dsir.count()}")
    val hh = docs
      .select(explode(graft.operators.TextFunctions.tokens(col("text"))).as("term"))
      .agg(graft.expressions.GraftFunctions.freqSketch(col("term"), 64).as("sk"))
      .select(explode(col("sk")).as("e")).count()
    println(s"[demo] freq_sketch entries = $hh (capacity 64)")
    val hop = EventStreams.hoppingTypeCounts(ev,
      windowLen = "1 hour", slide = "30 minutes")
    println(s"[demo] hopping windows = ${hop.count()}")
    val attrib = EventStreams.intervalJoin(
      ev.filter(col("eventType") === "click"),
      ev.filter(col("eventType") === "purchase"), maxLag = "1 hour")
    println(s"[demo] stream-join attributed pairs = ${attrib.count()}")
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File("/tmp/graft_partitioned"))
    graft.sources.Partitioning.writePartitioned(docs, "/tmp/graft_partitioned", "lang")
    val pruned = graft.sources.Partitioning
      .readPartitioned(spark, "/tmp/graft_partitioned")
      .filter(col("lang") === "en")
    println(s"[demo] partition-pruned en docs = ${pruned.count()}")

    // z-order layout: 2-D box predicates skip most file stat-boxes
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File("/tmp/graft_zorder"))
    graft.sources.Zorder.writeZordered(
      Tables.events(spark, sfDir).select(col("user_id"), col("value")),
      "/tmp/graft_zorder", Seq("user_id", "value"), files = 16)
    val zBoxes = spark.read.parquet("/tmp/graft_zorder")
      .groupBy(input_file_name()).agg(min("value").as("lo"), max("value").as("hi"))
    val zHit = zBoxes.filter(col("lo") <= lit(40.0) && col("hi") >= lit(30.0)).count()
    println(s"[demo] z-order: value-slab box intersects $zHit of ${zBoxes.count()} file boxes")

    // co-bucketed join: shuffle paid once at write time, none at join time
    graft.sources.Bucketing.writeBucketed(
      Tables.lineitem(spark, sfDir).select("l_partkey", "l_quantity"),
      "demo_facts", "l_partkey", 8)
    graft.sources.Bucketing.writeBucketed(
      Tables.part(spark, sfDir).select("p_partkey", "p_name")
        .withColumnRenamed("p_partkey", "l_partkey"), "demo_dim", "l_partkey", 8)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val j = graft.sources.Bucketing.cocolocatedJoin(spark, "demo_facts", "demo_dim", "l_partkey")
    println(s"[demo] bucketed join rows = ${j.count()}, exchange in plan = " +
      j.queryExecution.executedPlan.toString.contains("Exchange"))

    // ---- the full pretraining-data run through the ONE API call ----------
    // quality gate + exact dedup -> near-dup clusters (longest exemplar
    // keeps) -> eval-decontamination -> temperature mixture -> packing
    val st = graft.api.Corpus.pretrainingRun(docs,
      evalFlag = substring(col("source"), 4, 10).cast("int") < 10,
      alpha = 0.7, budget = 0.8)
    println(s"[demo] pretrain funnel: ${docs.count()} raw -> " +
      s"${st.cleaned.count()} clean -> ${st.deduped.count()} deduped -> " +
      s"${st.decontaminated.count()} decontaminated -> ${st.mixed.count()} mixed" +
      s" -> ${st.packed.select("pack_id").distinct().count()} packs")

    // ---- span-level dedup: detect -> keep-one-exemplar trim --------------
    val trimmed = graft.api.Corpus.trimDuplicatedText(docs, n = 5)
    val lost = trimmed.agg(sum(col("n_tok") - col("n_kept"))).head().getLong(0)
    println(s"[demo] span trim (keep-one): $lost duplicated tokens excised " +
      s"across ${trimmed.filter(col("n_kept") < col("n_tok")).count()} docs")

    // ---- disk-backed IVF-PQ index: build once, serve pruned ---------------
    val idxPath = java.nio.file.Files.createTempDirectory("demo_ivf").toString
    graft.operators.Ann.writeIvfIndex(
      Tables.embeddings(spark, sfDir), "vec_id", "embedding", idxPath,
      k = 8, iters = 2,
      pq = Some(graft.operators.Pq.PqModel(8, 8, graft.queries.FrozenModels.pqBooks)))
    val probeQ = Tables.embeddings(spark, sfDir).filter(col("vec_id") === 0)
    val hits = graft.operators.Ann.ivfIndexTopK(spark, idxPath, probeQ,
      "vec_id", "embedding", nProbe = 2, topK = 3)
    println(s"[demo] IVF-PQ index: served ${hits.count()} neighbours " +
      s"for 1 query probing 2/8 cell directories from $idxPath")

    // ---- incremental index append + index-served SemDeDup (r14) ----------
    // daily-increment shape: build over one split, append the rest with the
    // STORED centroids, then serve dedup straight off the stored cells —
    // no k-means job anywhere in the serve path
    val incPath = java.nio.file.Files.createTempDirectory("demo_ivf_inc").toString
    val embAll = Tables.embeddings(spark, sfDir)
    graft.operators.Ann.writeIvfIndex(
      embAll, "vec_id", "embedding", incPath, k = 8, iters = 2)
    // the appended "daily batch": exact twins of every 97th vector — the
    // stored centroids assign them to their originals' cells, so the
    // index-served dedup below must recover exactly these pairs
    val twinBatch = embAll.filter(col("vec_id") % 97 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    graft.operators.Ann.appendIvfIndex(
      twinBatch, "vec_id", "embedding", incPath)
    val idxRows = spark.read.parquet(
      graft.operators.Ann.corpusPath(spark, incPath)).count()
    println(s"[demo] index append: $idxRows vectors in the layout after " +
      s"appending ${twinBatch.count()} twins (base ${embAll.count()})")
    val semClusters = graft.api.Corpus
      .semanticDuplicatesFromIndex(spark, incPath, cosMin = 0.9)
    println(s"[demo] index-served SemDeDup: ${semClusters.count()} clustered " +
      s"vectors from the stored cells (expected 2x the appended twins), " +
      "zero re-train")
    spark.stop()
  }
}
