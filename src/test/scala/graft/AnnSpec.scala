package graft

import org.apache.spark.sql.functions._
import graft.operators.Ann
import graft.Tables

class AnnSpec extends SparkSpec {

  private lazy val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
  private lazy val queries = emb.filter(col("vec_id") % 100 === 0)

  test("kmeans centroids: k cells, every vector assigned to exactly one") {
    val cents = Ann.kmeansCentroids(emb, "vec_id", "embedding", k = 8, iters = 3)
    assert(cents.count() == 8)
    assert(cents.select("cell").distinct().count() == 8)
    val assigned = Ann.assign(
      emb.select(col("vec_id").as("id"),
          transform(col("embedding"), x => x.cast("double")).as("v"))
        .withColumn("nrm", sqrt(aggregate(transform(col("v"), x => x * x),
          lit(0.0), (a, x) => a + x)))
        .withColumn("vn", transform(col("v"), x => x / col("nrm"))),
      cents)
    assert(assigned.count() == emb.count())
    assert(assigned.groupBy("id").count().filter(col("count") > 1).count() == 0)
  }

  test("IVF with nProbe = k equals brute force exactly") {
    val ivf = Ann.ivfTopK(emb, queries, "vec_id", "embedding",
      k = 8, iters = 3, nProbe = 8, topK = 5)
    val brute = Ann.bruteTopK(emb, queries, "vec_id", "embedding", topK = 5)
    assert(ivf.exceptAll(brute).count() == 0 && brute.exceptAll(ivf).count() == 0)
  }

  test("bruteTopK widens integral ids; rejects non-integral ids loudly") {
    // the priority_topk_tie rerank needs a LongType tiebreak; integral ids
    // widen losslessly (payload keeps the original type), while a string
    // id must fail AT CONSTRUCTION with a clear message — a blind cast
    // would throw mid-job under ANSI or silently return empty without
    val embInt = emb.withColumn("vec_id", col("vec_id").cast("int"))
    val qInt = embInt.filter(col("vec_id") % 100 === 0)
    val got = Ann.bruteTopK(embInt, qInt, "vec_id", "embedding", topK = 3)
    assert(got.schema("id").dataType == org.apache.spark.sql.types.IntegerType)
    val ref = Ann.bruteTopK(emb, queries, "vec_id", "embedding", topK = 3)
      .select(col("q_id"), col("rnk"), col("id"))
    val gotL = got.select(col("q_id").cast("long").as("q_id"), col("rnk"),
      col("id").cast("long").as("id"))
    assert(gotL.exceptAll(ref).count() == 0 && ref.exceptAll(gotL).count() == 0)
    val bad = intercept[IllegalArgumentException] {
      Ann.bruteTopK(emb.withColumn("vec_id", col("vec_id").cast("string")),
        queries, "vec_id", "embedding", topK = 3)
    }
    assert(bad.getMessage.contains("integral"), bad.getMessage)
  }

  test("IVF with fewer probes still recalls a usable fraction") {
    val ivf = Ann.ivfTopK(emb, queries, "vec_id", "embedding",
        k = 8, iters = 3, nProbe = 3, topK = 10)
      .select(col("q_id"), col("id")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = Ann.bruteTopK(emb, queries, "vec_id", "embedding", topK = 10)
      .select(col("q_id"), col("id")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (ivf intersect brute).size.toDouble / brute.size
    assert(recall > 0.2, s"recall=$recall") // unstructured vectors: weak but real
    assert(ivf.size <= brute.size)
  }

  test("disk IVF-PQ index: nProbe = k serve equals brute force; disk codes equal Pq.encode") {
    import graft.operators.Pq
    val path = java.nio.file.Files.createTempDirectory("graft_ss4_spec").toString
    val model = Pq.PqModel(8, 8, graft.queries.FrozenModels.pqBooks)
    Ann.writeIvfIndex(emb, "vec_id", "embedding", path, k = 8, iters = 3,
      pq = Some(model))
    // serve-all-cells regime: the disk layout round trip must be exact
    val served = Ann.ivfIndexTopK(spark, path, queries, "vec_id", "embedding",
      nProbe = 8, topK = 5)
    val brute = Ann.bruteTopK(emb, queries, "vec_id", "embedding", topK = 5)
    assert(served.exceptAll(brute).count() == 0 &&
      brute.exceptAll(served).count() == 0)
    // the PQ codes written in the build's single pass are bit-identical to
    // the standalone encode (attachCodes shares the strict-< fold)
    val disk = spark.read.parquet(Ann.corpusPath(spark, path))
      .select(col("id").as("vec_id"), col("code"))
    val direct = Pq.encode(emb, "embedding", model)
    assert(disk.exceptAll(direct).count() == 0 &&
      direct.exceptAll(disk).count() == 0)
  }

  test("ADC serving composes over the disk index: pruned code scan equals the in-memory path") {
    import graft.operators.Pq
    val path = java.nio.file.Files.createTempDirectory("graft_ss4_adc").toString
    val model = Pq.PqModel(8, 8, graft.queries.FrozenModels.pqBooks)
    Ann.writeIvfIndex(emb, "vec_id", "embedding", path, k = 4, iters = 2,
      pq = Some(model))
    val qv = emb.filter(col("vec_id") === 0)
      .select(transform(col("embedding"), x => x.cast("double")))
      .head().getSeq[Double](0).toArray
    // the ADC tier never touches `v`: it scans only (id, code) from the
    // index — 64× less data than the raw vectors — and must return
    // exactly what ADC over a fresh in-memory encode returns
    val fromDisk = Pq.adcTopK(
      spark.read.parquet(Ann.corpusPath(spark, path)).select(col("id").as("vec_id"), col("code")),
      model, qv, k = 10)
    val inMem = Pq.adcTopK(Pq.encode(emb, "embedding", model), model, qv, k = 10)
    assert(fromDisk.exceptAll(inMem).count() == 0 &&
      inMem.exceptAll(fromDisk).count() == 0)
  }

  test("appendIvfIndex: serve after append equals a full rebuild over the union") {
    import graft.operators.Pq
    val model = Pq.PqModel(8, 8, graft.queries.FrozenModels.pqBooks)
    val base = emb.filter(col("vec_id") % 3 =!= 0)
    val inc = emb.filter(col("vec_id") % 3 === 0)
    val incPath = java.nio.file.Files.createTempDirectory("graft_ss5_inc").toString
    Ann.writeIvfIndex(base, "vec_id", "embedding", incPath, k = 8, iters = 3,
      pq = Some(model))
    Ann.appendIvfIndex(inc, "vec_id", "embedding", incPath, pq = Some(model))
    // the literal identity the r13 verdict asks for: serve over the
    // appended layout ≡ serve over a from-scratch rebuild of the union
    // corpus with the same exact regime (nProbe = k probes everything, so
    // centroid differences between the two layouts cannot matter)
    val fullPath = java.nio.file.Files.createTempDirectory("graft_ss5_full").toString
    Ann.writeIvfIndex(emb, "vec_id", "embedding", fullPath, k = 8, iters = 3,
      pq = Some(model))
    val servedInc = Ann.ivfIndexTopK(spark, incPath, queries,
      "vec_id", "embedding", nProbe = 8, topK = 5)
    val servedFull = Ann.ivfIndexTopK(spark, fullPath, queries,
      "vec_id", "embedding", nProbe = 8, topK = 5)
    assert(servedInc.exceptAll(servedFull).count() == 0 &&
      servedFull.exceptAll(servedInc).count() == 0)
    // appended rows carry codes identical to a standalone encode (the
    // frozen model re-codes the batch exactly as the build coded the base)
    val disk = spark.read.parquet(Ann.corpusPath(spark, incPath))
      .select(col("id").as("vec_id"), col("code"))
    val direct = graft.operators.Pq.encode(emb, "embedding", model)
    assert(disk.exceptAll(direct).count() == 0 &&
      direct.exceptAll(disk).count() == 0)
    // no row lost or duplicated by the append
    assert(spark.read.parquet(Ann.corpusPath(spark, incPath)).count() == emb.count())
  }

  test("appendIvfIndex staleness guards fail loudly") {
    import graft.operators.Pq
    val model = Pq.PqModel(8, 8, graft.queries.FrozenModels.pqBooks)
    // no layout at all: append must refuse (it is not a build)
    val empty = java.nio.file.Files.createTempDirectory("graft_ss5_missing").toString
    val e1 = intercept[IllegalArgumentException] {
      Ann.appendIvfIndex(emb, "vec_id", "embedding", s"$empty/nope",
        pq = Some(model))
    }
    assert(e1.getMessage.contains("writeIvfIndex"), e1.getMessage)
    // schema drift: appending UNcoded rows onto a coded layout (and the
    // reverse) must refuse — parquet schema merge would NULL-pad the gap
    val coded = java.nio.file.Files.createTempDirectory("graft_ss5_coded").toString
    Ann.writeIvfIndex(emb, "vec_id", "embedding", coded, k = 4, iters = 2,
      pq = Some(model))
    val e2 = intercept[IllegalArgumentException] {
      Ann.appendIvfIndex(emb, "vec_id", "embedding", coded, pq = None)
    }
    assert(e2.getMessage.contains("hasCode"), e2.getMessage)
    // model-dim drift: a PQ model whose dim disagrees with the stored
    // centroids would re-code the append under a different geometry
    val badModel = Pq.PqModel(4, 8,
      graft.queries.FrozenModels.pqBooks.take(4))
    val e3 = intercept[IllegalArgumentException] {
      Ann.appendIvfIndex(emb, "vec_id", "embedding", coded, pq = Some(badModel))
    }
    assert(e3.getMessage.contains("dim"), e3.getMessage)
  }

  test("compactIvfIndex: row-identical corpus, files per cell bounded, serve unchanged") {
    import graft.operators.Pq
    val model = Pq.PqModel(8, 8, graft.queries.FrozenModels.pqBooks)
    val path = java.nio.file.Files.createTempDirectory("graft_compact").toString
    Ann.writeIvfIndex(emb.filter(col("vec_id") % 3 === 1), "vec_id", "embedding",
      path, k = 4, iters = 2, pq = Some(model))
    // two disjoint appends: the accumulated per-cell file count is what
    // compaction exists to bound
    Ann.appendIvfIndex(emb.filter(col("vec_id") % 3 === 2), "vec_id", "embedding",
      path, pq = Some(model))
    Ann.appendIvfIndex(emb.filter(col("vec_id") % 3 === 0), "vec_id", "embedding",
      path, pq = Some(model))
    // materialize the pre-compact state OUTSIDE the layout (a lazy frame
    // over corpus/ would re-read the rewritten files after the swap)
    val copy = java.nio.file.Files.createTempDirectory("graft_compact_copy")
      .toString + "/before"
    spark.read.parquet(Ann.corpusPath(spark, path))
      .select("id", "v", "code", "cell").write.parquet(copy)
    val servedBefore = Ann.ivfIndexTopK(spark, path, queries,
      "vec_id", "embedding", nProbe = 4, topK = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val salts = 2
    Ann.compactIvfIndex(spark, path, writeSalts = salts)
    // row-identical corpus after the rewrite
    val before = spark.read.parquet(copy)
    val after = spark.read.parquet(Ann.corpusPath(spark, path)).select("id", "v", "code", "cell")
    assert(after.exceptAll(before).count() == 0 &&
      before.exceptAll(after).count() == 0)
    // the small-files bound: ≤ writeSalts parquet files per cell directory
    // (of the LIVE generation — post-compact that is corpus_g1, not corpus/)
    val cellDirs = new java.io.File(
        new java.net.URI(Ann.corpusPath(spark, path)).getPath).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
    assert(cellDirs.nonEmpty)
    cellDirs.foreach { d =>
      val n = d.listFiles().count(_.getName.endsWith(".parquet"))
      assert(n <= salts, s"${d.getName}: $n files > $salts")
    }
    // serve-before ≡ serve-after
    val servedAfter = Ann.ivfIndexTopK(spark, path, queries,
      "vec_id", "embedding", nProbe = 4, topK = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(servedAfter == servedBefore)
  }

  test("appendIvfIndex with batchId is exactly-once: committed and crash-window re-runs never double-store") {
    import graft.operators.Pq
    val model = Pq.PqModel(8, 8, graft.queries.FrozenModels.pqBooks)
    val path = java.nio.file.Files.createTempDirectory("graft_batch").toString
    Ann.writeIvfIndex(emb.filter(col("vec_id") % 3 =!= 0), "vec_id", "embedding",
      path, k = 4, iters = 2, pq = Some(model))
    val inc = emb.filter(col("vec_id") % 3 === 0)
    Ann.appendIvfIndex(inc, "vec_id", "embedding", path, pq = Some(model),
      batchId = Some("day1"))
    val total = emb.count()
    def corpus() = spark.read.parquet(Ann.corpusPath(spark, path))
    assert(corpus().count() == total)
    // marker present: the whole re-run is a no-op
    Ann.appendIvfIndex(inc, "vec_id", "embedding", path, pq = Some(model),
      batchId = Some("day1"))
    assert(corpus().count() == total)
    // crash window: publish completed but the marker write was lost — the
    // worst re-run case (every batch file already live). The deterministic
    // batch~<id>~ prefix cleanup must remove them before republishing.
    assert(new java.io.File(s"$path/_append_batch_day1").delete())
    Ann.appendIvfIndex(inc, "vec_id", "embedding", path, pq = Some(model),
      batchId = Some("day1"))
    assert(corpus().count() == total)
    assert(corpus().groupBy("id").count().filter(col("count") > 1).count() == 0)
    // content (not just count): the republished layout equals a standalone
    // encode of the full corpus, the ss5 identity
    val disk = corpus().select(col("id").as("vec_id"), col("code"))
    val direct = Pq.encode(emb, "embedding", model)
    assert(disk.exceptAll(direct).count() == 0 &&
      direct.exceptAll(disk).count() == 0)
    // hidden-prefix batch ids would publish files invisible to readers
    val bad = intercept[IllegalArgumentException] {
      Ann.appendIvfIndex(inc, "vec_id", "embedding", path, pq = Some(model),
        batchId = Some("_hidden"))
    }
    assert(bad.getMessage.contains("batchId"), bad.getMessage)
  }

  test("batchId protocol survives prefix-sibling batch ids and rebuilds (review findings)") {
    val path = java.nio.file.Files.createTempDirectory("graft_batch2").toString
    val base = emb.filter(col("vec_id") % 3 =!= 0)
    val b1 = emb.filter(col("vec_id") % 3 === 0 && col("vec_id") % 2 === 0)
    val b2 = emb.filter(col("vec_id") % 3 === 0 && col("vec_id") % 2 =!= 0)
    def corpus() = spark.read.parquet(Ann.corpusPath(spark, path))
    def assertComplete(): Unit = {
      assert(corpus().count() == emb.count())
      assert(corpus().groupBy("id").count().filter(col("count") > 1).count() == 0)
    }
    Ann.writeIvfIndex(base, "vec_id", "embedding", path, k = 4, iters = 2)
    // 'day1' is a '-'-prefix of 'day1-extra': under a '-' file delimiter
    // day1's recovery glob would DELETE the committed sibling's files;
    // the '~' delimiter makes the prefixes unambiguous
    Ann.appendIvfIndex(b1, "vec_id", "embedding", path, batchId = Some("day1-extra"))
    Ann.appendIvfIndex(b2, "vec_id", "embedding", path, batchId = Some("day1"))
    assertComplete()
    // a REBUILD starts a new index generation: stale committed-batch
    // markers must not turn the replayed appends into silent no-ops
    Ann.writeIvfIndex(base, "vec_id", "embedding", path, k = 4, iters = 2)
    assert(corpus().count() == base.count())
    Ann.appendIvfIndex(b1, "vec_id", "embedding", path, batchId = Some("day1-extra"))
    Ann.appendIvfIndex(b2, "vec_id", "embedding", path, batchId = Some("day1"))
    assertComplete()
  }

  test("compactIvfIndex refuses uncommitted batch files and self-heals a crashed swap (review findings)") {
    val path = java.nio.file.Files.createTempDirectory("graft_compact2").toString
    val base = emb.filter(col("vec_id") % 3 =!= 0)
    val inc = emb.filter(col("vec_id") % 3 === 0)
    Ann.writeIvfIndex(base, "vec_id", "embedding", path, k = 4, iters = 2)
    Ann.appendIvfIndex(inc, "vec_id", "embedding", path, batchId = Some("day1"))
    // crashed append (published, marker lost): compacting would anonymize
    // the batch~day1~ files and the re-run would then double-store —
    // compact must refuse, naming the batch
    assert(new java.io.File(s"$path/_append_batch_day1").delete())
    val e = intercept[IllegalArgumentException] {
      Ann.compactIvfIndex(spark, path)
    }
    assert(e.getMessage.contains("day1"), e.getMessage)
    // finishing the append clears the refusal
    Ann.appendIvfIndex(inc, "vec_id", "embedding", path, batchId = Some("day1"))
    // crashed swap: a prior compact died between its renames — corpus/ is
    // gone but intact under _corpus_compact_old; the next compact restores
    // it with one rename and proceeds
    assert(new java.io.File(s"$path/corpus")
      .renameTo(new java.io.File(s"$path/_corpus_compact_old")))
    Ann.compactIvfIndex(spark, path, writeSalts = 2)
    val c = spark.read.parquet(Ann.corpusPath(spark, path))
    assert(c.count() == emb.count())
    assert(c.groupBy("id").count().filter(col("count") > 1).count() == 0)
  }

  test("uncoded build/append shed wrong-dim vectors — never stored in the unreachable null cell") {
    val path = java.nio.file.Files.createTempDirectory("graft_dimguard").toString
    val base = emb.filter(col("vec_id") % 3 =!= 0)
    Ann.writeIvfIndex(base, "vec_id", "embedding", path, k = 4, iters = 2)
    // half the batch arrives dim-drifted (truncated to 32) — the r14
    // ADVICE case: without the guard these assign to cell=-1 and silently
    // disappear from every probe while still occupying the layout
    val inc = emb.filter(col("vec_id") % 3 === 0)
      .withColumn("embedding", when(col("vec_id") % 2 === 0,
        slice(col("embedding"), 1, 32)).otherwise(col("embedding")))
    Ann.appendIvfIndex(inc, "vec_id", "embedding", path)
    val stored = spark.read.parquet(Ann.corpusPath(spark, path))
    assert(stored.filter(col("cell") < 0).count() == 0)
    val expected = base.count() +
      emb.filter(col("vec_id") % 3 === 0 && col("vec_id") % 2 =!= 0).count()
    assert(stored.count() == expected)
    assert(stored.filter(col("id") % 3 === 0 && col("id") % 2 === 0).count() == 0)
  }

  /** Plain-Scala reference geometry for the two tests below: squared
    * distance summed left to right, ordered by (d2, cell). */
  private def refD2(v: Seq[Double], c: Seq[Double]): Double =
    v.indices.foldLeft(0.0)((s, i) => s + (v(i) - c(i)) * (v(i) - c(i)))
  private val byD2ThenCell =
    Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Int)
  private def assertSameCells[T](label: String, got: Map[Long, T],
      want: Map[Long, T]): Unit = {
    val diff = want.filter { case (id, c) => !got.get(id).contains(c) }
    assert(got.size == want.size && diff.isEmpty, s"$label: ${diff.size} of " +
      s"${want.size} vectors differ, e.g. ${diff.take(3).map { case (id, c) =>
        s"id $id want $c got ${got.get(id)}" }.mkString("; ")}")
  }

  /** Two centroid tables: k = 8 fitted on the fixture (the catalog's
    * ss3–ss7/sd2 regime) and k = 8192 synthetic cells on a deterministic
    * grid whose rows repeat every 97 cells, so exact distance ties occur
    * and the lowest-cell tiebreak is exercised. */
  private def centroidInputs: Seq[(String, Seq[(Int, Seq[Double])])] = {
    val fitted = Ann.kmeansCentroids(emb, "vec_id", "embedding", k = 8, iters = 2)
      .select(col("cell").cast("int"), col("cv")).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1))).toSeq.sortBy(_._1)
    val dim = 64 // must match the fixture embeddings' dimension
    val grid = (0 until 8192).map { c =>
      (c, (0 until dim).map(i => ((c * 31 + i * 7) % 97) / 97.0): Seq[Double])
    }
    Seq("k = 8" -> fitted, "k = 8192" -> grid)
  }

  test("Ann.assign equals a plain-Scala argmin at k = 8 and k = 8192") {
    import spark.implicits._
    val vecs = normalizedFixture(emb)
    val local = vecs.select("id", "vn").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    centroidInputs.foreach { case (label, cents) =>
      val got = Ann.assign(vecs, cents.toDF("cell", "cv")).select("id", "cell")
      val want = local.map { case (id, v) =>
        id -> cents.map { case (c, cv) => (refD2(v, cv), c) }.min(byD2ThenCell)._2
      }.toMap
      assertSameCells(label, got.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap, want)
      // plan guard: assignment is a narrow map — no exchange, no join, no
      // k-times row expansion anywhere
      val p = got.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange") && !p.toLowerCase.contains("join"), p)
    }
  }

  test("Ann.probeCells equals a plain-Scala (d2, cell) sort at k = 8 and k = 8192") {
    val q = normalizedFixture(emb).select(col("id").as("q_id"), col("vn").as("qvn"))
    val local = q.collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    centroidInputs.foreach { case (label, cents) =>
      val got = q.select(col("q_id"), Ann.probeCells(Ann.centroidBc(spark, cents), 5))
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      val want = local.map { case (id, v) =>
        id -> cents.map { case (c, cv) => (refD2(v, cv), c) }
          .sorted(byD2ThenCell).take(5).map(_._2)
      }.toMap
      assertSameCells(label, got, want)
    }
  }

  test("deleteFromIndex: tombstones mask the serve; compact materializes and clears them") {
    val path = java.nio.file.Files.createTempDirectory("graft_delete").toString
    Ann.writeIvfIndex(emb.filter(col("vec_id") % 3 =!= 0), "vec_id", "embedding",
      path, k = 4, iters = 2)
    Ann.appendIvfIndex(emb.filter(col("vec_id") % 3 === 0), "vec_id", "embedding",
      path, batchId = Some("day1"))
    Ann.deleteFromIndex(spark, path,
      emb.filter(col("vec_id") % 7 === 0), "vec_id")
    // idempotent: a replayed delete appends a redundant tombstone
    Ann.deleteFromIndex(spark, path,
      emb.filter(col("vec_id") % 7 === 0), "vec_id")
    // each call publishes its own uniquely-named file via stage+rename —
    // concurrent deletes can never race a shared _temporary commit dir
    assert(new java.io.File(s"$path/_deleted_ids").listFiles()
      .count(_.getName.endsWith(".parquet")) == 2)
    // pre-compact: rows still PHYSICALLY present but masked from every read
    assert(spark.read.parquet(Ann.corpusPath(spark, path))
      .filter(col("id") % 7 === 0).count() > 0)
    assert(Ann.liveCorpus(spark, path).filter(col("id") % 7 === 0).count() == 0)
    // the tombstone-masked serve at nProbe = k IS brute force over the
    // surviving corpus (the ss7 oracle identity)
    def serve() = Ann.ivfIndexTopK(spark, path, queries, "vec_id", "embedding",
        nProbe = 4, topK = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val masked = serve()
    val brute = Ann.bruteTopK(emb.filter(col("vec_id") % 7 =!= 0), queries,
        "vec_id", "embedding", topK = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(masked == brute)
    // compact MATERIALIZES: rows physically dropped, tombstone files
    // cleared, serve identical to pre-compact
    Ann.compactIvfIndex(spark, path)
    assert(spark.read.parquet(Ann.corpusPath(spark, path))
      .filter(col("id") % 7 === 0).count() == 0)
    val tombDir = new java.io.File(s"$path/_deleted_ids")
    assert(!tombDir.exists() || Option(tombDir.listFiles()).getOrElse(Array.empty)
      .count(_.getName.endsWith(".parquet")) == 0)
    assert(serve() == masked)
    // re-ingesting a deleted id AFTER the compact is visible again
    // (compact-then-append, the documented re-ingest path)
    Ann.appendIvfIndex(emb.filter(col("vec_id") === 7), "vec_id", "embedding",
      path, batchId = Some("reingest"))
    assert(Ann.liveCorpus(spark, path).filter(col("id") === 7).count() == 1)
  }

  test("compaction is a zero-downtime generation swap: pointer cutover, retained generation, max-gen fallback") {
    val path = java.nio.file.Files.createTempDirectory("graft_gens").toString
    Ann.writeIvfIndex(emb, "vec_id", "embedding", path, k = 4, iters = 2)
    assert(Ann.corpusPath(spark, path).endsWith("/corpus"))
    def serve() = Ann.ivfIndexTopK(spark, path, queries, "vec_id", "embedding",
        nProbe = 4, topK = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val before = serve()
    Ann.compactIvfIndex(spark, path, writeSalts = 2)
    assert(Ann.corpusPath(spark, path).endsWith("/corpus_g1"))
    // the OUTGOING generation survives the cutover (default retain = 1):
    // an in-flight reader that resolved before the swap keeps a complete
    // corpus — this is what makes the swap zero-downtime, not merely atomic
    assert(new java.io.File(s"$path/corpus").isDirectory)
    assert(spark.read.parquet(s"$path/corpus").count() == emb.count())
    assert(serve() == before)
    // pointer-crash fallback: with _current gone, the highest-numbered
    // generation (which appears only via one atomic rename) resolves
    assert(new java.io.File(s"$path/_current").delete())
    assert(Ann.corpusPath(spark, path).endsWith("/corpus_g1"))
    assert(serve() == before)
    // next compact re-adopts: g2 current, g1 retained, generation-0 GC'd
    Ann.compactIvfIndex(spark, path, writeSalts = 2)
    assert(Ann.corpusPath(spark, path).endsWith("/corpus_g2"))
    assert(new java.io.File(s"$path/corpus_g1").isDirectory)
    assert(!new java.io.File(s"$path/corpus").exists())
    // retain = 0 reclaims everything but the new current immediately
    Ann.compactIvfIndex(spark, path, writeSalts = 2, retainGenerations = 0)
    assert(Ann.corpusPath(spark, path).endsWith("/corpus_g3"))
    assert(!new java.io.File(s"$path/corpus_g1").exists() &&
      !new java.io.File(s"$path/corpus_g2").exists())
    assert(serve() == before)
  }

  test("writer lock: append/compact mutually exclude; stale lease breaks; committed replay bypasses") {
    val path = java.nio.file.Files.createTempDirectory("graft_lock").toString
    val inc1 = emb.filter(col("vec_id") % 3 === 0 && col("vec_id") % 2 === 0)
    val inc2 = emb.filter(col("vec_id") % 3 === 0 && col("vec_id") % 2 =!= 0)
    Ann.writeIvfIndex(emb.filter(col("vec_id") % 3 =!= 0), "vec_id", "embedding",
      path, k = 4, iters = 2)
    Ann.appendIvfIndex(inc1, "vec_id", "embedding", path, batchId = Some("day1"))
    // a live foreign lock blocks BOTH writers, naming the holder — the
    // append-into-snapshotted-corpus interleave can never start
    val lock = new java.io.File(s"$path/_writer_lock")
    java.nio.file.Files.writeString(lock.toPath,
      s"appendIvfIndex ${System.currentTimeMillis()}")
    val e1 = intercept[IllegalStateException] { Ann.compactIvfIndex(spark, path) }
    assert(e1.getMessage.contains("locked") &&
      e1.getMessage.contains("appendIvfIndex"), e1.getMessage)
    val e2 = intercept[IllegalStateException] {
      Ann.appendIvfIndex(inc2, "vec_id", "embedding", path, batchId = Some("day2"))
    }
    assert(e2.getMessage.contains("locked"), e2.getMessage)
    // the REBUILD is the third writer: the same live lock blocks it too
    // (review finding: it used to run unlocked and delete the lease)
    val e3 = intercept[IllegalStateException] {
      Ann.writeIvfIndex(emb, "vec_id", "embedding", path, k = 4, iters = 2)
    }
    assert(e3.getMessage.contains("locked"), e3.getMessage)
    assert(lock.exists())
    // ...but a COMMITTED batch replay is a read-only no-op: one marker
    // probe, no lock contention, and the foreign lock is left untouched
    Ann.appendIvfIndex(inc1, "vec_id", "embedding", path, batchId = Some("day1"))
    assert(lock.exists())
    // a stale lease self-expires: the next writer breaks it and proceeds
    java.nio.file.Files.writeString(lock.toPath,
      s"appendIvfIndex ${System.currentTimeMillis() - 60000}")
    Ann.compactIvfIndex(spark, path, staleLockMs = 1000)
    assert(!lock.exists()) // released cleanly after the takeover
    Ann.appendIvfIndex(inc2, "vec_id", "embedding", path, batchId = Some("day2"))
    val c = spark.read.parquet(Ann.corpusPath(spark, path))
    assert(c.count() == emb.count())
    assert(c.groupBy("id").count().filter(col("count") > 1).count() == 0)
    // a ZERO-BYTE lock (writer crashed inside its own lease write) still
    // expires — age falls back to the file's modification time (review
    // finding: an age-less lock wedged every writer forever)
    assert(lock.createNewFile())
    assert(lock.setLastModified(System.currentTimeMillis() - 60000))
    Ann.compactIvfIndex(spark, path, staleLockMs = 1000)
    assert(!lock.exists())
  }

  test("compacting an all-tombstoned corpus refuses; the masked layout keeps serving") {
    val path = java.nio.file.Files.createTempDirectory("graft_alltomb").toString
    Ann.writeIvfIndex(emb, "vec_id", "embedding", path, k = 4, iters = 2)
    Ann.deleteFromIndex(spark, path, emb, "vec_id")
    def servedRows() = Ann.ivfIndexTopK(spark, path, queries,
      "vec_id", "embedding", nProbe = 4, topK = 3).count()
    // every row masked: the serve is EMPTY, not an error
    assert(servedRows() == 0)
    // materializing a fully-tombstoned corpus would publish a generation
    // with no parquet files — refuse and leave the layout untouched
    val e = intercept[IllegalArgumentException] { Ann.compactIvfIndex(spark, path) }
    assert(e.getMessage.contains("EVERY stored row"), e.getMessage)
    assert(Ann.corpusPath(spark, path).endsWith("/corpus"))
    assert(servedRows() == 0)
    // the documented way out — a rebuild — recovers and clears tombstones
    Ann.writeIvfIndex(emb, "vec_id", "embedding", path, k = 4, iters = 2)
    assert(Ann.liveCorpus(spark, path).count() == emb.count())
    assert(servedRows() > 0)
  }

  test("a crashed pre-generation swap points every entry at compactIvfIndex, never a rebuild") {
    val path = java.nio.file.Files.createTempDirectory("graft_oldswap").toString
    Ann.writeIvfIndex(emb, "vec_id", "embedding", path, k = 4, iters = 2)
    // the OLD two-rename protocol's crash window: corpus/ renamed away,
    // data intact under _corpus_compact_old — the r15 ADVICE case where
    // "build with writeIvfIndex first" wrongly steered at a rebuild that
    // would discard appended generations
    assert(new java.io.File(s"$path/corpus")
      .renameTo(new java.io.File(s"$path/_corpus_compact_old")))
    val e1 = intercept[IllegalArgumentException] {
      Ann.appendIvfIndex(emb, "vec_id", "embedding", path)
    }
    assert(e1.getMessage.contains("compactIvfIndex"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Ann.ivfIndexTopK(spark, path, queries, "vec_id", "embedding",
        nProbe = 4, topK = 3)
    }
    assert(e2.getMessage.contains("compactIvfIndex"), e2.getMessage)
    // the prescribed remedy restores and completes
    Ann.compactIvfIndex(spark, path)
    assert(spark.read.parquet(Ann.corpusPath(spark, path)).count() == emb.count())
  }

  /** The (id, vn) shape Ann.assign expects, built the same way
    * Ann.normalized builds it. */
  private def normalizedFixture(emb0: org.apache.spark.sql.DataFrame) =
    emb0.select(col("vec_id").as("id"),
        org.apache.spark.sql.functions.transform(col("embedding"),
          x => x.cast("double")).as("v"))
      .withColumn("nrm", org.apache.spark.sql.functions.sqrt(
        org.apache.spark.sql.functions.aggregate(
          org.apache.spark.sql.functions.transform(col("v"), x => x * x),
          org.apache.spark.sql.functions.lit(0.0), (a, x) => a + x)))
      .filter(col("nrm") > 0)
      .withColumn("vn", org.apache.spark.sql.functions.transform(
        col("v"), x => x / col("nrm")))
}
