package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.expressions.GraftFunctions

/** IVF-style approximate nearest neighbour over an embedding column — the
  * coarse-quantizer scale path beside the hyperplane LSH variant
  * (ScaleOpsQueries.ss2): k-means cells built with distributed Lloyd
  * iterations (crossJoin argmin over the training sample → element-wise
  * mean update, all DataFrame ops), then search probes only the `nProbe`
  * nearest cells and re-ranks exactly with the codegen `cosine_sim`
  * expression.
  *
  * At 100 TB: centroids pass through the driver as one k-row broadcast
  * (KBs to MBs — the same boundedness as any broadcast dim), so assignment
  * and probing are NARROW per-row maps: no crossJoin, no per-id window, no
  * k× corpus shuffle. The search-side candidate set shrinks by ~k/nProbe
  * versus brute force. Exact re-rank inside the probed cells makes
  * `nProbe = k` literally equal to brute force (tested).
  *
  * Re-ranking runs `cosine_sim` on the RAW (cast-to-double) vectors, not
  * the L2-normalized copies: the fused left-to-right accumulation is then
  * bit-identical to a dot/(|a|·|b|) oracle over the same doubles, so the
  * nProbe=k path hash-matches a brute-force SQL oracle (ss3_ivf_ann). The
  * normalized copies drive only the cell geometry (seeding, assignment,
  * probe distances), where bit-parity is irrelevant.
  */
object Ann {

  /** L2-normalized copy of the vectors (cosine ANN = L2 ANN on the unit
    * sphere), plus the raw vector for exact re-ranking. */
  private def normalized(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.select(col(idCol).as("id"),
        transform(col(vecCol), x => x.cast("double")).as("v"))
      .withColumn("nrm",
        sqrt(aggregate(transform(col("v"), x => x * x), lit(0.0), (a, x) => a + x)))
      .filter(col("nrm") > 0)
      .withColumn("vn", transform(col("v"), x => x / col("nrm")))

  private def dist2(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), (s, x) => s + x)

  /** The deterministic top-k tiebreak needs a BIGINT: integral id columns
    * are widened losslessly; anything else must fail HERE with a clear
    * message — under ANSI mode a blind CAST on a string id would throw
    * mid-job, and with ANSI off it would yield NULLs the aggregate
    * silently skips (empty results) or, for fractional doubles, truncate
    * distinct ids onto one tiebreak (arbitrary tie winners — the exact
    * nondeterminism the tie variant exists to eliminate). */
  private def requireIntegralId(df: DataFrame, idCol: String, what: String): Unit = {
    import org.apache.spark.sql.types._
    val dt = df.schema(idCol).dataType
    require(Seq[org.apache.spark.sql.types.DataType](
        ByteType, ShortType, IntegerType, LongType).contains(dt),
      s"$what: id column '$idCol' must be an integral type for the " +
        s"deterministic top-k tiebreak, got ${dt.simpleString}")
  }

  /** Deterministic seeded k-means over normalized vectors.
    *
    * Lloyd iterations run over a bounded training sample — the `maxTrain`
    * md5-lowest ids (`orderBy+limit` plans as TakeOrderedAndProject:
    * per-partition top-k heaps, no single task sees the corpus). Training
    * a coarse quantizer on a sample is the standard IVF design (FAISS
    * recommends ~256·k training points); the full corpus is only ever
    * touched by the one embarrassingly-parallel `assign` scan downstream.
    *
    * Determinism scope: given the SAME Spark environment (parallelism,
    * partition layout) results are bit-stable across reruns. Across
    * DIFFERENT environments the training spread (`repartition(parts)`,
    * parts derived from defaultParallelism) changes float summation order
    * in the centroid means, so centroids — and therefore nProbe < k ANN
    * results — can differ in the last ulps. This is inherent to
    * distributed float reduction; the exact path (nProbe = k, which the
    * ss3 oracle checks) is environment-independent because the final
    * re-rank is a total order over exact per-pair cosines.
    *
    * @return centroids `(cell, cv ARRAY<DOUBLE>)` — ≤ k rows (a cell that
    *         loses all its training members drops out; harmless, searches
    *         probe surviving cells only) */
  def kmeansCentroids(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, maxTrain: Int = 1 << 18): DataFrame = {
    // persist: the sample seeds the centroids AND feeds every Lloyd pass
    val sample = normalized(emb, idCol, vecCol)
      .withColumn("h", md5(col("id").cast("string")))
      .orderBy(col("h"), col("id"))
      .limit(maxTrain)
      .select(col("id"), col("h"), col("vn"))
      .persist()
    // a global limit lands in ONE partition. Spreading it out is a
    // shuffle that only pays off once the sample is big enough that
    // single-task Lloyd scans dominate — one bounded count (≤ maxTrain
    // cached rows) decides; ~4k vectors per task.
    val parts = math.min(emb.sparkSession.sparkContext.defaultParallelism.toLong,
      sample.count() / 4096L).toInt
    val train = if (parts > 1) {
      val spread = sample.repartition(parts).persist()
      spread.count() // materialize from the 1-partition cache, then drop it
      sample.unpersist()
      spread
    } else sample
    // Deterministic spread seeds: k lowest md5-ordered ids; the
    // row_number window runs over only k rows.
    var centroids = train
      .orderBy(col("h"), col("id"))
      .limit(k)
      .withColumn("rk", row_number().over(Window.orderBy(col("h"), col("id"))))
      .select((col("rk") - 1).cast("int").as("cell"), col("vn").as("cv"))
    var i = 0
    while (i < iters) {
      // Lloyd assign stays the LAZY crossJoin+window formulation: its input
      // is the bounded training sample (≤ maxTrain), where a k× expansion
      // is cheap, and keeping the loop lazy means ONE action executes the
      // whole quantizer (no per-iteration job barriers). The corpus-scale
      // path ([[assign]]) is the narrow map — never this.
      val wa = Window.partitionBy(col("id")).orderBy(col("d2"), col("cell"))
      val assigned = train.crossJoin(broadcast(centroids))
        .withColumn("d2", dist2(col("vn"), col("cv")))
        .withColumn("rk", row_number().over(wa))
        .filter(col("rk") === 1)
        .drop("d2", "rk", "cv")
      centroids = assigned
        .select(col("cell"), posexplode(col("vn")).as(Seq("pos", "x")))
        .groupBy("cell", "pos").agg(avg(col("x")).as("m"))
        .groupBy("cell")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("cv"))
      i += 1
    }
    graft.Caches.releaseAfterConsumers(Seq(centroids), train)
    centroids
  }

  /** The centroid table collected and cell-sorted — bounded by k (a
    * quantizer has tens-to-thousands of cells). The one input every
    * [[centroidBc]] is built from. */
  private def centroidRows(centroids: DataFrame): Seq[(Int, Seq[Double])] = {
    val rows = centroids.select(col("cell").cast("int"), col("cv")).collect().toSeq
      .map(r => (r.getInt(0), r.getSeq[Double](1)))
      .sortBy(_._1)
    require(rows.nonEmpty, "no centroids")
    rows
  }

  /** The centroid matrix as a `sparkContext.broadcast` — what makes
    * assignment/probing a NARROW map: a crossJoin + per-id window
    * formulation shuffles k× the corpus. The plan carries only the
    * broadcast HANDLE; the k·dim doubles ship once per executor, at any k
    * (a plan literal would re-serialize them with every task). Callers
    * build ONE per centroid table — ivfTopK shares it between assign and
    * probe. */
  private[graft] type CentroidBc =
    org.apache.spark.broadcast.Broadcast[(Array[Int], Array[Array[Double]])]

  private[graft] def centroidBc(spark: org.apache.spark.sql.SparkSession,
      rows: Seq[(Int, Seq[Double])]): CentroidBc =
    spark.sparkContext.broadcast(
      (rows.map(_._1).toArray, rows.map(_._2.toArray).toArray))

  /** Nearest-cell assignment: one row per vector with its `cell` —
    * embarrassingly parallel, no join, no window, no shuffle. The argmin
    * accumulates squared differences left to right and keeps the first
    * strict `<` minimum, so exact-tie distances keep the lowest cell id,
    * matching an `orderBy(d2, cell)` rank (AnnSpec checks it against a
    * plain-Scala argmin at k = 8 and k = 8192). */
  def assign(vectors: DataFrame, centroids: DataFrame): DataFrame =
    assignCells(vectors, centroidBc(vectors.sparkSession, centroidRows(centroids)))

  /** Normalize + nearest-cell assignment in one narrow scan:
    * `(id, vn, cell)` — the blocking primitive for cell-bounded pairwise
    * work (SemDeDup-style semantic dedup composes on this). */
  def assigned(emb: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame): DataFrame =
    assign(normalized(emb, idCol, vecCol), centroids)

  /** [[assign]] over an already-built centroid broadcast. A function, not
    * codegen — the hot cost is the k·dim arithmetic either way. */
  private def assignCells(vectors: DataFrame, bc: CentroidBc): DataFrame = {
    val nearest = udf { (vn: Seq[Double]) =>
      val (cs, m) = bc.value
      var best = -1
      var bestD = Double.MaxValue
      // dim mismatch = no cell — NOT a truncated prefix distance
      if (m.length == 0 || vn.length == m(0).length) {
        var c = 0
        while (c < m.length) {
          val cv = m(c)
          var d = 0.0
          var i = 0
          while (i < cv.length) { val t = vn(i) - cv(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = cs(c) }
          c += 1
        }
      }
      best
    }
    vectors.withColumn("cell", nearest(col("vn")))
  }

  /** The `nProbe` nearest cell ids for each query vector (`qvn`), ordered
    * by (distance², cell) — an ARRAY<INT> column, narrow. Same left-to-
    * right float accumulation as [[assign]], so a query's first probe
    * cell is the cell [[assign]] would give it (AnnSpec checks the probe
    * sets against a plain-Scala (d2, cell) sort at k = 8 and k = 8192). */
  private[graft] def probeCells(bc: CentroidBc, nProbe: Int): Column = {
    val nearestN = udf { (qvn: Seq[Double]) =>
      val (cs, m) = bc.value
      // exact (d2, cell) ordering over all k, then take nProbe — k log k
      // per query row; queries are the thin side
      val scored = new Array[(Double, Int)](m.length)
      var c = 0
      while (c < m.length) {
        val cv = m(c)
        var d = 0.0
        var i = 0
        val n = math.min(qvn.length, cv.length)
        while (i < n) { val t = qvn(i) - cv(i); d += t * t; i += 1 }
        scored(c) = (d, cs(c))
        c += 1
      }
      scored.sortBy(identity).take(nProbe).map(_._2).toSeq
    }
    nearestN(col("qvn"))
  }

  /** The exact re-rank every search ends in: candidate pairs
    * `(q_id, qv, id, v)` minus self-matches, scored with `cosine_sim` and
    * cut to `topK` per query by the O(k)-state deterministic aggregate
    * (cos desc, id). Its map-side combine ships k rows per (query,
    * partition) where a row_number window shuffled and sorted EVERY
    * scored candidate. The tiebreak cast widens integral ids losslessly
    * (non-integral ids are rejected up front by [[requireIntegralId]]).
    * @return `(q_id, rnk, id, cos)` */
  private def rerankTopK(pairs: DataFrame, topK: Int): DataFrame =
    pairs.filter(col("id") =!= col("q_id"))
      .withColumn("cos", GraftFunctions.cosineSim(col("qv"), col("v")))
      .groupBy("q_id")
      .agg(GraftFunctions.priorityTopK(-col("cos"), col("id").cast("long"),
        struct(col("id"), col("cos")), topK).as("tk"))
      .select(col("q_id"), posexplode(col("tk")))
      .select(col("q_id"), (col("pos") + 1).cast("long").as("rnk"),
        col("col.id").as("id"), col("col.cos").as("cos"))

  /** IVF top-k: probe the `nProbe` nearest cells per query, exact
    * cosine re-rank inside them.
    * @return `(q_id, rnk, id, cos)` */
  def ivfTopK(emb: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, nProbe: Int, topK: Int): DataFrame = {
    requireIntegralId(emb, idCol, "ivfTopK")
    // the Lloyd result materializes ONCE; the corpus assign and the
    // query-side probe share one broadcast of it
    val bc = centroidBc(emb.sparkSession,
      centroidRows(kmeansCentroids(emb, idCol, vecCol, k, iters)))
    // persist the assigned corpus: this IS the IVF index artifact (cell →
    // vectors). Without it the assignment function that computes `cell`
    // re-evaluates per join-OUTPUT row (~nProbe× per vector); a real
    // deployment would even write it to storage (sources.Stages.materialize)
    // and reuse it across query batches.
    val corpus = assignCells(normalized(emb, idCol, vecCol), bc).persist()
    val probed = normalized(queries, idCol, vecCol)
      .select(col("id").as("q_id"), col("v").as("qv"), col("vn").as("qvn"))
      .select(col("q_id"), col("qv"), explode(probeCells(bc, nProbe)).as("cell"))
    // each corpus vector lives in exactly ONE cell, so the probe join
    // scores it at most once per query
    val out = rerankTopK(probed.join(corpus, Seq("cell")), topK)
    graft.Caches.releaseAfterConsumers(Seq(out), corpus)
    out
  }

  /** Brute-force exact top-k (the verification baseline). */
  def bruteTopK(emb: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      topK: Int): DataFrame = {
    requireIntegralId(emb, idCol, "bruteTopK")
    val qn = normalized(queries, idCol, vecCol)
      .select(col("id").as("q_id"), col("v").as("qv"))
    rerankTopK(normalized(emb, idCol, vecCol).crossJoin(broadcast(qn)), topK)
  }

  // ---------------------------------------------------------------------
  // Disk-backed IVF(-PQ) index: build once, serve many. ivfTopK recomputes
  // cells per call — right for one-shot analytics, wrong for a serving
  // path where the same 100 TB corpus answers query batch after query
  // batch. The index is a cell-PARTITIONED parquet layout (one directory
  // per IVF cell — Hive-style, the same shape pp1 proves prunes at the
  // file index) plus the centroid frame that defines it; a probe reads
  // ONLY its nProbe cells' files, so per-batch cost is nProbe/k of the
  // corpus regardless of corpus size.
  //
  // Lifecycle protocol (full CRUD, r16): writeIvfIndex builds generation
  // zero; appendIvfIndex lands increments exactly-once per batchId;
  // deleteFromIndex tombstones ids (masked at serve by an anti-join);
  // compactIvfIndex bounds the per-cell file count, MATERIALIZES pending
  // tombstones, and cuts readers over with a zero-downtime generation
  // swap. append and compact mutually exclude via a _writer_lock lease.
  // ---------------------------------------------------------------------

  private type HPath = org.apache.hadoop.fs.Path
  private type HFs = org.apache.hadoop.fs.FileSystem

  private def fsOf(spark: SparkSession, path: String): HFs =
    new HPath(path).getFileSystem(spark.sessionState.newHadoopConf())

  /** Corpus GENERATIONS (zero-downtime compaction, r15 verdict #3): the
    * live corpus directory is `corpus/` at build time (generation 0) and
    * `corpus_g<N>/` after the Nth compaction. Readers resolve the live
    * generation ONCE, at plan-construction time:
    *   1. the `_current` pointer file names an existing generation →
    *      that directory (the Iceberg version-hint pattern — a HINT, so
    *      a corrupted or torn pointer can degrade but never corrupt);
    *   2. no usable pointer → the highest-numbered generation that
    *      exists: a generation directory APPEARS only via one atomic
    *      rename, so existing ⇒ complete (this also covers the
    *      pointer-write crash/truncation window: by then the new
    *      generation is already the maximum);
    *   3. neither → the build's `corpus/`.
    * Every cutover step is an atomic rename or a one-file hint write,
    * and the outgoing generation stays on disk through the swap, so a
    * resolution taken at ANY instant lands on a complete corpus — old
    * or new, never neither, never partial. */
  private def genNumber(name: String): Option[Int] = name match {
    case "corpus" => Some(0)
    case s if s.startsWith("corpus_g") => s.drop("corpus_g".length).toIntOption
    case _ => None
  }

  private def generationDirs(fs: HFs, path: String): Seq[(Int, HPath)] = {
    val legacy = new HPath(s"$path/corpus")
    val gens = Option(fs.globStatus(new HPath(s"$path/corpus_g*")))
      .getOrElse(Array.empty).toSeq
      .filter(_.isDirectory)
      .flatMap(st => genNumber(st.getPath.getName).map(_ -> st.getPath))
    (if (fs.exists(legacy)) Seq(0 -> legacy) else Nil) ++ gens
  }

  private def resolveCorpusDir(fs: HFs, path: String): HPath = {
    val pointer = new HPath(s"$path/_current")
    val hinted: Option[HPath] =
      if (!fs.exists(pointer)) None
      else {
        val in = fs.open(pointer)
        val name =
          try new String(in.readAllBytes(), "UTF-8").trim finally in.close()
        // validated against the generation grammar: a corrupted pointer
        // must fall back to the listing, never escape the layout as a
        // relative path or name a half-deleted directory
        Some(name).filter(n => genNumber(n).isDefined)
          .map(n => new HPath(s"$path/$n")).filter(fs.exists)
      }
    hinted
      .orElse(generationDirs(fs, path).sortBy(-_._1).headOption.map(_._2))
      .getOrElse {
        // nothing resolvable: distinguish the PRE-generation protocol's
        // crashed two-rename swap (corpus intact under
        // _corpus_compact_old — ONE compactIvfIndex re-run restores it,
        // while a rebuild would discard every appended generation) from
        // a genuinely absent layout (r15 ADVICE)
        if (fs.exists(new HPath(s"$path/_corpus_compact_old")))
          throw new IllegalArgumentException(
            s"index layout at $path has a crashed compaction swap (corpus " +
              "intact under _corpus_compact_old) — re-run compactIvfIndex " +
              "to restore it; rebuilding would discard the appended " +
              "generations")
        throw new IllegalArgumentException(
          s"no index layout at $path — build with writeIvfIndex first")
      }
  }

  /** The live corpus directory of the index layout at `path`, resolved
    * through the generation pointer — what every reader (serve, dedup,
    * audits, specs, profilers) must scan instead of assuming
    * `$path/corpus`, which goes stale at the first compaction. */
  def corpusPath(spark: SparkSession, path: String): String =
    resolveCorpusDir(fsOf(spark, path), path).toString

  /** Writer MUTUAL EXCLUSION (r15 verdict #4): append and compact both
    * mutate the corpus, and interleaving them loses data — an append
    * publishing into the generation compaction is snapshotting vanishes
    * at the generation cutover while its marker claims committed
    * (exactly-once turned exactly-zero). Both entry points hold a
    * `_writer_lock` lease: atomic create-if-absent (atomic on HDFS and
    * local filesystems; object stores with weaker create semantics
    * should front this with their own conditional-put lock) holding
    * `<op> <epoch-ms>`. A held lock fails FAST, naming the holder and
    * its age — the callers are scheduled batch jobs, not interactive
    * waiters. A crashed writer's lock self-expires after `staleLockMs`
    * (takeover is logged); the DEFAULT never expires, so breaking a
    * lease is always an explicit operator decision. Readers never take
    * the lock: generation resolution plus the batch-marker protocol
    * give them a consistent corpus at every instant. */
  private def withWriterLock[T](fs: HFs, path: String, op: String,
      staleLockMs: Long)(body: => T): T = {
    val lock = new HPath(s"$path/_writer_lock")
    def tryAcquire(): Boolean =
      try {
        val out = fs.create(lock, false)
        out.write(s"$op ${System.currentTimeMillis()}".getBytes("UTF-8"))
        out.close()
        true
      } catch { case _: java.io.IOException => false }
    if (!tryAcquire()) {
      val contents =
        try {
          val in = fs.open(lock)
          try new String(in.readAllBytes(), "UTF-8").trim finally in.close()
        } catch { case _: java.io.IOException => "" }
      val ageMs = contents.split(' ').lastOption.flatMap(_.toLongOption)
        .map(System.currentTimeMillis() - _)
        .orElse {
          // zero-byte / unparseable lock (a writer crashed inside its own
          // lease write, or a torn read): fall back to the file's
          // modification time so the lease can still expire — an age-less
          // lock otherwise wedged every writer behind a message whose
          // staleLockMs remedy could never fire (review finding)
          try Some(System.currentTimeMillis() -
            fs.getFileStatus(lock).getModificationTime)
          catch { case _: java.io.IOException => None }
        }
      if (!ageMs.exists(_ > staleLockMs)) throw new IllegalStateException(
        s"$op: index layout at $path is locked by another writer (holder: " +
          s"'${if (contents.isEmpty) "unreadable" else contents}'" +
          ageMs.map(a => s", age ${a / 1000} s").getOrElse("") +
          ") — a concurrent append/compact would lose data; retry after " +
          "it finishes, or delete _writer_lock / pass staleLockMs if the " +
          "holder is known dead")
      // break by PARKING the expired lease (atomic rename), never a blind
      // delete: only ONE contender's rename wins, and the content check
      // detects the pathological interleave where the stale lease was
      // already replaced by a FRESH one between our read and our rename —
      // restored, not stolen (review finding: a blind delete could remove
      // another breaker's freshly-acquired live lease). Residual: a third
      // writer acquiring inside the park-restore window is the no-CAS
      // filesystem limit — object-store deployments should front this
      // with a conditional-put lock as documented above.
      val parked = new HPath(s"$path/_writer_lock_break_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12))
      if (!fs.rename(lock, parked)) throw new IllegalStateException(
        s"$op: another writer broke the expired lease at $path first; retry")
      val parkedContents =
        try {
          val in = fs.open(parked)
          try new String(in.readAllBytes(), "UTF-8").trim finally in.close()
        } catch { case _: java.io.IOException => contents }
      if (parkedContents != contents) {
        fs.rename(parked, lock)
        throw new IllegalStateException(
          s"$op: index layout at $path was re-locked by another writer " +
            "during the stale-lease break; retry")
      }
      fs.delete(parked, false)
      System.err.println(s"[graft] $op: breaking expired writer lock at " +
        s"$path ('$contents', age ${ageMs.map(_ / 1000).getOrElse(-1L)} s " +
        s"> ${staleLockMs / 1000} s lease)")
      if (!tryAcquire()) throw new IllegalStateException(
        s"$op: lost the race re-acquiring the writer lock at $path — " +
          "another writer took over the expired lease; retry")
    }
    try body finally { fs.delete(lock, false): Unit }
  }

  /** The tombstone FILES under `_deleted_ids/` — each a parquet of
    * `id: BIGINT`. Snapshot-by-file-list everywhere: deletes are
    * append-only (each [[deleteFromIndex]] adds a new file), so a
    * consumer that lists first and acts on exactly that list can never
    * half-apply a delete landing mid-operation. */
  private def tombstoneFiles(fs: HFs, path: String): Seq[HPath] =
    Option(fs.globStatus(new HPath(s"$path/_deleted_ids/*.parquet")))
      .getOrElse(Array.empty).toSeq.map(_.getPath)

  /** The tombstoned ids as `graft_del_id: BIGINT` over an explicit file
    * snapshot — None when no tombstones exist, so a delete-free layout's
    * serve plan carries no anti-join node at all. Duplicate ids across
    * tombstone files are harmless: anti-join semantics ignore build-side
    * multiplicity. The ONE place the tombstone schema is interpreted —
    * the serve mask and the compact materialization both read through
    * here, so they can never diverge (review finding). */
  private def tombstoneFrame(spark: SparkSession,
      files: Seq[HPath]): Option[DataFrame] =
    if (files.isEmpty) None
    else Some(spark.read.parquet(files.map(_.toString): _*)
      .select(col("id").as("graft_del_id")))

  private[graft] def tombstoneIds(spark: SparkSession,
      path: String): Option[DataFrame] =
    tombstoneFrame(spark, tombstoneFiles(fsOf(spark, path), path))

  private def antiTombstone(df: DataFrame, tomb: Option[DataFrame]): DataFrame =
    tomb.fold(df)(t =>
      df.join(t, df("id").cast("long") === t("graft_del_id"), "left_anti"))

  /** The resolved, tombstone-masked LIVE corpus of the layout — the one
    * frame every reader composes on: generation resolution picks the
    * directory, pending deletes are anti-joined out (the tombstone side
    * is id-only and file-sized, so Spark broadcasts it off parquet
    * stats; a delete-free layout gets no join node at all). `cell`
    * partition filters applied by the caller still push through the
    * anti-join's left side to the scan, so static pruning is intact.
    *
    * Tombstones are listed BEFORE the generation resolves (review
    * finding): a compaction cutting over in between then leaves a STALE
    * tombstone list over the NEW generation — which only over-masks rows
    * the compact already dropped, a no-op. The reverse order could pair
    * the OLD generation with an already-cleared tombstone list and serve
    * deleted rows. */
  def liveCorpus(spark: SparkSession, path: String): DataFrame = {
    val tomb = tombstoneIds(spark, path)
    antiTombstone(spark.read.parquet(corpusPath(spark, path)), tomb)
  }

  /** DELETE ids from a [[writeIvfIndex]] layout — the CRUD quadrant every
    * real pipeline needs (dedup removals, takedowns, retention): appends
    * a tombstone parquet of the ids under `_deleted_ids/` beside the
    * corpus — O(ids), never a corpus rewrite. Serves ([[ivfIndexTopK]],
    * [[graft.api.Corpus.semanticDuplicatesFromIndex]]) and the coverage
    * audit anti-join the tombstones out; [[compactIvfIndex]]
    * MATERIALIZES the delete — tombstoned rows physically dropped, the
    * applied tombstone files cleared.
    *
    * Semantics: a tombstone masks EVERY corpus row with that id —
    * including one appended AFTER the delete — until a compaction
    * materializes and clears it, so re-ingesting a deleted id is
    * compact-then-append. Deleting an id absent from the index is a
    * harmless no-op, and deleting twice is idempotent (the redundant
    * tombstone clears at the next compact). Safe WITHOUT the writer
    * lock: tombstone files are append-only and every consumer acts on an
    * explicit file-list snapshot, so a delete landing mid-compact is
    * simply applied by the NEXT compact instead of being lost. The ids
    * frame coalesces to one file per call (a delete set is id-only — a
    * single writer holds up to hundreds of millions of longs; truly
    * corpus-scale removals are a rebuild, not a delete). */
  def deleteFromIndex(spark: SparkSession, path: String, ids: DataFrame,
      idCol: String = "id"): Unit = {
    requireIntegralId(ids, idCol, "deleteFromIndex")
    val fs = fsOf(spark, path)
    resolveCorpusDir(fs, path) // deleting from nothing is a bug
    // stage under a UNIQUE hidden dir, then rename into _deleted_ids/ —
    // never a direct append: two concurrent deletes writing the same
    // output dir race on its shared _temporary commit tree, and the
    // faster job's cleanup can silently drop the slower job's file
    // (review finding). Unique staging + unique target names commute.
    val tag = java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    val staging = s"$path/_staging_delete_$tag"
    ids.select(col(idCol).cast("long").as("id"))
      .coalesce(1)
      .write.mode("overwrite").parquet(staging)
    Option(fs.globStatus(new HPath(s"$staging/part-*")))
      .getOrElse(Array.empty)
      .foreach { st =>
        val dst = new HPath(
          s"$path/_deleted_ids/del_${tag}_${st.getPath.getName}")
        fs.mkdirs(dst.getParent)
        require(fs.rename(st.getPath, dst),
          s"deleteFromIndex: tombstone publish rename failed for ${st.getPath}")
      }
    fs.delete(new HPath(staging), true): Unit
  }

  /** Build the disk index at `path`: train the coarse quantizer, assign
    * every vector to its cell in one narrow scan, and write
    * `corpus/cell=<c>/` partitions of `(id, v[, code])` plus
    * `centroids/`. `pq` optionally attaches product-quantization codes
    * ([[Pq.attachCodes]], same strict-< fold as `Pq.encode`) — the 64×-
    * compressed column an ADC-first serving tier scans INSTEAD of `v`;
    * codes ride the same single pass, no join. The write shuffles once
    * on `(cell, salt)` before partitionBy: plain `repartition(cell)`
    * would funnel each cell through ONE writer task — a hot cell at
    * 100 TB is a serial bottleneck — while the salt spreads every cell
    * over up to `writeSalts` writers (so ≤ writeSalts files per cell:
    * still the small-files discipline, directories still prune). */
  def writeIvfIndex(emb: DataFrame, idCol: String, vecCol: String,
      path: String, k: Int, iters: Int,
      pq: Option[Pq.PqModel] = None, writeSalts: Int = 8,
      staleLockMs: Long = Long.MaxValue): Unit = {
    // the serve path's deterministic tiebreak is the CORPUS id as stored
    // here — reject non-integral ids at build time, not first probe
    requireIntegralId(emb, idCol, "writeIvfIndex")
    // the quantizer fit reads only `emb`, never the layout — keep it
    // outside the lease so a long Lloyd fit doesn't age the lock
    val rows = centroidRows(kmeansCentroids(emb, idCol, vecCol, k, iters))
    val assigned0 = assignCells(normalized(emb, idCol, vecCol),
      centroidBc(emb.sparkSession, rows))
    val fsw = fsOf(emb.sparkSession, path)
    // the rebuild is the THIRD writer and holds the same lock as
    // append/compact (review finding: an unlocked rebuild could overwrite
    // the corpus mid-append, and its cleanup used to delete the live
    // lease out from under the holder)
    withWriterLock(fsw, path, "writeIvfIndex", staleLockMs) {
      // a rebuild starts a NEW index at generation zero: committed-batch
      // markers from the previous index would turn a replayed
      // appendIvfIndex(batchId) into a silent exactly-once no-op (rows
      // permanently absent while the pipeline believes them committed),
      // stale generation dirs or pointer would make readers resolve the
      // OLD corpus over the fresh build, stale tombstones would mask
      // re-ingested ids, and crashed staging/partials would confuse later
      // writers. Clear ALL of it BEFORE the overwrite — a rebuild is NOT
      // crash-atomic (a crash mid-write leaves a partial corpus with no
      // _SUCCESS); the write-if-missing sentinel discipline (ensureLayout)
      // owns that window, exactly as before.
      Seq("_append_batch_*", "corpus_g*", "_staging_append_*",
          "_staging_delete_*", "_writer_lock_break_*")
        .foreach { glob =>
          Option(fsw.globStatus(new HPath(s"$path/$glob")))
            .getOrElse(Array.empty).foreach(st => fsw.delete(st.getPath, true))
        }
      Seq("_current", "_deleted_ids", "_corpus_compact_tmp",
          "_corpus_compact_old")
        .foreach(d => fsw.delete(new HPath(s"$path/$d"), true))
      writeCorpus(assigned0, pq, writeSalts, s"$path/corpus", "overwrite",
        storedDim = rows.head._2.length)
      // centroids are written from the DRIVER-collected rows (k-bounded):
      // re-running the `cents` plan here would re-execute the whole k-means
      // pipeline — including the full-corpus training-sample scan — since
      // its internal caches release after the centroidRows collect; this
      // also guarantees the file matches the assignment's broadcast exactly
      val sess = emb.sparkSession
      import sess.implicits._
      rows.toDF("cell", "cv")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    }
  }

  /** The shared corpus-write tail of [[writeIvfIndex]] / [[appendIvfIndex]]:
    * optional PQ codes attached in the same narrow pass, then the salted
    * partitioned write. Rows whose vector length differs from the PQ
    * model's dim are OUTSIDE the codec's domain and are excluded from the
    * index — matching `Pq.encode`'s own domain filter, so the stored codes
    * are exactly what an encode of the stored vectors would produce (r13
    * ADVICE: `attachCodes` alone kept such rows with a NULL code in
    * cell=-1 — unreachable at serve time but divergent from the in-memory
    * ADC path an index-vs-encode comparison assumes). The UNcoded path
    * applies the same filter against the centroid dim (`storedDim`), so
    * no layout ever stores probe-unreachable rows. Excluded counts are
    * drop-audited (`graft_capped_ivf_pq_domain_*` on the coded path,
    * `graft_capped_ivf_dim_domain_*` on the uncoded one) — a corpus with
    * malformed vectors sheds them loudly, never silently. */
  private def writeCorpus(assigned0: DataFrame, pq: Option[Pq.PqModel],
      writeSalts: Int, corpusPath: String, mode: String,
      storedDim: Int): Unit = {
    val assigned = pq match {
      case Some(m) =>
        val audited = Dedup.auditDropped(assigned0,
          size(col("v")) =!= m.dim, "ivf_pq_domain")
        Pq.attachCodes(audited.filter(size(col("v")) === m.dim), "v", m)
      case None =>
        // the UNcoded path gets the SAME domain filter (r14 ADVICE): a
        // dim-drifted vector assigns to cell=-1 (the argmin skips a dim
        // mismatch) and would sit in the layout unreachable by every
        // probe — stored but silently invisible. Shed it loudly instead,
        // mirroring the PQ branch, so coded and uncoded layouts of the
        // same corpus carry identical row sets.
        Dedup.auditDropped(assigned0,
            size(col("v")) =!= storedDim, "ivf_dim_domain")
          .filter(size(col("v")) === storedDim)
    }
    assigned
      .select(Seq(col("id"), col("v"), col("cell")) ++
        (if (pq.isDefined) Seq(col("code")) else Nil): _*)
      .repartition(col("cell"), pmod(hash(col("id")), lit(writeSalts)))
      .write.mode(mode).partitionBy("cell").parquet(corpusPath)
  }

  /** Incrementally append a new embedding batch to a [[writeIvfIndex]]
    * layout — the dd7 shape for the serving index: assign the batch with
    * the STORED centroids (frozen — no re-train, so existing cell
    * directories stay valid and a serve over the union is exactly a serve
    * over a full rebuild with those centroids), attach codes with the
    * SAME frozen PQ model the build used, and append `(id, v[, code])`
    * under the existing `cell=` directories with the same salted-writer
    * discipline. Staleness guards run BEFORE any write: the layout must
    * exist (appending into nothing is a build, not an append), a PQ
    * model's dim must match the stored centroid dim (a drifted model
    * would silently re-code the append under a different geometry), and
    * the stored corpus must agree with `pq` on whether a `code` column
    * exists (an appended schema drift would poison every later scan).
    * Individual wrong-dim VECTORS degrade exactly as in the build: the
    * domain filter drops them with a drop audit on BOTH the coded and
    * uncoded paths (r14 ADVICE — the uncoded path used to store them in
    * the unreachable null cell, i.e. silently invisible to every probe).
    *
    * IDEMPOTENCE: without `batchId` the layout is append-only and keyed
    * by nothing — AT-LEAST-ONCE: re-running a batch that already
    * committed stores its ids TWICE, and the serve's top-k would then
    * carry the duplicate at two ranks; the caller owns batch idempotence
    * (the ss5 catalog entry's pattern: a marker file created after the
    * append, rebuild-from-scratch when it is missing). Passing
    * `batchId = Some(id)` moves that contract INTO the engine —
    * EXACTLY-ONCE per batch id, with no full-index anti-join:
    * (1) a committed-batch marker (`_append_batch_<id>`) short-circuits
    * a re-run to an O(1) no-op (checked FIRST — before the writer lock,
    * the centroid collect, and the corpus schema read, so a scheduler
    * replaying a committed day against a 100 TB layout pays one file
    * probe and never contends on the lock);
    * (2) the batch stages under a HIDDEN directory (`_`-prefixed —
    * invisible to every Spark reader of the layout) and publishes by
    * per-file rename into the live `cell=` directories under
    * deterministic `batch~<id>~` file names (`~` is OUTSIDE the batchId
    * alphabet, so one batch's prefix can never prefix-match another's —
    * `day1` vs `day1-extra` under a `-` delimiter would collide and the
    * recovery glob would delete the committed sibling's files);
    * (3) a re-run after a crash anywhere in the middle first deletes
    * every published `batch~<id>~*` file (a file LISTING over the cell
    * directories, never a data scan), so partial publishes can never
    * double-store. Readers see either none or all of a batch only once
    * the marker exists; mid-publish they may see a prefix — the same
    * transient any plain parquet append has, resolved by the marker
    * protocol. CONCURRENT duplicate submission is also exactly-once
    * (r15 ADVICE): appends serialize on the writer lock and re-probe
    * the marker under it, so the loser of two simultaneous submissions
    * of the same batch sees the winner's marker and no-ops.
    *
    * The caller also owns PQ-model identity across build and appends
    * (the frozen-checkpoint convention — [[graft.queries.FrozenModels]]);
    * the layout stores vectors + codes, not the codebooks. */
  def appendIvfIndex(emb: DataFrame, idCol: String, vecCol: String,
      path: String, pq: Option[Pq.PqModel] = None,
      writeSalts: Int = 8, batchId: Option[String] = None,
      staleLockMs: Long = Long.MaxValue): Unit = {
    val spark = emb.sparkSession
    requireIntegralId(emb, idCol, "appendIvfIndex")
    // Hadoop-FS existence probes, NOT java.io.File: the layout may live
    // on any filesystem Spark can write (hdfs://, s3a://, file:/ URIs) —
    // the 100 TB daily-increment case is exactly the non-local-disk one
    val fs = fsOf(spark, path)
    batchId.foreach { bid =>
      // leading underscore/dot would make the PUBLISHED file names hidden
      // to Spark's file index — the batch would commit invisibly
      require(bid.matches("[A-Za-z0-9][A-Za-z0-9._-]*"),
        s"appendIvfIndex: batchId '$bid' must match [A-Za-z0-9][A-Za-z0-9._-]*")
    }
    def committed: Boolean = batchId.exists(bid =>
      fs.exists(new HPath(s"$path/_append_batch_$bid")))
    // exactly-once FAST PATH as a plain if/else, not a non-local return
    // from inside a closure (r15 ADVICE: NonLocalReturnControl would be
    // silently swallowed by a future broad try/catch, turning the
    // committed-batch no-op into a re-publish)
    if (!committed) withWriterLock(fs, path, "appendIvfIndex", staleLockMs) {
      // re-probe under the lock: two CONCURRENT submissions of the same
      // batch serialize here and the loser sees the winner's marker
      if (!committed) {
        require(fs.exists(new HPath(s"$path/centroids")),
          s"appendIvfIndex: no index layout at $path — build with " +
            "writeIvfIndex first")
        // the LIVE generation — appending into a stale `corpus/` after a
        // compaction would publish rows every reader resolves past
        val corpusDir = resolveCorpusDir(fs, path)
        val rows = centroidRows(spark.read.parquet(s"$path/centroids"))
        val storedDim = rows.head._2.length
        require(rows.forall(_._2.length == storedDim),
          s"appendIvfIndex: stored centroids at $path have inconsistent dims")
        pq.foreach(m => require(m.dim == storedDim,
          s"appendIvfIndex: pq model dim ${m.dim} != stored centroid dim $storedDim"))
        // schema staleness: the stored corpus either carries codes or it
        // doesn't; the append must match or every later reader sees a
        // half-coded index (parquet schema merge would NULL-pad the gap)
        val storedHasCode = spark.read.parquet(corpusDir.toString)
          .schema.fieldNames.contains("code")
        require(storedHasCode == pq.isDefined,
          s"appendIvfIndex: stored corpus hasCode=$storedHasCode but " +
            s"pq=${pq.isDefined} — append with the build's own PQ setting")
        val assigned = assignCells(normalized(emb, idCol, vecCol),
          centroidBc(spark, rows))
        batchId match {
          case None =>
            writeCorpus(assigned, pq, writeSalts, corpusDir.toString,
              "append", storedDim)
          case Some(bid) =>
            val marker = new HPath(s"$path/_append_batch_$bid")
            // crash recovery: delete any files a previous partial publish
            // of THIS batch landed — deterministic `~`-delimited prefix
            // (no other batch id can prefix-match it), pure file listing
            Option(fs.globStatus(new HPath(
                s"$corpusDir/cell=*/batch~$bid~*")))
              .getOrElse(Array.empty)
              .foreach(st => fs.delete(st.getPath, false))
            val staging = s"$path/_staging_append_$bid"
            writeCorpus(assigned, pq, writeSalts, staging, "overwrite",
              storedDim)
            // publish: per-file rename into the live cell dirs under the
            // deterministic batch prefix (cheap on hdfs/file; a copy on
            // object stores — still files-count work, never a data scan)
            Option(fs.globStatus(new HPath(s"$staging/cell=*/part-*")))
              .getOrElse(Array.empty)
              .foreach { st =>
                val cellDir = st.getPath.getParent.getName // "cell=<c>"
                val dst = new HPath(
                  s"$corpusDir/$cellDir/batch~$bid~${st.getPath.getName}")
                fs.mkdirs(dst.getParent)
                require(fs.rename(st.getPath, dst),
                  s"appendIvfIndex: publish rename failed for ${st.getPath}")
              }
            fs.delete(new HPath(staging), true)
            fs.create(marker, true).close() // commit point
        }
      }
    }
  }

  /** Rewrite a [[writeIvfIndex]] layout's corpus back to ≤ `writeSalts`
    * files per cell — the small-files lifecycle completion for
    * [[appendIvfIndex]]: daily increments accumulate O(batches·salts)
    * files per cell and the serve's FILE LISTING (not the data) degrades
    * without bound — the classic lakehouse failure. Also MATERIALIZES
    * pending [[deleteFromIndex]] tombstones: tombstoned rows are
    * physically dropped from the rewrite and the applied tombstone files
    * cleared, so the masked state and the stored state converge (modulo
    * the snapshot, the rewrite is row-identical — serve-before ≡
    * serve-after, AnnSpec).
    *
    * ZERO-DOWNTIME generation swap (r15 verdict #3 — the old two-rename
    * swap left a window with no corpus at all, forcing a maintenance
    * stop): the rewrite lands in a HIDDEN sibling
    * (`_corpus_compact_tmp`), is published by ONE atomic rename as the
    * next generation `corpus_g<N>`, and readers cut over via the
    * `_current` pointer — a resolution at any instant lands on the old
    * or the new generation, never neither (see [[corpusPath]]). The
    * outgoing generation is retained through the cutover and GC'd only
    * down to `retainGenerations` predecessors (default 1: in-flight
    * readers that resolved before the swap keep a complete corpus for a
    * full compaction cycle; pass 0 to reclaim the space immediately on
    * single-reader analytics layouts). Crash anywhere is self-healing:
    * before the publish rename nothing changed; after it the orphaned
    * generation is either adopted by the pointer write or GC'd by the
    * next compact; a pre-generation layout crashed mid-two-rename-swap
    * (corpus intact under `_corpus_compact_old`) is restored with one
    * rename first.
    *
    * Batch markers (`_append_batch_*`, `_GRAFT_APPEND_DONE`) live beside
    * — not inside — the corpus and survive the swap, preserving the
    * idempotence protocol; conversely, compaction REFUSES a corpus
    * holding `batch~<id>~` files with no matching marker (a crashed,
    * uncommitted append): folding them into anonymous compacted files
    * would erase the deterministic prefix the batch's re-run cleans by,
    * and the re-run would then double-store — finish the append (re-run
    * it) before compacting. Holds the writer lock throughout: a
    * concurrent append publishing into the snapshotted generation would
    * silently lose its rows at the cutover. */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      writeSalts: Int = 8, retainGenerations: Int = 1,
      staleLockMs: Long = Long.MaxValue): Unit = {
    val fs = fsOf(spark, path)
    withWriterLock(fs, path, "compactIvfIndex", staleLockMs) {
      val legacy = new HPath(s"$path/corpus")
      val tmp = new HPath(s"$path/_corpus_compact_tmp")
      val old = new HPath(s"$path/_corpus_compact_old")
      // crash recovery FIRST (pre-generation protocol): a prior
      // two-rename compact that died between its renames left no corpus
      // at all but the intact original under old — one rename restores it
      if (generationDirs(fs, path).isEmpty && fs.exists(old))
        require(fs.rename(old, legacy),
          s"compactIvfIndex: crash-recovery restore failed at $path")
      val cur = resolveCorpusDir(fs, path)
      fs.delete(tmp, true); fs.delete(old, true) // stale partials
      // uncommitted-batch guard: batch files whose marker is missing
      // belong to a crashed append; compacting would anonymize them and
      // poison the batch's exactly-once re-run into a double-store
      Option(fs.globStatus(new HPath(s"$cur/cell=*/batch~*")))
        .getOrElse(Array.empty)
        .map(_.getPath.getName.split('~')(1)).distinct
        .foreach { bid =>
          require(fs.exists(new HPath(s"$path/_append_batch_$bid")),
            s"compactIvfIndex: corpus at $path holds files of UNCOMMITTED " +
              s"batch '$bid' (crashed append) — re-run " +
              s"appendIvfIndex(batchId = Some(\"$bid\")) to finish it " +
              "before compacting")
        }
      // tombstone SNAPSHOT: apply exactly the files listed now and delete
      // exactly those files after the cutover — a deleteFromIndex landing
      // mid-compact is untouched and applies at the NEXT compact, never
      // half-applied or lost
      val tombFiles = tombstoneFiles(fs, path)
      val tomb = tombstoneFrame(spark, tombFiles)
      val df0 = spark.read.parquet(cur.toString)
      val cols = Seq(col("id"), col("v")) ++
        (if (df0.schema.fieldNames.contains("code")) Seq(col("code")) else Nil) :+
        col("cell").cast("int").as("cell")
      antiTombstone(df0, tomb).select(cols: _*)
        .repartition(col("cell"), pmod(hash(col("id")), lit(writeSalts)))
        .write.mode("overwrite").partitionBy("cell").parquet(tmp.toString)
      // all-tombstoned guard (review finding): a rewrite with zero
      // surviving rows produces a directory with no parquet files at all
      // (partitionBy writes nothing for an empty frame) — publishing it
      // would brick every later read with an unreadable-schema error.
      // Refuse instead: the masked layout keeps serving (empty results),
      // and the operator's real intent is a rebuild or removal.
      if (Option(fs.globStatus(new HPath(s"$tmp/cell=*/part-*")))
          .getOrElse(Array.empty).isEmpty) {
        fs.delete(tmp, true)
        throw new IllegalArgumentException(
          s"compactIvfIndex: the pending tombstones cover EVERY stored row " +
            s"at $path — an empty corpus generation would be unreadable; " +
            "keep serving the masked layout, or rebuild (writeIvfIndex) / " +
            "remove the index instead of compacting")
      }
      // COMMIT: one atomic rename publishes the next generation (numbered
      // past every existing generation, including crash orphans)
      val next = new HPath(
        s"$path/corpus_g${generationDirs(fs, path).map(_._1).max + 1}")
      require(fs.rename(tmp, next),
        s"compactIvfIndex: generation publish failed at $path")
      // pointer cutover (one-file hint write): readers resolving before
      // this see `cur`, after it `next` — and inside the write's own
      // truncation window the max-generation fallback already names
      // `next`. A crash exactly here leaves the pointer at `cur` (still
      // on disk, still correct); the orphaned `next` is GC'd later.
      val out = fs.create(new HPath(s"$path/_current"), true)
      out.write(next.getName.getBytes("UTF-8")); out.close()
      // the snapshot's tombstones are now physically materialized
      tombFiles.foreach(f => fs.delete(f, false))
      // generation GC: keep the new current plus `retainGenerations`
      // predecessors (the outgoing generation first — it is what any
      // in-flight reader resolved); delete the rest, including orphans
      val keep = Set(next.getName) ++
        (if (retainGenerations >= 1) Set(cur.getName) else Set.empty) ++
        generationDirs(fs, path).map(_._2.getName)
          .filterNot(n => n == next.getName || n == cur.getName)
          .sortBy(n => -genNumber(n).getOrElse(-1))
          .take(math.max(0, retainGenerations - 1))
      generationDirs(fs, path).map(_._2)
        .filterNot(p => keep.contains(p.getName))
        .foreach(p => fs.delete(p, true))
    }
  }

  /** Serve top-k from a [[writeIvfIndex]] layout. The centroid read is
    * k-bounded (the quantizer IS small by construction); probe cells are
    * computed per query and their DISTINCT set — ≤ k values however many
    * queries the batch carries — becomes a STATIC `cell IN (...)`
    * partition filter, so the file index lists only the probed cells'
    * directories (asserted in PlanSpec, the pp1 witness). The probe side
    * broadcasts; the corpus scan flows into the join with no exchange,
    * and the rerank is the O(k)-state `priority_topk_tie` aggregate.
    * nProbe ≥ k degenerates to exact brute-force over the index (the
    * oracle regime).
    *
    * Reads the LIVE corpus ([[liveCorpus]]): the generation pointer is
    * resolved once at plan construction — a serve never straddles a
    * compaction cutover — and [[deleteFromIndex]] tombstones are
    * anti-joined out (a broadcast-sized id side against the already
    * cell-pruned scan; no join node at all on a delete-free layout). */
  def ivfIndexTopK(spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, idCol: String, vecCol: String,
      nProbe: Int, topK: Int): DataFrame = {
    requireIntegralId(queries, idCol, "ivfIndexTopK")
    val bc = centroidBc(spark,
      centroidRows(spark.read.parquet(s"$path/centroids")))
    val probed = normalized(queries, idCol, vecCol)
      .select(col("id").as("q_id"), col("v").as("qv"), col("vn").as("qvn"))
      .select(col("q_id"), col("qv"), explode(probeCells(bc, nProbe)).as("cell"))
      .persist()
    // bounded driver collect: distinct probe cells ⊆ the k cell ids —
    // never scales with the query batch, and buys STATIC pruning (the
    // file listing itself skips unprobed cell directories)
    val cells = probed.select("cell").distinct().collect().map(_.getInt(0))
    // the cell filter pushes through the tombstone anti-join's left side
    // to the scan, so static partition pruning is intact (PlanSpec)
    val out = rerankTopK(liveCorpus(spark, path)
      .filter(col("cell").isin(cells.map(Integer.valueOf).toSeq: _*))
      .join(broadcast(probed), Seq("cell")), topK)
    // released after the caller's action on `out`, not after the collect
    graft.Caches.releaseAfterConsumers(Seq(out), probed)
    out
  }
}
