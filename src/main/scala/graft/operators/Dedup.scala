package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.slf4j.LoggerFactory

/** Library surface for corpus deduplication — the same operators the
  * catalog queries expose (ScaleOpsQueries keeps the DuckDB-oracle-checked
  * wrappers; this API is what a pipeline author calls).
  *
  * All candidate-generation paths are shuffle-lean groupBy/bucket shapes
  * that survive a 100 TB corpus; exact verification (Jaccard, cosine)
  * runs only inside candidate blocks. Every bucket self-join is capped:
  * a degenerate hot bucket (empty docs, boilerplate shingles) would
  * otherwise put m² candidate pairs in one task — capped buckets are
  * dropped and counted to the log instead.
  */
object Dedup {

  private val log = LoggerFactory.getLogger(getClass)

  /** 60-bit engine-portable hash (md5-prefix, always positive). */
  def hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Modulus for the affine minhash families: 2^31−1 (Mersenne prime).
    * Keeping residues < 2^31 means `(h*a + b)` stays < 2^63 — no overflow
    * in either engine's BIGINT arithmetic. */
  val MinhashP: Long = 2147483647L

  /** Deterministic affine coefficients (aᵢ, bᵢ) for the K minhash
    * families: hᵢ = ((h₀ mod p)·aᵢ + bᵢ) mod p. Knuth multiplicative
    * constants keep families independent; aᵢ is never 0 mod p. */
  def minhashCoeffs(k: Int): Seq[(Long, Long)] =
    (0 until k).map { i =>
      val a0 = (2654435761L * (i + 1)) % MinhashP
      val a = if (a0 == 0L) 1L else a0
      val b = (40503L * (2 * i + 1) + 17) % MinhashP
      (a, b)
    }

  /** Exact dedup: one row per distinct text with the keeper id (min) and
    * multiplicity. */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("n_copies"))

  /** Spread rows across cores before per-row lambda-heavy expressions:
    * higher-order functions (transform/filter lambdas) evaluate outside
    * whole-stage codegen, and a single-row-group parquet file gives the
    * scan ONE partition — without this the shingle work runs on one core.
    * CONDITIONAL: a 100 TB scan already has thousands of partitions; the
    * round-robin shuffle only fires when the input is narrower than the
    * cluster (the small-file case it exists for). */
  private[graft] def spread(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val par = spark.sparkContext.defaultParallelism
    // width probe from the optimized plan's SIZE statistics, not
    // df.rdd.getNumPartitions: materializing the RDD lineage forced a
    // second physical planning of the input subtree at plan-construction
    // time for every shingle caller (r10 verdict #3 — a hidden plan-time
    // tax on every composed corpus pipeline; stats run only the
    // analyzer/optimizer, which the plan pays anyway). Spark's file scan
    // packs splits into ~maxPartitionBytes bins, so estimated scan
    // partitions ≈ ceil(bytes / maxPartitionBytes) in BOTH directions a
    // file count gets wrong: one huge file splits wide (skip the spread),
    // many tiny files coalesce narrow (spread even though files ≥ cores).
    // Unknown/huge stats (Long.Max sentinels) skip the spread; tiny
    // in-memory test frames estimate ~1 partition and spread — the
    // small-input case this exists for.
    val est = try {
      val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
      val maxPart = spark.sessionState.conf.filesMaxPartitionBytes
      if (bytes <= 0 || !bytes.isValidLong) Long.MaxValue
      else (bytes.toLong + maxPart - 1) / maxPart
    } catch { case _: Throwable => Long.MaxValue }
    if (est >= par) df else df.repartition(par)
  }

  /** Exploded `(extra..., sh)` shingle rows with the tokenization
    * projected ONCE below the explode — THE shape every shingle-explode
    * in the engine must use (plan-pinned in PlanSpec): a Project survives
    * under Generate, so the regex split runs once per row inside codegen
    * and the generator's transform sees a plain array attribute. Inlined
    * into the generator instead, the interpreted lambda re-evaluates
    * `split(lower(trim(text)))` for EVERY element_at of every emitted
    * shingle — O(tokens²) regex splits per document (found by the r10
    * plan audit; fixing it cut ct1 35% / bf1 51% warm at sf0.1). */
  private[graft] def shingleExplode(docs: DataFrame,
      extra: Seq[(String, Column)], textCol: String, n: Int): DataFrame =
    spread(docs)
      .select(extra.map { case (nm, c) => c.as(nm) } :+
        TextFunctions.tokens(col(textCol)).as("__toks"): _*)
      .select(extra.map { case (nm, _) => col(nm) } :+
        explode(TextFunctions.shingles(col("__toks"), n)).as("sh"): _*)

  /** Distinct (id, n-shingle) rows — the unit of MinHash and Jaccard. */
  def shingleRows(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    shingleExplode(docs, Seq("doc_id" -> col(idCol)), textCol, n)
      .distinct()

  /** MinHash signatures straight from documents — min over the raw
    * shingle MULTISET, which equals min over the shingle SET, so the
    * values are identical to `minhashSignatures(shingleRows(...))` while
    * skipping the `.distinct()` exchange entirely: the only shuffle left
    * is the groupBy(min), whose partial aggregation collapses map-side to
    * ONE row per (doc, K mins) — fact-sized gram streams never cross the
    * wire. Use this whenever the shingle frame is not ALSO needed as a
    * set (Jaccard intersections need `shingleRows`' distinct). */
  def minhashSignaturesOf(docs: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int): DataFrame =
    minhashSignatures(
      shingleExplode(docs, Seq("doc_id" -> col(idCol)), textCol, n), k)

  /** MinHash signatures: K min-hashes over the shingle rows, one row per
    * doc. Each shingle is md5-hashed ONCE (`hash60`); the K families are
    * derived arithmetically (affine mod-p over the base hash), so hashing
    * cost is 1/K of the naive per-family-md5 scheme. Accepts distinct OR
    * raw shingle rows — min is multiset-invariant. */
  def minhashSignatures(shingles: DataFrame, k: Int): DataFrame = {
    val base = shingles.withColumn("hs", hash60(col("sh")) % MinhashP)
    val fams = minhashCoeffs(k).zipWithIndex.map { case ((a, b), i) =>
      min((col("hs") * a + b) % MinhashP).as(s"h$i")
    }
    base.groupBy("doc_id").agg(fams.head, fams.tail: _*)
  }

  /** Drop rows whose bucket (partition of `keys`) holds more than
    * `maxBucket` rows. Counting is a per-bucket window (O(m) per bucket,
    * never m²). The audit is LAZY: an `observe` metric counts the dropped
    * rows during the caller's own action (no extra Spark job at
    * plan-construction time) and a once-per-session listener logs it. */
  /** Observe-based drop audit for a caller about to FILTER OUT rows
    * matching `droppedCond`: attach this on the pre-filter frame and the
    * [[DropAudit]] listener logs the excluded count when the query runs —
    * the same lazy, zero-extra-job mechanism as [[capBuckets]]'s audit
    * (no silent drops: the repo-wide discipline). */
  private[graft] def auditDropped(df: DataFrame, droppedCond: Column,
      what: String): DataFrame = {
    DropAudit.ensure(df.sparkSession)
    df.observe(s"graft_capped_${what}_${auditSeq.getAndIncrement()}",
      sum(when(droppedCond, 1L).otherwise(0L)).as("dropped_rows"))
  }

  private[graft] def capBuckets(df: DataFrame, keys: Seq[Column], maxBucket: Int,
      what: String): DataFrame = {
    if (maxBucket == Int.MaxValue) df
    else {
      DropAudit.ensure(df.sparkSession)
      // observation names must be unique within a query — a composed plan
      // with two capped ops would otherwise fail analysis
      val name = s"graft_capped_${what}_${auditSeq.getAndIncrement()}"
      df.withColumn("bsz", count(lit(1)).over(Window.partitionBy(keys: _*)))
        .observe(name,
          sum(when(col("bsz") > maxBucket, 1L).otherwise(0L)).as("dropped_rows"))
        .filter(col("bsz") <= maxBucket)
        .drop("bsz")
    }
  }

  private val auditSeq = new java.util.concurrent.atomic.AtomicLong()

  /** Logs `graft_capped_*` observations when queries finish — the lazy
    * side of the bucket-cap audit. Registered at most once per session. */
  private object DropAudit {
    private val seen = java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[org.apache.spark.sql.SparkSession, java.lang.Boolean]())
    def ensure(spark: org.apache.spark.sql.SparkSession): Unit = seen.synchronized {
      if (seen.add(spark)) {
        spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
          override def onSuccess(fn: String,
              qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
            qe.observedMetrics.foreach { case (name, row) =>
              if (name.startsWith("graft_capped_")) {
                val dropped = row.getAs[Long]("dropped_rows")
                if (dropped > 0)
                  log.warn(s"$name: dropped $dropped row(s) " +
                    "(hot-bucket cap or domain filter — see the audit name)")
              }
            }
          override def onFailure(fn: String,
              qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
        })
      }
    }
  }

  /** LSH banding: candidate pairs = docs sharing any band bucket.
    * @param bandsOf rows per band (k % bandsOf must be 0)
    * @param maxBucket buckets larger than this are dropped (and counted to
    *   the log) before the self-join — a degenerate bucket would otherwise
    *   generate m² pairs in a single task */
  /** (band, bkey) rows from a signature frame — shared by the symmetric
    * and bipartite candidate joins. */
  private[graft] def bandRows(sigs: DataFrame, k: Int, bandsOf: Int): DataFrame =
    (0 until k / bandsOf).map { b =>
      val cols = (0 until bandsOf).map(j => col(s"h${b * bandsOf + j}"))
      sigs.select(col("doc_id"), lit(b).as("band"),
        md5(concat_ws("_", cols: _*)).as("bkey"))
    }.reduce(_ unionByName _)

  def minhashCandidates(signatures: DataFrame, k: Int, bandsOf: Int,
      maxBucket: Int = 1000): DataFrame = {
    require(k % bandsOf == 0, "k must divide into bands")
    val sigs = signatures.persist()
    val bands = bandRows(sigs, k, bandsOf).persist()
    graft.Caches.releaseAfterAction(sigs, bands)
    val capped = capBuckets(bands, Seq(col("band"), col("bkey")), maxBucket,
      "minhashCandidates")
    capped.as("x").join(capped.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
  }

  /** Signature-based Jaccard ESTIMATE for candidate pairs: the fraction
    * of the K minhash components two documents agree on is an unbiased
    * estimator of their shingle-set Jaccard (the classic MinHash
    * property, Broder 1997) with granularity 1/K. This is the 100 TB
    * shortcut: the signatures are ALREADY in hand from candidate
    * generation, so scoring a pair costs K integer comparisons on
    * doc-sized frames — no second shingle explode, no shingle-keyed
    * shuffle — where the exact verify ([[jaccardPairs]]) re-joins the
    * corpus-sized shingle stream. Production flow: estimate everything,
    * exact-verify only the band near the decision threshold (±2/K).
    *
    * @param signatures `(doc_id, h0..h{k-1})` from [[minhashSignatures]]
    * @param pairs `(doc_a, doc_b)` candidate pairs (any generator)
    * @return pairs plus `est_jaccard` (matching fraction, 6 dp) */
  def minhashJaccardEstimate(signatures: DataFrame, pairs: DataFrame,
      k: Int): DataFrame = {
    val a = signatures.select(col("doc_id").as("doc_a") +:
      (0 until k).map(i => col(s"h$i").as(s"a$i")): _*)
    val b = signatures.select(col("doc_id").as("doc_b") +:
      (0 until k).map(i => col(s"h$i").as(s"b$i")): _*)
    val matches = (0 until k)
      .map(i => when(col(s"a$i") === col(s"b$i"), 1).otherwise(0))
      .reduce(_ + _)
    pairs.join(a, "doc_a").join(b, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(matches.cast("double") / k, 6).as("est_jaccard"))
  }

  /** Bipartite (incremental) LSH candidates: NEW docs sharing any band
    * bucket with a REFERENCE doc. This is the daily-increment shape of
    * dedup at 100 TB — the new batch never self-pairs, the reference
    * corpus never self-pairs, so cost is |new bands| × ref-bucket
    * occupancy instead of |corpus|². The cap applies to the REFERENCE
    * side only (a hot reference bucket is what blows up the join); the
    * drop is counted to the audit log like every other cap. Returns
    * distinct (doc_id, ref_id). */
  def minhashCandidatesAgainst(newSigs: DataFrame, refSigs: DataFrame,
      k: Int, bandsOf: Int, maxBucket: Int = 1000): DataFrame = {
    require(k % bandsOf == 0, "k must divide into bands")
    val nb = bandRows(newSigs, k, bandsOf)
    val rb = capBuckets(bandRows(refSigs, k, bandsOf),
      Seq(col("band"), col("bkey")), maxBucket, "minhashAgainst")
    nb.as("x").join(rb.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey"))
      .select(col("x.doc_id").as("doc_id"), col("y.doc_id").as("ref_id"))
      .distinct()
  }

  /** SimHash over token multisets, `bits` ≤ 60. */
  def simhash(docs: DataFrame, idCol: String, textCol: String, bits: Int): DataFrame = {
    val tok = spread(docs).select(col(idCol).as("doc_id"),
        explode(TextFunctions.tokens(col(textCol))).as("t"))
      .withColumn("h", hash60(col("t")))
    val votes = (0 until bits).map(b =>
      sum(when(shiftright(col("h"), b) % 2 === 1, 1).otherwise(-1)).as(s"v$b"))
    tok.groupBy("doc_id")
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        (0 until bits)
          .map(b => when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  /** SimHash near-duplicate pairs: band the signature into byte blocks
    * (pigeonhole: any pair within `maxHamming < nBands` bits must agree on
    * at least one band), bucket-join candidates, verify with the exact
    * Hamming distance. Same candidate-then-verify shape as MinHash LSH;
    * buckets over `maxBucket` rows are dropped + logged. */
  def simhashNearPairs(simhashes: DataFrame, bits: Int, bandBits: Int,
      maxHamming: Int, maxBucket: Int = 1000): DataFrame = {
    require(bits % bandBits == 0,
      s"simhashNearPairs: bits ($bits) must divide into $bandBits-bit bands" +
        " — a remainder would leave unbanded bits and silently drop pairs")
    require(maxHamming < bits / bandBits,
      s"simhashNearPairs: maxHamming ($maxHamming) must be < nBands" +
        s" (${bits / bandBits}) for the pigeonhole guarantee")
    val sigs = simhashes.persist()
    val nBands = bits / bandBits
    val bands = (0 until nBands).map { b =>
      sigs.select(col("doc_id"), lit(b).as("band"),
        shiftright(col("simhash"), b * bandBits)
          .bitwiseAND(lit((1L << bandBits) - 1)).as("bkey"),
        col("simhash"))
    }.reduce(_ unionByName _).persist()
    graft.Caches.releaseAfterAction(sigs, bands)
    val capped = capBuckets(bands, Seq(col("band"), col("bkey")), maxBucket,
      "simhashNearPairs")
    capped.as("x").join(capped.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Train→test contamination check — the benchmark-leakage scan every
    * training corpus needs before evaluation: which held-out (test)
    * documents share verbatim word n-grams with the training split?
    *
    * Shape at 100 TB: distinct (doc, shingle) rows; the train side
    * collapses to a DISTINCT shingle dictionary (one hash agg); the test
    * side semi-joins against it (`n_shared` = matching shingles per test
    * doc). No doc×doc pair space at all — cost is linear in shingle
    * volume. Shingles present in more than `maxShingleTrainDocs` train
    * docs (boilerplate) are dropped from the dictionary + logged, the
    * same hot-bucket cap as the dedup paths.
    *
    * @param trainFlag boolean column on `docs` marking the training split
    * @return one row per CONTAMINATED test doc:
    *         `(doc_id, n_sh, n_shared, contamination)` where `n_sh` is the
    *         doc's distinct-shingle count and contamination = n_shared/n_sh
    */
  def contamination(docs: DataFrame, idCol: String, textCol: String,
      trainFlag: Column, n: Int, maxShingleTrainDocs: Int = 1000): DataFrame = {
    // Deliberately NOTHING fact-sized is persisted (the bf1 design): only
    // the capped train-shingle DICTIONARY is cached; the test-side
    // shingle stream is recomputed per consumer — a narrow re-scan, vs a
    // corpus-sized cache that a 100 TB run cannot hold
    val pairs = shingleExplode(docs,
      Seq("doc_id" -> col(idCol), "is_train" -> trainFlag), textCol, n)
    DropAudit.ensure(docs.sparkSession)
    val trainSh = pairs.filter(col("is_train")).select("doc_id", "sh").distinct()
      .groupBy("sh").agg(count(lit(1)).as("__ndocs"))
      .observe(s"graft_capped_contamination_${auditSeq.getAndIncrement()}",
        sum(when(col("__ndocs") > maxShingleTrainDocs, 1L).otherwise(0L))
          .as("dropped_rows"))
      .filter(col("__ndocs") <= maxShingleTrainDocs)
      .select("sh")
      .persist()
    graft.Caches.releaseAfterAction(trainSh)
    // ONE pass over the test side: distinct (doc, sh) — the same
    // partial-dedup shuffle a count_distinct pays internally, paid once
    // instead of once per aggregate — then totals AND hits off a single
    // dictionary left join (count of non-null marks = shared shingles).
    // doc_id IS NOT NULL mirrors contaminationBloom's explicit filter so
    // the two paths' 'output IDENTICAL' contract holds for NULL-id rows
    // too (ADVICE r10: the dictionary join here is on sh, not doc_id, so
    // a NULL-id test doc with shared shingles WOULD otherwise emit a row
    // that the Bloom path drops)
    pairs.filter(!col("is_train"))
      .filter(col("doc_id").isNotNull)
      .select("doc_id", "sh").distinct()
      .join(trainSh.withColumn("__hit", lit(1)), Seq("sh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sh"), count(col("__hit")).as("n_shared"))
      .filter(col("n_shared") > 0)
      .withColumn("contamination", round(col("n_shared") / col("n_sh"), 6))
      .select("doc_id", "n_sh", "n_shared", "contamination")
  }

  /** Exact n-gram Jaccard inside a blocking key: pairs with
    * similarity ≥ threshold. `blockCol` bounds the pair space (a source
    * bucket, an LSH band, an IVF cell...). The shingle join key is the
    * raw n-gram string — Spark murmur-hashes join keys for the shuffle
    * anyway, so a per-shingle md5 would be pure CPU overhead. Shingles
    * appearing in more than `maxShingleDocs` docs of a block are dropped
    * (and logged) BEFORE both the intersection join and the size counts:
    * a boilerplate shingle would otherwise put m² join rows in one task,
    * and counting sizes from the same capped set keeps the reported value
    * a true Jaccard over the retained shingle sets (an asymmetric cap —
    * dropped from |A∩B| but not |A∪B| — would systematically underestimate
    * hot-shingle docs).
    *
    * Scale shape: sizes ride the join rows as a window count (one extra
    * doc_id shuffle of the shingle frame, bounded by per-doc shingle
    * count), which removes the two post-aggregation size joins; and a
    * length-ratio prune inside the join condition drops pairs whose
    * min/max size ratio already caps Jaccard below the threshold — exact
    * (jaccard ≤ min/max always; the 1e-6 guard band covers the round-to-6
    * boundary), so it never changes the output, only the pair space the
    * aggregation sees. */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      blockCol: String, n: Int, threshold: Double,
      maxShingleDocs: Int = Int.MaxValue): DataFrame = {
    val sh = shingleExplode(docs,
        Seq("doc_id" -> col(idCol), "blk" -> col(blockCol)), textCol, n)
      .distinct()
      .persist()
    graft.Caches.releaseAfterAction(sh)
    val sized = capBuckets(sh, Seq(col("blk"), col("sh")), maxShingleDocs,
        "jaccardPairs")
      .withColumn("nsh", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
    sized.as("x").join(sized.as("y"),
        col("x.blk") === col("y.blk") && col("x.sh") === col("y.sh") &&
          col("x.doc_id") < col("y.doc_id") &&
          least(col("x.nsh"), col("y.nsh")) >=
            lit(threshold - 1e-6) * greatest(col("x.nsh"), col("y.nsh")))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_inter"),
        max(col("x.nsh")).as("na"), max(col("y.nsh")).as("nb"))
      .withColumn("jaccard",
        round(col("n_inter") / (col("na") + col("nb") - col("n_inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "na", "nb", "n_inter", "jaccard")
  }

  /** Serialized Bloom sketch of a string column — the build side of the
    * `bloom_might_contain` broadcast prefilter. One treeAggregate over
    * the dictionary (the ONLY RDD use in the dedup family — a sketch
    * merge is genuine per-partition imperative state, the same shape as
    * Pca's covariance pass). `expectedItems` sizes the filter; an
    * underestimate only degrades the false-positive rate, never
    * correctness, because callers keep the exact verify join behind the
    * probe. ~1.2 MB per million items at fpp=0.03. */
  def bloomOf(items: DataFrame, colName: String,
      expectedItems: Long, fpp: Double): Array[Byte] = {
    import org.apache.spark.util.sketch.BloomFilter
    val bloom = items.select(col(colName)).na.drop()
      .selectExpr(s"CAST($colName AS STRING) AS v")
      .rdd.map(_.getString(0))
      .treeAggregate(BloomFilter.create(expectedItems, fpp))(
        (f, s) => { f.putString(s); f },
        (a, b) => { a.mergeInPlace(b); a })
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    bos.toByteArray
  }

  /** `contamination` re-planned for the 100 TB asymmetry: the train-side
    * shingle dictionary is typically orders of magnitude smaller than the
    * test/held-out side's shingle stream, so instead of shuffling EVERY
    * test shingle into the dictionary join, a Bloom sketch of the (capped)
    * dictionary prunes the join input to probe-passing shingles (true
    * hits + fpp·|clean|). Output and semantics are IDENTICAL to
    * `contamination` — false positives are removed exactly, see below.
    *
    * Plan shape — ONE pass over the test corpus. The tokenize + shingle +
    * explode (the dominant CPU cost at scale) and the full-stream shuffle
    * happen exactly once, in a shared `(doc_id, sh)` aggregate whose
    * exchange both consumers reuse:
    *
    *  - `byPair` groups the exploded test stream by `(doc_id, sh)` and
    *    carries the Bloom verdict as an AGGREGATE output
    *    (`max(probe) AS cand`). That placement is load-bearing twice
    *    over: a filter on an aggregate OUTPUT cannot be pushed below the
    *    aggregation (so the candidate branch keeps the same exchange
    *    subtree as the totals branch instead of diverging into its own
    *    pushed-down scan), and both consumers referencing `cand` keeps
    *    column pruning from rewriting one side's aggregate. Net effect:
    *    Catalyst plans the second consumer as a ReusedExchange over the
    *    first's shuffle files — one scan, one explode, one wide shuffle.
    *    (When the sketch yields ZERO false positives — the usual case
    *    for an amply-sized filter — AQE's empty-relation propagation
    *    deletes the n_fp join from the final plan outright, strictly
    *    better. PlanSpec pins both outcomes: the catalog-sized run must
    *    show one scan + one Generate and either the reuse or the
    *    empty-propagated join; a saturated-sketch run pins the
    *    ReusedExchange itself.)
    *  - `perDoc` counts per-doc distinct shingles (`n_sh`) and distinct
    *    CANDIDATE shingles (`n_cand`) in one hash aggregate.
    *  - the false-positive sliver is counted exactly with an ANTI join of
    *    the candidates against the dictionary — only probe-passers
    *    (true hits + fpp·|clean|) ever shuffle on `sh`. Since a Bloom
    *    filter has no false negatives, every dictionary shingle passes
    *    the probe, so `n_shared = n_cand − n_false_positive` is the exact
    *    per-doc count of dictionary shingles.
    *
    * Deliberately NOTHING fact-sized is persisted — the shared shuffle
    * files ARE the reuse mechanism (disk-backed, partition-granular),
    * which is the only cache shape that survives a 100 TB run. Only the
    * dictionary (bounded by the train corpus vocabulary, further capped)
    * is cached, for the sketch build + verify join.
    *
    * The sketch itself rides a `sparkContext.broadcast` handle
    * ([[graft.expressions.BloomMightContainBc]]), NOT a plan literal: a
    * production-sized dictionary sketch (10⁹ keys @ 1% fpp ≈ 1.2 GB)
    * embedded as a literal would serialize into every task binary of
    * every stage referencing it; the broadcast ships it once per executor
    * and the plan carries only the handle (plan-asserted: no binary
    * literal above 1 KB survives in the executed plan). */
  def contaminationBloom(docs: DataFrame, idCol: String, textCol: String,
      trainFlag: Column, n: Int, maxShingleTrainDocs: Int = 1000,
      expectedItems: Long = 0L, fpp: Double = 0.03): DataFrame = {
    val spark = docs.sparkSession
    val pairs = shingleExplode(docs,
      Seq("doc_id" -> col(idCol), "is_train" -> trainFlag), textCol, n)
    DropAudit.ensure(spark)
    val trainSh = pairs.filter(col("is_train")).select("doc_id", "sh").distinct()
      .groupBy("sh").agg(count(lit(1)).as("__ndocs"))
      // same cap AUDIT as the exact contamination path: boilerplate
      // shingles leave the dictionary counted, never silently
      .observe(s"graft_capped_contamination_bloom_${auditSeq.getAndIncrement()}",
        sum(when(col("__ndocs") > maxShingleTrainDocs, 1L).otherwise(0L))
          .as("dropped_rows"))
      .filter(col("__ndocs") <= maxShingleTrainDocs)
      .select("sh")
      .persist()
    // Size the sketch from the REAL dictionary cardinality (expectedItems
    // <= 0 = auto): an oversized filter costs build allocation, task
    // serialization, and probe cache locality for nothing. The count is
    // an RDD job on the persisted frame — it materializes the cache the
    // treeAggregate reads next. Cost of auto vs an explicit size: exactly
    // that one extra job over the CACHED dictionary (dictionary-sized,
    // never corpus-sized) — measured at sf0.1 local[32] the A/B delta
    // sits inside the run-noise band (BASELINE.md:183: +5.1 s cold boot
    // round, −1.2 s warm round), so auto-sizing is safe to default to;
    // callers who know the magnitude should still pass it to skip the
    // job.
    val sized =
      if (expectedItems > 0) expectedItems
      else math.max(trainSh.rdd.count(), 1L << 10)
    val bytes = bloomOf(trainSh, "sh", sized, fpp)
    log.info(s"contaminationBloom: sketch of ${bytes.length} bytes " +
      s"(expectedItems=$sized, fpp=$fpp)")
    // Release registration AFTER the construction-time sketch jobs: the
    // Dataset→RDD conversions above run SQL-tracked executions, so a
    // listener registered before them would release the dictionary cache
    // during CONSTRUCTION — the verify anti join below would then replan
    // the whole dictionary build inline (a second train-side corpus scan)
    // instead of reading the cache. Registered here, the one-shot release
    // fires on the CALLER's consuming action, as intended.
    graft.Caches.releaseAfterAction(trainSh)
    val bc = spark.sparkContext.broadcast(bytes)
    val probe = graft.expressions.BloomMightContain.probe(bc, col("sh"))
    // doc_id IS NOT NULL is explicit, not inferred — and MIRRORED in
    // `contamination` so the two paths stay output-identical on NULL-id
    // rows (ADVICE r10). It is also load-bearing for the plan: the
    // perDoc⟕falsePos join infers isnotnull(doc_id) on the falsePos
    // branch only, and an INFERRED filter pushed into one branch's scan
    // would make the two exchange subtrees canonicalize differently,
    // defeating the ReuseExchange this whole shape exists for. With the
    // filter in the SHARED subtree both branches stay bit-identical
    // below the exchange.
    val byPair = pairs.filter(!col("is_train"))
      .filter(col("doc_id").isNotNull)
      .select(col("doc_id"), col("sh"))
      .groupBy(col("doc_id"), col("sh"))
      .agg(max(probe).as("cand"))
    val perDoc = byPair.groupBy("doc_id")
      .agg(count(lit(1)).as("n_sh"),
        sum(when(col("cand"), 1L).otherwise(0L)).as("n_cand"))
    val falsePos = byPair.filter(col("cand"))
      .join(trainSh, Seq("sh"), "left_anti")
      .groupBy("doc_id").agg(count(lit(1)).as("n_fp"))
    perDoc.join(falsePos, Seq("doc_id"), "left")
      .withColumn("n_shared", col("n_cand") - coalesce(col("n_fp"), lit(0L)))
      .filter(col("n_shared") > 0)
      .withColumn("contamination", round(col("n_shared") / col("n_sh"), 6))
      .select("doc_id", "n_sh", "n_shared", "contamination")
  }

  /** Cross-document duplicated-SPAN coverage — the distributed stand-in
    * for the suffix-array exact-substring pass of "Deduplicating Training
    * Data Makes Language Models Better" (Lee et al. 2022): an n-gram
    * occurring in ≥ 2 distinct documents marks its n-token window as
    * duplicated text; per document we report how many tokens fall under
    * any duplicated window (overlapping windows interval-merged, so a
    * token is counted once).
    *
    * Scale shape: the gram dictionary is one partial+final aggregation
    * (count-distinct docs per gram — no pair space, unlike the shingle
    * joins above, so it needs no bucket cap); flagging occurrences is a
    * semi join on the gram; the interval merge is a window PARTITIONED BY
    * document — state bounded by one document's length, never the corpus.
    * Three shuffles total, each O(|gram occurrences|): the same plan at
    * 100 TB, with no driver state and no collect.
    */
  def duplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val toked = spread(docs).select(col(idCol).as("doc_id"),
        TextFunctions.tokens(col(textCol)).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tok"),
        col("toks"))
    val occ = toked.select(col("doc_id"), col("n_tok"),
        posexplode(TextFunctions.shingles(col("toks"), n)).as(Seq("pos", "gram")))
      .persist()
    graft.Caches.releaseAfterAction(occ)
    val dict = occ.groupBy("gram")
      .agg(count_distinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select("gram")
    // interval-merge: covered-anew = span end minus max(previous ends)+1,
    // clamped — the gaps-and-islands shape, exact under overlaps
    val wPrev = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    val perDoc = occ.join(dict, Seq("gram"), "leftsemi")
      .withColumn("e", least(col("pos") + (n - 1), col("n_tok") - 1))
      .withColumn("prev_end", max(col("e")).over(wPrev))
      .withColumn("cov", greatest(lit(0L),
        col("e") - greatest(col("pos"),
          coalesce(col("prev_end") + 1, col("pos"))) + 1))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_dup_grams"), sum("cov").as("n_cov_tokens"))
    toked.select(col("doc_id"), col("n_tok"),
        greatest(lit(0L), col("n_tok") - (n - 1)).as("n_grams"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tok"), col("n_grams"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"),
        coalesce(col("n_cov_tokens"), lit(0L)).as("n_cov_tokens"),
        round(coalesce(col("n_cov_tokens"), lit(0L)) / col("n_tok"), 6)
          .as("dup_frac"))
  }

  /** MAXIMAL duplicated spans per document — the Lee et al. 2022 output
    * shape ("Deduplicating Training Data Makes Language Models Better"):
    * instead of [[duplicatedSpans]]' per-doc coverage COUNT, one row per
    * maximal run of duplicated text, `(doc_id, span_start, span_len,
    * n_grams_in_span)`. A span is the interval union of overlapping or
    * token-adjacent n-token windows whose gram occurs in ≥ 2 documents;
    * maximality is by construction (a new island starts exactly where the
    * running max end leaves a gap ≥ 2 tokens — gaps-and-islands).
    *
    * Scale shape: identical to [[duplicatedSpans]] — gram dictionary is
    * one partial+final agg (no pair space, no bucket cap needed), the
    * island windows are PARTITIONED BY document (state bounded by one
    * doc's length), and the span rows come from one more keyed hash agg.
    * Fully SQL-expressible, so the catalog query carries a DuckDB hash
    * oracle (`ng2_dup_span_list`).
    *
    * `keepFirst = true` gives the FAITHFUL Lee-et-al semantics: the
    * gram's occurrence in its lowest-id document is the kept exemplar —
    * only occurrences in OTHER documents are flagged as duplicated, so
    * one copy of every repeated passage survives a downstream trim. The
    * keeper election is the same one-agg min-id rule as [[exact]]. */
  def duplicatedSpanList(docs: DataFrame, idCol: String, textCol: String,
      n: Int, keepFirst: Boolean = false): DataFrame = {
    val toked = spread(docs).select(col(idCol).as("doc_id"),
        TextFunctions.tokens(col(textCol)).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tok"),
        col("toks"))
    val occ = toked.select(col("doc_id"), col("n_tok"),
        posexplode(TextFunctions.shingles(col("toks"), n)).as(Seq("pos", "gram")))
      .persist()
    graft.Caches.releaseAfterAction(occ)
    val dict = occ.groupBy("gram")
      .agg(count_distinct(col("doc_id")).as("nd"),
        min(col("doc_id")).as("keeper"))
      .filter(col("nd") >= 2)
      .select("gram", "keeper")
    val wPrev = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val flagged0 = occ.join(dict, Seq("gram"))
    val flagged =
      if (keepFirst) flagged0.filter(col("doc_id") =!= col("keeper"))
      else flagged0
    flagged.drop("keeper")
      .withColumn("e", least(col("pos") + (n - 1), col("n_tok") - 1))
      .withColumn("prev_end", max(col("e")).over(wPrev))
      // a window starts a NEW maximal span iff it neither overlaps nor
      // touches everything before it (pos > running-max-end + 1)
      .withColumn("new_span",
        when(col("prev_end").isNull || col("pos") > col("prev_end") + 1, 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("new_span")).over(wRun))
      .groupBy("doc_id", "island")
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("e")) - min(col("pos")) + 1).cast("long").as("span_len"),
        count(lit(1)).as("n_grams_in_span"))
      .select(col("doc_id"), col("span_start"), col("span_len"),
        col("n_grams_in_span"))
  }

  /** MAXIMAL cross-document exact matches via rolling-gram CHAIN
    * EXTENSION — the true Lee et al. 2022 match semantics, upgrading
    * [[duplicatedSpanList]]'s shingle stand-in (its one documented
    * semantic gap): the stand-in merges token-ADJACENT duplicated
    * windows even when their support comes from different partner
    * documents, reporting a "span" that is contiguous nowhere else in
    * the corpus. Here a span is built only from MAXIMAL PAIRWISE exact
    * matches: occurrences of the same n-gram in two documents are
    * grouped by (docA, docB, diagonal = posA − posB), and consecutive
    * positions on one diagonal chain into a single run — a run
    * [p0, p1] is an exact match of length p1 − p0 + n between the two
    * documents, and it is maximal because grams are compared as exact
    * token strings (no hash collisions), so a non-member position
    * adjacent to the run means the underlying tokens genuinely differ.
    * Per document, match intervals from all partners are then
    * interval-merged — but only where they INTERSECT (touching spans
    * with different partners stay separate rows, unlike the stand-in's
    * adjacency merge).
    *
    * Scale shape: the gram dictionary is one partial+final agg; the
    * pair space is bounded by `maxOccPerGram` — a gram occurring more
    * than that many times corpus-wide is dropped from matching entirely
    * (deterministically, mirrored by the oracle; the drop count is
    * surfaced through the lazy `graft_capped_*` observe/log audit, the
    * capBuckets convention), so the per-gram occurrence list the pair
    * build collects holds ≤ cap structs (≤ cap²/2 ordered pairs per
    * gram, emitted through nested explodes — one hash agg, no
    * self-join since r17) and the hot-gram quadratic blowup a raw
    * suffix pass suffers on boilerplate is structurally excluded. Both windows are partitioned
    * by (pair, diagonal) / document — state bounded by one document's
    * length, never the corpus. All-integer arithmetic end to end, so the
    * catalog query carries a full DuckDB hash oracle.
    *
    * @return `(doc_id, span_start, span_len, n_matches)` — one row per
    *         merged span, `n_matches` the number of maximal pairwise
    *         match intervals merged into it */
  def maximalMatchSpans(docs: DataFrame, idCol: String, textCol: String,
      n: Int, maxOccPerGram: Int = 64,
      keepLowestId: Boolean = false): DataFrame = {
    val toked = spread(docs).select(col(idCol).as("doc_id"),
      TextFunctions.tokens(col(textCol)).as("toks"))
    val occ = toked.select(col("doc_id"),
        posexplode(TextFunctions.shingles(col("toks"), n)).as(Seq("pos", "gram")))
      .persist()
    graft.Caches.releaseAfterAction(occ)
    DropAudit.ensure(docs.sparkSession)
    val name = s"graft_capped_maximal_match_${auditSeq.getAndIncrement()}"
    val dict = occ.groupBy("gram")
      .agg(count_distinct(col("doc_id")).as("nd"), count(lit(1)).as("occs"))
      .observe(name,
        sum(when(col("nd") >= 2 && col("occs") > maxOccPerGram, 1L)
          .otherwise(0L)).as("dropped_rows"))
      .filter(col("nd") >= 2 && col("occs") <= maxOccPerGram)
      .select("gram")
    val dup = occ.join(dict, Seq("gram"), "leftsemi")
    // Cross-doc occurrence pairs per gram, via ONE hash agg + nested
    // explodes (r17; the coShipEdges/triangleCounts ordered-pair idiom)
    // instead of the old self-join on gram: the join paid the
    // cache-read + semi-join + gram exchange TWICE (once per side, the
    // renamed projections defeat exchange reuse) plus a sort/build on
    // both sides. The per-gram occurrence list is bounded by the
    // `maxOccPerGram` cap that already gates `dict` (≤ cap structs per
    // array, ≤ cap²/2 pairs per gram), so collecting it is safe at any
    // corpus size — the cap, not the data, bounds the state. Sorting by
    // (doc, pos) makes ordered pairs (i < j) with a.d < b.d exactly the
    // old join's da < db output.
    val pairs = dup
      .groupBy("gram")
      .agg(sort_array(collect_list(struct(col("doc_id").as("d"),
        col("pos").cast("long").as("p")))).as("os"))
      .select(col("os"), posexplode(col("os")).as(Seq("i", "a")))
      .select(col("a"),
        explode(slice(col("os"), col("i") + lit(2), size(col("os")))).as("b"))
      .filter(col("a.d") < col("b.d"))
      .select(col("a.d").as("da"), col("b.d").as("db"),
        (col("a.p") - col("b.p")).as("diag"), col("a.p").as("pa"))
    // chain extension: consecutive pa on one (da, db, diag) diagonal are
    // one exact match; pa is unique within a diagonal, so the lag order
    // is total and the islands deterministic
    val wLag = Window.partitionBy("da", "db", "diag").orderBy("pa")
    val runs = pairs
      .withColumn("prev_pa", lag(col("pa"), 1).over(wLag))
      .withColumn("new_run",
        when(col("prev_pa").isNull || col("pa") > col("prev_pa") + 1, 1L)
          .otherwise(0L))
      .withColumn("run", sum(col("new_run")).over(
        wLag.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("da", "db", "diag", "run")
      .agg(min(col("pa")).as("pa0"), max(col("pa")).as("pa1"))
    // keepLowestId: only the HIGHER-id side of each match is reported
    // (the lower-id document's copy is the surviving exemplar) — the
    // faithful keep-one removal at MATCH granularity, vs the gram-keeper
    // rule of duplicatedSpanList(keepFirst). Default reports both sides.
    val ivB = runs.select(col("db").as("doc_id"),
      (col("pa0") - col("diag")).as("sp"),
      (col("pa1") - col("diag") + (n - 1)).as("ep"),
      col("da").as("partner"), col("diag"))
    // both-sides reporting emits the two per-run intervals with ONE
    // explode (r17; the triangleCounts three-corner idiom): the old
    // two-branch union referenced the UNCACHED `runs` subtree twice, so
    // the whole pairs → diagonal-window → runs pipeline executed once
    // per branch (exchange reuse stops at the runs agg's input — the
    // window + agg re-ran). keepLowestId consumes one side only, so it
    // keeps the single-branch projection.
    val iv =
      if (keepLowestId) ivB
      else runs.select(explode(array(
          struct(col("da").as("doc_id"), col("pa0").as("sp"),
            (col("pa1") + (n - 1)).as("ep"), col("db").as("partner"),
            col("diag")),
          struct(col("db").as("doc_id"), (col("pa0") - col("diag")).as("sp"),
            (col("pa1") - col("diag") + (n - 1)).as("ep"),
            col("da").as("partner"), col("diag")))).as("e"))
        .select(col("e.doc_id").as("doc_id"), col("e.sp").as("sp"),
          col("e.ep").as("ep"), col("e.partner").as("partner"),
          col("e.diag").as("diag"))
    // per-doc merge of INTERSECTING intervals only (sp <= prev_end):
    // token-adjacent matches with different partners stay separate —
    // the semantic upgrade over duplicatedSpanList's adjacency merge.
    // The window order MUST be a TOTAL order, hence the (partner, diag)
    // tiebreaks: duplicate (sp, ep) intervals (same span matched via two
    // partners) are peers under (sp, ep) alone, and while any ONE
    // consistent order yields identical islands, the island flag is
    // computed by one window (prev_end) and consumed by another (the
    // running sum) — an engine that sorts the two passes' peers
    // differently splits a tie group across islands (observed: DuckDB
    // returned 164 or 165 rows run-to-run on the sf0.01 corpus before
    // the tiebreak; Spark was immune only because both functions share
    // one WindowExec sort). (doc_id, sp, partner, diag) is unique by
    // construction — one interval per diagonal run per side.
    val ivOrd = Seq(col("sp"), col("ep"), col("partner"), col("diag"))
    val wPrev = Window.partitionBy("doc_id").orderBy(ivOrd: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy("doc_id").orderBy(ivOrd: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    iv.withColumn("prev_end", max(col("ep")).over(wPrev))
      .withColumn("new_span",
        when(col("prev_end").isNull || col("sp") > col("prev_end"), 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("new_span")).over(wRun))
      .groupBy("doc_id", "island")
      .agg(min(col("sp")).cast("long").as("span_start"),
        (max(col("ep")) - min(col("sp")) + 1).cast("long").as("span_len"),
        count(lit(1)).as("n_matches"))
      .select(col("doc_id"), col("span_start"), col("span_len"),
        col("n_matches"))
  }

  /** WITHIN-document longest repeated substring (token-level) — the
    * Gopher-style repetition signal x5's fixed-n n-gram ratios cannot
    * see (a single long verbatim self-repeat inflates no small-n ratio
    * but dominates this score), computed suffix-automaton-free with the
    * [[maximalMatchSpans]] diagonal-chain trick turned inward: two
    * occurrences of the same n-gram at positions p_a > p_b of ONE
    * document lie on diagonal d = p_a − p_b; consecutive p_a along one
    * (doc, d) diagonal chain into a run, and a run [p0, p1] is an exact
    * self-repeat of length p1 − p0 + n tokens (maximal for the same
    * exact-token-string reason as the cross-doc variant). The longest
    * repeat is the max over diagonals; docs with no repeated n-gram
    * report 0.
    *
    * Scale shape: one explode + one hash agg for the within-doc gram
    * positions; the pair space is per-(doc, gram) occurrence lists
    * bounded by `maxOccPerGram` (hot grams dropped + counted to the
    * audit log, the capBuckets convention — a 10⁶-token boilerplate doc
    * cannot go quadratic); both windows partition by (doc, diag) /
    * doc — state bounded by one document. All-integer arithmetic, so
    * the catalog query (`x9_longest_repeat`) carries a full DuckDB
    * hash oracle.
    *
    * @return one row per doc: `(doc_id, n_tok, longest_repeat,
    *         repeat_frac)` — `longest_repeat` in tokens (0 if none),
    *         `repeat_frac` = longest_repeat / n_tok rounded to 6 dp */
  def longestSelfRepeat(docs: DataFrame, idCol: String, textCol: String,
      n: Int, maxOccPerGram: Int = 64): DataFrame = {
    // toked is persisted too (narrow: id + count + token array): the doc
    // totals join at the bottom would otherwise re-scan and re-tokenize
    // the whole corpus — the cached copy is read twice (occ build +
    // totals) for one materialization
    val toked = spread(docs).select(col(idCol).as("doc_id"),
        TextFunctions.tokens(col(textCol)).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tok"),
        col("toks"))
      .persist()
    val occ = toked.select(col("doc_id"), col("n_tok"),
        posexplode(TextFunctions.shingles(col("toks"), n))
          .as(Seq("pos", "gram")))
      .persist()
    graft.Caches.releaseAfterAction(toked, occ)
    DropAudit.ensure(docs.sparkSession)
    val name = s"graft_capped_self_repeat_${auditSeq.getAndIncrement()}"
    // within-doc repeated grams only, occurrence-capped per (doc, gram)
    val dup = occ
      .withColumn("occs",
        count(lit(1)).over(Window.partitionBy(col("doc_id"), col("gram"))))
      .observe(name, sum(when(col("occs") > maxOccPerGram, 1L).otherwise(0L))
        .as("dropped_rows"))
      .filter(col("occs") >= 2 && col("occs") <= maxOccPerGram)
    val pairs = dup.select(col("doc_id"), col("gram"), col("pos").cast("long").as("pa"))
      .join(dup.select(col("doc_id"), col("gram"), col("pos").cast("long").as("pb")),
        Seq("doc_id", "gram"))
      .filter(col("pa") > col("pb"))
      .withColumn("diag", col("pa") - col("pb"))
    val wLag = Window.partitionBy("doc_id", "diag").orderBy("pa")
    val best = pairs
      // (doc, diag, pa) is unique by construction — pb = pa − diag and
      // the gram is the one at pa — so the lag order is total without a
      // distinct pass
      .select("doc_id", "diag", "pa")
      .withColumn("prev_pa", lag(col("pa"), 1).over(wLag))
      .withColumn("new_run",
        when(col("prev_pa").isNull || col("pa") > col("prev_pa") + 1, 1L)
          .otherwise(0L))
      .withColumn("run", sum(col("new_run")).over(
        wLag.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "diag", "run")
      .agg((max(col("pa")) - min(col("pa")) + n).as("rep_len"))
      .groupBy("doc_id")
      .agg(max(col("rep_len")).as("longest_repeat"))
    toked.select(col("doc_id"), col("n_tok"))
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tok"),
        coalesce(col("longest_repeat"), lit(0L)).as("longest_repeat"),
        round(coalesce(col("longest_repeat"), lit(0L)) / col("n_tok"), 6)
          .as("repeat_frac"))
  }

  /** The APPLY step of span-level dedup: rebuild each document with every
    * maximal duplicated span ([[duplicatedSpanList]]) excised.
    * `keepFirst = false` is the aggressive C4-style variant dropping ALL
    * occurrences of duplicated text; `keepFirst = true` is the faithful
    * Lee-et-al semantics — the lowest-id document's copy survives.
    *
    * Scale shape: the span list is doc-keyed aggregation all the way
    * down; rebuilding is ONE narrow filter-with-index lambda over the
    * token array against the doc's own (collect_list-bounded) span set —
    * no shuffle beyond the span join, state bounded by a document.
    * @return `(doc_id, n_tok, n_kept, trimmed_text)` — one row per doc,
    *         `trimmed_text` the space-joined surviving tokens */
  def trimDuplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
      n: Int, keepFirst: Boolean = false): DataFrame =
    applySpanTrim(docs, idCol, textCol,
      duplicatedSpanList(docs, idCol, textCol, n, keepFirst))

  /** The APPLY step over [[maximalMatchSpans]]' chain-extension spans.
    * With `keepLowestId = false` this removes ALL matched text — whose
    * covered positions provably equal [[trimDuplicatedSpans]]' (the
    * DedupSpec coverage property), so the interesting variant is
    * `keepLowestId = true`: keep-one-exemplar at MATCH granularity — for
    * every maximal pairwise match only the higher-id document loses the
    * span; the lower-id copy survives. This differs from
    * `trimDuplicatedSpans(keepFirst = true)`'s per-GRAM keeper rule,
    * which can excise from every document when no single document is
    * the min-id holder of all grams of a passage; the match-granular
    * rule guarantees each removed span's text survives verbatim in its
    * matched partner's ORIGINAL text. (Post-trim survival is guaranteed
    * only for a match component's minimum-id document — in a chain
    * a<b<c of overlapping matches, b keeps a's span but may itself be
    * trimmed for the (a,b) match, so c's partner b can shrink.) Output
    * and scale shape identical to [[trimDuplicatedSpans]]. */
  def trimMaximalMatches(docs: DataFrame, idCol: String, textCol: String,
      n: Int, maxOccPerGram: Int = 64,
      keepLowestId: Boolean = false): DataFrame =
    applySpanTrim(docs, idCol, textCol,
      maximalMatchSpans(docs, idCol, textCol, n, maxOccPerGram, keepLowestId))

  /** Rebuild each document with the given `spans` excised — the shared
    * APPLY step of [[trimDuplicatedSpans]] and [[trimMaximalMatches]].
    * `spans` carries (doc_id, span_start, span_len); extra columns are
    * ignored. One narrow filter-with-index lambda per doc against its
    * own collect_list-bounded span set — no shuffle beyond the span
    * join, state bounded by a document. */
  private def applySpanTrim(docs: DataFrame, idCol: String, textCol: String,
      spans: DataFrame): DataFrame = {
    val spanArr = spans.groupBy("doc_id")
      .agg(collect_list(struct(col("span_start"), col("span_len"))).as("spans"))
    spread(docs).select(col(idCol).as("doc_id"),
        TextFunctions.tokens(col(textCol)).as("toks"))
      .join(spanArr, Seq("doc_id"), "left")
      .withColumn("spans", coalesce(col("spans"),
        array().cast("array<struct<span_start:bigint,span_len:bigint>>")))
      .withColumn("kept",
        filter(col("toks"), (t, i) => !exists(col("spans"), s =>
          i.cast("long") >= s.getField("span_start") &&
            i.cast("long") < s.getField("span_start") + s.getField("span_len"))))
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tok"),
        size(col("kept")).cast("long").as("n_kept"),
        concat_ws(" ", col("kept")).as("trimmed_text"))
  }
}
