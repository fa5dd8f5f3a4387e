package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.expressions.GraftFunctions
import graft.operators.Pca

/** Embedding-compression operators (round 4): PCA and sparse random
  * projection over the `embeddings` table — the dimensionality-reduction
  * stage that sits in front of ANN indexing / clustering at corpus scale.
  * Both transforms run through the codegen `mat_vec_project` expression
  * (the model is literal-array driver state, the pass is a pure narrow
  * map).
  */
object EmbeddingQueries {

  private val rpM = 16
  private val rpD = 64

  /** Deterministic ±1 sign for matrix cell (k, i): parity of the portable
    * hash60 of "k_i" — the same value both engines derive, so the
    * "random" matrix needs no side channel. */
  private def sign(k: Int, i: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"${k}_$i".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.substring(0, 15)
    if (java.lang.Long.parseLong(hex, 16) % 2 == 0) 1.0 else -1.0
  }

  private lazy val rpSigns: Array[Double] =
    Array.tabulate(rpM * rpD)(idx => sign(idx / rpD, idx % rpD))

  /** RP1 — sparse random projection (Achlioptas-style ±1 matrix): 64-d
    * float embeddings down to 16 dims in one codegen loop per row. The
    * projection matrix is a pure function of the portable hash, so the
    * DuckDB oracle rebuilds the identical matrix and checks every
    * projected value — a fully-oracled "random" transform. Narrow map,
    * no shuffle. */
  private val rp1 = Q(
    "rp1_random_projection",
    (s, d) => {
      Tables.embeddings(s, d)
        .select(col("vec_id"),
          GraftFunctions.matVecProject(
            transform(col("embedding"), x => x.cast("double")),
            typedlit(rpSigns.toSeq),
            typedlit(Seq.fill(rpD)(0.0))).as("proj"))
        .select(col("vec_id"), posexplode(col("proj")).as(Seq("k0", "v")))
        .select(col("vec_id"), col("k0").cast("long").as("k"),
          round(col("v"), 6).as("val"))
    },
    Some {
      val selects = (0 until rpM).map { k =>
        val arr = (0 until rpD).map(i => sign(k, i).toString).mkString(",")
        s"""SELECT vec_id, CAST($k AS BIGINT) AS k,
              round(list_sum(list_transform(range(1, ${rpD + 1}),
                i -> CAST(embedding[i] AS DOUBLE) * ([$arr])[i])), 6) AS val
            FROM embeddings"""
      }
      selects.mkString("\nUNION ALL\n")
    })

  /** PC1 — PCA compression: one-pass covariance treeAggregate + driver
    * Jacobi eigen (bounded O(d²) state, like a k-means centroid update),
    * then the codegen projection. Top-8 components of the 64-d
    * embeddings; output is each vector's centered component scores. The
    * eigendecomposition is not SQL-expressible → no oracle (rows-only
    * check); PcaSpec carries correctness (eigen residuals, orthonormal
    * components, diagonal projected covariance, layout invariance). */
  private val pc1 = Q(
    "pc1_pca_project",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val model = Pca.fit(emb, "embedding", 8)
      Pca.project(emb, "embedding", model)
        .select(col("vec_id"), posexplode(col("proj")).as(Seq("k0", "v")))
        .select(col("vec_id"), col("k0").cast("long").as("k"),
          round(col("v"), 6).as("val"))
    },
    None)

  /** EQ1 — int8 scalar quantization (the memory-side compression every
    * ANN index at corpus scale runs before PCA/RP even matter: 4 bytes →
    * 1 byte per dimension). Two-phase: (1) per-dimension global min/max —
    * one partial+final hash agg over (dim, x) pairs, 64 output rows;
    * (2) a broadcast join of those 64 rows back onto the exploded
    * vectors, quantize `q = round((x-mn)/(mx-mn)*255)` and report the
    * round-trip reconstruction error. No driver collect — the stats stay
    * a (broadcast) frame, the quantize pass is narrow per row. Constant
    * dimensions (mx = mn) quantize to 0 with zero error on both engines.
    * All arithmetic is float→double exact, same literal order on both
    * engines, so q is hash-stable; err is rounded per element (no
    * cross-row float summation). */
  private val eq1 = Q(
    "eq1_int8_quantize",
    (s, d) => {
      val ex = Tables.embeddings(s, d)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("k0", "xf")))
        .select(col("vec_id"), col("k0").cast("long").as("k"),
          col("xf").cast("double").as("x"))
      val stats = ex.groupBy("k").agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      ex.join(broadcast(stats), Seq("k"))
        .withColumn("q", when(col("mx") === col("mn"), lit(0L))
          .otherwise(round((col("x") - col("mn")) / (col("mx") - col("mn")) * 255, 0)
            .cast("long")))
        .withColumn("err", when(col("mx") === col("mn"), lit(0.0))
          .otherwise(round(abs(col("mn") +
            col("q").cast("double") / 255.0 * (col("mx") - col("mn")) - col("x")), 6)))
        .select(col("vec_id"), col("k"), col("q"), col("err"))
    },
    Some("""WITH ex AS (SELECT vec_id, i - 1 AS k,
                          CAST(embedding[i] AS DOUBLE) AS x
                        FROM embeddings, range(1, 65) t(i)),
            st AS (SELECT k, min(x) AS mn, max(x) AS mx FROM ex GROUP BY k)
            SELECT ex.vec_id, ex.k,
                   CASE WHEN mx = mn THEN 0
                        ELSE CAST(round((x - mn) / (mx - mn) * 255, 0) AS BIGINT)
                   END AS q,
                   CASE WHEN mx = mn THEN 0.0
                        ELSE round(abs(mn + CAST(CASE WHEN mx = mn THEN 0
                               ELSE CAST(round((x - mn) / (mx - mn) * 255, 0) AS BIGINT)
                             END AS DOUBLE) / 255.0 * (mx - mn) - x), 6)
                   END AS err
            FROM ex JOIN st ON ex.k = st.k"""))

  /** SD2 — SemDeDup-style semantic dedup (Corpus.semanticDuplicates):
    * k-means cells block the pair space, exact within-cell cosine at
    * ≥ 0.9, components + min-id keeper election. The corpus carries no
    * natural pair above cos 0.52, so the qualifying set is exactly the
    * injected deterministic twins (every vec_id ≡ 0 mod 97 re-added
    * shifted by 1e6 — fz1's non-vacuous-oracle pattern); identical
    * vectors always co-assign, so the learned blocking provably cannot
    * split a qualifying pair and the UNBLOCKED declarative oracle (all
    * pairs + recursive-CTE closure, dd6's family) states the same set. */
  private val sd2 = Q(
    "sd2_semantic_dedup",
    (s, d) => graft.api.Corpus.semanticDuplicates(
      sd2Corpus(s, d), cosMin = 0.9, cells = 4),
    Some(sd2OracleSql))

  /** The sd2/sd2b shared corpus: base embeddings plus deterministic twins
    * (every vec_id ≡ 0 mod 97 re-added shifted by 1e6) — the injected
    * qualifying set that keeps the ≥ 0.9 oracle non-vacuous. */
  private def sd2Corpus(s: org.apache.spark.sql.SparkSession, d: String) = {
    val base = Tables.embeddings(s, d).select("vec_id", "embedding")
    base.unionByName(base.filter(col("vec_id") % 97 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
  }

  /** The recursive-CTE closure oracle shared by sd2/sd2b: UNBLOCKED all
    * pairs at cos ≥ 0.9 + walk — states the answer declaratively, with
    * no knowledge of how (or whether) the engine blocked the pair space. */
  // lazy: referenced by sd2, which initializes BEFORE this val in source
  // order — an eager val would hand sd2's Q a null oracle
  private lazy val sd2OracleSql: String = {
    val dot = """list_reduce(list_transform(range(1, 65),
        i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
        (x, y) -> x + y)"""
    s"""WITH RECURSIVE
        e0 AS (SELECT vec_id, embedding FROM embeddings
               UNION ALL
               SELECT vec_id + 1000000, embedding FROM embeddings
               WHERE vec_id % 97 = 0),
        e AS (SELECT vec_id, embedding,
                sqrt(list_reduce(list_transform(range(1, 65),
                  i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
                  (x, y) -> x + y)) AS nrm
              FROM e0),
        p AS (SELECT a.vec_id AS ia, b.vec_id AS ib FROM e a JOIN e b
              ON a.vec_id < b.vec_id AND $dot / (a.nrm * b.nrm) >= 0.9),
        ed AS (SELECT ia AS a, ib AS b FROM p
               UNION SELECT ib, ia FROM p),
        walk(id, r) AS (
          SELECT a, a FROM (SELECT DISTINCT a FROM ed)
          UNION
          SELECT ed.a, w.r FROM ed JOIN walk w ON ed.b = w.id)
        SELECT id AS vec_id, min(r) AS comp, (id = min(r)) AS keeper
        FROM walk GROUP BY id"""
  }

  /** SD2B — SemDeDup SERVED from the persisted IVF layout
    * ([[graft.api.Corpus.semanticDuplicatesFromIndex]]): where sd2
    * re-trains its k-means cells every run, sd2b reads the stored
    * `(id, v, cell)` off a write-if-missing [[Ann.writeIvfIndex]] layout
    * over the SAME twin-injected corpus — the build-once/serve-many
    * completion of the dedup family (most of sd2's warm cost is the
    * re-fit). The serve plan contains NO k-means job and NO embeddings
    * scan (PlanSpec-asserted: its only file source is the index). The
    * oracle is the same UNBLOCKED recursive-CTE closure as sd2's. Its
    * validity against the cell-blocked engine rests on TWO legs: the
    * proof that identical vectors co-assign under ANY centroid set (so
    * an exact-twin pair can never straddle a stored cell boundary), plus
    * the DATA-DEPENDENT assumption that the corpus holds no qualifying
    * NON-twin pair — a non-identical pair at cos ≥ 0.9 could land in
    * different cells and diverge from the unblocked oracle. That
    * assumption is not taken on faith: CorpusSpec asserts, on the exact
    * verify fixture, that every pair at cos ≥ 0.9 in the twin-injected
    * corpus is an identical-vector twin (r14 ADVICE). */
  private val sd2b = Q(
    "sd2b_semantic_dedup_index",
    (s, d) => {
      val path = RelationalQueries.ensureLayout("/tmp/graft_sd2b",
          RelationalQueries.cacheKey(d, "embeddings.parquet"),
          Seq("corpus/_SUCCESS", "centroids/_SUCCESS")) { p =>
        graft.operators.Ann.writeIvfIndex(sd2Corpus(s, d), "vec_id",
          "embedding", p, k = 4, iters = 3)
      }
      graft.api.Corpus.semanticDuplicatesFromIndex(s, path, cosMin = 0.9)
    },
    Some(sd2OracleSql))

  /** PQ1 — product-quantization compress + ADC search
    * ([[graft.operators.Pq]]): 64-d float vectors → 8 four-bit codes
    * (64× compression), then asymmetric-distance top-10 for three fixed
    * query ids against the COMPRESSED corpus (m table lookups per row,
    * never a decode). The codebook fit is a bounded deterministic
    * driver Lloyd (md5-lowest training sample, the Bpe/Pca bounded-fit
    * pattern) — iterative, so no SQL oracle (rows-only, like pc1);
    * PqSpec carries correctness: ADC ≡ dist²-to-reconstruction
    * identity, distortion strictly below the 1-centroid quantizer,
    * code range, determinism, and recall against the exact top-k. */
  private val pq1 = Q(
    "pq1_product_quantize",
    (s, d) => {
      import graft.operators.Pq
      val emb = Tables.embeddings(s, d)
      val model = Pq.fit(emb, "embedding", m = 8, ksub = 16, iters = 8)
      val qids = Seq(0L, 100L, 200L)
      val qvecs = emb.filter(col("vec_id").isin(qids: _*))
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
      // the three top-k branches read one exchange of the codes, so the
      // corpus is encoded once
      val codes = Pq.encode(emb, "embedding", model).repartition(col("vec_id"))
      qids.filter(qvecs.contains).map { qid =>
        Pq.adcTopK(codes, model, qvecs(qid), k = 10)
          .select(lit(qid).as("q_id"), col("vec_id"),
            round(col("adc_d2"), 6).as("adc_d2"))
      }.reduce(_.unionByName(_))
    },
    None)

  /** PC1B — the APPLY stage of `pc1` split out behind a FROZEN fitted
    * checkpoint ([[FrozenModels.pcaMean]]/[[FrozenModels.pcaComponents]],
    * a committed `Pca.fit` result — the fit-once / apply-everywhere
    * deployment shape): projection given components is a deterministic
    * narrow map, so unlike the iterative fit it takes a full hash oracle —
    * the SQL replays the identical literals with the same ascending-`i`
    * fold `mat_vec_project` codegens. This shrinks the rows-only set: the
    * un-oracleable part of PCA is now ONLY the eigendecomposition (pinned
    * by golden + PcaSpec), not the transform. */
  private val pc1b = Q(
    "pc1b_pca_apply",
    (s, d) => {
      val model = Pca.PcaModel(FrozenModels.pcaMean, FrozenModels.pcaComponents,
        eigenvalues = new Array[Double](8), totalVariance = 1.0)
      Pca.project(Tables.embeddings(s, d), "embedding", model)
        .select(col("vec_id"), posexplode(col("proj")).as(Seq("k0", "v")))
        .select(col("vec_id"), col("k0").cast("long").as("k"),
          round(col("v"), 6).as("val"))
    },
    Some {
      val mean = FrozenModels.pcaMean
      val comps = FrozenModels.pcaComponents
      val selects = (0 until 8).map { k =>
        // explicit left-assoc `+` chain: bit-identical to the codegen'd
        // ascending-i accumulation (no dependence on list_sum internals)
        val terms = (0 until 64).map { i =>
          s"(CAST(embedding[${i + 1}] AS DOUBLE) - (${mean(i)})) * (${comps(k * 64 + i)})"
        }.mkString(" + ")
        s"""SELECT vec_id, CAST($k AS BIGINT) AS k,
              round($terms, 6) AS val
            FROM embeddings"""
      }
      selects.mkString("\nUNION ALL\n")
    })

  /** PQ1B — the APPLY stages of `pq1` (encode + ADC) behind the FROZEN
    * [[FrozenModels.pqBooks]] checkpoint: per subspace, the code is a
    * strict-< argmin over 16 literal centroids (first-min tiebreak on
    * both engines — Spark's fold keeps the first minimum, DuckDB's
    * `list_position(l, list_min(l))` returns the first occurrence), and
    * `adc_d2` is the m-lookup asymmetric distance to the frozen query
    * vector ([[FrozenModels.pqQuery]]) — the table entries recomputed in
    * SQL with the same left-to-right subspace sums the driver uses. One
    * narrow scan, codes + distance as 10 scalar columns per vector; the
    * un-oracleable remainder of PQ is now only the Lloyd fit. */
  private val pq1b = Q(
    "pq1b_pq_apply",
    (s, d) => {
      import graft.operators.Pq
      val model = Pq.PqModel(8, 8, FrozenModels.pqBooks)
      val codes = Pq.encode(Tables.embeddings(s, d), "embedding", model)
      Pq.adcScores(codes, model, FrozenModels.pqQuery)
        .select(col("vec_id") +:
          (0 until 8).map(s0 => element_at(col("code"), s0 + 1)
            .cast("long").as(s"c$s0")) :+
          round(col("adc_d2"), 6).as("adc_d2"): _*)
    },
    Some {
      val books = FrozenModels.pqBooks
      val q = FrozenModels.pqQuery
      // per-subspace squared distance of the row's subvector to centroid cv
      // explicit left-assoc `+` chain: bit-identical to sliceD2's
      // ascending-i fold — argmin compares UNROUNDED values, so the sum
      // order must match exactly, not merely to 6 decimals
      def d2Sql(s0: Int, cv: Array[Double]): String = {
        val terms = (0 until 8).map { i =>
          val e = s"CAST(embedding[${s0 * 8 + i + 1}] AS DOUBLE)"
          s"($e - (${cv(i)})) * ($e - (${cv(i)}))"
        }.mkString(" + ")
        s"($terms)"
      }
      def codeSql(s0: Int): String = {
        val ds = books(s0).map(cv => d2Sql(s0, cv)).mkString(",")
        s"CAST(list_position([$ds], list_min([$ds])) - 1 AS BIGINT)"
      }
      // driver-side ADC table entry dt(s)(c), recomputed as a SQL literal
      // with the same ascending-i sum Pq.d2 runs
      def dt(s0: Int, c: Int): Double = {
        var acc = 0.0
        var i = 0
        while (i < 8) {
          val t = q(s0 * 8 + i) - books(s0)(c)(i); acc += t * t; i += 1
        }
        acc
      }
      val adcTerms = (0 until 8).map { s0 =>
        val tab = (0 until 16).map(c => dt(s0, c).toString).mkString(",")
        s"[$tab][CAST(c$s0 AS INT) + 1]"
      }.mkString(" + ")
      val codeCols = (0 until 8).map(s0 => s"${codeSql(s0)} AS c$s0")
        .mkString(",\n                 ")
      // the len(embedding) = 64 guard MIRRORS Pq.encode's own domain
      // filter (size(vecCol) === model.dim) — both engines drop the same
      // malformed-length rows, so row counts stay in lockstep
      s"""WITH enc AS (SELECT vec_id,
                 $codeCols
               FROM embeddings WHERE len(embedding) = 64)
          SELECT vec_id, c0, c1, c2, c3, c4, c5, c6, c7,
                 round($adcTerms, 6) AS adc_d2
          FROM enc"""
    })

  def all: Seq[Q] = Seq(rp1, pc1, pc1b, eq1, sd2, sd2b, pq1, pq1b)
}
