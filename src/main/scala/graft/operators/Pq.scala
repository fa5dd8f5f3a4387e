package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (Jégou et al., "Product Quantization for Nearest
  * Neighbor Search", TPAMI 2011) — the embedding-compression stage that
  * makes billion-vector ANN memory-resident: split each d-dim vector into
  * `m` subspaces of d/m dims, vector-quantize each subspace against its
  * own `ksub`-entry codebook, and store only the m code bytes. With
  * d = 64 floats and m = 8 / ksub = 16 that is 256 bytes → 8 half-byte
  * codes (64× smaller); search scores compressed vectors asymmetrically
  * (raw query vs reconstructed corpus — "ADC") without ever decoding into
  * memory, via m table lookups per vector.
  *
  * Scale shape (the part that must survive 100 TB):
  *  - TRAINING is a bounded fit, like [[Bpe]]'s merge loop and [[Pca]]'s
  *    Jacobi step: the `maxTrain` md5-lowest ids (TakeOrderedAndProject —
  *    per-partition heaps, no global sort) ride ONE bounded collect
  *    (default 16384 × 64 doubles ≈ 8 MB) and Lloyd runs in-driver per
  *    subspace. Driver-side single-threaded float arithmetic makes the
  *    codebooks BIT-DETERMINISTIC across partition layouts and cluster
  *    sizes — unlike a distributed Lloyd, whose reduction order shifts
  *    centroids by ulps per environment (see [[Ann.kmeansCentroids]]).
  *  - ENCODE is a pure narrow map: per subspace, a fold-argmin over the
  *    codebook literal (m·ksub·dsub doubles — KBs, bounded like
  *    [[Ann]]'s centroid broadcast). No join, no shuffle.
  *  - ADC SEARCH is a narrow scan too: the per-query distance table
  *    (m × ksub doubles, computed driver-side from the codebooks) rides a
  *    plan literal; each corpus row costs m `element_at` lookups + m adds
  *    — this is the lookup-table trick that beats decode-and-distance by
  *    d/m arithmetic ops per row. Top-k is orderBy+limit
  *    (TakeOrderedAndProject).
  *
  * Reference scope note: the reference engine has no vector search; this
  * operator is part of the driver-mandated LLM-data scale extensions
  * (SURVEY.md §2 X), beside IVF ([[Ann]]), PCA ([[Pca]]) and int8
  * quantization (EmbeddingQueries.eq1).
  */
object Pq {

  /** Trained PQ model: `books(s)(c)` is the `dsub`-dim centroid for code
    * `c` of subspace `s`. `m · dsub` must equal the vector dim. */
  final case class PqModel(m: Int, dsub: Int, books: Array[Array[Array[Double]]]) {
    require(books.length == m, s"expected $m codebooks, got ${books.length}")
    def ksub: Int = books.head.length
    def dim: Int = m * dsub
  }

  private def d2(a: Array[Double], aOff: Int, b: Array[Double], n: Int): Double = {
    var d = 0.0
    var i = 0
    while (i < n) { val t = a(aOff + i) - b(i); d += t * t; i += 1 }
    d
  }

  /** Fit `m` subspace codebooks of `ksub` centroids each on the
    * `maxTrain` md5-lowest-id vectors. Seeds are the first `ksub`
    * training subvectors in (md5, id) order; Lloyd runs `iters` rounds
    * with strict-< argmin (lowest-code tiebreak); a cluster that loses
    * all members keeps its previous centroid. Deterministic: same input
    * rows → bit-identical model, on any cluster layout. */
  def fit(emb: DataFrame, vecCol: String, m: Int, ksub: Int,
      iters: Int = 10, idCol: String = "vec_id",
      maxTrain: Int = 16384): PqModel = {
    val rows = emb
      .select(col(idCol).cast("string").as("id"),
        transform(col(vecCol), x => x.cast("double")).as("v"))
      .withColumn("h", md5(col("id")))
      .orderBy(col("h"), col("id"))
      .limit(maxTrain)
      .select("v").collect()
      .map(_.getSeq[Double](0).toArray)
    require(rows.nonEmpty, "pq: no training vectors")
    val dim = rows.head.length
    require(dim % m == 0, s"pq: dim $dim not divisible by m=$m")
    val dsub = dim / m
    val k = math.min(ksub, rows.length)
    val books = Array.tabulate(m) { s =>
      val off = s * dsub
      // seed with the first k training subvectors (md5 order)
      var cents = Array.tabulate(k) { c =>
        java.util.Arrays.copyOfRange(rows(c), off, off + dsub)
      }
      var it = 0
      while (it < iters) {
        val sums = Array.fill(k)(new Array[Double](dsub))
        val cnts = new Array[Long](k)
        rows.foreach { r =>
          var best = 0
          var bestD = d2(r, off, cents(0), dsub)
          var c = 1
          while (c < k) {
            val d = d2(r, off, cents(c), dsub)
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          val acc = sums(best)
          var i = 0
          while (i < dsub) { acc(i) += r(off + i); i += 1 }
          cnts(best) += 1
        }
        cents = Array.tabulate(k) { c =>
          if (cnts(c) == 0) cents(c)
          else sums(c).map(_ / cnts(c))
        }
        it += 1
      }
      cents
    }
    PqModel(m, dsub, books)
  }

  /** One subspace's codebook as a (code, centroid) literal — same single
    * `typedlit` convention as [[Ann]]'s centroid literal (ONE Literal
    * node, not ksub·dsub `lit`s). */
  private def bookLit(book: Array[Array[Double]]): Column =
    typedlit(book.toSeq.zipWithIndex.map { case (cv, c) => (c, cv.toSeq) })

  private def sliceD2(sub: Column, cv: Column): Column =
    aggregate(zip_with(sub, cv, (x, y) => (x - y) * (x - y)), lit(0.0), (a, x) => a + x)

  /** Encode: one narrow scan adding `code` (ARRAY<INT>, length m). Per
    * subspace: fold-argmin over the codebook literal, strict `<` with
    * lowest-code tiebreak — the same total order as the driver-side
    * training argmin. The subvector slices are projected ONCE per row
    * before the folds (a lambda-embedded `slice` would re-slice per
    * centroid step — ksub× the array churn). */
  def encode(emb: DataFrame, vecCol: String, model: PqModel,
      idCol: String = "vec_id"): DataFrame = {
    val v = transform(col(vecCol), x => x.cast("double"))
    // output is PROJECTED to (id, code); rows whose vector length differs
    // from the model dim are outside the codec's domain and are dropped —
    // silently encoding them would leave the -1 sentinel in `code`, which
    // adcScores/decode later dereference as a codebook index
    val sliced = emb
      .filter(size(col(vecCol)) === model.dim)
      .select(col(idCol) +: (0 until model.m).map(s =>
        slice(v, s * model.dsub + 1, model.dsub).as(s"sub_$s")): _*)
    val codes = (0 until model.m).map { s =>
      aggregate(bookLit(model.books(s)),
        struct(lit(Double.MaxValue).as("d2"), lit(-1).as("code")),
        (acc, c) => {
          val d = sliceD2(col(s"sub_$s"), c.getField("_2"))
          when(d < acc.getField("d2"),
            struct(d.as("d2"), c.getField("_1").as("code"))).otherwise(acc)
        }).getField("code")
    }
    sliced.select(col(idCol), array(codes: _*).as("code"))
  }

  /** Attach a `code` column to a WIDER frame without a join (the
    * disk-backed IVF-PQ index writes `(id, v, cell, code)` in one narrow
    * pass). Same two-step shape as [[encode]] — the subvector slices are
    * projected ONCE per row and only then folded against the codebooks
    * (a fold whose lambda embeds the slice would re-evaluate it per
    * codebook entry, ksub× the array churn) — so codes are bit-identical
    * to `encode`'s. Rows outside the codec's domain (length ≠ dim) get a
    * NULL code rather than being dropped: the caller owns the row set. */
  def attachCodes(df: DataFrame, vecCol: String, model: PqModel,
      out: String = "code"): DataFrame = {
    val v = transform(col(vecCol), x => x.cast("double"))
    val subCols = (0 until model.m).map(s => s"__pq_sub_$s")
    val sliced = df.select(col("*") +: (0 until model.m).map(s =>
      slice(v, s * model.dsub + 1, model.dsub).as(subCols(s))): _*)
    val codes = (0 until model.m).map { s =>
      aggregate(bookLit(model.books(s)),
        struct(lit(Double.MaxValue).as("d2"), lit(-1).as("code")),
        (acc, c) => {
          val d = sliceD2(col(subCols(s)), c.getField("_2"))
          when(d < acc.getField("d2"),
            struct(d.as("d2"), c.getField("_1").as("code"))).otherwise(acc)
        }).getField("code")
    }
    sliced
      .withColumn(out, when(size(col(vecCol)) === model.dim, array(codes: _*)))
      .drop(subCols: _*)
  }

  /** Reconstruction of a `code` column — m codebook lookups per row,
    * flattened back to a dim-length array. For distortion audits and the
    * decode-side of tests; ADC search never materializes this. */
  def decode(codes: Column, model: PqModel): Column = {
    val booksLit = typedlit(model.books.map(_.map(_.toSeq).toSeq).toSeq)
    flatten(transform(sequence(lit(1), lit(model.m)),
      s => element_at(element_at(booksLit, s), element_at(codes, s) + 1)))
  }

  /** ADC distances of every encoded row to ONE raw query vector: the
    * m × ksub distance table is computed driver-side (tiny — the point of
    * PQ) and ships as a plan literal; each row costs m lookups + m adds.
    * Equal BY CONSTRUCTION to dist²(query, reconstruction): the table
    * entry dt(s)(c) is the same left-to-right subspace sum the decode
    * path would feed into a full-dim distance loop. */
  def adcScores(codes: DataFrame, model: PqModel, query: Array[Double],
      out: String = "adc_d2"): DataFrame = {
    require(query.length == model.dim,
      s"pq: query dim ${query.length} != model dim ${model.dim}")
    val dt: Seq[Seq[Double]] = (0 until model.m).map { s =>
      model.books(s).toSeq.map(cv => d2(query, s * model.dsub, cv, model.dsub))
    }
    val dtLit = typedlit(dt)
    val score = aggregate(sequence(lit(1), lit(model.m)), lit(0.0),
      (acc, s) => acc + element_at(element_at(dtLit, s),
        element_at(col("code"), s) + 1))
    codes.withColumn(out, score)
  }

  /** Top-`k` ADC neighbours of `query` — orderBy+limit plans as
    * TakeOrderedAndProject (per-partition heaps; no global sort). */
  def adcTopK(codes: DataFrame, model: PqModel, query: Array[Double],
      k: Int, idCol: String = "vec_id"): DataFrame =
    adcScores(codes, model, query)
      .orderBy(col("adc_d2"), col(idCol))
      .limit(k)
}
