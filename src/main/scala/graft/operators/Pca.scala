package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Principal component analysis over an embedding column — the
  * dimensionality-reduction step of an embedding pipeline (compress
  * before ANN indexing / clustering, whiten before cosine work).
  *
  * Scale shape (the same one MLlib's RowMatrix uses): the fit is ONE
  * distributed pass — `treeAggregate` folds each partition into
  * `(n, Σv, upper-triangular Σ v·vᵀ)` (O(d²) state, d=64 → ~2 KB), tree
  * depth 2 merges partials — followed by an O(d³) Jacobi
  * eigendecomposition on the DRIVER (64×64: microseconds; driver-side
  * small-matrix math is the bounded-state complement of cluster-side
  * accumulation, exactly like the k-means centroid update). The
  * transform broadcasts the m×d component matrix as a literal into the
  * codegen'd `mat_vec_project` expression — a narrow map, no shuffle.
  *
  * The RDD is used deliberately: per-partition imperative accumulation
  * of a fixed-size numeric buffer is the one job RDD `treeAggregate`
  * does better than any agg the DataFrame API can express (a 4096-column
  * sum would blow up codegen; a UDAF over arrays allocates per row).
  *
  * Determinism: component signs are normalized (largest-|loading| entry
  * positive), so the model is unique up to eigenvalue ties; the
  * accumulation order varies with partitioning (float association — the
  * usual caveat, harmless at covariance scale).
  */
object Pca {

  /** mean (d), row-major components (m×d, rows = top eigenvectors by
    * descending eigenvalue), eigenvalues (m, = variance along each
    * component), total variance (trace of the covariance). */
  final case class PcaModel(mean: Array[Double], components: Array[Double],
      eigenvalues: Array[Double], totalVariance: Double) {
    def m: Int = eigenvalues.length
    def d: Int = mean.length
    def explainedRatio: Array[Double] = eigenvalues.map(_ / totalVariance)
  }

  private final class Acc(val d: Int) extends Serializable {
    var n: Long = 0L
    val s = new Array[Double](d) // Σ v
    val ss = new Array[Double](d * (d + 1) / 2) // Σ v·vᵀ, upper triangle
    def add(v: Array[Double]): Acc = {
      require(v.length == d, s"dim mismatch: ${v.length} vs $d")
      n += 1
      var idx = 0
      var i = 0
      while (i < d) {
        s(i) += v(i)
        var j = i
        while (j < d) { ss(idx) += v(i) * v(j); j += 1; idx += 1 }
        i += 1
      }
      this
    }
    def merge(o: Acc): Acc = {
      n += o.n
      var i = 0
      while (i < d) { s(i) += o.s(i); i += 1 }
      i = 0
      while (i < ss.length) { ss(i) += o.ss(i); i += 1 }
      this
    }
  }

  /** Fit the top-`m` components of `vecCol` (an array column; floats are
    * cast). One cluster pass + driver eigen. */
  def fit(emb: DataFrame, vecCol: String, m: Int): PcaModel = {
    val vecs = emb
      .select(transform(col(vecCol), x => x.cast("double")).as("v"))
      .na.drop()
    val d = vecs.head().getSeq[Double](0).length
    require(m >= 1 && m <= d, s"need 1 <= m <= d: m=$m d=$d")
    val acc = vecs.rdd
      .map(_.getSeq[Double](0).toArray)
      .treeAggregate(new Acc(d))(_.add(_), _.merge(_), depth = 2)
    require(acc.n > 1, s"PCA needs > 1 row, got ${acc.n}")

    // covariance C = (Σvvᵀ − (Σv)(Σv)ᵀ/n) / (n−1), symmetric full matrix
    val n = acc.n.toDouble
    val cov = Array.ofDim[Double](d, d)
    var idx = 0
    var i = 0
    while (i < d) {
      var j = i
      while (j < d) {
        val c = (acc.ss(idx) - acc.s(i) * acc.s(j) / n) / (n - 1.0)
        cov(i)(j) = c; cov(j)(i) = c
        j += 1; idx += 1
      }
      i += 1
    }
    val trace = (0 until d).map(i => cov(i)(i)).sum

    val (eigVals, eigVecs) = jacobiEigen(cov)
    // top-m by descending eigenvalue; deterministic sign (largest-|entry|
    // coordinate made positive)
    val order = eigVals.zipWithIndex.sortBy(-_._1).take(m).map(_._2)
    val comps = new Array[Double](m * d)
    val vals = new Array[Double](m)
    order.zipWithIndex.foreach { case (c, k) =>
      vals(k) = eigVals(c)
      val colv = Array.tabulate(d)(r => eigVecs(r)(c))
      val pivot = colv.indices.maxBy(r => math.abs(colv(r)))
      val sign = if (colv(pivot) < 0) -1.0 else 1.0
      var r = 0
      while (r < d) { comps(k * d + r) = sign * colv(r); r += 1 }
    }
    val mean = acc.s.map(_ / n)
    PcaModel(mean, comps, vals, trace)
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix: returns
    * (eigenvalues, eigenvector columns). O(d³) per sweep, converges in a
    * handful of sweeps — driver-side small-matrix math. */
  private[graft] def jacobiEigen(a0: Array[Array[Double]])
      : (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = offDiag(a)
    val tol = 1e-12 * math.max(1.0, math.sqrt(a0.indices.map(i => a0(i)(i) * a0(i)(i)).sum))
    while (off > tol && sweep < 50) {
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          if (math.abs(apq) > 1e-300) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            // signum(0) = 0 would skip the 45° rotation of the equal-
            // diagonal case — use a strict sign instead
            val sgn = if (theta >= 0.0) 1.0 else -1.0
            val t = sgn / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var k = 0
            while (k < d) {
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = c * akp - s * akq
              a(k)(q) = s * akp + c * akq
              k += 1
            }
            k = 0
            while (k < d) {
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = c * apk - s * aqk
              a(q)(k) = s * apk + c * aqk
              val vkp = v(k)(p); val vkq = v(k)(q)
              v(k)(p) = c * vkp - s * vkq
              v(k)(q) = s * vkp + c * vkq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      off = offDiag(a)
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  private def offDiag(a: Array[Array[Double]]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) {
      var j = i + 1
      while (j < a.length) { s += a(i)(j) * a(i)(j); j += 1 }
      i += 1
    }
    math.sqrt(s)
  }

  /** Project `vecCol` onto the model's components: adds `proj`
    * (ARRAY<DOUBLE> length m) through the codegen `mat_vec_project`
    * expression — the model travels as literal arrays in the plan. */
  def project(emb: DataFrame, vecCol: String, model: PcaModel,
      out: String = "proj"): DataFrame = {
    emb.withColumn(out, graft.expressions.GraftFunctions.matVecProject(
      transform(col(vecCol), x => x.cast("double")),
      typedlit(model.components.toSeq),
      typedlit(model.mean.toSeq)))
  }
}
