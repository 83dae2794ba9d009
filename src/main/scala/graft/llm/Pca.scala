package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PCA dimensionality reduction for embedding columns — the standard
  * pre-ANN compression step (project 64/768-dim vectors onto the
  * top-k variance axes before IVF/LSH indexing: smaller candidates,
  * same neighborhoods for k chosen by explained variance).
  *
  * Scale shape: `fit` is ONE scan — the native
  * [[graft.plans.VecMomentsAgg]] buffer accumulates n/Σx/Σxxᵀ
  * map-side (a ~17 KB buffer at d=64, never the data), the d×d
  * covariance eigendecomposition runs on the driver (cyclic Jacobi,
  * deterministic pivot order — d is embedding-sized, microseconds),
  * and `transform` projects with the codegen'd
  * [[graft.plans.DotProductF]] loop per component: centering folds
  * into a precomputed scalar offset (dot(x−μ, c) = dot(x, c) −
  * dot(μ, c)), so the hot path is k tight float loops and zero
  * allocation per row.
  */
object Pca {

  /** Fitted basis: components are unit-length rows, eigenvalues
    * non-increasing; `totalVariance` is the covariance trace, so
    * `explainedRatio` sums to ≤ 1 over the kept k.
    */
  final case class Model(dim: Int, k: Int, mean: Array[Double],
                         eigenvalues: Array[Double],
                         components: Array[Array[Double]],
                         totalVariance: Double) {
    def explainedRatio: Array[Double] =
      if (totalVariance <= 0.0) eigenvalues.map(_ => 0.0)
      else eigenvalues.map(_ / totalVariance)
  }

  /** One-pass fit over `vecCol` (array<float>). Population covariance
    * (divide by n), matching the moments identity exactly.
    */
  def fit(df: DataFrame, vecCol: String, k: Int): Model = {
    require(k >= 1, "k >= 1")
    val row = df.agg(
      call_function("graft_vec_moments", col(vecCol)).as("m")).head()
    require(!row.isNullAt(0), "Pca.fit: no non-null vectors")
    val m = row.getSeq[Double](0).toArray
    // length = 1 + d + d(d+1)/2  =>  d = (-3 + sqrt(9 + 8(len-1))) / 2
    val d = ((math.sqrt(9.0 + 8.0 * (m.length - 1)) - 3.0) / 2.0).round.toInt
    require(1 + d + d * (d + 1) / 2 == m.length, s"bad moments length ${m.length}")
    require(k <= d, s"k=$k exceeds dimension $d")
    val n = m(0)
    require(n >= 2, s"Pca.fit needs >= 2 vectors, got ${n.toLong}")
    val mean = Array.tabulate(d)(i => m(1 + i) / n)
    val cov = Array.ofDim[Double](d, d)
    var idx = 1 + d
    var p = 0
    while (p < d) {
      var q = p
      while (q < d) {
        val c = m(idx) / n - mean(p) * mean(q)
        cov(p)(q) = c; cov(q)(p) = c
        idx += 1; q += 1
      }
      p += 1
    }
    val trace = (0 until d).map(i => cov(i)(i)).sum
    val (values, vectors) = jacobi(cov)
    // sort by eigenvalue desc, index asc on ties; fix sign so each
    // component's largest-|coord| entry is positive (Jacobi's sign is
    // arbitrary; pinning it makes fits comparable across runs)
    val order = values.zipWithIndex.sortBy { case (v, i) => (-v, i) }.map(_._2)
    val comps = order.take(k).map { j =>
      val c = Array.tabulate(d)(i => vectors(i)(j))
      val lead = c.indices.maxBy(i => (math.abs(c(i)), -i))
      if (c(lead) < 0) c.map(-_) else c
    }
    Model(d, k, mean, order.take(k).map(values), comps, trace)
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix:
    * deterministic sweep order p<q, rotations until the off-diagonal
    * Frobenius mass drops below `tol` × the initial mass (or
    * `maxSweeps`). Returns (eigenvalues, eigenvector COLUMNS).
    */
  private[llm] def jacobi(a0: Array[Array[Double]], maxSweeps: Int = 64,
                          tol: Double = 1e-14): (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = Array.tabulate(d, d)((i, j) => a0(i)(j))
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    def offMass: Double = {
      var s = 0.0
      var i = 0
      while (i < d) { var j = i + 1; while (j < d) { s += a(i)(j) * a(i)(j); j += 1 }; i += 1 }
      s
    }
    val target = tol * math.max(offMass, 1e-300)
    var sweep = 0
    while (sweep < maxSweeps && offMass > target) {
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          if (math.abs(apq) > 1e-300) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val t = math.signum(theta match { case 0.0 => 1.0; case th => th }) /
              (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var i = 0
            while (i < d) {
              val aip = a(i)(p); val aiq = a(i)(q)
              a(i)(p) = c * aip - s * aiq
              a(i)(q) = s * aip + c * aiq
              i += 1
            }
            i = 0
            while (i < d) {
              val api = a(p)(i); val aqi = a(q)(i)
              a(p)(i) = c * api - s * aqi
              a(q)(i) = s * api + c * aqi
              val vip = v(i)(p); val viq = v(i)(q)
              v(i)(p) = c * vip - s * viq
              v(i)(q) = s * vip + c * viq
              i += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  /** Project onto the fitted basis: adds `pc0..pc{k-1}` double
    * columns. Each is one codegen'd dot-product loop minus a scalar —
    * map-side, no shuffle, no per-row allocation.
    */
  def transform(df: DataFrame, vecCol: String, model: Model,
                prefix: String = "pc"): DataFrame =
    model.components.zipWithIndex.foldLeft(df) { case (acc, (comp, j)) =>
      // the projection loop sees the float-cast component, so the
      // centering offset must use the same cast values
      val offset = comp.zip(model.mean)
        .map { case (c, mu) => c.toFloat.toDouble * mu }.sum
      acc.withColumn(s"$prefix$j",
        call_function("graft_dot", col(vecCol),
          typedLit(comp.map(_.toFloat))) - lit(offset))
    }
}
