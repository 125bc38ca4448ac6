package graft.clustering

import scala.collection.mutable.ArrayBuffer

/** The top eigenpairs of a dense symmetric positive semi-definite
  * matrix, for [[CaseClustering.PcaProjector]]: only the top k are ever
  * needed (k = 2), so a full decomposition of the d×d covariance (what
  * MLlib's PCA runs, a Breeze SVD of the whole matrix) is never made.
  *
  * Krylov iteration (Lanczos with full re-orthogonalization) and
  * Rayleigh–Ritz: the basis q₀, q₁, … of span{b, Cb, C²b, …} from a
  * fixed start b grows by one matrix–vector product a round, and the
  * top-k Ritz pairs of the projection H = QᵀCQ (solved by cyclic
  * Jacobi) are checked for convergence. A covariance of n rows has rank
  * ≤ n − 1, so for the case-level matrix (n ≪ d) the basis spans an
  * invariant subspace within n rounds and the pairs are exact there.
  * The loop stops when every wanted pair's residual ‖Cv − θv‖ is within
  * `tol`·θ₁ (for eigenvalues tied within that, any unit vector of their
  * common eigenspace qualifies) and throws [[EigenNotConverged]] when
  * `maxIter` rounds do not get there: it never returns an unconverged
  * answer.
  *
  * Deterministic: a seeded start (and seeded fresh directions when the
  * basis becomes invariant), a fixed Jacobi sweep order, and each
  * eigenvector's sign fixed so its largest-|component| (the first one
  * on ties) is positive.
  */
object TopEigen {

  /** The top-k (eigenvalues descending, unit eigenvectors) of the
    * symmetric positive semi-definite d×d matrix `c`, row-major. */
  def apply(c: Array[Double], d: Int, k: Int, tol: Double = 1e-12,
            maxIter: Int = 256): (Array[Double], Array[Array[Double]]) = {
    require(c.length == d.toLong * d, s"matrix is not $d×$d")
    require(k >= 1 && k <= d, s"k=$k outside 1..$d")
    val rounds = math.min(d, maxIter)
    val rnd = new java.util.Random(42L)
    val q = ArrayBuffer.empty[Array[Double]] // orthonormal basis
    val z = ArrayBuffer.empty[Array[Double]] // z(i) = C·q(i)
    val h = Array.ofDim[Double](rounds, rounds) // H = QᵀCQ, grown a row and column a round
    var next = Array.fill(d)(rnd.nextGaussian())
    var lastCheck = 0
    while (q.length < rounds) {
      // the next basis vector: the last product made orthogonal to the
      // basis, or a fresh seeded direction once the basis is invariant
      var v = orthogonal(next, q)
      while (v.isEmpty) v = orthogonal(Array.fill(d)(rnd.nextGaussian()), q)
      q += v.get
      z += multiply(c, d, v.get)
      val m = q.length
      for (i <- 0 until m) {
        h(i)(m - 1) = (dot(q(i), z(m - 1)) + dot(q(m - 1), z(i))) / 2
        h(m - 1)(i) = h(i)(m - 1)
      }
      // Rayleigh–Ritz every round at first, then at spaced rounds so a
      // long solve does not pay an m³ Jacobi per round
      if (m >= k && (m <= 32 || m - lastCheck >= m / 8 || m == rounds)) {
        lastCheck = m
        val (theta, w) = jacobi(Array.tabulate(m, m)((i, j) => h(i)(j)))
        val ritz = (0 until k).map(j => combine(q, w, j))
        val cRitz = (0 until k).map(j => combine(z, w, j))
        if ((0 until k).forall(j =>
              residual(cRitz(j), theta(j), ritz(j)) <= tol * math.abs(theta(0))))
          return (theta.take(k), ritz.map(signFixed).toArray)
      }
      next = z(m - 1)
    }
    throw new EigenNotConverged(
      s"top-$k eigen-solve of a $d×$d matrix did not reach residual " +
        s"${tol}·θ₁ in $rounds rounds")
  }

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  private def multiply(c: Array[Double], d: Int, v: Array[Double]): Array[Double] =
    Array.tabulate(d) { i =>
      var s = 0.0
      var j = 0
      while (j < d) { s += c(i * d + j) * v(j); j += 1 }
      s
    }

  /** Column j of vs·w: Σᵢ w(i)(j)·vs(i). */
  private def combine(vs: ArrayBuffer[Array[Double]], w: Array[Array[Double]],
                      j: Int): Array[Double] = {
    val out = new Array[Double](vs(0).length)
    for (i <- vs.indices) {
      val f = w(i)(j)
      var t = 0
      while (t < out.length) { out(t) += f * vs(i)(t); t += 1 }
    }
    out
  }

  private def residual(cv: Array[Double], theta: Double, v: Array[Double]): Double =
    math.sqrt(v.indices.iterator.map { i => val r = cv(i) - theta * v(i); r * r }.sum)

  /** `v` less its components along the orthonormal `basis` (modified
    * Gram–Schmidt, twice), normalized; None when it collapses — it lay
    * in the basis's span. */
  private def orthogonal(v0: Array[Double], basis: ArrayBuffer[Array[Double]])
      : Option[Array[Double]] = {
    val v = v0.clone
    val before = math.sqrt(dot(v, v))
    for (_ <- 0 until 2; u <- basis) {
      val f = dot(u, v)
      var t = 0
      while (t < v.length) { v(t) -= f * u(t); t += 1 }
    }
    val after = math.sqrt(dot(v, v))
    if (before == 0.0 || after <= 1e-10 * before) None
    else Some(v.map(_ / after))
  }

  /** Cyclic Jacobi on a small symmetric matrix: (eigenvalues descending,
    * w) with eigenvector j in column j of w (w(i)(j)); ties keep index
    * order. */
  private def jacobi(h0: Array[Array[Double]])
      : (Array[Double], Array[Array[Double]]) = {
    val n = h0.length
    val a = h0.map(_.clone)
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    def off: Double = (for (i <- 0 until n; j <- 0 until n if i != j) yield a(i)(j) * a(i)(j)).sum
    val total = a.map(r => r.map(x => x * x).sum).sum
    var sweeps = 0
    while (sweeps < 100 && off > 1e-32 * total) {
      sweeps += 1
      for (pi <- 0 until n - 1; qi <- pi + 1 until n if a(pi)(qi) != 0.0) {
        val tau = (a(qi)(qi) - a(pi)(pi)) / (2 * a(pi)(qi))
        val t = (if (tau >= 0) 1.0 else -1.0) / (math.abs(tau) + math.sqrt(1 + tau * tau))
        val cs = 1 / math.sqrt(1 + t * t)
        val sn = t * cs
        for (r <- 0 until n) { // A ← A·J
          val (x, y) = (a(r)(pi), a(r)(qi))
          a(r)(pi) = cs * x - sn * y; a(r)(qi) = sn * x + cs * y
        }
        for (r <- 0 until n) { // A ← Jᵀ·A
          val (x, y) = (a(pi)(r), a(qi)(r))
          a(pi)(r) = cs * x - sn * y; a(qi)(r) = sn * x + cs * y
        }
        for (r <- 0 until n) { // V ← V·J
          val (x, y) = (v(r)(pi), v(r)(qi))
          v(r)(pi) = cs * x - sn * y; v(r)(qi) = sn * x + cs * y
        }
        a(pi)(qi) = 0.0; a(qi)(pi) = 0.0
      }
    }
    val order = (0 until n).sortBy(i => -a(i)(i))
    (order.map(i => a(i)(i)).toArray, Array.tabulate(n, n)((r, j) => v(r)(order(j))))
  }

  private def signFixed(v: Array[Double]): Array[Double] = {
    var m = 0
    for (i <- v.indices if math.abs(v(i)) > math.abs(v(m))) m = i
    if (v(m) < 0) v.map(-_) else v
  }
}

/** The eigen-solve hit its round cap before every wanted pair met the
  * residual tolerance. */
final class EigenNotConverged(msg: String) extends ArithmeticException(msg)
