package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** Sample covariance of `array<double>` rows in ONE distributed pass,
  * the input of [[graft.clustering.CaseClustering.PcaProjector]]: the
  * same d×d that MLlib's `RowMatrix.computeCovariance` forms (divided
  * by n − 1), as plain loops over a packed upper triangle instead of
  * `RowMatrix` and BLAS `dspr`, and without its separate mean job.
  *
  * Buffer (n, mean, M2): Welford's update per row and Chan et al.'s
  * pairwise merge, so the sums are centered as they accumulate and an
  * uncentered input loses no precision to `XᵀX − n·μμᵀ` cancellation.
  * M2 holds d(d+1)/2 doubles, row i's entries j ≥ i in order. Null rows
  * are skipped; mismatched dimensions throw, as in [[VecWeightedMean]].
  */
object Covariance
    extends Aggregator[Array[Double], (Long, Array[Double], Array[Double]),
      (Long, Array[Double], Array[Double])] {

  type Moments = (Long, Array[Double], Array[Double])

  override def zero: Moments = (0L, Array.emptyDoubleArray, Array.emptyDoubleArray)

  override def reduce(b: Moments, x: Array[Double]): Moments = {
    if (x == null) return b
    val d = x.length
    val (mean, m2) =
      if (b._1 == 0L) (new Array[Double](d), new Array[Double](d * (d + 1) / 2))
      else (b._2, b._3)
    require(mean.length == d, s"vector dimension mismatch: ${mean.length} vs $d")
    val n = b._1 + 1
    val delta = Array.tabulate(d)(i => x(i) - mean(i))
    var i = 0
    while (i < d) { mean(i) += delta(i) / n; i += 1 }
    // M2 += (x − mean_old)(x − mean_new)ᵀ = ((n−1)/n)·δδᵀ
    addOuter(m2, delta, (n - 1).toDouble / n)
    (n, mean, m2)
  }

  override def merge(a: Moments, b: Moments): Moments = {
    if (a._1 == 0L) return b
    if (b._1 == 0L) return a
    require(a._2.length == b._2.length, "vector dimension mismatch")
    val n = a._1 + b._1
    val delta = Array.tabulate(a._2.length)(i => b._2(i) - a._2(i))
    var i = 0
    while (i < delta.length) { a._2(i) += delta(i) * b._1 / n; i += 1 }
    i = 0
    while (i < a._3.length) { a._3(i) += b._3(i); i += 1 }
    addOuter(a._3, delta, a._1.toDouble * b._1 / n)
    (n, a._2, a._3)
  }

  override def finish(b: Moments): Moments = b

  /** m2 += f·δδᵀ on the packed upper triangle. */
  private def addOuter(m2: Array[Double], delta: Array[Double], f: Double): Unit = {
    val d = delta.length
    var k = 0
    var i = 0
    while (i < d) {
      val di = delta(i) * f
      var j = i
      while (j < d) { m2(k) += di * delta(j); j += 1; k += 1 }
      i += 1
    }
  }

  /** The dense row-major d×d sample covariance M2 / (n − 1). */
  def matrix(m: Moments): Array[Double] = {
    val (n, mean, m2) = m
    require(n > 1, s"covariance needs at least 2 rows, got $n")
    val d = mean.length
    val c = new Array[Double](d * d)
    var k = 0
    for (i <- 0 until d; j <- i until d) {
      val v = m2(k) / (n - 1)
      c(i * d + j) = v
      c(j * d + i) = v
      k += 1
    }
    c
  }

  private val enc: Encoder[Moments] = Encoders.tuple(Encoders.scalaLong,
    ExpressionEncoder[Array[Double]](), ExpressionEncoder[Array[Double]]())

  override def bufferEncoder: Encoder[Moments] = enc
  override def outputEncoder: Encoder[Moments] = enc
}
