package graft.functions

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.{Aggregator, UserDefinedFunction}
import org.apache.spark.sql.functions.udaf

/** Single-scan second-moment accumulation for embedding-space audits:
  * a typed [[Aggregator]] whose buffer is the flat
  * `[width, n, Σx (width), upper-triangle Σxxᵀ (width(width+1)/2)]`
  * vector, folded ROW-LOCALLY — the covariance of an n×width
  * collection reduces in ONE pass with map-side combine, so the
  * shuffle carries exactly one buffer per partition regardless of
  * collection size. The alternative (posexplode + self-join on the
  * row id) exchanges width² product rows PER VECTOR — 4,096/row at
  * width 64 and 16M/row at production widths 1024–4096, a
  * scale-killer for exactly the audits meant to run before every ANN
  * build. Buffer size is width(width+5)/2 + 2 doubles (≈ 67 MB at
  * width 4096 — the treeAggregate-class state MLlib's RowMatrix
  * covariance carries; fine per-task, catastrophic per-row).
  *
  * The buffer sizes itself on the first row; all rows must share one
  * width (enforced — a ragged collection is a data error, not a
  * silent wrong covariance). NULL rows must be filtered by the
  * caller (primitive array encoder), matching the explode plan that
  * simply dropped them.
  *
  * [[Gram.covariance]] parses the reduced buffer into (n, mean, C)
  * with C = Σxxᵀ/n − μμᵀ — the same population-covariance cell
  * formula the DuckDB oracle computes per (d1, d2) group, so the
  * only cross-engine surface is summation order, absorbed by the
  * decimal round exactly as the per-cell agg's was.
  */
class GramAgg extends Aggregator[Array[Double], Array[Double], Array[Double]] {

  override def zero: Array[Double] = Array.emptyDoubleArray

  override def reduce(b: Array[Double], x: Array[Double]): Array[Double] = {
    val w = x.length
    val buf =
      if (b.isEmpty) {
        val nb = new Array[Double](2 + w + w * (w + 1) / 2)
        nb(0) = w.toDouble
        nb
      } else b
    require(buf(0).toInt == w,
      s"ragged embedding widths: ${buf(0).toInt} vs $w")
    buf(1) += 1.0
    var i = 0
    var t = 2 + w
    while (i < w) {
      val xi = x(i)
      buf(2 + i) += xi
      var j = i
      while (j < w) {
        buf(t) += xi * x(j)
        t += 1; j += 1
      }
      i += 1
    }
    buf
  }

  override def merge(a: Array[Double], b: Array[Double]): Array[Double] =
    if (a.isEmpty) b
    else if (b.isEmpty) a
    else {
      require(a(0) == b(0),
        s"ragged embedding widths: ${a(0).toInt} vs ${b(0).toInt}")
      var i = 1
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }

  override def finish(b: Array[Double]): Array[Double] = b

  override def bufferEncoder: Encoder[Array[Double]] = Gram.VecEncoder
  override def outputEncoder: Encoder[Array[Double]] = Gram.VecEncoder
}

object Gram {
  // Built once per JVM, as SkylineAgg's encoders are.
  private[functions] val VecEncoder: Encoder[Array[Double]] =
    ExpressionEncoder[Array[Double]]()
  private val agg: UserDefinedFunction = udaf(new GramAgg, VecEncoder)

  /** `gram(vec)` — aggregate Column reducing an `array<double>` column
    * to the flat (width, n, Σx, upper-tri Σxxᵀ) moment buffer.
    */
  def gram(vec: Column): Column = agg(vec)

  /** Parse a reduced moment buffer into (n, mean, full covariance
    * matrix) with C_ij = S_ij/n − μ_i μ_j. Driver-side over the
    * CONSTANT-size result (width² cells — the plan's output, not
    * data).
    */
  def covariance(buf: Array[Double])
      : (Long, Array[Double], Array[Array[Double]]) = {
    require(buf.length >= 2, "empty gram buffer: no rows aggregated")
    val w = buf(0).toInt
    val n = buf(1)
    val mean = Array.tabulate(w)(i => buf(2 + i) / n)
    val c = Array.ofDim[Double](w, w)
    var i = 0
    var t = 2 + w
    while (i < w) {
      var j = i
      while (j < w) {
        val cij = buf(t) / n - mean(i) * mean(j)
        c(i)(j) = cij
        c(j)(i) = cij
        t += 1; j += 1
      }
      i += 1
    }
    (n.toLong, mean, c)
  }
}
