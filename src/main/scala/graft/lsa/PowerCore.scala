package graft.lsa

import java.math.{BigDecimal => JBig}

/** Driver/executor-LOCAL exact-decimal power-deflation SVD core — the
  * compact sibling of [[PowerLsa]]'s distributed recurrence, and the
  * engine behind every oracle-green member of the SVD family (ls01
  * k-concepts, the ls02/ls03 Ozsoy baseline, the ls04/ls05 grouped
  * summarizers run this inside `flatMapGroups`).
  *
  * The recurrence is EXACTLY the one the DuckDB oracles unroll
  * (reference semantics: BigdataProjectCode.py:138's np.linalg.svd,
  * re-expressed as a fixed declarative recurrence — same move as ls06):
  *
  * for concept j = 1..k over cells A (id × token):
  *   v := c0 = 1/√nv uniform                    (j = 1)
  *        normalize(c0 − Σ_i dec(dot0_i·v_i))   (j > 1, Gram-Schmidt init)
  *   repeat `iters` times:
  *     u  = castDouble(Σ_t dec(a·v))  per id      [A v]
  *     w0 = castDouble(Σ_d dec(a·u))  per token   [Aᵀ u]
  *     w  = w0 − castDouble(Σ_i dec((σ_i²·(v_i·v))·v_i))  (implicit
  *          deflation: AᵀA − Σ σ²vvᵀ — the residual never densifies)
  *     v  = w / √castDouble(Σ dec(w·w))
  *   σ_j = ‖A v‖, u_j = A v / σ_j
  *
  * where dec(x) = CAST(x AS DECIMAL(38,18)) ([[SparkNumerics.dec]]) and
  * Σ is the exact decimal sum (associative, so partitioning/iteration
  * order cannot perturb an ulp). castDouble is the correctly-rounded
  * decimal→double.
  *
  * Index-space contract: a [[Matrix]]'s id and token indices BOTH
  * follow the ascending order of the underlying keys — tie-breaks
  * ("lowest index wins") then equal the SQL tie-breaks ("lowest
  * token/id wins").
  */
object PowerCore {

  /** One singular triple: σ, right vector v (token-indexed), and the
    * UNNORMALIZED left image av = A·v (id-indexed; u = av/σ).
    */
  final case class Factor(sigma: Double, v: Array[Double], av: Array[Double])

  /** dec(x): the Spark double→decimal(38,18) cast every sum here runs in. */
  def dec(x: Double): JBig = SparkNumerics.dec(x, 38, 18)

  /** acc(i) += dec(x), a null cast skipped as `sum` skips it. */
  def sumInto(acc: Array[JBig], i: Int, x: Double): Unit =
    acc(i) = SparkNumerics.plus(acc(i), dec(x))

  private def zeros(n: Int): Array[JBig] = Array.fill(n)(JBig.ZERO)

  /** Exact-decimal dot product Σ dec(x·y) cast back to double. */
  def dot(x: Array[Double], y: Array[Double]): Double = {
    var acc = JBig.ZERO
    var i = 0
    while (i < x.length) { acc = SparkNumerics.plus(acc, dec(x(i) * y(i))); i += 1 }
    acc.doubleValue
  }

  /** Exact-decimal sum Σ dec(x) cast back to double. */
  def sum(xs: Iterable[Double]): Double =
    xs.foldLeft(JBig.ZERO)((acc, x) => SparkNumerics.plus(acc, dec(x))).doubleValue

  /** The exact-decimal 2-norm √Σ dec(w·w). */
  def norm(w: Array[Double]): Double = math.sqrt(dot(w, w))

  /** w / ‖w‖, or the ZERO vector when ‖w‖ = 0 (the zero-continue
    * convention of [[factorize]]).
    */
  def normalize(w: Array[Double]): Array[Double] = {
    val n = norm(w)
    if (n == 0.0) Array.fill(w.length)(0.0) else w.map(_ / n)
  }

  /** Sparse (id × token) cells on compact indices, with the keys behind
    * each index: `ids`/`toks` ascending, so index order is key order.
    * Cell order never reaches a value (every sum is an exact decimal).
    */
  final class Matrix(val ids: Array[Long], val toks: Array[String],
      cellIds: Array[Int], cellToks: Array[Int], cellAs: Array[Double]) {
    def nIds: Int = ids.length
    def nToks: Int = toks.length

    /** u = A v: per-id Σ dec(a·v). */
    def matvecV(v: Array[Double]): Array[Double] = {
      val acc = zeros(nIds)
      var i = 0
      while (i < cellAs.length) { sumInto(acc, cellIds(i), cellAs(i) * v(cellToks(i))); i += 1 }
      acc.map(_.doubleValue)
    }

    /** w = Aᵀ u: per-token Σ dec(a·u). */
    def matvecU(u: Array[Double]): Array[Double] = {
      val acc = zeros(nToks)
      var i = 0
      while (i < cellAs.length) { sumInto(acc, cellToks(i), cellAs(i) * u(cellIds(i))); i += 1 }
      acc.map(_.doubleValue)
    }
  }

  object Matrix {
    /** (id, token, a) triples → [[Matrix]]; an (id, token) pair must
      * occur at most once.
      */
    def apply(cells: Seq[(Long, String, Double)]): Matrix = {
      val ids = cells.map(_._1).distinct.sorted.toArray
      val toks = cells.map(_._2).distinct.sorted.toArray
      val idIdx = ids.zipWithIndex.toMap
      val tokIdx = toks.zipWithIndex.toMap
      new Matrix(ids, toks, cells.map(c => idIdx(c._1)).toArray,
        cells.map(c => tokIdx(c._2)).toArray, cells.map(_._3).toArray)
    }

    /** Cells already on compact indices; keys are the indices themselves. */
    def indexed(nIds: Int, nToks: Int, cellIds: Array[Int],
        cellToks: Array[Int], cellAs: Array[Double]): Matrix =
      new Matrix(Array.tabulate(nIds)(_.toLong),
        Array.tabulate(nToks)(_.toString), cellIds, cellToks, cellAs)
  }

  /** k singular triples of the sparse cells matrix by sequential
    * implicit deflation. Always returns exactly k factors: when a
    * residual collapses to zero norm (rank-deficient input, e.g. a
    * 2-sentence group factored at k=5), the normalize step yields the
    * ZERO vector and the concept continues with σ=0 — deflation against
    * a zero factor is a no-op, so later concepts are unaffected. This
    * zero-continue convention is what the SQL oracles replay (their
    * normalize guards `nrm = 0`), keeping engine and oracle total on
    * degenerate groups instead of diverging on an early stop.
    */
  def factorize(m: Matrix, k: Int, iters: Int): Array[Factor] = {
    require(k >= 1 && iters >= 1)
    val nToks = m.nToks
    val out = scala.collection.mutable.ArrayBuffer.empty[Factor]
    val c0 = 1.0 / math.sqrt(nToks.toDouble)
    var j = 0
    while (j < k) {
      // init: uniform, Gram-Schmidt-orthogonalized against prior v's
      var v: Array[Double] =
        if (out.isEmpty) Array.fill(nToks)(c0)
        else {
          val corr = zeros(nToks)
          val c0s = Array.fill(nToks)(c0)
          out.foreach { f =>
            val d0 = dot(f.v, c0s) // Σ dec(v_i·c0)
            var t = 0
            while (t < nToks) { sumInto(corr, t, d0 * f.v(t)); t += 1 }
          }
          normalize(Array.tabulate(nToks)(t => c0 - corr(t).doubleValue))
        }
      var it = 0
      while (it < iters) {
        val w0 = m.matvecU(m.matvecV(v))
        val w =
          if (out.isEmpty) w0
          else {
            val corr = zeros(nToks)
            out.foreach { f =>
              val s2 = f.sigma * f.sigma
              val d = dot(f.v, v) // Σ dec(v_i·v), pinned order v_i * v
              var t = 0
              while (t < nToks) { sumInto(corr, t, (s2 * d) * f.v(t)); t += 1 }
            }
            Array.tabulate(nToks)(t => w0(t) - corr(t).doubleValue)
          }
        v = normalize(w)
        it += 1
      }
      val av = m.matvecV(v)
      out += Factor(norm(av), v, av)
      j += 1
    }
    out.toArray
  }
}
