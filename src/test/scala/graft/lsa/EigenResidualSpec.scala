package graft.lsa

import breeze.linalg.{svd => bsvd, DenseMatrix}
import org.apache.spark.mllib.linalg.{Vectors => MlVectors}
import org.apache.spark.mllib.linalg.distributed.IndexedRow

import graft.SparkSpec

/** The solver's gate (`Svd.residuals` + `Svd.requireGenuine`, run by
  * `Svd.emit` on every route) must be a gate that can actually FAIL: a true
  * factorization passes with residual ~machine-epsilon, and corrupted
  * loadings or a wrong σ blow past the 1e-6 tolerance by orders of
  * magnitude. Without the negative cases the "verification" would be
  * indistinguishable from a no-op.
  */
class EigenResidualSpec extends SparkSpec {

  // 6×4 matrix with distinct singular values
  private val m: DenseMatrix[Double] = {
    val d = DenseMatrix.zeros[Double](6, 4)
    val vals = Seq(
      (0, 0, 5.0), (0, 1, 1.0), (1, 0, 4.0), (1, 2, 2.0),
      (2, 1, 3.0), (2, 3, 1.0), (3, 0, 1.0), (3, 3, 4.0),
      (4, 2, 6.0), (5, 1, 2.0), (5, 2, 1.0))
    vals.foreach { case (i, j, x) => d(i, j) = x }
    d
  }

  private def distributed = new Svd.Distributed(spark.sparkContext.parallelize(
    (0 until 6).map { i =>
      val vs = (0 until 4).map(j => m(i, j)).toArray
      IndexedRow(i.toLong, MlVectors.dense(vs).toSparse)
    }, 2), 4)

  private def local = Svd.Local(
    for (i <- 0 until 6; j <- 0 until 4 if m(i, j) != 0.0) yield (i.toLong, j, m(i, j)), 4)

  /** Loadings v(i, j) for k concepts, as the solver lays them out. */
  private def loadings(k: Int)(v: (Int, Int) => Double): Array[Double] =
    Array.tabulate(4 * k)(p => v(p % 4, p / 4))

  test("a genuine LAPACK factorization passes far under tolerance") {
    val s = bsvd(m)
    val k = 3
    val res = Svd.residuals(distributed,
      loadings(k)((i, j) => s.Vt(j, i)), Array.tabulate(k)(s.S(_)))
    assert(res.length == k)
    res.foreach(r => assert(r < 1e-12, s"genuine triple residual $r"))
  }

  test("corrupted loadings are rejected by orders of magnitude") {
    val s = bsvd(m)
    // swap two V entries in concept 0 — a plausible-looking but wrong basis
    val res = Svd.residuals(distributed,
      loadings(2)((i, j) => if (j == 0) s.Vt(j, (i + 1) % 4) else s.Vt(j, i)),
      Array.tabulate(2)(s.S(_)))
    assert(res(0) > 1e-2, s"corrupted V residual ${res(0)} should be large")
    assert(res(1) < 1e-12)
  }

  test("a wrong singular value is rejected") {
    val s = bsvd(m)
    val res = Svd.residuals(distributed,
      loadings(1)((i, j) => s.Vt(j, i)), Array(s.S(0) * 1.001))
    // σ off by 0.1% → residual ≈ |σ'² − σ²|/σ'² ≈ 2e-3 ≫ 1e-6
    assert(res(0) > 1e-4, s"wrong-sigma residual ${res(0)} should exceed tolerance")
  }

  test("zero-sigma concepts report zero (nothing to verify)") {
    val res = Svd.residuals(distributed, loadings(1)((_, _) => 0.0), Array(0.0))
    assert(res sameElements Array(0.0))
  }

  test("the local route's gate rejects a corrupted factor") {
    val s = bsvd(m)
    val k = 3
    val sig = Array.tabulate(k)(s.S(_))
    val genuine = Svd.residuals(local, loadings(k)((i, j) => s.Vt(j, i)), sig)
    genuine.foreach(r => assert(r < 1e-12, s"genuine triple residual $r"))
    Svd.requireGenuine(genuine, sig)
    // the same corruption as above: concept 0's loadings rotated by one
    val res = Svd.residuals(local,
      loadings(k)((i, j) => if (j == 0) s.Vt(j, (i + 1) % 4) else s.Vt(j, i)), sig)
    assert(res(0) > 1e-2 && res(1) < 1e-12, res.toSeq)
    val e = intercept[IllegalArgumentException](Svd.requireGenuine(res, sig))
    assert(e.getMessage.contains("concept 0 eigen-residual"), e.getMessage)
  }

  test("a corrupted solve fails the emission's gate on both routes") {
    val s = bsvd(m)
    val vocab = Array("a", "b", "c", "d")
    val bad = loadings(2)((i, j) => if (j == 0) s.Vt(j, (i + 1) % 4) else s.Vt(j, i))
    Seq(local, distributed).foreach { a =>
      val e = intercept[IllegalArgumentException](
        Svd.emit(a, vocab, Array.tabulate(2)(s.S(_)), bad, Lsa.Config()))
      assert(e.getMessage.contains("concept 0 eigen-residual"), e.getMessage)
    }
  }
}
