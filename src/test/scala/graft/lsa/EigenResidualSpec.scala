package graft.lsa

import breeze.linalg.{svd => bsvd, DenseMatrix}
import org.apache.spark.mllib.linalg.{Vectors => MlVectors}
import org.apache.spark.mllib.linalg.distributed.IndexedRow

import graft.SparkSpec

/** The ls08 at-scale gate must be a gate that can actually FAIL: a true
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

  private def rowsRdd = spark.sparkContext.parallelize(
    (0 until 6).map { i =>
      val vs = (0 until 4).map(j => m(i, j)).toArray
      IndexedRow(i.toLong, MlVectors.dense(vs).toSparse)
    }, 2)

  test("a genuine LAPACK factorization passes far under tolerance") {
    val s = bsvd(m)
    val k = 3
    val res = Lsa.eigenResiduals(rowsRdd,
      (i, j) => s.Vt(j, i), Array.tabulate(k)(s.S(_)), vocabSize = 4)
    assert(res.length == k)
    res.foreach(r => assert(r < 1e-12, s"genuine triple residual $r"))
  }

  test("corrupted loadings are rejected by orders of magnitude") {
    val s = bsvd(m)
    // swap two V entries in concept 0 — a plausible-looking but wrong basis
    val res = Lsa.eigenResiduals(rowsRdd,
      (i, j) => if (j == 0) s.Vt(j, (i + 1) % 4) else s.Vt(j, i),
      Array.tabulate(2)(s.S(_)), vocabSize = 4)
    assert(res(0) > 1e-2, s"corrupted V residual ${res(0)} should be large")
    assert(res(1) < 1e-12)
  }

  test("a wrong singular value is rejected") {
    val s = bsvd(m)
    val res = Lsa.eigenResiduals(rowsRdd,
      (i, j) => s.Vt(j, i), Array(s.S(0) * 1.001), vocabSize = 4)
    // σ off by 0.1% → residual ≈ |σ'² − σ²|/σ'² ≈ 2e-3 ≫ 1e-6
    assert(res(0) > 1e-4, s"wrong-sigma residual ${res(0)} should exceed tolerance")
  }

  test("zero-sigma concepts report zero (nothing to verify)") {
    val res = Lsa.eigenResiduals(rowsRdd, (_, _) => 0.0, Array(0.0), 4)
    assert(res sameElements Array(0.0))
  }

  test("the local route's dense gate rejects a corrupted factor") {
    val s = bsvd(m)
    val k = 3
    val sig = Array.tabulate(k)(s.S(_))
    val v = s.Vt(0 until k, ::).t.copy // 4 x k
    val genuine = LocalLsa.denseResiduals(m, v, sig)
    genuine.foreach(r => assert(r < 1e-12, s"genuine triple residual $r"))
    Lsa.requireGenuine(genuine, sig)
    // the same corruption as above: concept 0's loadings rotated by one
    val bad = v.copy
    (0 until 4).foreach(i => bad(i, 0) = v((i + 1) % 4, 0))
    val res = LocalLsa.denseResiduals(m, bad, sig)
    assert(res(0) > 1e-2 && res(1) < 1e-12, res.toSeq)
    val e = intercept[IllegalArgumentException](Lsa.requireGenuine(res, sig))
    assert(e.getMessage.contains("concept 0 eigen-residual"), e.getMessage)
  }
}
