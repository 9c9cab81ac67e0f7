package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** Pins the r15 routing contract of [[Similarity.lloydClusters]]: the
  * bounded-collect local twin (what `lloydClusters` runs under its row
  * budget) must be BIT-identical to the distributed window+decimal-agg
  * loop ([[Similarity.lloydDistributed]], called directly) — centroid
  * coordinates and assignments compared with ==, never a tolerance.
  * The fixture deliberately includes duplicate vectors (argmin ties →
  * lowest cluster), a vector equidistant from two centroids, and a
  * cluster that goes empty after round 1 (keep-previous-centroid rule).
  */
class LloydLocalTwinSpec extends SparkSpec {
  import spark.implicits._

  private val vecs = Seq(
    (0L, Seq(0.0, 0.0)),
    (1L, Seq(10.0, 10.0)),
    (2L, Seq(0.1, -0.2)),
    (3L, Seq(9.8, 10.3)),
    (4L, Seq(5.0, 5.0)),   // equidistant-ish between the two blobs
    (5L, Seq(0.1, -0.2)),  // duplicate of id 2
    (6L, Seq(10.0, 10.0)), // duplicate of id 1
    (7L, Seq(0.05, 0.05))
  ).toDF("id", "vec")

  private def rows(ca: (DataFrame, DataFrame)) = {
    val (cents, asg) = ca
    val c = cents.orderBy("cluster")
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toSeq)).toSeq
    val a = asg.orderBy("id")
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toSeq, r.getInt(2)))
      .toSeq
    (c, a)
  }

  test("local twin is bit-identical to the distributed loop") {
    val (cLocal, aLocal) = rows(Similarity.lloydClusters(vecs, 3, 2))
    val (cDist, aDist) = rows(Similarity.lloydDistributed(vecs, 3, 2))
    assert(cLocal == cDist)
    assert(aLocal == aDist)
    assert(cLocal.size == 3 && aLocal.size == 8)
  }

  test("a NaN coordinate in the lowest-id vector matches the distributed loop") {
    // the NaN vector seeds centroid 0: every distance to it is NaN
    // (ordered last), its own mean coordinate is a null sum (a null
    // distance, ordered first) — the twin must walk the same rows
    val withNaN = vecs.as[(Long, Seq[Double])].map { case (id, v) =>
      (id, if (id == 0L) Seq(Double.NaN, v(1)) else v) }.toDF("id", "vec")
    def bits(xs: Seq[Any]) = xs.map {
      case null => None
      case d: Double => Some(java.lang.Double.doubleToLongBits(d))
    }
    def rowsNaN(ca: (DataFrame, DataFrame)) = {
      val (cents, asg) = ca
      (cents.schema, asg.schema, cents.orderBy("cluster").collect()
        .map(r => (r.getInt(0), bits(r.getSeq[Any](1)))).toSeq,
        asg.orderBy("id").collect()
          .map(r => (r.getLong(0), bits(r.getSeq[Any](1)), r.getInt(2))).toSeq)
    }
    for (iters <- Seq(1, 2)) { // 1 ends on the null coordinate
      val local = rowsNaN(Similarity.lloydClusters(withNaN, 3, iters))
      assert(local == rowsNaN(Similarity.lloydDistributed(withNaN, 3, iters)))
      assert(local._4.size == 8)
    }
  }

  test("ivfadc consumer runs deterministically on the local route") {
    // the heaviest lloyd consumer: full IVFADC over the same fixture
    // (route equality is pinned above at the lloydClusters surface —
    // the consumer only reads the returned DataFrames)
    val qs = Seq((100L, Seq(0.2, 0.1)), (101L, Seq(9.9, 10.1)))
      .toDF("qid", "vec")
    def rows() = {
      val r = Similarity.ivfAdcTopK(vecs, qs, k = 2, nClusters = 2,
        nProbe = 2, coarseIters = 2, m = 2, subDim = 1, pqClusters = 2,
        pqIters = 2)
      r.orderBy(r.columns.map(org.apache.spark.sql.functions.col).toIndexedSeq: _*)
        .collect().map(_.toSeq).toSeq
    }
    val a = rows(); val b = rows()
    assert(a == b && a.nonEmpty)
  }
}
