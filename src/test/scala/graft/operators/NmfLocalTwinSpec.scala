package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** Pins the r15 routing contract of [[Nmf.factorize]]: the
  * bounded-collect local twin (what `factorize` runs under its nnz
  * budget) must be BIT-identical to the distributed
  * checkpoint-per-round loop ([[Nmf.factorizeDistributed]], called
  * directly) — every W and H entry (6dp decimal) compared with ==.
  * The fixture exercises the FNV init, both gram joins, and the
  * epsilon-guarded multiplicative step over several rounds.
  */
class NmfLocalTwinSpec extends SparkSpec {
  import spark.implicits._

  private val cells = Seq(
    (0L, "alpha", "2.000000"), (0L, "beta", "1.000000"),
    (1L, "alpha", "1.500000"), (1L, "gamma", "0.700000"),
    (2L, "beta", "2.200000"), (2L, "gamma", "1.100000"),
    (3L, "delta", "3.000000"), (3L, "alpha", "0.400000")
  ).toDF("doc_id", "term", "vs")
    .select($"doc_id", $"term", $"vs".cast("decimal(18,6)").as("v"))

  private def rows(wh: (DataFrame, DataFrame)) = {
    val (w, h) = wh
    val wr = w.orderBy("doc_id", "topic").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDecimal(2))).toSeq
    val hr = h.orderBy("topic", "term").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getDecimal(2))).toSeq
    (wr, hr)
  }

  test("local twin is bit-identical to the distributed loop") {
    val (wLocal, hLocal) = rows(Nmf.factorize(cells, k = 3, rounds = 3))
    val (wDist, hDist) = rows(Nmf.factorizeDistributed(cells, k = 3, rounds = 3))
    assert(wLocal == wDist)
    assert(hLocal == hDist)
    assert(wLocal.size == 4 * 3 && hLocal.size == 3 * 4)
  }
}
