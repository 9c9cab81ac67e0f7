package graft.operators

import graft.SparkSpec

/** Pins the r15 routing contract of [[Nmf.factorize]]: the
  * bounded-collect local twin must be BIT-identical to the distributed
  * checkpoint-per-round loop — every W and H entry (6dp decimal)
  * compared with ==. The fixture exercises the FNV init, both gram
  * joins, and the epsilon-guarded multiplicative step over several
  * rounds.
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

  private def run(maxLocalNnz: Int) = {
    val (w, h) = Nmf.factorize(cells, k = 3, rounds = 3, maxLocalNnz)
    val wr = w.orderBy("doc_id", "topic").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDecimal(2))).toSeq
    val hr = h.orderBy("topic", "term").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getDecimal(2))).toSeq
    (wr, hr)
  }

  test("local twin is bit-identical to the distributed loop") {
    val (wLocal, hLocal) = run(maxLocalNnz = 2000000)
    val (wDist, hDist) = run(maxLocalNnz = -1) // negative budget forces DF route
    assert(wLocal == wDist)
    assert(hLocal == hDist)
    assert(wLocal.size == 4 * 3 && hLocal.size == 3 * 4)
  }

  test("an Int.MaxValue budget routes local without overflowing") {
    assert(run(maxLocalNnz = Int.MaxValue) == run(maxLocalNnz = 2000000))
  }
}
