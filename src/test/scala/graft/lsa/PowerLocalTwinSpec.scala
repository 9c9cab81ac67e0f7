package graft.lsa

import graft.SparkSpec

/** Pins the routing contract of [[PowerLsa.topSingular]] /
  * [[PowerLsa.secondSingular]]: the bounded-collect local route
  * ([[PowerLsa.kFactorsLocal]] / [[PowerLsa.secondLocal]]) must be
  * BIT-identical to the distributed exact-decimal chain
  * ([[PowerLsa.kFactors]] / [[PowerLsa.secondDistributed]]) on the same
  * cells — every score (6dp-rounded term/doc loadings and sigma)
  * compared with ==, not a tolerance. The oracle gate checks the same
  * equality against DuckDB at every scale; this spec keeps the two
  * engine routes from drifting on corpora the gate never reaches.
  */
class PowerLocalTwinSpec extends SparkSpec {
  import spark.implicits._

  // small sparse matrix with repeated values and a rank-deficient-ish
  // tail so normalization and deflation paths are all exercised
  private val entries = Seq(
    (0L, "a", 4.0), (0L, "b", 2.0), (0L, "c", 0.5),
    (1L, "a", 3.5), (1L, "b", 1.5), (1L, "d", 0.2),
    (2L, "a", 4.2), (2L, "b", 2.2), (2L, "c", 0.1),
    (3L, "c", 1.0), (3L, "d", 0.8),
    (4L, "a", 3.8), (4L, "b", 1.9), (4L, "d", 0.3),
    (5L, "e", 0.7), (5L, "a", 0.7)
  )

  private def rowsOf(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("kind", "ident")
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
      .toSeq

  private def topDistributed(cells: org.apache.spark.sql.DataFrame, iters: Int) =
    PowerRoutes.distributed(cells)((c, nv) =>
      rowsOf(PowerLsa.emit(PowerLsa.kFactors(c, nv, 1, iters).head)))

  private def secondDistributed(cells: org.apache.spark.sql.DataFrame, iters: Int) =
    PowerRoutes.distributed(cells)((c, nv) =>
      rowsOf(PowerLsa.emit(PowerLsa.secondDistributed(c, nv, iters))))

  test("topSingular local twin is bit-identical to the distributed chain") {
    val cells = entries.toDF("id", "token", "a")
    val local = rowsOf(PowerLsa.topSingular(cells, iters = 7))
    assert(local == topDistributed(cells, 7))
    assert(local.count(_._1 == "term") == 5 && local.count(_._1 == "doc") == 6)
  }

  test("secondSingular local twin is bit-identical to the distributed chain") {
    val cells = entries.toDF("id", "token", "a")
    val local = rowsOf(PowerLsa.secondSingular(cells, iters = 7))
    assert(local == secondDistributed(cells, 7))
    // concept 2 is orthogonal-ish to concept 1: its sigma must be
    // strictly smaller than concept 1's
    val s1 = rowsOf(PowerLsa.topSingular(cells, iters = 7))
      .collect { case ("sigma", _, x) => x }.head
    val s2 = local.collect { case ("sigma", _, x) => x }.head
    assert(s2 < s1)
  }

  test("all-zero cells give the same all-zero rows on both routes") {
    // what a one-document corpus produces: idf = log10(1/1) = 0 on every
    // token, so every norm in the chain is 0 (ANSI on, the default)
    val cells = entries.map { case (id, t, _) => (id, t, 0.0) }.toDF("id", "token", "a")
    val top = rowsOf(PowerLsa.topSingular(cells, iters = 3))
    val second = rowsOf(PowerLsa.secondSingular(cells, iters = 3))
    assert(top == topDistributed(cells, 3))
    assert(second == secondDistributed(cells, 3))
    Seq(top, second).foreach { rows =>
      assert(rows.length == 1 + 5 + 6)
      assert(rows.forall(_._3 == 0.0), rows)
    }
  }
}
