package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** Pins the r15 routing contract of [[Hits.hits]]: the bounded-collect
  * local twin (what `hits` runs under its edge budget) must be
  * BIT-identical to the distributed checkpoint-per-round loop
  * ([[Hits.hitsDistributed]], called directly) — hub/authority scores
  * compared with ==.
  * The fixture has duplicate edges (each occurrence contributes), a
  * sink-only and a source-only vertex (the 0.0 fill path), and an
  * asymmetric core so hub and authority differ.
  */
class HitsLocalTwinSpec extends SparkSpec {
  import spark.implicits._

  private val edges = Seq(
    (1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L),
    (1L, 2L),           // duplicate edge
    (4L, 3L),           // 4 is source-only (authority 0 path)
    (2L, 5L)            // 5 is sink-only (hub 0 path)
  ).toDF("src", "dst")

  private def rows(df: DataFrame) =
    df.orderBy("id")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
      .toSeq

  test("local twin is bit-identical to the distributed loop") {
    val local = rows(Hits.hits(edges, iters = 3))
    val dist = rows(Hits.hitsDistributed(edges, iters = 3))
    assert(local == dist)
    assert(local.size == 5)
    // sink-only vertex has hub 0, source-only vertex authority 0
    val byId = local.map(t => t._1 -> (t._2, t._3)).toMap
    assert(byId(5L)._1 == 0.0 && byId(4L)._2 == 0.0)
  }
}
