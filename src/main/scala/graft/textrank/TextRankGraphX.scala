package graft.textrank

import org.apache.spark.graphx.{Edge, Graph}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** GraphX backend for the TextRank iteration (SURVEY.md G5/G6: "GraphX
  * aggregateMessages / Pregel maps 1:1") — same semantics as the
  * DataFrame loop in [[TextRank.ranks]]:
  * message = srcRank × normalizedWeight, merge = sum,
  * update = 0.15 + 0.85 × Σ.
  *
  * Q4 caveat: the reference drops vertices that receive no contributions
  * from the rank table; on the (always-symmetric) similarity graphs both
  * backends agree because every vertex with an edge receives messages
  * every round. On a hand-built asymmetric graph this backend keeps a
  * quiet vertex's previous rank instead of dropping it — asserted
  * equivalent for the engine's own graphs in TextRankGraphXSpec.
  *
  * Scale note: vertex ids must be Long (GraphX contract). The DataFrame
  * backend stays the default — it benefits from AQE and Tungsten — but
  * this backend demonstrates the Pregel formulation and is preferable
  * when many more iterations (to convergence) are wanted, since GraphX
  * keeps the edge partitioning resident across supersteps.
  */
object TextRankGraphX {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Rough per-edge heap cost of GraphX's runtime structures during
    * aggregateMessages: EdgePartition column arrays plus the per-
    * superstep routing/message state and the deserialized construction
    * pass. Calibrated on the sf1 replica: its 1.13×10⁸ edges needed a
    * 48 GiB driver to be timed standalone in round 9 and OOM'd an 8 GiB
    * heap under gate concurrency in round 10, so the live budget is
    * set well below that envelope.
    */
  private val BytesPerEdge = 100L

  /** Largest edge set this backend accepts before auto-falling back to
    * [[TextRank.ranks]]: ~35% of the heap at [[BytesPerEdge]]. On an
    * 8 GiB gate heap that is ~30 M edges — well above the sf0.1 gate's
    * ~4 M (so the GraphX path stays exercised end-to-end there) and
    * well below the sf1 replica's 1.13×10⁸ (which this backend cannot
    * reliably survive at 8 GiB, while the default treeAggregate
    * strategy absorbs the identical edge set inside it).
    */
  private def edgeBudget: Long =
    (Runtime.getRuntime.maxMemory() * 0.35 / BytesPerEdge).toLong

  /** `maxDirectedEdges` is the caller's upper bound on the directed
    * edge count; it picks the edge cache's storage level through
    * [[TextRank.edgeStorage]] and is handed on to the fallback.
    */
  def ranks(edges: DataFrame, maxDirectedEdges: Long = Long.MaxValue): DataFrame =
    ranksWithin(edges, maxDirectedEdges, edgeBudget)

  /** [[ranks]] with an explicit edge budget: above `budget` edges the
    * ranks come from [[TextRank.ranks]] instead of GraphX.
    */
  private[textrank] def ranksWithin(edges: DataFrame, maxDirectedEdges: Long,
      budget: Long): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // Serialized + spillable storage throughout: the edge set is the
    // materialized similarity join — quadratic in band-filtered docs —
    // and GraphX's default MEMORY_ONLY holds it as deserialized Edge
    // objects (~5-10x the serialized size). At the sf1 stress scale
    // that OOM'd an 8g heap outright (round-9 full-registry sweep);
    // MEMORY_AND_DISK_SER bounds heap use and degrades to disk instead
    // of dying, which is the behavior a 100 TB run needs. Values are
    // unaffected (storage level only).
    val lvl = StorageLevel.MEMORY_AND_DISK_SER
    // The edge DataFrame cache follows the caller's bound: at the sf3
    // replica (~1 B edges) even a serialized columnar cache resident on
    // an 8 g heap makes every reader marginal — above the DISK_ONLY
    // estimate the budget probe streams from disk instead.
    val eLvl =
      if (TextRank.edgeStorage(maxDirectedEdges) == StorageLevel.DISK_ONLY)
        StorageLevel.DISK_ONLY
      else lvl
    // Budget the edge set BEFORE any RDD-of-tuples exists: the first
    // cut of this guard counted a persisted RDD[(Long,Long,Double)],
    // and materializing that persist was itself the OOM (boxed tuples,
    // round-10 sf1 verify killed the whole SparkContext at 8g before
    // the comparison ever ran). A cached DataFrame is compressed
    // columnar batches — ~16-24 B/edge, spillable, and count() streams
    // it — so the decision is safe at any edge count, and whichever
    // backend wins reuses the cache instead of recomputing the
    // quadratic similarity join.
    val eDf = edges.select(col("src").cast("long"), col("dst").cast("long"),
      col("weight").cast("double")).persist(eLvl)
    val edgeCount = eDf.count()
    // Pregel-parity demonstrator, not the scale path: beyond the heap
    // budget the identical rank vector comes from the default strategy
    // (both are hash-verified against the same unrolled oracle), so
    // fall back instead of demanding a 48 GiB driver.
    if (edgeCount > budget) {
      log.warn(s"TextRankGraphX: $edgeCount edges exceed the ~$budget " +
        s"heap budget (${Runtime.getRuntime.maxMemory() >> 20} MiB max heap); " +
        "falling back to TextRank.ranks (value-identical, scale-safe)")
      val r = TextRank.ranks(eDf, maxDirectedEdges)
      eDf.unpersist(blocking = false)
      return r
    }
    log.info(s"TextRankGraphX: $edgeCount edges within the $budget budget; " +
      "running the GraphX backend")
    // tuple streams over the cached columnar batches — never persisted
    // as objects; the three consumers below each re-scan the cache
    val e = eDf.as[(Long, Long, Double)].rdd
    val outSum = e.map(t => (t._1, t._3)).reduceByKey(_ + _)
    val normalized = e.map(t => (t._1, (t._2, t._3))).join(outSum)
      .map { case (src, ((dst, w), ow)) => Edge(src, dst, w / ow) }
    val vertices = e.flatMap(t => Seq(t._1, t._2)).distinct()
      .map(id => (id, TextRank.InitRank))
    var g = Graph(vertices, normalized,
      defaultVertexAttr = TextRank.InitRank,
      edgeStorageLevel = lvl, vertexStorageLevel = lvl).cache()
    g.edges.count() // materialize once, then release the input lineage
    eDf.unpersist(blocking = false)
    for (_ <- 1 to TextRank.Iterations) {
      val msgs = g.aggregateMessages[Double](
        ctx => ctx.sendToDst(ctx.srcAttr * ctx.attr), _ + _)
      val next = g.outerJoinVertices(msgs) { (_, old, msg) =>
        msg.map(m => TextRank.InitRank + TextRank.Damping * m).getOrElse(old)
      }.cache()
      next.vertices.count() // materialize before unpersisting the parent
      g.unpersist(blocking = false)
      g = next
    }
    g.vertices.toDF("id", "rnk")
  }
}
