package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.lsa.{PowerCore, SparkNumerics}

/** Deterministic fixed-iteration HITS (Kleinberg, "Authoritative
  * Sources in a Hyperlinked Environment", JACM 1999): hub and authority
  * scores by mutual reinforcement — a ← Σ_in h, h ← Σ_out a, each
  * 2-norm-normalized per round.
  *
  * Same float discipline as `PowerLsa`/`Pca`: scatter sums accumulate
  * as DECIMAL (associative — partition order unobservable), norms are
  * √(exact sum of squares), and the only doubles are per-row products
  * and the final normalize — so a SQL oracle replays the whole
  * trajectory bit-for-bit from a fixed uniform start (no sign/seed
  * ambiguity: scores are nonnegative by construction).
  *
  * 100 TB shape: per round, two shuffled join+agg scatters over the
  * edge list (exactly PageRank's plan — TextRank.ranks shares it), a
  * vertex-table left join to keep sink/source-only vertices at 0, and
  * a broadcast norm row; lineage cut per round with localCheckpoint.
  */
object Hits {

  private val Dec = "decimal(38,18)"

  /** Local-route budget (edges). */
  private val MaxLocalEdges = 500000

  /** edges: (src, dst), directed, duplicates allowed (each occurrence
    * contributes). Output: (id, hub, authority) over ALL vertices,
    * 6dp-rounded.
    *
    * Scale routing (r15; the PowerLsa.kFactorsAuto pattern): under the
    * edge budget, ONE bounded collect feeds a local loop walking the
    * IDENTICAL exact-decimal recurrence (HitsLocalTwinSpec pins the routes
    * bit-equal) — at gate scale this replaces 2·iters+1 eager-checkpoint
    * jobs (each a join+agg+norm chain). Above the budget
    * [[hitsDistributed]] runs (the 100 TB path).
    */
  def hits(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    // Edge ORDER never reaches a value (decimal sums are exact; output
    // order is the caller's ORDER BY).
    LocalRoute.collectWithin(edges.select(col("src"), col("dst")),
        MaxLocalEdges) match {
      case Some(rows) => hitsLocal(edges, rows, iters)
      case None => hitsDistributed(edges, iters)
    }
  }

  /** The distributed HITS loop: per round two shuffled join+agg
    * scatters, lineage cut with localCheckpoint.
    */
  private[operators] def hitsDistributed(edges: DataFrame,
      iters: Int): DataFrame = {
    val verts = edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id")))
      .distinct().localCheckpoint(true)
    val nv = verts.count()

    // one scatter: sum x(keyCol) into groups of outCol, fill missing
    // vertices with 0, normalize by the exact-decimal 2-norm
    def step(keyCol: String, outCol: String, x: DataFrame): DataFrame = {
      val raw = edges.join(x.select(col("id").as(keyCol), col("v")),
          Seq(keyCol))
        .groupBy(col(outCol))
        .agg(sum(col("v").cast(Dec)).cast("double").as("s"))
      val filled = verts
        .join(raw.withColumnRenamed(outCol, "id"), Seq("id"), "left")
        .select(col("id"), coalesce(col("s"), lit(0.0)).as("s"))
      val nrm = filled.agg(
        sqrt(sum((col("s") * col("s")).cast(Dec)).cast("double")).as("nrm"))
      filled.crossJoin(broadcast(nrm))
        .select(col("id"), (col("s") / col("nrm")).as("v"))
        .localCheckpoint(true)
    }

    var h = verts.withColumn("v", lit(1.0) / sqrt(lit(nv.toDouble)))
      .localCheckpoint(true)
    var a: DataFrame = h
    (1 to iters).foreach { _ =>
      a = step("src", "dst", h) // authority: in-edge hub mass
      h = step("dst", "src", a) // hub: out-edge authority mass
    }
    h.select(col("id"), col("v").as("hub"))
      .join(a.select(col("id"), col("v").as("authority")), Seq("id"))
      .select(col("id"), round(col("hub"), 6).as("hub"),
        round(col("authority"), 6).as("authority"))
  }

  /** Bounded-collect twin of [[hits]] — mirrors the DF route 1:1:
    * scatter sums accumulate as exact decimal(38,18) of the per-edge
    * doubles ([[SparkNumerics]]: a NaN/Inf term is null and skipped,
    * as the cast and `sum` do), missing vertices fill 0.0, norms are
    * √(exact decimal sum of squares), the normalize division is plain
    * UNGUARDED double (a zero norm yields Inf/NaN on both routes), and
    * the 6dp emission is Spark's ROUND.
    */
  private def hitsLocal(edges: DataFrame,
      eRows: Array[org.apache.spark.sql.Row], iters: Int): DataFrame = {
    val spark = edges.sparkSession
    val verts: Array[Any] = eRows.flatMap(r => Seq(r.get(0), r.get(1))).distinct
    val idx: Map[Any, Int] = verts.zipWithIndex.toMap
    val nv = verts.length
    val srcs = eRows.map(r => idx(r.get(0)))
    val dsts = eRows.map(r => idx(r.get(1)))
    // one scatter: per outIdx vertex, exact-decimal sum of x(keyIdx),
    // missing vertices 0.0, then the unguarded 2-norm normalize
    def step(keys: Array[Int], outs: Array[Int],
        x: Array[Double]): Array[Double] = {
      val acc = Array.fill(nv)(java.math.BigDecimal.ZERO)
      var i = 0
      while (i < srcs.length) { PowerCore.sumInto(acc, outs(i), x(keys(i))); i += 1 }
      val s = acc.map(_.doubleValue)
      val nrm = PowerCore.norm(s)
      s.map(_ / nrm)
    }
    var h = Array.fill(nv)(1.0 / math.sqrt(nv.toDouble))
    var a = h
    var it = 0
    while (it < iters) {
      a = step(srcs, dsts, h) // authority: in-edge hub mass
      h = step(dsts, srcs, a) // hub: out-edge authority mass
      it += 1
    }
    def round6(x: Double): Double = SparkNumerics.round(x, 6)
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
    val idField = edges.schema("src").copy(name = "id")
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        verts.indices.map(i => Row(verts(i), round6(h(i)), round6(a(i)))), 1),
      StructType(Seq(idField,
        StructField("hub", DoubleType, nullable = false),
        StructField("authority", DoubleType, nullable = false))))
  }
}
