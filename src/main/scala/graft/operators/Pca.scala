package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic top principal component of an embedding column — PCA
  * by the same oracle-replicable discipline as `PowerLsa` (its sparse
  * text sibling) and `Similarity.lloydClusters`: a fixed declarative
  * recurrence whose every value is a pure function of the data, no
  * solver internals.
  *
  *  - ONE corpus-scale pass builds the centered covariance: per-dim
  *    means and the dims×dims outer-product sums, each accumulated as
  *    DECIMAL (associative — partitioning cannot reorder anything
  *    observable) and cast back to double;
  *  - the power iteration then runs on the dims² covariance table —
  *    broadcast-sized however large the corpus — from the uniform
  *    start 1/√dims, normalizing by the exact-decimal 2-norm each
  *    round;
  *  - λ is the Rayleigh quotient vᵀCv of the final vector.
  *
  * Sign: the iteration is deterministic from a fixed positive start,
  * so both engines converge to the SAME signed vector (canonical sign
  * is a presentation choice PCA does not owe us).
  *
  * 100 TB shape: the covariance pass is a dims²-group hash aggregation
  * with map-side combine (the classic outer-product accumulation); the
  * per-row fan-out is dims² cells but they combine locally before any
  * shuffle, so the shuffle carries ≤ dims² rows per partition. The
  * iterations touch only the dims² table. More components = implicit
  * deflation rounds, as in `PowerLsa.kFactors`.
  */
object Pca {

  private val Dec = "decimal(38,18)"

  /** vecs: (id, vec array<double>, all rows same length). Output: one
    * row per dimension — (dim, loading, lambda) with loading the top
    * principal direction (6dp) and lambda its Rayleigh eigenvalue
    * (constant column, 6dp).
    */
  def topComponent(vecs: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val cells = vecs.select(col("id"),
      posexplode(col("vec")).as(Seq("dim", "x")))
    val mu = cells.groupBy(col("dim"))
      .agg((sum(col("x").cast("decimal(28,14)")).cast("double") /
        count(lit(1))).as("mu"))
    val cd = cells.join(broadcast(mu), Seq("dim"))
      .select(col("id"), col("dim"), (col("x") - col("mu")).as("xc"))
      .localCheckpoint()
    val cov = cd.select(col("id"), col("dim").as("di"), col("xc").as("xa"))
      .join(cd.select(col("id"), col("dim").as("dj"), col("xc").as("xb")),
        Seq("id"))
      .groupBy(col("di"), col("dj"))
      .agg(sum((col("xa") * col("xb")).cast(Dec)).cast("double").as("c"))
      .localCheckpoint()

    def matvec(v: DataFrame): DataFrame =
      cov.join(v.select(col("dim").as("dj"), col("v")), Seq("dj"))
        .groupBy(col("di"))
        .agg(sum((col("c") * col("v")).cast(Dec)).cast("double").as("w"))

    val dims = cov.select(col("di").as("dim")).distinct()
    var v = dims.withColumn("v",
      lit(1.0) / sqrt(count(lit(1)).over().cast("double")))
      .localCheckpoint()
    (1 to iters).foreach { _ =>
      val w = matvec(v)
      val nrm = w.agg(
        sqrt(sum((col("w") * col("w")).cast(Dec)).cast("double")).as("nrm"))
      v = w.crossJoin(broadcast(nrm))
        .select(col("di").as("dim"), (col("w") / col("nrm")).as("v"))
        .localCheckpoint()
    }
    val wq = matvec(v)
    val lam = v.join(wq, col("dim") === col("di"))
      .agg(sum((col("v") * col("w")).cast(Dec)).cast("double").as("lambda"))
    v.crossJoin(broadcast(lam))
      .select(col("dim").cast("int").as("dim"),
        round(col("v"), 6).as("loading"),
        round(col("lambda"), 6).as("lambda"))
  }

  /** Projection of every vector onto [[topComponent]]'s direction plus
    * the component's variance share λ/tr(C) — the whitening transform
    * and its quality number. The centered cells join the broadcast
    * 64-row direction and reduce per id as exact decimals (associative
    * — no float order anywhere); the trace is the sum of the
    * covariance diagonal, itself exact-decimal. Output: (id, proj,
    * var_share), 6dp.
    */
  def projectTop(vecs: DataFrame, iters: Int): DataFrame = {
    val cells = vecs.select(col("id"),
      posexplode(col("vec")).as(Seq("dim", "x")))
    val mu = cells.groupBy(col("dim"))
      .agg((sum(col("x").cast("decimal(28,14)")).cast("double") /
        count(lit(1))).as("mu"))
    val cd = cells.join(broadcast(mu), Seq("dim"))
      .select(col("id"), col("dim"), (col("x") - col("mu")).as("xc"))
    val comp = topComponent(vecs, iters)
      .select(col("dim"), col("loading"), col("lambda"))
      .localCheckpoint(true)
    // loading is the 6dp-rounded direction — fine for a projection
    // feature, and what makes the oracle's replay exact
    val proj = cd
      .join(broadcast(comp.select(col("dim").as("cdim"), col("loading"))),
        col("dim") === col("cdim"))
      .groupBy(col("id"))
      .agg(sum((col("xc") * col("loading")).cast(Dec)).cast("double")
        .as("proj"))
    val trace = cd.select((col("xc") * col("xc")).cast(Dec).as("sq"))
      .agg(sum(col("sq")).cast("double").as("trn"))
    val share = comp.select(col("lambda")).distinct()
      .crossJoin(broadcast(trace))
      .select(round(col("lambda") / col("trn"), 6).as("var_share"))
    proj.crossJoin(broadcast(share))
      .select(col("id"), round(col("proj"), 6).as("proj"), col("var_share"))
  }
}
