package graft.lsa

import breeze.linalg.{svd, DenseMatrix}

import graft.SparkSpec

/** PowerLsa vs a dense LAPACK SVD (Breeze) on a small matrix: the
  * fixed-iteration power method must converge to the top singular
  * triple when the spectral gap is clear, and be bit-deterministic
  * across runs.
  */
class PowerLsaSpec extends SparkSpec {
  import spark.implicits._

  // 5×4 nonnegative matrix with a dominant direction (clear σ1/σ2 gap)
  private val entries = Seq(
    (0L, "a", 4.0), (0L, "b", 2.0), (0L, "c", 0.5),
    (1L, "a", 3.5), (1L, "b", 1.5), (1L, "d", 0.2),
    (2L, "a", 4.2), (2L, "b", 2.2), (2L, "c", 0.1),
    (3L, "c", 1.0), (3L, "d", 0.8),
    (4L, "a", 3.8), (4L, "b", 1.9), (4L, "d", 0.3)
  )

  private def dense: DenseMatrix[Double] = {
    val m = DenseMatrix.zeros[Double](5, 4)
    val tix = Map("a" -> 0, "b" -> 1, "c" -> 2, "d" -> 3)
    entries.foreach { case (r, t, x) => m(r.toInt, tix(t)) = x }
    m
  }

  test("matches the LAPACK top singular triple on a gapped matrix") {
    val out = PowerLsa.topSingular(entries.toDF("id", "token", "a"), iters = 12)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    val s = svd(dense)
    val sigma = out.collect { case ("sigma", _, x) => x }.head
    assert(math.abs(sigma - s.S(0)) < 1e-4, s"sigma $sigma vs ${s.S(0)}")

    // v loading per term, against LAPACK's right singular vector
    // (sign-fixed positive — the matrix is nonnegative)
    val vt = s.Vt
    val signV = if (vt(0, 0) < 0) -1.0 else 1.0
    val vByTerm = out.collect { case ("term", t, x) => t -> x }.toMap
    Seq("a", "b", "c", "d").zipWithIndex.foreach { case (t, j) =>
      assert(math.abs(vByTerm(t) - signV * vt(0, j)) < 1e-4,
        s"v[$t] ${vByTerm(t)} vs ${signV * vt(0, j)}")
    }
    val uMat = s.U
    val uById = out.collect { case ("doc", d, x) => d.toLong -> x }.toMap
    val signU = if (uMat(0, 0) < 0) -1.0 else 1.0
    (0 until 5).foreach { i =>
      assert(math.abs(uById(i.toLong) - signU * uMat(i, 0)) < 1e-4,
        s"u[$i] ${uById(i.toLong)} vs ${signU * uMat(i, 0)}")
    }
  }

  test("secondSingular recovers the LAPACK second triple via implicit deflation") {
    val out = PowerLsa.secondSingular(entries.toDF("id", "token", "a"), iters = 16)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    val s = svd(dense)
    val sigma2 = out.collect { case ("sigma", _, x) => x }.head
    assert(math.abs(sigma2 - s.S(1)) < 1e-3, s"sigma2 $sigma2 vs ${s.S(1)}")
    // compare |v| entrywise — deflated power iteration may converge to
    // either sign of the second vector
    val vByTerm = out.collect { case ("term", t, x) => t -> x }.toMap
    val vt = s.Vt
    val dot = Seq("a", "b", "c", "d").zipWithIndex
      .map { case (t, j) => vByTerm(t) * vt(1, j) }.sum
    val sign = if (dot < 0) -1.0 else 1.0
    Seq("a", "b", "c", "d").zipWithIndex.foreach { case (t, j) =>
      assert(math.abs(vByTerm(t) - sign * vt(1, j)) < 1e-3,
        s"v2[$t] ${vByTerm(t)} vs ${sign * vt(1, j)}")
    }
  }

  test("kConcepts local and DF routes are bit-equal on the harness corpus") {
    // both routes walk the same exact-decimal recurrence, so the result
    // must be IDENTICAL, not merely close — the routing contract ls01
    // relies on (gate scale runs local, 100 TB runs DF); both emit
    // through kConceptsFromFactors, as ls01 does
    val docs = spark.read.parquet(s"${sf("sf0.001")}/documents.parquet")
    val n = docs.count()
    val tok = docs.select($"doc_id",
      graft.text.TextFunctions.lsaTokens($"text", lemma = false).as("tokens"))
    val tf = graft.tfidf.TfIdf.termFrequencies(tok, "doc_id", "tokens")
    val idf = graft.tfidf.TfIdf.idfTable(tf, "doc_id", n)
    val cells = tf.join(idf.select($"token", $"idf"), "token")
      .select($"doc_id".as("id"), $"token",
        org.apache.spark.sql.functions.round($"tf" * $"idf", 6).as("a"))
      .cache()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getDouble(1),
        r.getString(2), r.getString(3))).sortBy(_._1).toSeq
    val local = rows(PowerRoutes.conceptsLocal(cells, k = 3, iters = 4))
    val dist = rows(PowerRoutes.conceptsDistributed(cells, k = 3, iters = 4))
    assert(local == dist)
    assert(local.length == 3)
    cells.unpersist(): Unit
  }

  test("kConcepts converges to the LAPACK spectrum on a gapped matrix") {
    def sigmas(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getDouble(1))).sortBy(_._1).toSeq
    val cells = entries.toDF("id", "token", "a")
    val out = sigmas(PowerRoutes.conceptsLocal(cells, k = 2, iters = 24))
    assert(out == sigmas(PowerRoutes.conceptsDistributed(cells, k = 2, iters = 24)))
    val s = svd(dense)
    assert(math.abs(out(0)._2 - s.S(0)) < 1e-3)
    assert(math.abs(out(1)._2 - s.S(1)) < 1e-3)
  }

  test("bit-deterministic across runs and partitioning") {
    def run(parts: Int) =
      PowerLsa.topSingular(entries.toDF("id", "token", "a").repartition(parts),
        iters = 8)
        .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
        .sortBy(t => (t._1, t._2)).toSeq
    assert(run(1) == run(7))
  }
}
