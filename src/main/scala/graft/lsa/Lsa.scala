package graft.lsa

import org.apache.spark.mllib.linalg.{Vectors => MlVectors}
import org.apache.spark.mllib.linalg.distributed.{IndexedRow, IndexedRowMatrix}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.text.TextFunctions
import graft.tfidf.TfIdf

/** LSA concept extraction (SURVEY.md EP1, §2.8 L1-L5): TF-IDF doc×term
  * matrix → SVD → per-concept top keywords + top documents.
  *
  * Differences from the reference (all deliberate, SURVEY §3 EP1):
  *  - ONE scan and ONE SVD: the reference reads the file twice (:117-118)
  *    and computes two driver-side NumPy SVDs (:138, :141); with rows=docs
  *    the doc loadings live in U and the term loadings in V of the same
  *    decomposition (L3/L4).
  *  - The SVD runs where the matrix fits: a product-sized matrix (up to
  *    `LocalDenseCells` dense cells) is collected once and solved on the
  *    driver with LAPACK, as the reference does with NumPy; a larger one
  *    never hits the driver — `IndexedRowMatrix.computeSVD` (ARPACK)
  *    keeps U distributed, and only the small V (|vocab| × k) and the k
  *    singular values are local.
  *  - IDF is the reference's `log10(N/df)` (quirk Q3).
  *  - Sign convention (quirk Q9/H2): each singular vector is flipped so
  *    its max-|loading| V-entry is positive, making signed-loading top-k
  *    deterministic across runs/backends. Loadings are compared on the
  *    `Loadings.snap` grid, so a tie of opposite-sign maxima (a concept
  *    spanning two equal-weight sentence groups) falls to the first
  *    vocabulary index on both solvers instead of to round-off.
  *  - Vocabulary order is pinned to (df desc, token asc) — deterministic,
  *    unlike the reference's driver-side `set()` (quirk Q6). Every token
  *    is kept: there is no document-frequency floor.
  *  - The reference fixes its matrix row order with one sort; here the
  *    caller's document id IS the matrix row index, so there is one
  *    numbering and no renumbering pass.
  */
object Lsa {

  final case class Config(
      k: Int = 5,
      nKeywords: Int = 3,
      nDocs: Int = 3,
      lemma: Boolean = true)

  final case class Concept(
      concept: Int,
      singular_value: Double,
      keywords: Seq[String],
      doc_ids: Seq[Long])

  /** Relative eigen-residuals ‖AᵀAvⱼ − σⱼ²vⱼ‖ / σⱼ² of a claimed
    * factorization against the ACTUAL matrix, computed distributed in
    * one pass: per row a, w = aᵀV (k dots over the active indices), then
    * Z += a·wᵀ via treeAggregate into a |vocab|×k accumulator. A genuine
    * singular triple has residual ~solver-tolerance; a corrupted V or a
    * wrong σ is orders of magnitude off (EigenResidualSpec proves the
    * gate can fail). Zero-σ concepts report 0 (nothing to verify).
    *
    * `rows`: the matrix as IndexedRows; `v(i, j)`: claimed right-singular
    * loadings; `s`: claimed singular values (length = #concepts).
    */
  def eigenResiduals(
      rows: RDD[IndexedRow],
      v: (Int, Int) => Double, s: Array[Double],
      vocabSize: Int): Array[Double] = {
    val kEff = s.length
    if (kEff == 0) return Array.empty
    val sc = rows.sparkContext
    // ship the loadings as a plain array (v may close over a local Matrix)
    val vArr = Array.tabulate(vocabSize, kEff)(v)
    val vB = sc.broadcast(vArr)
    val z = rows.treeAggregate(null.asInstanceOf[Array[Double]])(
      seqOp = (acc0, r) => {
        val acc = if (acc0 == null) new Array[Double](vocabSize * kEff) else acc0
        val vm = vB.value
        val sv = r.vector.toSparse
        val idx = sv.indices; val vs = sv.values
        val w = new Array[Double](kEff)
        var j = 0
        while (j < kEff) {
          var p = 0; var acc2 = 0.0
          while (p < idx.length) { acc2 += vs(p) * vm(idx(p))(j); p += 1 }
          w(j) = acc2; j += 1
        }
        var p = 0
        while (p < idx.length) {
          val base = idx(p) * kEff; val a = vs(p)
          var q = 0
          while (q < kEff) { acc(base + q) += a * w(q); q += 1 }
          p += 1
        }
        acc
      },
      combOp = (x, y) =>
        if (x == null) y else if (y == null) x
        else { var i = 0; while (i < x.length) { x(i) += y(i); i += 1 }; x })
    vB.destroy()
    val zz = if (z == null) new Array[Double](vocabSize * kEff) else z
    Array.tabulate(kEff) { j =>
      val s2 = s(j) * s(j)
      if (s2 <= 0.0) 0.0
      else {
        var rs = 0.0; var i = 0
        while (i < vocabSize) {
          val d = zz(i * kEff + j) - s2 * vArr(i)(j)
          rs += d * d; i += 1
        }
        math.sqrt(rs) / s2
      }
    }
  }

  /** Max relative eigen-residual ‖AᵀAvⱼ−σⱼ²vⱼ‖/σⱼ² the in-query gate in
    * [[concepts]] accepts. Measured ~1e-12 at sf0.1 (ARPACK tol 1e-10);
    * 1e-6 leaves float headroom without letting a broken solver through.
    */
  private val ResidualTol = 1e-6

  /** The gate both routes of [[concepts]] apply: every residual within
    * [[ResidualTol]], else the call fails naming the concept.
    */
  private[lsa] def requireGenuine(res: Array[Double], s: Array[Double]): Unit =
    res.zipWithIndex.foreach { case (rel, j) =>
      require(rel <= ResidualTol,
        s"SVD self-check failed: concept $j eigen-residual " +
          s"|AtAv - s2 v|/s2 = $rel > $ResidualTol (sigma=${s(j)})")
    }

  /** Dense cells (documents × vocabulary) at or below which [[concepts]]
    * solves on the driver: 768 Ki cells, a 6 MiB matrix at 8 B per cell
    * (LAPACK's reduced SVD holds about three such arrays). Time binds
    * before memory: the dense SVD costs docs·vocab·min(docs, vocab), and
    * on 4 cores it beat ARPACK at every measured shape up to ~780 k cells
    * (880 × 880: 4.4 s vs 6.4 s) but tied or lost from ~1 M square cells
    * on (1024 × 1024: 6.8 s vs 6.2 s); CHANGES.md records the sweep.
    */
  private[graft] val LocalDenseCells: Long = 768L << 10

  /** Relative σ floor both routes cut the effective rank at: 8·√ε·σ₀
    * (ε = 2⁻⁵², the double's machine epsilon; about 1.2e-7·σ₀).
    * ARPACK's route squares the matrix, so a null direction of
    * rank-deficient input (duplicate sentences) comes back as a Gramian
    * eigenvalue of p·ε·σ₀², at σ = √p·√ε·σ₀: it passes `computeSVD`'s
    * rCond = 1e-9 and then fails the eigen-residual gate. On 120 random
    * rank-deficient corpora (vocabularies of 5 to 277 tokens) that σ
    * read 0.25–1.4·√ε·σ₀, so a floor of √ε alone keeps some of them;
    * 8·√ε covers p ≤ 64. The dense SVD reports null directions near
    * ε·σ₀, and a genuine top-k concept of a tf·idf matrix sits orders
    * of magnitude above the floor, so both routes keep the same
    * concepts.
    */
  private[lsa] val SigmaFloor: Double = 8 * math.sqrt(math.ulp(1.0))

  /** Concepts from a (id: long, text: string) corpus. Returns a LOCAL
    * small result (k rows) as a DataFrame.
    *
    * Two routes share the token, tf, vocabulary and tf·idf cell plans.
    * Up to [[LocalDenseCells]] documents × vocabulary the cells are
    * collected in one job and solved densely on the driver
    * ([[LocalLsa.fromCells]]: LAPACK, rows in ascending id order); above
    * it [[conceptsDistributed]] runs ARPACK. The cell values are Spark's
    * on both routes, so the two solve the same matrix.
    *
    * EP1 calls this only above its row budget
    * (`Pipelines.lsaSummaryDistributed`); within it, EP1 collects the
    * tokens, builds the same cells on the driver ([[LocalLsa.fromTokens]])
    * and solves them with LAPACK or [[conceptsOfCells]]. So in the
    * engine the dense branch here serves EP1 only above 32 Ki sentences
    * with a vocabulary under 24 tokens. It stays because the benchmark's
    * traced pass (`perfbench/ReviewOps.lsaFromSentences`) still composes
    * the older EP1 route through this method and must give the untraced
    * pass's exact rows; it goes when that mirror does (ROADMAP
    * direction 1).
    *
    * The caller's id is the matrix row index (`IndexedRow.index`) as is,
    * whatever its range: `computeSVD` derives σ and V from the row vectors
    * alone and carries each index onto its U row, so no renumbering is
    * needed, and the top-doc tie-break (ascending index) is ascending id.
    *
    * Every result is checked in-query, at any corpus size, on both
    * routes: the eigen-residual gate proves each returned (σⱼ, vⱼ) is a
    * genuine singular triple of THIS matrix (‖AᵀAvⱼ − σⱼ²vⱼ‖ ≤
    * 1e-6·σⱼ²) — on the dense matrix locally, in one extra distributed
    * pass ([[eigenResiduals]]) on ARPACK's route; U needs no separate
    * check, since U = AVS⁻¹ follows from V. Both routes first drop σ
    * below [[SigmaFloor]]·σ₀. This complements the ≤2000-doc
    * dense-LAPACK mirror in ls08 and the power-twin σ cross-check in
    * Stress, which pin the top-k SELECTION on collectable corpora.
    */
  def concepts(docs: DataFrame, idCol: String, textCol: String,
      cfg: Config = Config()): DataFrame =
    withCells(docs, idCol, textCol, cfg) { (cells, nnz, nDocs, vocab, k) =>
      if (nDocs * vocab.length <= LocalDenseCells) {
        val spark = docs.sparkSession
        import spark.implicits._
        // collect-bound: probe-guarded: nDocs x |vocab| <= LocalDenseCells just above; conceptsDistributed is the fallback
        val local = LocalLsa.fromCells(cells.as[(Long, Int, Double)].collect(), vocab, k, cfg)
        spark.createDataFrame(local.map(c =>
          Concept(c.concept, c.singularValue, c.keywords, c.docIds)))
      } else arpack(cells, nnz, vocab, k, cfg)
    }

  /** [[concepts]] on the distributed ARPACK route at any size. */
  private[graft] def conceptsDistributed(docs: DataFrame, idCol: String,
      textCol: String, cfg: Config = Config()): DataFrame =
    withCells(docs, idCol, textCol, cfg) { (cells, nnz, _, vocab, k) =>
      arpack(cells, nnz, vocab, k, cfg)
    }

  /** The plans both routes share: tokens, the persisted tf table, one
    * job for (nnz, nDocs), the collected vocabulary, and the (id, idx, v)
    * tf·idf cells; `solve` gets (cells, nnz, nDocs, vocab, k) and runs
    * while tf is cached. A degenerate corpus (no tokens survive) returns
    * no concepts without calling it.
    */
  private[lsa] def withCells(docs: DataFrame, idCol: String, textCol: String,
      cfg: Config)(
      solve: (DataFrame, Long, Long, Array[String], Int) => DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._

    // tok is NOT persisted: its ONLY consumer is the tf build below
    // (one pass), so a cache of the corpus-sized token arrays buys nothing.
    val tok = graft.Par.fanOut(docs)
      .select(col(idCol).cast("long").as("id"),
        TextFunctions.lsaTokens(col(textCol), cfg.lemma).as("tokens"))
      .filter(size(col("tokens")) > 0)
    val tf = TfIdf.termFrequencies(tok, "id", "tokens").persist() // feeds vocab, idf, cells
    // released on every exit, including a failed job or the residual gate
    try {
      // ONE job for both corpus scalars: nnz sizes the SVD row
      // partitioning, nDocs feeds IDF, k and the route (vocabSize comes
      // from the vocabulary collect below).
      val (nnz, nDocs) = {
        val row = tf.agg(count(lit(1)), count_distinct(col("id"))).head()
        (row.getLong(0), row.getLong(1))
      }
      // Vocabulary COLLECTED once, (df desc, token asc)-ordered by a Spark
      // sort (token is unique within the groupBy, so the order is total);
      // idx = collect position. One job, and the join side below is a
      // LocalRelation. The collect is the SAME vocab-sized driver footprint
      // the solver already holds (V is |vocab|×k).
      // collect-bound: vocabulary: (token, df) rows, Heaps-bounded; the local solver already holds vocab-sized vectors
      val vocabRows: Array[(String, Long)] =
        tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
          .orderBy(desc("df"), col("token"))
          .select(col("token"), col("df")).as[(String, Long)].collect()
      val vocabSize = vocabRows.length
      val k = math.min(cfg.k, math.min(nDocs, vocabSize.toLong).toInt)
      if (k <= 0) // degenerate corpus (no tokens survive the pipeline)
        return spark.createDataFrame(Seq.empty[Concept])

      // IDF from the collected vocabulary: the join side is a LOCAL
      // relation carrying (token, idx, df) — no distributed subtree to
      // execute under the broadcast build — and the idf expression below
      // is byte-for-byte TfIdf.idfCol (log10(N/df)), evaluated in the plan.
      val vocabLocal = spark.createDataFrame(
        vocabRows.toIndexedSeq.zipWithIndex.map { case ((t, df), i) => (t, df, i) })
        .toDF("token", "df", "idx")
      val cells = tf
        .join(broadcast(vocabLocal.select(col("token"), col("idx"),
          TfIdf.idfCol(nDocs, col("df")).as("idf"))), "token")
        .select(col("id"), col("idx"), (col("tf") * col("idf")).as("v"))
      solve(cells, nnz, nDocs, vocabRows.map(_._1), k)
    } finally tf.unpersist()
  }

  /** ARPACK runs one treeAggregate job over the matrix rows per Lanczos
    * iteration (dozens of jobs), so per-iteration cost = per-task
    * scheduling × partitions + the actual multiply. Size partitions by
    * nonzero count (~250k cells each): a small corpus collapses to a
    * couple of tasks (scheduling overhead was dominating the SVD at
    * bench scale), a 100 TB corpus still spreads across the cluster.
    */
  private def rowParts(spark: SparkSession, nnz: Long): Int =
    math.max(1, math.min((nnz / 250000L).toInt + 1, spark.sparkContext.defaultParallelism))

  /** One document's cells (id, idx, value) as its matrix row. */
  private def indexedRow(id: Long, cs: Iterable[(Long, Int, Double)],
      vocabSize: Int): IndexedRow = {
    val sorted = cs.toSeq.sortBy(_._2)
    IndexedRow(id, MlVectors.sparse(vocabSize, sorted.map(_._2).toArray, sorted.map(_._3).toArray))
  }

  /** The distributed route over Spark's cells: see [[svdConcepts]]. */
  private def arpack(cells: DataFrame, nnz: Long, vocab: Array[String],
      k: Int, cfg: Config): DataFrame = {
    val spark = cells.sparkSession
    import spark.implicits._
    val rows = cells.as[(Long, Int, Double)].rdd
      .groupBy((t: (Long, Int, Double)) => t._1, rowParts(spark, nnz))
      .map { case (id, cs) => indexedRow(id, cs, vocab.length) }
    spark.createDataFrame(svdConcepts(rows, vocab, k, cfg))
  }

  /** The ARPACK route over cells the driver built
    * ([[LocalLsa.fromTokens]]): EP1's route for a product within its row
    * budget whose dense matrix exceeds [[LocalDenseCells]]. The rows
    * reach the executors as one broadcast, so the Lanczos jobs ship no
    * matrix in their tasks, and the answer is [[conceptsDistributed]]'s
    * on the same cells.
    */
  private[graft] def conceptsOfCells(spark: SparkSession, c: LocalLsa.Cells,
      cfg: Config): Seq[LocalLsa.Concept] = {
    val k = math.min(cfg.k, math.min(c.nDocs, c.vocab.length))
    if (k <= 0) return Seq.empty
    val sc = spark.sparkContext
    val rows = c.cells.groupBy(_._1).iterator
      .map { case (id, cs) => indexedRow(id, cs, c.vocab.length) }.toVector
    val parts = rowParts(spark, c.cells.size.toLong)
    val chunks = rows.grouped((rows.size + parts - 1) / parts).toVector
    val rowsB = sc.broadcast(chunks)
    try svdConcepts(sc.parallelize(chunks.indices, chunks.size).flatMap(rowsB.value(_)),
      c.vocab, k, cfg).map(x => LocalLsa.Concept(x.concept, x.singular_value, x.keywords, x.doc_ids))
    finally rowsB.destroy()
  }

  /** ARPACK `computeSVD` over the matrix rows, the [[eigenResiduals]]
    * gate, then the sign, keyword and top-doc selection.
    */
  private def svdConcepts(rows0: RDD[IndexedRow], vocab: Array[String],
      k: Int, cfg: Config): Seq[Concept] = {
    val vocabSize = vocab.length
    // Without this persist each ARPACK iteration replays the lineage
    // that built the rows.
    val rows = rows0.persist(StorageLevel.MEMORY_AND_DISK)
    // released on every exit, including a failed job or the residual gate
    try {
      // The column count is known (vocabSize); without it computeSVD
      // runs a rows.first() job to learn it. nRows = 0 leaves the row
      // count lazy, and the SVD never reads it.
      val svd = new IndexedRowMatrix(rows, 0L, vocabSize).computeSVD(k, computeU = true)
      // ARPACK may converge on fewer than k singular values, and a
      // rank-deficient matrix's null directions sit at the σ floor —
      // truncate both.
      val kEff = (0 until math.min(k, math.min(svd.s.size, svd.V.numCols)))
        .takeWhile(j => svd.s(j) >= SigmaFloor * svd.s(0)).size
      val s = Array.tabulate(kEff)(svd.s(_))
      requireGenuine(eigenResiduals(rows, (i, j) => svd.V(i, j), s, vocabSize), s)
      // V: vocabSize x kEff (local). Sign convention per concept; every
      // loading is ordered on the Loadings.snap grid.
      val v = svd.V
      val signs = Array.tabulate(kEff)(j => Loadings.sign(vocabSize)(i => Loadings.snap(v(i, j))))

      val keywords = Array.tabulate(kEff) { j =>
        (0 until vocabSize)
          .map(i => (Loadings.snap(v(i, j) * signs(j)), vocab(i)))
          .sortBy { case (l, t) => (-l, t) }
          .take(cfg.nKeywords).map(_._2)
      }

      val signsB = rows.sparkContext.broadcast(signs)
      // One distributed pass for ALL concepts' top docs: per-partition
      // bounded heaps aggregated on the driver (kEff × nDocs entries),
      // instead of k separate jobs each recomputing the U lineage.
      val nTop = cfg.nDocs
      val ord = Ordering.by[(Double, Long), (Double, Long)] { case (l, i) => (l, -i) }
      val tops: Array[Seq[(Double, Long)]] = svd.U.rows
        .mapPartitions { it =>
          val heaps = Array.fill(kEff)(scala.collection.mutable.ArrayBuffer.empty[(Double, Long)])
          it.foreach { r =>
            var j = 0
            while (j < kEff) {
              heaps(j) += ((Loadings.snap(r.vector(j) * signsB.value(j)), r.index))
              if (heaps(j).size > 4 * nTop) {
                val kept = heaps(j).sorted(ord.reverse).take(nTop)
                heaps(j).clear(); heaps(j) ++= kept
              }
              j += 1
            }
          }
          Iterator.single(heaps.map(_.toSeq))
        }
        .reduce { (x, y) =>
          Array.tabulate(kEff)(j => (x(j) ++ y(j)).sorted(ord.reverse).take(nTop))
        }
      val topDocs = Array.tabulate(kEff)(j => tops(j).sorted(ord.reverse).take(nTop).map(_._2))
      (0 until kEff).map(j => Concept(j, svd.s(j), keywords(j), topDocs(j)))
    } finally rows.unpersist()
  }
}
