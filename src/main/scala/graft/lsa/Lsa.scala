package graft.lsa

import org.apache.spark.mllib.linalg.{Vectors => MlVectors}
import org.apache.spark.mllib.linalg.distributed.IndexedRow
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
  *  - One top-k solver ([[Svd]]) runs where the matrix is: a
  *    product-sized one is collected and solved on the driver, as the
  *    reference does with NumPy; a larger one never hits the driver —
  *    each Lanczos step is one distributed pass, and only V (|vocab| × k)
  *    and the k singular values are local.
  *  - IDF is the reference's `log10(N/df)` (quirk Q3).
  *  - Sign convention (quirk Q9/H2): each singular vector is flipped so
  *    its max-|loading| V-entry (on the `Loadings.snap` grid, first index
  *    on a tie) is positive, making signed-loading top-k deterministic.
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

  /** Nonzero cells at or below which [[concepts]] collects the matrix
    * and solves it on the driver ([[Svd.Local]]). On 4 cores the local
    * route won at every measured size up to 4.5 M cells (11.3 s against
    * 17.9 s; CHANGES.md records the sweep), so memory sets it: 64 MiB of
    * CSR at 16 B per cell, the collected rows a few times that while
    * they are sorted.
    */
  private val LocalNnz: Long = 4L << 20

  /** Concepts from a (id: long, text: string) corpus. Returns a LOCAL
    * small result (k rows) as a DataFrame.
    *
    * Two routes share the token, tf, vocabulary and tf·idf cell plans and
    * the solver ([[Svd]]). Up to [[LocalNnz]] nonzero cells the cells are
    * collected in one job and solved on the driver; above it
    * [[conceptsDistributed]] runs the same solve with one Spark job per
    * pass. EP1 calls this only above its row budget
    * (`Pipelines.lsaSummaryDistributed`); the benchmark's traced pass
    * (`perfbench/ReviewOps.lsaFromSentences`) calls it too.
    *
    * The caller's id is the matrix row index as is, whatever its range:
    * σ and V depend on the row vectors alone, so no renumbering is
    * needed, and the top-doc tie-break (ascending index) is ascending id.
    *
    * Every result passes [[Svd.emit]]'s eigen-residual gate, at any
    * size on both routes; the ≤2000-doc dense-LAPACK twin in ls08 and
    * the power-twin σ cross-check in Stress pin the top-k SELECTION on
    * collectable corpora.
    */
  def concepts(docs: DataFrame, idCol: String, textCol: String,
      cfg: Config = Config()): DataFrame =
    withCells(docs, idCol, textCol, cfg) { (cells, nnz, vocab, k) =>
      if (nnz <= LocalNnz) {
        val spark = docs.sparkSession
        import spark.implicits._
        // collect-bound: probe-guarded: nnz <= LocalNnz just above; conceptsDistributed is the fallback
        val local = Svd.Local(cells.as[(Long, Int, Double)].collect(), vocab.length)
        spark.createDataFrame(Svd.concepts(local, vocab, k, cfg))
      } else distributed(cells, nnz, vocab, k, cfg)
    }

  /** [[concepts]] on the distributed route at any size. */
  private[graft] def conceptsDistributed(docs: DataFrame, idCol: String,
      textCol: String, cfg: Config = Config()): DataFrame =
    withCells(docs, idCol, textCol, cfg)(distributed(_, _, _, _, cfg))

  /** The plans both routes share: tokens, the persisted tf table, one
    * job for (nnz, nDocs), the collected vocabulary, and the (id, idx, v)
    * tf·idf cells; `solve` gets (cells, nnz, vocab, k) and runs
    * while tf is cached. A degenerate corpus (no tokens survive) returns
    * no concepts without calling it.
    */
  private[lsa] def withCells(docs: DataFrame, idCol: String, textCol: String,
      cfg: Config)(
      solve: (DataFrame, Long, Array[String], Int) => DataFrame): DataFrame = {
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
      // ONE job for both corpus scalars: nnz sizes the route and the row
      // partitioning, nDocs feeds IDF and k.
      val (nnz, nDocs) = {
        val row = tf.agg(count(lit(1)), count_distinct(col("id"))).head()
        (row.getLong(0), row.getLong(1))
      }
      // Vocabulary COLLECTED once, (df desc, token asc)-ordered by a Spark
      // sort (a total order); idx = collect position. One job, and the
      // join side below is a LocalRelation of the solver's V footprint.
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
      solve(cells, nnz, vocabRows.map(_._1), k)
    } finally tf.unpersist()
  }

  /** The Lanczos solve runs one treeAggregate job over the matrix rows
    * per step (dozens of jobs), so per-step cost = per-task scheduling ×
    * partitions + the actual multiply. Size partitions by nonzero count
    * (~250k cells each): a small corpus collapses to a couple of tasks
    * (scheduling overhead was dominating the SVD at bench scale), a
    * 100 TB corpus still spreads across the cluster.
    */
  private def rowParts(spark: SparkSession, nnz: Long): Int =
    math.max(1, math.min((nnz / 250000L).toInt + 1, spark.sparkContext.defaultParallelism))

  /** The distributed route over Spark's cells: one sparse row per
    * document, columns ascending, persisted while [[Svd]] passes over it.
    */
  private def distributed(cells: DataFrame, nnz: Long, vocab: Array[String],
      k: Int, cfg: Config): DataFrame = {
    val spark = cells.sparkSession
    import spark.implicits._
    val n = vocab.length
    val rows = cells.as[(Long, Int, Double)].rdd
      .groupBy((t: (Long, Int, Double)) => t._1, rowParts(spark, nnz))
      .map { case (id, cs) =>
        val sorted = cs.toArray.sortBy(_._2)
        IndexedRow(id, MlVectors.sparse(n, sorted.map(_._2), sorted.map(_._3)))
      }
      // without it each pass replays the lineage that built the rows
      .persist(StorageLevel.MEMORY_AND_DISK)
    // released on every exit, including a failed job or the residual gate
    try spark.createDataFrame(Svd.concepts(new Svd.Distributed(rows, n), vocab, k, cfg))
    finally rows.unpersist()
  }
}
