package graft.lsa

import breeze.linalg.{svd => bsvd, DenseMatrix}

import graft.text.{Lemmatizer, StopWords}

/** The driver-local LSA solve: tf·idf cells from token lists
  * ([[fromTokens]]) and the dense LAPACK SVD over them ([[fromCells]]).
  * Which route runs where:
  *
  *  - EP1 (`Pipelines.lsaSummaryFromSentences`): a product within its
  *    row budget is collected once with Spark's tokens and its cells
  *    are built here ([[fromTokens]]); a matrix within
  *    `Lsa.LocalDenseCells` is solved here too ([[solve]]), a larger one
  *    by ARPACK over the same cells (`Lsa.conceptsOfCells`);
  *  - `Lsa.concepts` (EP1 above its row budget, and the benchmark's
  *    traced pass): Spark computes the cells, and a matrix within
  *    `Lsa.LocalDenseCells` is solved here ([[fromCells]]);
  *  - EP3's grouped route (`GroupedSummarizer.evaluatePerGroup`, one
  *    local SVD per group inside `flatMapGroups`) and ls08's LAPACK
  *    truth twin call [[concepts]] on raw text.
  *
  * Every convention of the distributed ARPACK route is reproduced so
  * the two select the same concepts/documents:
  *
  *  - LSA token pipeline: `[a-zA-Z]+` on lowercased text → NLTK stopword
  *    filter → length ≥ 3 → optional lemmatizer (TextFunctions.lsaTokens);
  *  - vocabulary ordered (df desc, token asc), 0-based idx, every token
  *    kept (no df floor);
  *  - cell value tf · log10(N/df) (quirk Q3), with `StrictMath.log10`,
  *    which is Spark's `Log10`, so the cells are bit-equal to Spark's;
  *    the dense matrix stacks the doc rows in ascending id order, which
  *    is the distributed path's row-index order, since there the id IS
  *    the row index;
  *  - effective rank: the σ floor both routes share ([[Lsa.SigmaFloor]]);
  *  - the eigen-residual gate of [[Lsa.eigenResiduals]], on the dense
  *    matrix ([[denseResiduals]]);
  *  - sign convention: [[Loadings.sign]] over the vocabulary index, on
  *    the [[Loadings.snap]] grid (Q9/H2: first max-|V-loading| entry
  *    positive per concept; mathematically tied maxima of opposite sign
  *    fall to the first index, not to solver round-off);
  *  - loadings quantized to the [[Loadings.snap]] grid before top-k
  *    tie-breaks (solver-noise-proof determinism);
  *  - keywords: top nKeywords by (-loading, token); docs: top nDocs by
  *    (-loading, id).
  *
  * `LocalLsaSpec` asserts this against the distributed
  * `Lsa.conceptsDistributed` output on shared fixtures, and pins
  * [[fromTokens]]' cells bit-equal to Spark's.
  */
object LocalLsa {

  final case class Concept(
      concept: Int,
      singularValue: Double,
      keywords: Seq[String],
      docIds: Seq[Long])

  /** A corpus' tf·idf matrix as (id, idx, value) cells, one per
    * (document, token) pair, over `vocab` in idx order; `nDocs` counts
    * the documents with a token.
    */
  final case class Cells(cells: Seq[(Long, Int, Double)], vocab: Array[String], nDocs: Int)

  /** Local mirror of `TextFunctions.lsaTokens` (lower/regex → stopword +
    * len≥3 → lemma).
    */
  def lsaTokens(text: String, lemma: Boolean = true): Seq[String] = {
    val t = "[a-zA-Z]+".r.findAllIn(text.toLowerCase).toSeq
      .filterNot(StopWords.asSet.contains)
      .filter(_.length >= 3)
    if (lemma) Lemmatizer.lemmaAll(t) else t
  }

  /** [[solve]] over raw text, tokenized by the [[lsaTokens]] mirror:
    * EP3's grouped route and ls08's truth twin.
    */
  def concepts(docs: Seq[(Long, String)],
      cfg: Lsa.Config = Lsa.Config()): Seq[Concept] =
    solve(fromTokens(docs.map { case (id, t) => id -> lsaTokens(t, cfg.lemma) }), cfg)

  /** The tf·idf cells of tokenized documents, as `Lsa.concepts` builds
    * them in Spark: documents without a token drop out, the vocabulary
    * is ordered (df desc, token asc), and a cell is
    * `tf · log10(nDocs / df)` with `StrictMath.log10`, Spark 4.1.2's
    * `Log10`, so every value is bit-equal to the Spark-computed cell.
    */
  def fromTokens(docs: Seq[(Long, Seq[String])]): Cells = {
    val tok = docs.filter(_._2.nonEmpty)
    val tf = tok.map { case (id, ts) =>
      id -> ts.groupMapReduce(identity)(_ => 1L)(_ + _)
    }
    val df = tf.flatMap(_._2.keys).groupMapReduce(identity)(_ => 1L)(_ + _)
    val vocab = df.toArray.sortBy { case (t, d) => (-d, t) }.map(_._1)
    val idx = vocab.zipWithIndex.toMap
    val nDocs = tok.size
    val cells = tf.flatMap { case (id, counts) =>
      counts.map { case (t, n) =>
        (id, idx(t), n.toDouble * StrictMath.log10(nDocs.toDouble / df(t)))
      }
    }
    Cells(cells, vocab, nDocs)
  }

  /** [[fromCells]] at `Lsa.concepts`' k = min(cfg.k, nDocs, |vocab|);
    * no concepts when no token survives.
    */
  def solve(c: Cells, cfg: Lsa.Config): Seq[Concept] = {
    val k = math.min(cfg.k, math.min(c.nDocs, c.vocab.length))
    if (k <= 0) Seq.empty else fromCells(c.cells, c.vocab, k, cfg)
  }

  /** The dense solve over the nonzero cells (id, idx, value) of a
    * docs × |vocab| matrix, `vocab` in idx order: LAPACK SVD, the σ
    * floor cut at `k` concepts, the eigen-residual gate, then the sign and
    * keyword/doc selection. Rows stack in ascending id order.
    */
  private[lsa] def fromCells(cells: Iterable[(Long, Int, Double)],
      vocab: Array[String], k: Int, cfg: Lsa.Config): Seq[Concept] = {
    val ids = cells.iterator.map(_._1).toArray.distinct.sorted
    val rowOf = ids.zipWithIndex.toMap
    val vocabSize = vocab.length
    val m = DenseMatrix.zeros[Double](ids.length, vocabSize)
    cells.foreach { case (id, i, x) => m(rowOf(id), i) = x }
    val r = bsvd.reduced(m)
    val sigma = r.S.toArray // descending
    val u = r.U // nDocs x rank
    val vt = r.Vt // rank x vocabSize; V(i,j) = vt(j,i)
    val kEff = sigma.iterator.take(k).takeWhile(_ >= Lsa.SigmaFloor * sigma(0)).size
    val s = sigma.take(kEff)
    Lsa.requireGenuine(denseResiduals(m, vt(0 until kEff, ::).t.copy, s), s)

    val signs = Array.tabulate(kEff)(j => Loadings.sign(vocabSize)(i => Loadings.snap(vt(j, i))))

    (0 until kEff).map { j =>
      val keywords = (0 until vocabSize)
        .map(i => (Loadings.snap(vt(j, i) * signs(j)), vocab(i)))
        .sortBy { case (l, t) => (-l, t) }
        .take(cfg.nKeywords).map(_._2)
      val topDocs = ids.indices
        .map(i => (Loadings.snap(u(i, j) * signs(j)), i))
        .sortBy { case (l, i) => (-l, i) }
        .take(cfg.nDocs).map { case (_, i) => ids(i) }
      Concept(j, sigma(j), keywords, topDocs)
    }
  }

  /** [[Lsa.eigenResiduals]] on a dense matrix `m`: per concept j,
    * ‖mᵀm vⱼ − sⱼ² vⱼ‖ / sⱼ² for the claimed loadings `v` (|vocab| × k)
    * and singular values `s`; zero-σ concepts report 0.
    */
  private[lsa] def denseResiduals(m: DenseMatrix[Double], v: DenseMatrix[Double],
      s: Array[Double]): Array[Double] = {
    val z = m.t * (m * v)
    Array.tabulate(s.length) { j =>
      val s2 = s(j) * s(j)
      if (s2 <= 0.0) 0.0
      else {
        var rs = 0.0; var i = 0
        while (i < v.rows) {
          val d = z(i, j) - s2 * v(i, j)
          rs += d * d; i += 1
        }
        math.sqrt(rs) / s2
      }
    }
  }
}
