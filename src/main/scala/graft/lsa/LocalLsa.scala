package graft.lsa

import breeze.linalg.{svd => bsvd, DenseMatrix}

import graft.text.{Lemmatizer, StopWords}

/** LOCAL mirror of [[Lsa.concepts]]' ARPACK route — the dense LAPACK
  * solve behind `Lsa.concepts`' driver-local route ([[fromCells]]) and,
  * through [[concepts]], behind per-product EP3 evaluation INSIDE
  * `flatMapGroups` (one local SVD per group, no Spark jobs, no driver
  * loop). Every convention of the distributed implementation is
  * reproduced so the two paths select the same concepts/documents:
  *
  *  - LSA token pipeline: `[a-zA-Z]+` on lowercased text → NLTK stopword
  *    filter → length ≥ 3 → optional lemmatizer (TextFunctions.lsaTokens);
  *  - vocabulary ordered (df desc, token asc), 0-based idx, every token
  *    kept (no df floor);
  *  - cell value tf · log10(N/df) (quirk Q3); the dense matrix stacks the
  *    doc rows in ascending id order, which is the distributed path's
  *    row-index order, since there the id IS the row index;
  *  - effective rank: `computeSVD`'s rCond cut ([[RCond]]);
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
  * `Lsa.conceptsDistributed` output on shared fixtures.
  */
object LocalLsa {

  final case class Concept(
      concept: Int,
      singularValue: Double,
      keywords: Seq[String],
      docIds: Seq[Long])

  /** `RowMatrix.computeSVD`'s default `rCond`: singular values below
    * rCond·σ₀ are dropped, so rank-deficient input (duplicate sentences)
    * returns the same concept count here as on the ARPACK route.
    */
  private val RCond = 1e-9

  /** Local mirror of `TextFunctions.lsaTokens` (lower/regex → stopword +
    * len≥3 → lemma).
    */
  def lsaTokens(text: String, lemma: Boolean = true): Seq[String] = {
    val t = "[a-zA-Z]+".r.findAllIn(text.toLowerCase).toSeq
      .filterNot(StopWords.asSet.contains)
      .filter(_.length >= 3)
    if (lemma) Lemmatizer.lemmaAll(t) else t
  }

  def concepts(docs: Seq[(Long, String)],
      cfg: Lsa.Config = Lsa.Config()): Seq[Concept] = {
    val tok = docs.map { case (id, t) => id -> lsaTokens(t, cfg.lemma) }
      .filter(_._2.nonEmpty)
    // vocabulary: (df desc, token asc), 0-based idx
    val df = tok.flatMap { case (id, ts) => ts.distinct.map(_ -> id) }
      .groupBy(_._1).map { case (t, xs) => t -> xs.size.toLong }
    val vocabArr = df.toSeq
      .sortBy { case (t, d) => (-d, t) }.map(_._1).toArray
    val vocab = vocabArr.zipWithIndex.toMap
    val nDocs = tok.size
    val k = math.min(cfg.k, math.min(nDocs, vocabArr.length))
    if (k <= 0) return Seq.empty
    // cells tf * log10(N/df)
    val cells = tok.flatMap { case (id, ts) =>
      ts.groupBy(identity).map { case (t, dup) =>
        (id, vocab(t), dup.size * math.log10(nDocs.toDouble / df(t)))
      }
    }
    fromCells(cells, vocabArr, k, cfg)
  }

  /** The dense solve over the nonzero cells (id, idx, value) of a
    * docs × |vocab| matrix, `vocab` in idx order: LAPACK SVD, the rCond
    * cut at `k` concepts, the eigen-residual gate, then the sign and
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
    val kEff = sigma.iterator.take(k).takeWhile(_ >= RCond * sigma(0)).size
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
