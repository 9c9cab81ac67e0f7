package graft.lsa

import breeze.linalg.{svd => bsvd, DenseMatrix}

import graft.text.{Lemmatizer, StopWords}

/** LOCAL mirror of [[Lsa.concepts]] for bounded sentence groups — the
  * building block that lets per-product EP3 evaluation run INSIDE
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
  *  - sign convention: [[Loadings.sign]] over the vocabulary index
  *    (Q9/H2: first max-|V-loading| entry positive per concept);
  *  - loadings quantized to the [[Loadings.snap]] grid before top-k
  *    tie-breaks (solver-noise-proof determinism);
  *  - keywords: top nKeywords by (-loading, token); docs: top nDocs by
  *    (-loading, id).
  *
  * `LocalLsaSpec` asserts this against the distributed `Lsa.concepts`
  * output on a shared fixture.
  */
object LocalLsa {

  final case class Concept(
      concept: Int,
      singularValue: Double,
      keywords: Seq[String],
      docIds: Seq[Long])

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
    val vocabSize = vocabArr.length
    val k = math.min(cfg.k, math.min(nDocs, vocabSize))
    if (k <= 0) return Seq.empty

    // doc rows ordered by id; cells tf * log10(N/df)
    val ids = tok.map(_._1).sorted
    val rowOf = ids.zipWithIndex.toMap
    val m = DenseMatrix.zeros[Double](nDocs, vocabSize)
    tok.foreach { case (id, ts) =>
      val row = rowOf(id)
      ts.groupBy(identity).foreach { case (t, dup) =>
        m(row, vocab(t)) = dup.size * math.log10(nDocs.toDouble / df(t))
      }
    }
    val r = bsvd.reduced(m)
    val sigma = r.S.toArray // descending
    val u = r.U // nDocs x rank
    val vt = r.Vt // rank x vocabSize; V(i,j) = vt(j,i)
    val kEff = math.min(k, sigma.length)

    val signs = Array.tabulate(kEff)(j => Loadings.sign(vocabSize)(vt(j, _)))

    (0 until kEff).map { j =>
      val keywords = (0 until vocabSize)
        .map(i => (Loadings.snap(vt(j, i) * signs(j)), vocabArr(i)))
        .sortBy { case (l, t) => (-l, t) }
        .take(cfg.nKeywords).map(_._2)
      val topDocs = (0 until nDocs)
        .map(i => (Loadings.snap(u(i, j) * signs(j)), i))
        .sortBy { case (l, i) => (-l, i) }
        .take(cfg.nDocs).map { case (_, i) => ids(i) }
      Concept(j, sigma(j), keywords, topDocs)
    }
  }
}
