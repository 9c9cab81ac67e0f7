package graft.lsa

import breeze.linalg.{svd => bsvd, DenseMatrix}

import graft.text.{Lemmatizer, StopWords}

/** The driver-local LSA route: tf·idf cells from token lists
  * ([[fromTokens]]) solved by [[Svd]] over a CSR matrix ([[solve]]), for
  * EP1's product route (`Pipelines.lsaSummaryLocal`) and EP3's groups
  * ([[concepts]], inside `flatMapGroups`); ls08's truth twin
  * ([[lapackConcepts]]) factors the same cells with dense LAPACK.
  *
  * The cells are `Lsa.concepts`' own: the LSA token pipeline
  * (TextFunctions.lsaTokens), the vocabulary ordered (df desc, token
  * asc) with every token kept, and tf · log10(N/df) (quirk Q3) with
  * `StrictMath.log10`, which is Spark's `Log10`, so they are bit-equal
  * to Spark's and the two routes solve the same matrix. `LocalLsaSpec`
  * pins both against each other and against the LAPACK twin.
  */
object LocalLsa {

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
    * EP3's grouped route.
    */
  def concepts(docs: Seq[(Long, String)],
      cfg: Lsa.Config = Lsa.Config()): Seq[Lsa.Concept] =
    solve(fromTokens(tokenized(docs, cfg)), cfg)

  private def tokenized(docs: Seq[(Long, String)], cfg: Lsa.Config): Seq[(Long, Seq[String])] =
    docs.map { case (id, t) => id -> lsaTokens(t, cfg.lemma) }

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

  /** `Lsa.concepts`' k = min(cfg.k, nDocs, |vocab|); 0 when no token survives. */
  private def rank(c: Cells, cfg: Lsa.Config): Int =
    math.min(cfg.k, math.min(c.nDocs, c.vocab.length))

  /** The [[Svd]] solve of the cells at [[rank]]. */
  def solve(c: Cells, cfg: Lsa.Config): Seq[Lsa.Concept] = {
    val k = rank(c, cfg)
    if (k <= 0) Seq.empty else Svd.concepts(Svd.Local(c.cells, c.vocab.length), c.vocab, k, cfg)
  }

  /** ls08's truth twin of [[concepts]]: LAPACK's full dense SVD of the
    * same cells, its top σ and V through the same [[Svd.emit]]; it costs
    * docs·|vocab|·min(docs, |vocab|), so callers bound the input.
    */
  private[graft] def lapackConcepts(docs: Seq[(Long, String)],
      cfg: Lsa.Config = Lsa.Config()): Seq[Lsa.Concept] = {
    val c = fromTokens(tokenized(docs, cfg))
    val k = rank(c, cfg)
    if (k <= 0) return Seq.empty
    val ids = c.cells.map(_._1).distinct.sorted
    val rowOf = ids.zipWithIndex.toMap
    val n = c.vocab.length
    val m = DenseMatrix.zeros[Double](ids.length, n)
    c.cells.foreach { case (id, i, x) => m(rowOf(id), i) = x }
    val r = bsvd.reduced(m)
    val top = math.min(k, r.S.length)
    Svd.emit(Svd.Local(c.cells, n), c.vocab, r.S.toArray.take(top),
      Array.tabulate(n * top)(p => r.Vt(p / n, p % n)), cfg)
  }
}
