package graft.lsa

import scala.collection.mutable.{ArrayBuffer, ArrayBuilder}

import breeze.linalg.{svd => bsvd, DenseMatrix}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.TextNative

/** The driver-local LSA route: a CSR tf·idf matrix built from int-coded
  * tokens ([[fromTokenArrays]], [[fromTokens]]) solved by [[Svd]]
  * ([[solve]]), for EP1's product route (`Pipelines.lsaSummaryLocal`)
  * and EP3's groups ([[concepts]], inside `flatMapGroups`); ls08's truth
  * twin ([[lapackConcepts]]) factors the same matrix with dense LAPACK.
  *
  * The cells are `Lsa.concepts`' own: the LSA token pipeline
  * (TextFunctions.lsaTokens), the vocabulary ordered (df desc, token
  * asc) with every token kept, and tf · log10(N/df) (quirk Q3) with
  * `StrictMath.log10`, which is Spark's `Log10`, so they are bit-equal
  * to Spark's and the two routes solve the same matrix. `LocalLsaSpec`
  * pins both against each other and against the LAPACK twin.
  */
object LocalLsa {

  /** A corpus' tf·idf matrix: one row per document with a token, in
    * ascending id, its columns `vocab` in idx order.
    */
  final case class Tfidf(matrix: Svd.Local, vocab: Array[String]) {
    def nDocs: Int = matrix.rows
  }

  /** Int codes for tokens in first-seen order, tokens compared by `K`'s
    * `equals`; `keys(c)` is the token coded `c`.
    */
  private final class Coder[K] {
    private val codeOf = new java.util.HashMap[K, Integer]()
    val keys = ArrayBuffer.empty[K]
    def apply(t: K): Int = {
      val c = codeOf.get(t)
      if (c != null) c.intValue
      else {
        codeOf.put(t, keys.length)
        keys += t
        keys.length - 1
      }
    }
  }

  /** Local mirror of `TextFunctions.lsaTokens`: the kernel itself, with
    * the session's case-mapping setting.
    */
  def lsaTokens(text: String, lemma: Boolean = true): Seq[String] = {
    val ts = TextNative.tokens(UTF8String.fromString(text), TextNative.icuCaseMappings,
      textrank = false, lemma)
    (0 until ts.numElements()).map(ts.getUTF8String(_).toString)
  }

  /** [[solve]] over raw text, tokenized by the [[lsaTokens]] mirror:
    * EP3's grouped route.
    */
  def concepts(docs: Seq[(Long, String)],
      cfg: Lsa.Config = Lsa.Config()): Seq[Lsa.Concept] =
    solve(fromTokens(tokenized(docs, cfg)), cfg)

  private def tokenized(docs: Seq[(Long, String)], cfg: Lsa.Config): Seq[(Long, Seq[String])] =
    docs.map { case (id, t) => id -> lsaTokens(t, cfg.lemma) }

  /** The tf·idf matrix of tokenized documents, given in any order. */
  def fromTokens(docs: Seq[(Long, Seq[String])]): Tfidf = {
    val sorted = docs.sortBy(_._1)
    val coder = new Coder[String]
    val ptr = new Array[Int](sorted.length + 1)
    val codes = ArrayBuilder.make[Int]
    sorted.iterator.zipWithIndex.foreach { case ((_, ts), r) =>
      ts.foreach(t => codes += coder(t))
      ptr(r + 1) = ptr(r) + ts.length
    }
    tfidf(sorted.map(_._1).toArray, ptr, codes.result(), coder.keys.toArray)
  }

  /** The tf·idf matrix of Spark token arrays, array r being document
    * r + 1 (EP1's sids); a null array has no token.
    */
  def fromTokenArrays(docs: Array[ArrayData]): Tfidf = {
    val coder = new Coder[UTF8String]
    val ptr = new Array[Int](docs.length + 1)
    val codes = ArrayBuilder.make[Int]
    var r = 0
    while (r < docs.length) {
      val ts = docs(r)
      val n = if (ts == null) 0 else ts.numElements()
      var j = 0
      while (j < n) { codes += coder(ts.getUTF8String(j)); j += 1 }
      ptr(r + 1) = ptr(r) + n
      r += 1
    }
    tfidf(Array.tabulate(docs.length)(_ + 1L), ptr, codes.result(),
      coder.keys.iterator.map(_.toString).toArray)
  }

  /** The matrix of documents `ids` (ascending), document r holding the
    * token codes `codes(ptr(r) until ptr(r + 1))`, code c naming
    * `tokens(c)`, as `Lsa.concepts` builds it in Spark: documents
    * without a token drop out, the vocabulary is ordered (df desc, token
    * asc), and a cell is `tf · log10(nDocs / df)` with `StrictMath.log10`,
    * Spark 4.1.2's `Log10`, so every value is bit-equal to the
    * Spark-computed cell. Each row's columns ascend.
    */
  private def tfidf(ids: Array[Long], ptr: Array[Int], codes: Array[Int],
      tokens: Array[String]): Tfidf = {
    val nCodes = tokens.length
    val df = new Array[Int](nCodes)
    val lastDoc = Array.fill(nCodes)(-1)
    var nDocs = 0
    var nnz = 0
    var r = 0
    while (r < ids.length) {
      if (ptr(r + 1) > ptr(r)) nDocs += 1
      var p = ptr(r)
      while (p < ptr(r + 1)) {
        val c = codes(p)
        if (lastDoc(c) != r) { lastDoc(c) = r; df(c) += 1; nnz += 1 }
        p += 1
      }
      r += 1
    }
    val byVocab = Array.tabulate[Integer](nCodes)(Int.box)
    java.util.Arrays.sort(byVocab, (a: Integer, b: Integer) => {
      val d = Integer.compare(df(b), df(a))
      if (d != 0) d else tokens(a).compareTo(tokens(b))
    })
    val rank = new Array[Int](nCodes)
    byVocab.indices.foreach(i => rank(byVocab(i)) = i)
    val idf = Array.tabulate(nCodes)(c => StrictMath.log10(nDocs.toDouble / df(c)))

    val rowIds = new Array[Long](nDocs)
    val rowPtr = new Array[Int](nDocs + 1)
    val idx = new Array[Int](nnz)
    val vs = new Array[Double](nnz)
    val tf = new Array[Int](nCodes)
    var row = 0
    var q = 0
    r = 0
    while (r < ids.length) {
      if (ptr(r + 1) > ptr(r)) {
        val from = q
        var p = ptr(r)
        while (p < ptr(r + 1)) {
          val c = codes(p)
          if (tf(c) == 0) { idx(q) = rank(c); q += 1 }
          tf(c) += 1
          p += 1
        }
        java.util.Arrays.sort(idx, from, q)
        var t = from
        while (t < q) {
          val c = byVocab(idx(t)).intValue
          vs(t) = tf(c).toDouble * idf(c)
          tf(c) = 0
          t += 1
        }
        rowIds(row) = ids(r)
        row += 1
        rowPtr(row) = q
      }
      r += 1
    }
    Tfidf(new Svd.Local(rowIds, rowPtr, idx, vs, nCodes), byVocab.map(tokens(_)))
  }

  /** `Lsa.concepts`' k = min(cfg.k, nDocs, |vocab|); 0 when no token survives. */
  private def rank(t: Tfidf, cfg: Lsa.Config): Int =
    math.min(cfg.k, math.min(t.nDocs, t.vocab.length))

  /** The [[Svd]] solve of the matrix at [[rank]]. */
  def solve(t: Tfidf, cfg: Lsa.Config): Seq[Lsa.Concept] = {
    val k = rank(t, cfg)
    if (k <= 0) Seq.empty else Svd.concepts(t.matrix, t.vocab, k, cfg)
  }

  /** ls08's truth twin of [[concepts]]: LAPACK's full dense SVD of the
    * same matrix, its top σ and V through the same [[Svd.emit]]; it costs
    * docs·|vocab|·min(docs, |vocab|), so callers bound the input.
    */
  private[graft] def lapackConcepts(docs: Seq[(Long, String)],
      cfg: Lsa.Config = Lsa.Config()): Seq[Lsa.Concept] = {
    val t = fromTokens(tokenized(docs, cfg))
    val k = rank(t, cfg)
    if (k <= 0) return Seq.empty
    val a = t.matrix
    val n = t.vocab.length
    val m = DenseMatrix.zeros[Double](a.rows, n)
    (0 until a.rows).foreach(r => (a.ptr(r) until a.ptr(r + 1)).foreach(p => m(r, a.idx(p)) = a.vs(p)))
    val s = bsvd.reduced(m)
    val top = math.min(k, s.S.length)
    Svd.emit(a, t.vocab, s.S.toArray.take(top),
      Array.tabulate(n * top)(p => s.Vt(p / n, p % n)), cfg)
  }
}
