package graft.rouge

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

import graft.text.PorterStemmer

/** ROUGE-1/2/L scoring, re-implemented natively from the published
  * definitions (Lin 2004) to match the reference's use of the
  * `rouge-score` package (BigdataProjectCode.py:183-202, SURVEY V2-V3).
  *
  * rouge-score semantics reproduced:
  *  - tokenization: lowercase, runs of `[a-z0-9]+` (everything else is a
  *    separator);
  *  - with `use_stemmer=True`, Porter-stem only tokens longer than 3
  *    chars (rouge-score quirk);
  *  - ROUGE-N: multiset n-gram overlap; P = overlap/|sys|, R =
  *    overlap/|ref| with max(·,1) zero-division guards, F = 2PR/(P+R)
  *    (0 when P+R=0);
  *  - ROUGE-L: sentence-level LCS over the token sequences.
  */
object Rouge {

  final case class Score(precision: Double, recall: Double, f1: Double)

  def tokenize(text: String, stem: Boolean = false): Seq[String] = {
    if (text == null) return Seq.empty
    val raw = "[a-z0-9]+".r.findAllIn(text.toLowerCase).toSeq
    if (stem) raw.map(t => if (t.length > 3) PorterStemmer.stem(t) else t)
    else raw
  }

  private def ngramCounts(tokens: Seq[String], n: Int): Map[Seq[String], Int] =
    if (tokens.length < n) Map.empty
    else tokens.sliding(n).toSeq.groupBy(identity).map { case (k, v) => k -> v.size }

  private def fScore(p: Double, r: Double): Double =
    if (p + r == 0) 0.0 else 2 * p * r / (p + r)

  def rougeN(system: String, reference: String, n: Int, stem: Boolean = false): Score = {
    val sys = ngramCounts(tokenize(system, stem), n)
    val ref = ngramCounts(tokenize(reference, stem), n)
    val overlap = sys.iterator.map { case (g, c) => math.min(c, ref.getOrElse(g, 0)) }.sum
    val p = overlap.toDouble / math.max(sys.valuesIterator.sum, 1)
    val r = overlap.toDouble / math.max(ref.valuesIterator.sum, 1)
    Score(p, r, fScore(p, r))
  }

  /** O(m·n) LCS length with an O(min(m,n)) rolling row. */
  def lcsLength(a: Seq[String], b: Seq[String]): Int = {
    if (a.isEmpty || b.isEmpty) return 0
    val (s, l) = if (a.length <= b.length) (a, b) else (b, a)
    val prev = new Array[Int](s.length + 1)
    val cur = new Array[Int](s.length + 1)
    for (i <- 1 to l.length) {
      for (j <- 1 to s.length) {
        cur(j) =
          if (l(i - 1) == s(j - 1)) prev(j - 1) + 1
          else math.max(prev(j), cur(j - 1))
      }
      Array.copy(cur, 0, prev, 0, s.length + 1)
    }
    prev(s.length)
  }

  def rougeL(system: String, reference: String, stem: Boolean = false): Score = {
    val sys = tokenize(system, stem)
    val ref = tokenize(reference, stem)
    val lcs = lcsLength(sys, ref)
    val p = lcs.toDouble / math.max(sys.length, 1)
    val r = lcs.toDouble / math.max(ref.length, 1)
    Score(p, r, fScore(p, r))
  }

  /** EP3's metrics (rouge-score's `use_stemmer=True`) in report order. */
  private val stemmedMetrics: Seq[(String, (String, String) => Score)] = Seq(
    ("rouge1", (s, r) => rougeN(s, r, 1, stem = true)),
    ("rouge2", (s, r) => rougeN(s, r, 2, stem = true)),
    ("rougeL", (s, r) => rougeL(s, r, stem = true)))

  /** Stemmed ROUGE-1/2/L of every (system, reference) pair, per metric
    * in report order.
    */
  def stemmedScores(pairs: Seq[(String, String)]): Seq[(String, Seq[Score])] =
    stemmedMetrics.map { case (metric, score) => metric -> pairs.map(score.tupled) }

  // ---- Column-level surface (struct<precision,recall,f1>) ----
  def rouge1(stem: Boolean): (Column, Column) => Column = {
    val u = udf((s: String, r: String) => rougeN(s, r, 1, stem))
    (s, r) => u(s, r)
  }
  def rouge2(stem: Boolean): (Column, Column) => Column = {
    val u = udf((s: String, r: String) => rougeN(s, r, 2, stem))
    (s, r) => u(s, r)
  }
  def rougeLCol(stem: Boolean): (Column, Column) => Column = {
    val u = udf((s: String, r: String) => rougeL(s, r, stem))
    (s, r) => u(s, r)
  }
}
