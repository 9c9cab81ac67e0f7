package graft.baseline

import breeze.linalg.{svd => bsvd, DenseMatrix}

import graft.lsa.Loadings
import graft.text.StopWords

/** Driver-local LSA baseline summarizer equivalent to the reference's
  * external `pytldr` `LsaSummarizer` (BigdataProjectCode.py:167-176,
  * SURVEY V1/H3), rebuilt from the published algorithm it implements:
  * the Ozsoy et al. 2010 "cross method" (pytldr's `LsaSummarizer` IS the
  * cross-method object — the reference's own comment at
  * BigdataProjectCode.py:168).
  *
  * Steps (the cross method per Ozsoy et al. 2010 §3.3):
  *  1. binary term×sentence matrix (`binary_matrix=True`) over
  *     stopword-filtered alphabetic tokens;
  *  2. SVD (Breeze, local — a single document's sentences always fit),
  *     top `topics` concepts by singular value;
  *  3. concepts with σ_j < topicSigmaThreshold·σ_max are zeroed out;
  *  4. per-topic average sentence loading; cells ≤ the topic average are
  *     zeroed (drops weakly-related sentences from each concept);
  *  5. sentence saliency = Σ_j σ_j² · v_ij² over the surviving cells —
  *     the "cross" of concept strength and sentence loading.
  *
  * Determinism: SVD singular-vector signs are implementation-defined, so
  * each concept row of Vᵀ is flipped to make its max-|loading| entry
  * positive (the same Q9/H2 convention as `graft.lsa.Lsa`) before the
  * sign-sensitive cross thresholding.
  *
  * `length` ∈ (0,1) is interpreted as a fraction of the sentence count,
  * matching pytldr's API; values ≥ 1 select an absolute count.
  */
object OzsoyLsaSummarizer {

  final case class Scored(index: Int, sentence: String, score: Double)

  /** Stopword-filtered `[a-zA-Z]+` runs of the lowercased sentence. The
    * lowercase is the root locale's, so a JVM whose default locale is
    * Turkish does not split "TITLE" into "t" and "tle".
    */
  def tokenize(sentence: String): Seq[String] =
    "[a-zA-Z]+".r.findAllIn(sentence.toLowerCase(java.util.Locale.ROOT)).toSeq
      .filterNot(StopWords.asSet.contains)

  /** Binary term×sentence matrix → (σ descending, sign-fixed Vᵀ rows for
    * the top-`topics` concepts). None when the corpus is degenerate.
    */
  private def decompose(sentences: Seq[String],
      topics: Int): Option[(Array[Double], Array[Array[Double]])] = {
    val toks = sentences.map(tokenize)
    val vocab = toks.flatten.distinct.sorted.zipWithIndex.toMap
    if (vocab.isEmpty || sentences.isEmpty) return None

    val m = DenseMatrix.zeros[Double](vocab.size, sentences.size)
    toks.zipWithIndex.foreach { case (ts, j) =>
      ts.foreach(t => m(vocab(t), j) = 1.0)
    }
    val r = bsvd.reduced(m)
    val sigma = r.S.toArray // descending
    val vt = r.Vt // min(t,s) x sentences
    val k = math.min(topics, sigma.length)
    val v = Array.tabulate(k) { j =>
      // sign convention: max-|loading| sentence entry positive
      val sign = Loadings.sign(sentences.size)(vt(j, _))
      Array.tabulate(sentences.size)(i => sign * vt(j, i))
    }
    Some((sigma.take(k), v))
  }

  /** Ozsoy cross-method sentence scores — the pytldr `LsaSummarizer`
    * parity path. No selection.
    */
  def scoreSentences(sentences: Seq[String], topics: Int = 15,
      topicSigmaThreshold: Double = 0.75): Seq[Scored] =
    decompose(sentences, topics) match {
      case None => sentences.zipWithIndex.map { case (s, i) => Scored(i, s, 0.0) }
      case Some((sigma, v)) =>
        val n = sentences.size
        val k = sigma.length
        // 4. per-topic average loading; zero cells <= the average
        //    (computed BEFORE the sigma cut, as in the published method)
        val vCut = v.map { row =>
          val avg = row.sum / n
          row.map(x => if (x <= avg) 0.0 else x)
        }
        // 3. zero out weak concepts
        val sMax = if (k > 0) sigma.max else 0.0
        val sig = sigma.map(s => if (s < topicSigmaThreshold * sMax) 0.0 else s)
        // 5. saliency = sigma² · v²
        sentences.indices.map { i =>
          val score = (0 until k).map { j =>
            val x = sig(j) * vCut(j)(i)
            x * x
          }.sum
          Scored(i, sentences(i), score)
        }
    }

  /** Select the summary: top sentences by cross-method score, returned in
    * original document order (pytldr behavior).
    */
  def summarize(sentences: Seq[String], topics: Int = 15,
      length: Double = 15, topicSigmaThreshold: Double = 0.75): Seq[String] = {
    val scored = scoreSentences(sentences, topics, topicSigmaThreshold)
    // strictly-below-1 means a fraction; >= 1 is an absolute count
    // (length = 1 must select ONE sentence, not the whole document)
    val n =
      if (length > 0 && length < 1) math.max(1, math.round(length * sentences.size).toInt)
      else math.min(length.toInt, sentences.size)
    scored.sortBy(s => (-s.score, s.index)).take(n)
      .sortBy(_.index).map(_.sentence)
  }
}
