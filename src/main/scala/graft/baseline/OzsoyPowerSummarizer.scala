package graft.baseline

import graft.lsa.{Loadings, PowerCore, SparkNumerics}

/** The DuckDB-replayable configuration of the Ozsoy cross-method
  * baseline (reference BigdataProjectCode.py:167-176 / pytldr): the
  * binary term×sentence matrix is factored by [[PowerCore]]'s
  * exact-decimal implicit-deflation recurrence instead of LAPACK, so
  * every score is a pure function of the corpus that an oracle can
  * unroll (the same solver swap that made ls06 verifiable).
  *
  * Algorithm per [[OzsoyLsaSummarizer]] (which stays the LAPACK-parity
  * anchor: OzsoySpec/AnchorSpec pin the published semantics; the
  * OzsoyPowerSpec ties this scorer to it on the gate corpus):
  *  - topics = the deflation depth J (the gate runs J=5: with the 0.75
  *    σ-threshold the surviving-concept set is well inside J, so the
  *    truncation is semantics-preserving — asserted in OzsoyPowerSpec);
  *  - sign per concept: max-|loading| sentence positive, ties to the
  *    lowest sentence index;
  *  - per-topic mean loading = exact-decimal sum / TOTAL sentence count
  *    (sentences with zero kept tokens have loading 0, exactly as the
  *    dense matrix's zero columns);
  *  - cells ≤ mean zeroed, weak concepts (σ < 0.75·σmax) zeroed,
  *    saliency = Σ_j dec((σ_j·v_ij)²) in the exact-decimal domain.
  */
object OzsoyPowerSummarizer {

  final case class Scored(index: Int, score: Double)

  def round6(x: Double): Double = SparkNumerics.round(x, 6)

  /** Cross-method scores for every sentence (0.0 for sentences with no
    * kept tokens), in sentence order.
    */
  def scoreSentences(sentences: Seq[String], topics: Int = 5,
      iters: Int = 8, topicSigmaThreshold: Double = 0.75): Seq[Scored] = {
    val toks = sentences.map(OzsoyLsaSummarizer.tokenize)
    // binary matrix: distinct (term, sentence) pairs, id=term col=sentence
    val pairs = toks.zipWithIndex.flatMap { case (ts, i) =>
      ts.distinct.map(t => (t, i))
    }
    if (pairs.isEmpty) return sentences.indices.map(Scored(_, 0.0))
    val terms = pairs.map(_._1).distinct.sorted.toArray
    val termIdx = terms.zipWithIndex.toMap
    val present = pairs.map(_._2).distinct.sorted.toArray
    val sentPos = present.zipWithIndex.toMap
    val factors = PowerCore.factorize(
      PowerCore.Matrix.indexed(terms.length, present.length,
        pairs.map(p => termIdx(p._1)).toArray,
        pairs.map(p => sentPos(p._2)).toArray,
        Array.fill(pairs.length)(1.0)), topics, iters)
    val n = sentences.size
    val sigmas = factors.map(_.sigma)
    val smax = sigmas.max
    // sign-fixed loadings + exact-decimal per-topic means
    val sv: Array[Array[Double]] = factors.map { f =>
      val fl = Loadings.sign(f.v.length)(f.v(_))
      f.v.map(fl * _)
    }
    val avgs = sv.map(row => PowerCore.sum(row) / n)
    sentences.indices.map { i =>
      sentPos.get(i) match {
        case None => Scored(i, 0.0)
        case Some(p) =>
          Scored(i, PowerCore.sum(factors.indices.map { j =>
            val sig =
              if (sigmas(j) >= topicSigmaThreshold * smax) sigmas(j) else 0.0
            val v = sv(j)(p)
            val vcut = if (v > avgs(j)) v else 0.0
            val x = sig * vcut
            x * x
          }))
      }
    }
  }

  /** Summary selection: top `length` by (score desc, index), returned
    * as (position-in-summary, sentence) in original document order.
    */
  def summarize(sentences: Seq[String], length: Int, topics: Int = 5,
      iters: Int = 8,
      topicSigmaThreshold: Double = 0.75): Seq[(Long, String)] =
    scoreSentences(sentences, topics, iters, topicSigmaThreshold)
      .sortBy(s => (-s.score, s.index)).take(length)
      .sortBy(_.index).zipWithIndex
      .map { case (s, pos) => (pos.toLong, sentences(s.index)) }
}
