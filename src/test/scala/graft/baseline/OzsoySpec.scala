package graft.baseline

import org.scalatest.funsuite.AnyFunSuite

class OzsoySpec extends AnyFunSuite {

  private val sentences = Seq(
    "the spark cluster runs the executor",
    "the cat sat on the mat",
    "spark cluster executor scaling spark cluster",
    "bananas are tasty",
    "spark executor cluster deployment")

  test("scores are non-negative and sized to input") {
    val s = OzsoyLsaSummarizer.scoreSentences(sentences)
    assert(s.size == sentences.size)
    assert(s.forall(_.score >= 0))
  }

  test("summary keeps original sentence order") {
    val out = OzsoyLsaSummarizer.summarize(sentences, topics = 2, length = 3)
    assert(out.size == 3)
    val idx = out.map(sentences.indexOf)
    assert(idx == idx.sorted)
  }

  test("dominant topic sentences outscore the outlier") {
    val s = OzsoyLsaSummarizer.scoreSentences(sentences,
      topics = 1, topicSigmaThreshold = 0.0)
    val byIdx = s.map(x => x.index -> x.score).toMap
    // sentence 2 (densest spark-cluster sentence) beats the cat sentence
    assert(byIdx(2) > byIdx(1))
  }

  test("fractional length selects a fraction of sentences") {
    val out = OzsoyLsaSummarizer.summarize(sentences, length = 0.4)
    assert(out.size == 2)
  }

  test("length = 1 selects exactly one sentence (absolute count, not fraction)") {
    assert(OzsoyLsaSummarizer.summarize(sentences, length = 1).size == 1)
  }

  // Hand-computable block fixture: disjoint term groups make the SVD
  // exact. Terms {alpha,beta}x{s0,s1} (sigma=2), {delta,epsilon}x{s3}
  // (sigma=sqrt(2)), {gamma}x{s2} (sigma=1).
  //   v1 = (1/sqrt2, 1/sqrt2, 0, 0), v2 = (0,0,0,1), v3 = (0,0,1,0)
  private val block = Seq(
    "alpha beta", "alpha beta", "gamma", "delta epsilon")

  test("cross method matches hand-computed scores on the block fixture") {
    // threshold 0.5 -> sigma cut at 1.0, all three concepts survive.
    // Topic averages: (0.3536, 0.25, 0.25); every nonzero cell exceeds
    // its topic average, so nothing extra is zeroed.
    //   s0 = (2 * 0.7071)^2 = 2, s1 = 2, s2 = (1*1)^2 = 1, s3 = (sqrt2*1)^2 = 2
    val s = OzsoyLsaSummarizer.scoreSentences(block,
      topics = 3, topicSigmaThreshold = 0.5)
    val byIdx = s.map(x => x.index -> x.score).toMap
    assert(math.abs(byIdx(0) - 2.0) < 1e-9)
    assert(math.abs(byIdx(1) - 2.0) < 1e-9)
    assert(math.abs(byIdx(2) - 1.0) < 1e-9)
    assert(math.abs(byIdx(3) - 2.0) < 1e-9)
  }

  test("cross method zeroes concepts below the sigma threshold") {
    // threshold 0.75 -> cut at 1.5: only sigma=2 survives, so the
    // gamma/delta sentences score exactly 0.
    val s = OzsoyLsaSummarizer.scoreSentences(block,
      topics = 3, topicSigmaThreshold = 0.75)
    val byIdx = s.map(x => x.index -> x.score).toMap
    assert(math.abs(byIdx(0) - 2.0) < 1e-9)
    assert(byIdx(2) == 0.0 && byIdx(3) == 0.0)
  }

  test("cross method zeroes below-average cells within a topic") {
    // M = [[1,1],[1,0]] over terms {alpha,beta}: sigma^2 = (3±sqrt5)/2.
    // Topic 1 loadings (0.8507, 0.5257), avg 0.6882 -> s1's cell zeroed;
    // topic 2 sign-fixed loadings (-0.5257, 0.8507), avg 0.1625 -> s0's
    // cell zeroed. So each sentence scores from exactly ONE topic:
    //   s0 = sigma1^2 * 0.7236 = 1.894427, s1 = sigma2^2 * 0.7236 = 0.276393
    val s = OzsoyLsaSummarizer.scoreSentences(Seq("alpha beta", "alpha"),
      topics = 2, topicSigmaThreshold = 0.0)
    val byIdx = s.map(x => x.index -> x.score).toMap
    assert(math.abs(byIdx(0) - 1.8944271910) < 1e-6)
    assert(math.abs(byIdx(1) - 0.2763932023) < 1e-6)
  }

  test("BASELINE.md configuration (topics=15, length=15, sigma>=0.75) runs end-to-end") {
    // the reference's exact pytldr invocation shape on a 20-sentence doc
    val doc = (0 until 20).map(i => s"review sentence number word$i about spark topic${i % 4}")
    val out = OzsoyLsaSummarizer.summarize(doc, topics = 15, length = 15,
      topicSigmaThreshold = 0.75)
    assert(out.size == 15)
    val idx = out.map(doc.indexOf)
    assert(idx == idx.sorted) // original order preserved
  }

  test("empty and stopword-only input degrade gracefully") {
    assert(OzsoyLsaSummarizer.summarize(Nil) == Nil)
    val s = OzsoyLsaSummarizer.scoreSentences(Seq("the of and", "a an"))
    assert(s.forall(_.score == 0.0))
  }
}
