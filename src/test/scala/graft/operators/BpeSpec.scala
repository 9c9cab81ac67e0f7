package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class BpeSpec extends SparkSpec {
  import spark.implicits._

  // the Sennrich et al. running example: low×5, lower×2, newest×6, widest×3
  private def wf = Seq(
    ("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L)
  ).toDF("word", "freq")

  test("merge trajectory matches the hand-computed reference example") {
    val m = Bpe.merges(spark, wf, 6)
      .as[(Long, String, String, String, Long)].collect().toSeq
    // step 1: (e,s) 6+3=9 wins the 9-tie against (s,t),(t,$) lexically
    // step 2: (es,t) 9; step 3: (est,$) 9
    // step 4: (l,o) 7 beats (o,w) 7 lexically; step 5: (lo,w) 7
    // step 6: 6-tie (e,w),(n,e),(w,est$) -> (e,w) ("lower" is now
    // [low,e,r,$] so it no longer contributes an (e,w) pair)
    assert(m == Seq(
      (1L, "e", "s", "es", 9L),
      (2L, "es", "t", "est", 9L),
      (3L, "est", "$", "est$", 9L),
      (4L, "l", "o", "lo", 7L),
      (5L, "lo", "w", "low", 7L),
      (6L, "e", "w", "ew", 6L)))
  }

  test("back-to-back runs merge left-to-right without re-matching") {
    val aaaa = Seq(("aaaa", 1L)).toDF("word", "freq")
    // [a,a,a,a,$]: (a,a) appears 3× overlapping but merges twice -> [aa,aa,$]
    val m = Bpe.merges(spark, aaaa, 2)
      .as[(Long, String, String, String, Long)].collect().toSeq
    assert(m.head == ((1L, "a", "a", "aa", 3L)))
    // step 2: pairs of the MERGED repr [aa,aa,$] tie at 1; ("aa","$")
    // beats ("aa","aa") because '$' sorts before 'a'
    assert(m(1) == ((2L, "aa", "$", "aa$", 1L)))
  }

  test("stops early when every word is one symbol") {
    val tiny = Seq(("a", 3L)).toDF("word", "freq")
    // [a,$] -> merge 1 gives [a$]; no pairs remain
    val m = Bpe.merges(spark, tiny, 10)
      .as[(Long, String, String, String, Long)].collect().toSeq
    assert(m == Seq((1L, "a", "$", "a$", 3L)))
  }

  test("subword counts re-weight the encoded types by frequency") {
    // after the 6 merges above: low->[low,$], lower->[low,e,r,$],
    // newest->[n,ew,est$], widest->[w,i,d,est$]
    val c = Bpe.subwordCounts(spark, wf, 6)
      .as[(String, Long)].collect().toMap
    assert(c == Map(
      "low" -> 7L, "$" -> 7L, "e" -> 2L, "r" -> 2L,
      "n" -> 6L, "ew" -> 6L, "est$" -> 9L,
      "w" -> 3L, "i" -> 3L, "d" -> 3L))
  }

  test("local and distributed merge routes are row-equal") {
    // the routing contract t15/t16 rely on: bounded type tables collect
    // and loop locally, unbounded ones walk the same recurrence in
    // 2·numMerges Spark jobs — the outputs must be IDENTICAL
    val docs = spark.read.parquet(s"${sf("sf0.001")}/documents.parquet")
    val toks = docs.select(
      expr("regexp_extract_all(lower(text), '[a-z]+', 0)").as("tokens"))
    val freq = Bpe.wordFrequencies(toks, "tokens")
    def rows(p: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame)) = (
      p._1.as[(Long, String, String, String, Long)].collect().sortBy(_._1).toSeq,
      p._2.as[(String, Long, String)].collect().sortBy(_._1).toSeq)
    val local = rows(Bpe.mergesAndVocab(spark, freq, 8))
    val dist = rows(Bpe.mergesAndVocabDF(spark, freq, 8))
    assert(local._1 == dist._1)
    assert(local._2 == dist._2)
    assert(local._1.length == 8)
  }

  test("word frequencies reduce the corpus to types") {
    val toks = Seq(Seq("to", "be", "or"), Seq("not", "to", "be"))
      .toDF("tokens")
    val f = Bpe.wordFrequencies(toks, "tokens")
      .as[(String, Long)].collect().toMap
    assert(f == Map("to" -> 2L, "be" -> 2L, "or" -> 1L, "not" -> 1L))
  }

  test("optimality gap: merge-order encoding can lose to the DP optimum") {
    // Hand-traced 6-merge trajectory: (a,b), (ab,$), (b,c), (bc,$),
    // (d,$), (bc,d$). Final reprs: ab$ | bc$ | bcd$ | ab·c·d$ | z·a·$.
    // "abcd" encodes to 3 merge-order tokens, but the effective vocab
    // still contains the single 'a' (it survives in za's repr) and
    // bcd$ — so the optimal segmentation a+bcd$ is 2 tokens: gap 1.
    val words = Seq(("ab", 100L), ("bc", 25L), ("bcd", 20L),
      ("abcd", 1L), ("za", 5L)).toDF("word", "freq")
    val g = Bpe.optimalityGap(spark, words, numMerges = 6)
      .as[(String, Long, Int, Int, Int)].collect()
      .map(r => r._1 -> ((r._3, r._4, r._5))).toMap
    assert(g("abcd") == ((3, 2, 1)))
    assert(g("ab") == ((1, 1, 0)))
    assert(g("bc") == ((1, 1, 0)))
    assert(g("bcd") == ((1, 1, 0)))
    assert(g("za") == ((3, 3, 0)))
  }

  test("optimality gap is never negative and bpe count matches the dict") {
    val docs = spark.read.parquet(s"${sf("sf0.001")}/documents.parquet")
    val toks = docs.select(
      expr("regexp_extract_all(lower(text), '[a-z]+', 0)").as("tokens"))
    val freq = Bpe.wordFrequencies(toks, "tokens")
    val g = Bpe.optimalityGap(spark, freq, numMerges = 8)
    assert(g.filter($"gap" < 0 || $"opt_ntok" < 1).count() == 0L)
    val dict = Bpe.subwordDict(spark, freq, numMerges = 8)
    assert(g.join(dict, "word").filter($"bpe_ntok" =!= $"n_sub").count() == 0L)
  }
}
