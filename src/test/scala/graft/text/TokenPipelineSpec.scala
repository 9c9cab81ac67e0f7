package graft.text

import org.apache.spark.sql.functions._

import graft.SparkSpec

class TokenPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def firstTokens(text: String, col: org.apache.spark.sql.Column => org.apache.spark.sql.Column): Seq[String] =
    Seq(text).toDF("text").select(col($"text").as("t"))
      .collect().head.getSeq[String](0)

  test("tokenize: [a-zA-Z]+ on lowercased text, duplicates kept") {
    assert(firstTokens("Hello, World! 123 ab the THE", TextFunctions.tokenize) ==
      Seq("hello", "world", "ab", "the", "the"))
  }

  test("lsaTokens: stopwords out, len>=3, lemma applied, dups kept") {
    val got = firstTokens("The batteries batteries are good so ok no xy",
      c => TextFunctions.lsaTokens(c))
    assert(got == Seq("battery", "battery", "good"))
  }

  test("textrankTokens: len>3 applied after lemmatization") {
    // "boxes" lemmatizes to "box" (3 chars) -> dropped by the >3 filter,
    // matching the reference's post-lemma length check (F5).
    val got = firstTokens("boxes working words",
      c => TextFunctions.textrankTokens(c))
    assert(got == Seq("working", "word"))
  }

  test("the driver tokenizers do not follow a Turkish default locale") {
    val before = java.util.Locale.getDefault
    java.util.Locale.setDefault(new java.util.Locale("tr"))
    try {
      assert("TITLE".toLowerCase == "t\u0131tle", "the JVM lowercases by the default locale")
      assert(graft.lsa.LocalLsa.lsaTokens("TITLE Items", lemma = false) == Seq("title", "items"))
      assert(graft.lsa.LocalLsa.lsaTokens("TITLE Caf\u00e9 ITEMS", lemma = false) ==
        firstTokens("TITLE Caf\u00e9 ITEMS", c => TextFunctions.lsaTokens(c, lemma = false)))
      assert(graft.baseline.OzsoyLsaSummarizer.tokenize("TITLE ITEMS") == Seq("title", "items"))
    } finally java.util.Locale.setDefault(before)
    assert(graft.lsa.LocalLsa.lsaTokens("TITLE Caf\u00e9 ITEMS", lemma = false) ==
      Seq("title", "caf", "items"))
  }

  test("sentence explode keeps positional ids") {
    val df = Seq((1L, "first one. second two. ")).toDF("id", "text")
    val rows = TextFunctions.explodeSentences(df, "id", "text")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq
    assert(rows == Seq((1L, 0, "first one"), (1L, 1, " second two"), (1L, 2, " ")))
  }
}

class TfIdfSpec extends SparkSpec {
  import spark.implicits._
  import graft.tfidf.TfIdf

  // 3-doc micro corpus with hand-computed values (SURVEY §5.2).
  private val corpus = Seq(
    (0L, Seq("cat", "dog", "cat")),
    (1L, Seq("dog", "fish")),
    (2L, Seq("bird", "bird", "bird"))).toDF("doc_id", "tokens")

  test("tf pairs") {
    val tf = TfIdf.termFrequencies(corpus, "doc_id", "tokens")
      .as[(Long, String, Long)].collect().toSet
    assert(tf == Set((0L, "cat", 2L), (0L, "dog", 1L), (1L, "dog", 1L),
      (1L, "fish", 1L), (2L, "bird", 3L)))
  }

  test("df and log10 idf (quirk Q3, not Spark ML's smoothed ln)") {
    val tf = TfIdf.termFrequencies(corpus, "doc_id", "tokens")
    val idf = TfIdf.idfTable(tf, "doc_id", 3L)
      .as[(String, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(idf("dog")._1 == 2L)
    assert(math.abs(idf("dog")._2 - math.log10(3.0 / 2)) < 1e-12)
    assert(math.abs(idf("cat")._2 - math.log10(3.0)) < 1e-12)
  }

  test("tfidf = tf * idf") {
    val out = TfIdf.tfidf(corpus, "doc_id", "tokens", 3L)
      .filter($"token" === "cat").select($"tfidf").as[Double].collect()
    assert(out.length == 1)
    assert(math.abs(out.head - 2 * math.log10(3.0)) < 1e-12)
  }
}
