package graft.lsa

import org.apache.spark.sql.CacheAccess

import graft.SparkSpec

class LsaSpec extends SparkSpec {
  import spark.implicits._

  // Two clear topics: {spark, cluster, executor} and {banana, mango, fruit}.
  private val docs = Seq(
    (0L, "spark cluster executor spark cluster scaling executor spark"),
    (1L, "cluster executor spark shuffle cluster executor partition"),
    (2L, "banana mango fruit banana smoothie mango fruit banana"),
    (3L, "mango fruit banana juice mango fruit tasty tropical"),
    (4L, "spark cluster executor deployment spark cluster executor")
  ).toDF("doc_id", "text")

  test("concepts separate the two topics with deterministic signs") {
    val c = Lsa.concepts(docs, "doc_id", "text", Lsa.Config(k = 2, lemma = false))
      .as[Lsa.Concept].collect().sortBy(_.concept)
    assert(c.length == 2)
    val sparkTopic = Set("spark", "cluster", "executor")
    val fruitTopic = Set("banana", "mango", "fruit")
    val Some(cs) = c.find(_.keywords.toSet == sparkTopic)
    val Some(cf) = c.find(_.keywords.toSet == fruitTopic)
    // concepts cleanly separate the topics; top docs come from the topic
    assert(cs.doc_ids.toSet.subsetOf(Set(0L, 1L, 4L)), s"spark docs=${cs.doc_ids}")
    assert(cf.doc_ids.take(2).toSet == Set(2L, 3L), s"fruit docs=${cf.doc_ids}")
    // singular values descending by concept index
    assert(c(0).singular_value >= c(1).singular_value)
  }

  test("concepts are deterministic across runs (Q9 sign convention)") {
    def run() = Lsa.concepts(docs, "doc_id", "text", Lsa.Config(k = 2, lemma = false))
      .as[Lsa.Concept].collect().sortBy(_.concept)
      .map(c => (c.concept, c.keywords, c.doc_ids)).toSeq
    assert(run() == run())
  }

  test("a failing call leaves the session's caches as it found them") {
    // ids that fail the long cast throw CAST_INVALID_INPUT (ANSI) inside
    // the first job, after the tf table was registered for caching
    val bad = Seq(("a", "spark cluster executor"), ("b", "banana mango fruit"))
      .toDF("doc_id", "text")
    val sc = spark.sparkContext
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      val entries0 = CacheAccess.entries(spark)
      val rdds0 = sc.getPersistentRDDs.keySet
      val e = intercept[Exception](
        Lsa.concepts(bad, "doc_id", "text", Lsa.Config(k = 2, lemma = false)))
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      assert(chain.exists(t => String.valueOf(t.getMessage).contains("CAST_INVALID_INPUT")), e)
      assert(CacheAccess.entries(spark) == entries0)
      assert(sc.getPersistentRDDs.keySet == rdds0)
    } finally spark.conf.set("spark.sql.ansi.enabled", ansi)
  }
}
