package graft.textrank

import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.io.ReviewSource
import graft.pipeline.{Pipelines, SyntheticReviews}

/** `TextRank.rankDocuments` ranks a product-sized exact graph on the
  * driver; `rankDocumentsDistributed` is the route above the pair
  * budget. The two must agree on the review fixtures and on a generated
  * 600-review product: the same vertex set, ranks within 1e-12, the same
  * `summarize` top-k, and bit-equal edge weights.
  */
class TextRankLocalSpec extends SparkSpec {
  import spark.implicits._

  private def res(name: String): String =
    getClass.getResource(s"/reviews/$name").getPath

  private def sentences(path: String): DataFrame =
    ReviewSource.sentences(ReviewSource.reviews(spark, path))

  private lazy val generated =
    s"${SyntheticReviews.write(products = 1, reviews = 600)}/product00.txt"

  private lazy val products = Seq(
    "tiny_product" -> res("tiny_product.txt"),
    "small_product" -> res("small_product.txt"),
    "edge_cases" -> res("edge_cases.txt"),
    "generated 600-review product" -> generated)

  private def ranks(df: DataFrame): Map[Any, Double] =
    df.collect().map(r => r.get(0) -> r.getDouble(1)).toMap

  private def assertSameRanks(what: String, docs: DataFrame, idCol: String,
      textCol: String): Unit = {
    val local = ranks(TextRank.rankDocuments(docs, idCol, textCol))
    val dist = ranks(TextRank.rankDocumentsDistributed(docs, idCol, textCol))
    assert(local.keySet == dist.keySet, s"$what: vertex sets differ")
    local.foreach { case (id, r) =>
      assert(math.abs(r - dist(id)) <= 1e-12, s"$what: vertex $id rank $r vs ${dist(id)}")
    }
  }

  test("local ranks equal the distributed route's on the review fixtures") {
    products.foreach { case (name, path) =>
      assertSameRanks(name, sentences(path), "sentence_id", "sentence")
    }
  }

  test("the generated product is large enough to mean something") {
    val nv = TextRank.vertices(sentences(generated), $"sentence_id", "sentence",
      lemma = true).count()
    assert(nv > 2000, s"$nv vertices")
  }

  test("isolated vertices drop out on both routes") {
    val docs = Seq(
      (1L, "the battery lasted a long time and the charger worked well too"),
      (2L, "the battery died after a short time but the charger still worked"),
      (3L, "zebra giraffe elephant monkey tiger lion bear wolf fox owl")
    ).toDF("doc_id", "text")
    assertSameRanks("isolated", docs, "doc_id", "text")
    assert(ranks(TextRank.rankDocuments(docs, "doc_id", "text")).keySet == Set(1L, 2L))
  }

  test("summarize's top-k matches on both routes, string and long ids") {
    products.foreach { case (name, path) =>
      val byString = sentences(path)
      val byLong = Pipelines.sentencesWithSid(byString)
      for ((docs, idCol) <- Seq(byString -> "sentence_id", byLong -> "sid")) {
        val local = TextRank.summarize(docs, idCol, "sentence", 5).collect().toSeq
        val dist = TextRank.topRanked(
          TextRank.rankDocumentsDistributed(docs, idCol, "sentence"),
          docs, idCol, "sentence", 5).collect().toSeq
        assert(local == dist, s"$name by $idCol")
        if (name != "edge_cases") assert(local.nonEmpty, s"$name by $idCol")
      }
    }
  }

  test("local weights are bit-equal to weightedMirror's, na = 1 included") {
    val hand = Seq(
      (0L, Seq("solo")), // na = 1
      (1L, Seq("solo", "pair", "pair")), // duplicates count toward na
      (2L, Seq("pair", "other")),
      (3L, Seq("alone"))) // shares nothing: no edge
      .toDF("id", "tokens")
    val band = TextRank.vertices(sentences(res("small_product.txt")), $"sentence_id",
      "sentence", lemma = true)
    for (vertices <- Seq(hand, band)) {
      val rows = vertices.collect()
      val ids = rows.map(_.get(0))
      val (a, b, w) = TextRank.localEdges(rows.map(_.getSeq[String](1)))
      val local = a.indices.flatMap { e =>
        Seq((ids(a(e)), ids(b(e))) -> w(e), (ids(b(e)), ids(a(e))) -> w(e))
      }.toMap
      val mirrored = TextRank.similarityEdges(vertices, rows.length.toLong).collect()
        .map(r => (r.get(0), r.get(1)) -> r.getDouble(2)).toMap
      assert(local.size == a.length * 2, "each pair once")
      assert(local.keySet == mirrored.keySet)
      local.foreach { case (e, x) =>
        assert(java.lang.Double.doubleToRawLongBits(x) ==
          java.lang.Double.doubleToRawLongBits(mirrored(e)), s"edge $e: $x vs ${mirrored(e)}")
      }
    }
    val naOne = TextRank.localEdges(Array(Seq("solo"), Seq("solo", "pair", "pair")))
    // one shared token over log2(1) + log2(3) + 1
    assert(naOne._3.toSeq == Seq(1.0 / (0.0 + StrictMath.log(3.0) / StrictMath.log(2.0) + 1.0)))
  }
}
