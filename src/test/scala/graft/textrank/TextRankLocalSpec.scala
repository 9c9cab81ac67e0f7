package graft.textrank

import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.io.ReviewSource
import graft.pipeline.{Pipelines, SyntheticReviews}

/** `TextRank.rankDocuments` ranks a product-sized exact graph on the
  * driver; `rankDocumentsDistributed` is the route above the vertex
  * budget. `TextRank.summarize` also picks its top-k and looks its text
  * up on the driver. The routes must agree on the review fixtures, a
  * repeated `review_id` and a generated 600-review product: the same
  * vertex set, ranks within 1e-12, the same `summarize` rows and schema,
  * and bit-equal edge weights. The local ranks are also bit-equal to the
  * kernel's first composition (edges over rows, then a remap to ids).
  */
class TextRankLocalSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions.{col, xxhash64}

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
    "repeated review_id" -> res("repeated_ids.txt"),
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

  /** `summarize` against the distributed ranks' `topRanked`: the same
    * schema, and the same rows in the same order.
    */
  private def assertSameSummary(what: String, docs: DataFrame, idCol: String,
      textCol: String): Seq[org.apache.spark.sql.Row] = {
    val local = TextRank.summarize(docs, idCol, textCol, 5)
    val dist = TextRank.topRanked(
      TextRank.rankDocumentsDistributed(docs, idCol, textCol), docs, idCol, textCol, 5)
    assert(local.schema == dist.schema, what)
    val rows = local.collect().toSeq
    assert(rows == dist.collect().toSeq, what)
    rows
  }

  test("summarize's top-k matches on both routes, string and long ids") {
    products.foreach { case (name, path) =>
      val byString = sentences(path)
      val byLong = Pipelines.sentencesWithSid(byString)
      for ((docs, idCol) <- Seq(byString -> "sentence_id", byLong -> "sid")) {
        val local = assertSameSummary(s"$name by $idCol", docs, idCol, "sentence")
        if (name != "edge_cases") assert(local.nonEmpty, s"$name by $idCol")
      }
    }
  }

  test("a repeated id takes its text from its band rows only, string and long ids") {
    // R1_0 is an in-band sentence of one R1 review and "Battery died" of
    // the other; R1_1 is the other way round
    val byString = sentences(res("repeated_ids.txt"))
    val byLong = byString.withColumn("hid", xxhash64(col("sentence_id")))
    for ((docs, idCol) <- Seq(byString -> "sentence_id", byLong -> "hid")) {
      val rows = assertSameSummary(s"repeated by $idCol", docs, idCol, "sentence")
      val texts = rows.map(_.getString(2))
      assert(texts.exists(_.startsWith("The battery lasts")), s"by $idCol: $texts")
      assert(!texts.contains("Battery died") && !texts.contains(" It is fine"),
        s"by $idCol: $texts")
    }
  }

  /** Two band rows with id 1 and one with a null id. */
  private lazy val sharedIds = Seq[(java.lang.Long, String)](
    (1L, "the battery lasted a long time and the charger worked well too"),
    (1L, "the charger died after a short time but the battery still worked"),
    (2L, "the battery died after a short time but the charger still worked"),
    (3L, "a long battery life and a charger that works well every single day"),
    (null, "the battery and the charger worked well for a long time every day")
  ).toDF("doc_id", "text")

  test("band rows sharing an id are one vertex on both routes; a null id has no edge") {
    val docs = sharedIds
    assertSameRanks("shared id", docs, "doc_id", "text")
    assert(ranks(TextRank.rankDocuments(docs, "doc_id", "text")).keySet == Set(1L, 2L, 3L))
    // two winners share id 1, whose order Spark's sort leaves open
    def sorted(df: DataFrame) = df.collect().toSeq.sortBy(_.toString)
    assert(sorted(TextRank.summarize(docs, "doc_id", "text", 5)) == sorted(TextRank.topRanked(
      TextRank.rankDocumentsDistributed(docs, "doc_id", "text"), docs, "doc_id", "text", 5)))
  }

  /** The driver kernel as first composed: edges over rows, then a boxed
    * remap to id-vertices that drops shared-id and null-id pairs, then
    * the same out-weights and rank rounds.
    */
  private def referenceRanks(ids: Array[Any], tokens: Array[Seq[String]]): Map[Any, Double] = {
    import TextRank.{Damping, InitRank, Iterations}
    val ofId = ids.filter(_ != null).distinct
    val index = ofId.zipWithIndex.toMap
    val v = ids.map(id => if (id == null) -1 else index(id))
    val nv = ofId.length
    val (a, b, w0) = TextRank.localEdges(tokens)
    val kept = a.indices.filter(e => v(a(e)) >= 0 && v(b(e)) >= 0 && v(a(e)) != v(b(e)))
    val src = kept.map(e => v(a(e))).toArray
    val dst = kept.map(e => v(b(e))).toArray
    val w = kept.map(w0).toArray
    val ow = new Array[Double](nv)
    src.indices.foreach { e => ow(src(e)) += w(e); ow(dst(e)) += w(e) }
    var r = Array.fill(nv)(InitRank)
    for (_ <- 1 to Iterations) {
      val c = new Array[Double](nv)
      src.indices.foreach { e =>
        val x = src(e); val y = dst(e)
        c(y) += r(x) * (w(e) / ow(x))
        c(x) += r(y) * (w(e) / ow(y))
      }
      r = c.map(InitRank + Damping * _)
    }
    (0 until nv).filter(ow(_) > 0.0).map(i => ofId(i) -> r(i)).toMap
  }

  private def assertBitEqualRanks(what: String, docs: DataFrame, idCol: String,
      textCol: String): Unit = {
    val rows = TextRank.vertices(docs, col(idCol), textCol, lemma = true).collect()
    val want = referenceRanks(rows.map(_.get(0)), rows.map(_.getSeq[String](1)))
    val got = ranks(TextRank.rankDocuments(docs, idCol, textCol))
    assert(got.keySet == want.keySet, s"$what: vertex sets differ")
    got.foreach { case (id, r) =>
      assert(java.lang.Double.doubleToRawLongBits(r) ==
        java.lang.Double.doubleToRawLongBits(want(id)), s"$what: vertex $id rank $r vs ${want(id)}")
    }
  }

  test("local ranks are bit-equal to the first kernel composition") {
    products.foreach { case (name, path) =>
      assertBitEqualRanks(name, sentences(path), "sentence_id", "sentence")
    }
    assertBitEqualRanks("shared and null ids", sharedIds, "doc_id", "text")
    // every document shares "battery": a complete graph of 300 vertices
    val complete = (0 until 300).map(d => (d.toLong,
      ("battery" +: (0 until 11).map(i => SyntheticReviews.word(11 * d + i))).mkString(" ")))
      .toDF("doc_id", "text")
    assert(ranks(TextRank.rankDocuments(complete, "doc_id", "text")).size == 300)
    assertBitEqualRanks("complete graph", complete, "doc_id", "text")
  }

  test("localEdges maps rows to vertices; shared-vertex and vertex-less pairs emit no edge") {
    val tokens = Array(Seq("battery", "life"), Seq("battery"), Seq("battery", "life"),
      Seq("life", "charger"), Seq("charger", "battery"))
    val v = Array(0, 0, 1, -1, 2) // rows 0 and 1 share a vertex; row 3 has none
    val (a, b, w) = TextRank.localEdges(tokens)
    val kept = a.indices.filter(e => v(a(e)) >= 0 && v(b(e)) >= 0 && v(a(e)) != v(b(e)))
    val (src, dst, ws) = TextRank.localEdges(tokens, v)
    assert(src.toSeq == kept.map(e => v(a(e))))
    assert(dst.toSeq == kept.map(e => v(b(e))))
    assert(ws.toSeq == kept.map(w))
    assert(src.indices.map(e => (src(e), dst(e))) == Seq((0, 1), (0, 2), (0, 1), (0, 2), (1, 2)))
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
