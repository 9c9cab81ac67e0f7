package graft.textrank

import graft.SparkSpec

class TextRankGraphXSpec extends SparkSpec {
  import spark.implicits._

  private val vertices = Seq(
    (0L, Seq("x", "x", "y")),
    (1L, Seq("x", "z")),
    (2L, Seq("y", "z")),
    (3L, Seq("x", "y", "z", "w"))).toDF("id", "tokens")

  test("GraphX backend matches the DataFrame loop on the micro graph") {
    val edges = TextRank.similarityEdges(vertices, 4L)
    val df = TextRank.ranks(edges).as[(Long, Double)].collect().toMap
    val gx = TextRankGraphX.ranks(edges).as[(Long, Double)].collect().toMap
    assert(df.keySet == gx.keySet)
    df.foreach { case (id, r) => assert(math.abs(r - gx(id)) < 1e-12, s"id=$id") }
  }

  test("edge budget exceeded falls back to the DataFrame strategy, value-identical") {
    val edges = TextRank.similarityEdges(vertices, 4L)
    val df = TextRank.ranks(edges).as[(Long, Double)].collect().toMap
    // a budget below the micro graph's edge count: the GraphX entry
    // point must route to TextRank.ranks instead of building the graph
    // (the sf1 demonstrator envelope — its 1.1e8-edge set needs a
    // 48 GiB driver on GraphX while the default strategy fits 8 GiB)
    val fb = TextRankGraphX.ranksWithin(edges, Long.MaxValue, budget = 1L)
      .as[(Long, Double)].collect().toMap
    assert(fb == df)
  }

  test("GraphX backend matches on the sf0.001 documents table") {
    val docs = graft.tables.Tables.documents(spark, sf("sf0.001"))
    val vertices = TextRank.vertices(docs, $"doc_id", "text", lemma = false).persist()
    val edges = TextRank.similarityEdges(vertices, vertices.count())
    val df = TextRank.ranks(edges).as[(Long, Double)].collect().toMap
    val gx = TextRankGraphX.ranks(edges).as[(Long, Double)].collect().toMap
    assert(df.keySet == gx.keySet && df.nonEmpty)
    df.foreach { case (id, r) => assert(math.abs(r - gx(id)) < 1e-9, s"id=$id") }
  }
}
