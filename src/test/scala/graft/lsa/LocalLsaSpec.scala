package graft.lsa

import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.io.ReviewSource
import graft.pipeline.{Pipelines, SyntheticReviews}

/** LocalLsa's CSR route and the distributed route
  * (`Lsa.conceptsDistributed`) run the same solver (`Svd`) and must
  * select identical keywords and documents, with singular values agreeing
  * to numerical precision; both are pinned against dense LAPACK
  * (`LocalLsa.lapackConcepts`). `Lsa.concepts` solves product-sized input
  * on the driver, so its local route is pinned against the distributed
  * route here too.
  */
class LocalLsaSpec extends SparkSpec {
  import spark.implicits._

  // per-token count patterns kept distinct across docs so loadings are
  // well-separated (exact ties are exercised separately — they fall to
  // the 1e-6 quantized grid + token/index tie-break in both impls)
  private val docs = Seq(
    (0L, "spark cluster executor spark cluster scaling executor spark"),
    (1L, "cluster executor spark shuffle cluster partition"),
    (2L, "banana mango fruit banana smoothie mango banana"),
    (3L, "mango fruit banana juice mango fruit fruit tropical"),
    (4L, "spark cluster executor deployment spark executor executor"))

  // The id is the distributed path's row index as is, so non-dense ids
  // need no renumbering: the smallest id is not 0, ids skip, one exceeds
  // Int.MaxValue, the all-stopword doc 4 drops out of the matrix, and the
  // identical docs 40 and 41 tie on every loading, so the lower id must
  // come first in both implementations.
  private val bigId = Int.MaxValue.toLong + 7L
  private val sparseIds = Seq(
    (3L, "spark cluster executor spark cluster scaling executor spark"),
    (4L, "the and was were them this that"),
    (9L, "banana mango fruit banana smoothie mango banana"),
    (17L, "mango fruit banana juice mango fruit fruit tropical"),
    (40L, "cluster executor spark shuffle cluster partition"),
    (41L, "cluster executor spark shuffle cluster partition"),
    (bigId, "spark cluster executor deployment spark executor executor"))

  test("LocalLsa matches distributed Lsa.concepts (keywords, docs, sigma)") {
    for ((input, cfg) <- Seq(
        docs -> Lsa.Config(k = 2, lemma = false),
        sparseIds -> Lsa.Config(k = 2, nDocs = 4, lemma = false))) {
      val dist = Lsa.conceptsDistributed(input.toDF("doc_id", "text"), "doc_id", "text", cfg)
        .as[Lsa.Concept].collect().sortBy(_.concept)
      val local = LocalLsa.concepts(input, cfg).sortBy(_.concept)
      assert(dist.length == local.length)
      dist.zip(local).foreach { case (d, l) =>
        assert(d.concept == l.concept)
        assert(math.abs(d.singular_value - l.singular_value) < 1e-6,
          s"sigma ${d.singular_value} vs ${l.singular_value}")
        assert(d.keywords == l.keywords, s"concept ${d.concept} keywords")
        assert(d.doc_ids == l.doc_ids, s"concept ${d.concept} docs")
      }
    }
  }

  test("the non-dense fixture reaches the cases it names") {
    val ids = LocalLsa.concepts(sparseIds, Lsa.Config(k = 2, nDocs = 4, lemma = false))
      .map(_.doc_ids)
    assert(!ids.flatten.contains(4L), "the all-stopword doc has no row")
    assert(ids.flatten.contains(bigId), "the id above Int.MaxValue is selected")
    val twins = ids.map(_.filter(Set(40L, 41L)))
    assert(twins.contains(Seq(40L, 41L)), s"the tied docs rank together, lower id first: $twins")
  }
  test("LocalLsa matches with the lemmatizer enabled") {
    // multiplicities differ per (doc, term) so loadings are well-separated
    // (near-tied loadings may legitimately order differently between
    // ARPACK and LAPACK — that is float noise, not a mirror bug)
    val texts = Seq(
      (0L, "the dogs dogs dogs and cats cats were running"),
      (1L, "dogs dogs cats running running running in fields"),
      (2L, "the markets markets markets traders traders stocks"),
      (3L, "markets traders traders stocks stocks stocks indexes"),
      (4L, "dogs cats cats cats fields fields running daily"))
    val cfg = Lsa.Config(k = 2)
    val dist = Lsa.conceptsDistributed(texts.toDF("doc_id", "text"), "doc_id", "text", cfg)
      .as[Lsa.Concept].collect().sortBy(_.concept)
    val local = LocalLsa.concepts(texts, cfg).sortBy(_.concept)
    assert(dist.map(c => (c.concept, c.keywords, c.doc_ids)).toSeq ==
      local.map(c => (c.concept, c.keywords, c.doc_ids)).toSeq)
  }

  private def res(name: String): String =
    getClass.getResource(s"/reviews/$name").getPath

  /** A product's sid-numbered sentences, as `Pipelines` hands them to LSA. */
  private def sentences(path: String): DataFrame =
    Pipelines.sentencesWithSid(ReviewSource.sentences(ReviewSource.reviews(spark, path)))

  private def concepts(df: DataFrame): Seq[Lsa.Concept] =
    df.as[Lsa.Concept].collect().sortBy(_.concept).toSeq

  /** The same concept count, keywords and doc ids, σ within 1e-12
    * relative.
    */
  private def assertSame(what: String, a: Seq[Lsa.Concept], b: Seq[Lsa.Concept]): Unit = {
    assert(a.nonEmpty, what)
    assert(a.map(c => (c.concept, c.keywords, c.doc_ids)) ==
      b.map(c => (c.concept, c.keywords, c.doc_ids)), what)
    a.zip(b).foreach { case (x, y) =>
      assert(math.abs(x.singular_value - y.singular_value) <= 1e-12 * y.singular_value,
        s"$what concept ${x.concept}: sigma ${x.singular_value} vs ${y.singular_value}")
    }
  }

  private lazy val fixtures = Seq(res("tiny_product.txt"), res("small_product.txt"),
    res("edge_cases.txt"), s"${SyntheticReviews.write(products = 1, reviews = 600)}/product00.txt")

  /** Products of about 40, 600 and 4,600 sentences whose vocabularies
    * exceed the solver's Gramian cut, so the Lanczos solve runs (the
    * review fixtures' vocabularies are smaller).
    */
  private lazy val zipfProducts = Seq((10, 300), (150, 1500), (1150, 200)).map { case (r, v) =>
    SyntheticReviews.zipf(1, r, v).resolve("product00.txt").toString
  }

  /** A product's (sid, sentence) rows, as `Pipelines` numbers them. */
  private def texts(path: String): Seq[(Long, String)] =
    sentences(path).select($"sid", $"sentence").as[(Long, String)].collect().toSeq.sortBy(_._1)

  test("Lsa.concepts' local route equals the ARPACK route on the review fixtures") {
    for (path <- fixtures ++ zipfProducts) {
      val docs = sentences(path).persist()
      val local = concepts(Lsa.concepts(docs, "sid", "sentence"))
      val dist = concepts(Lsa.conceptsDistributed(docs, "sid", "sentence"))
      docs.unpersist()
      assertSame(path, local, dist)
    }
  }

  test("the local route equals dense LAPACK on the fixtures and generated products") {
    for (path <- fixtures ++ zipfProducts) {
      val docs = texts(path)
      if (zipfProducts.contains(path))
        assert(LocalLsa.fromTokens(docs.map { case (id, t) => id -> LocalLsa.lsaTokens(t) })
          .vocab.length >= 100, s"$path: the Lanczos solve needs 100 tokens or more")
      assertSame(path, LocalLsa.concepts(docs), LocalLsa.lapackConcepts(docs))
    }
  }

  test("a vocabulary no larger than k is solved on both routes") {
    // 3 tokens over 4 documents: k = min(5, 4, 3) = |vocab|, which leaves
    // ARPACK no room (nev < ncv <= n), so both routes decompose A'A
    val input = Seq((1L, "alpha alpha beta"), (2L, "beta gamma gamma"),
      (3L, "gamma alpha"), (4L, "alpha beta gamma gamma"))
    val cfg = Lsa.Config(lemma = false)
    val dist = concepts(Lsa.conceptsDistributed(input.toDF("doc_id", "text"), "doc_id", "text", cfg))
    val local = LocalLsa.concepts(input, cfg)
    assert(local.length == 3)
    assertSame("local vs distributed", local, dist)
    assertSame("local vs LAPACK", local, LocalLsa.lapackConcepts(input, cfg))
  }

  test("a duplicated sentence's null concept is dropped on both routes") {
    // edge_cases.txt: E3 repeats one sentence, so 4 documents span rank 3
    // and k = min(5, 4, |vocab|) = 4 asks for one concept too many
    val docs = sentences(res("edge_cases.txt"))
    assert(docs.count() == 4)
    val local = concepts(Lsa.concepts(docs, "sid", "sentence"))
    val dist = concepts(Lsa.conceptsDistributed(docs, "sid", "sentence"))
    assert(local.length == 3 && dist.length == 3)
  }

  test("fromTokens' cells are bit-equal to Spark's tf-idf cells") {
    // the cells are read from the CSR matrix's arrays
    val generated = s"${SyntheticReviews.write(products = 1, reviews = 600)}/product00.txt"
    for (path <- Seq(res("small_product.txt"), generated)) {
      val docs = sentences(path).persist()
      var spark0: (Seq[(Long, Int, Double)], Seq[String]) = null
      Lsa.withCells(docs, "sid", "sentence", Lsa.Config()) { (cells, _, vocab, _) =>
        spark0 = (cells.as[(Long, Int, Double)].collect().toSeq, vocab.toSeq)
        cells
      }
      val tokens = docs.select($"sid",
        graft.text.TextFunctions.lsaTokens($"sentence").as("tokens"))
        .as[(Long, Seq[String])].collect().toSeq
      docs.unpersist()
      val local = LocalLsa.fromTokens(tokens)
      val a = local.matrix
      val entries = (0 until a.rows).flatMap(r =>
        (a.ptr(r) until a.ptr(r + 1)).map(p => (a.ids(r), a.idx(p), a.vs(p))))
      val (cells, vocab) = spark0
      assert(local.vocab.toSeq == vocab, path)
      val keys = entries.map(e => (e._1, e._2))
      assert(keys == keys.sorted && keys.distinct == keys, s"$path: rows and columns ascend")
      assert(entries.size == cells.size, path)
      entries.zip(cells.sortBy(c => (c._1, c._2))).foreach { case (l, d) =>
        assert(l._1 == d._1 && l._2 == d._2 &&
          java.lang.Double.doubleToRawLongBits(l._3) == java.lang.Double.doubleToRawLongBits(d._3),
          s"$path entry $l vs Spark's $d")
      }
      assert(entries.exists(_._3 != 0.0), path)
    }
  }

  test("rank below k: both routes cut the null concepts at the shared sigma floor") {
    // 7 documents of 3 distinct sentences, repeated 4, 2 and 1 times so
    // the 3 sigmas are distinct: rank 3, and k = min(5, 7, 15) asks for
    // 5. The solve squares the matrix, so its null directions come back
    // near sqrt(eps) * sigma0
    val a = "spark cluster executor shuffle partition"
    val b = "banana mango fruit smoothie juice"
    val c = "market trader stock index bond"
    val input = Seq(a, b, c, a, b, a, a).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val cfg = Lsa.Config(lemma = false)
    val dist = Lsa.conceptsDistributed(input.toDF("doc_id", "text"), "doc_id", "text", cfg)
      .as[Lsa.Concept].collect().sortBy(_.concept).toSeq
    val local = LocalLsa.concepts(input, cfg)
    assert(dist.length == 3 && local.length == 3)
    assert(dist.map(c => (c.keywords, c.doc_ids)) == local.map(c => (c.keywords, c.doc_ids)))
  }
}
