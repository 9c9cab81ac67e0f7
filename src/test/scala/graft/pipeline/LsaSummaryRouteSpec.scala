package graft.pipeline

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Row}

import graft.SparkSpec
import graft.io.ReviewSource
import graft.lsa.Lsa

/** EP1's product-sized route (`Pipelines.lsaSummaryLocal`: one collect,
  * then numbering, cells, solve and the sentence join on the driver)
  * must return exactly the rows of the Spark composition it replaces
  * (`Pipelines.lsaSummaryDistributed`), return the same rows on every
  * call, and hand over above its row budget.
  */
class LsaSummaryRouteSpec extends SparkSpec {

  private def res(name: String): String =
    getClass.getResource(s"/reviews/$name").getPath

  private def sentences(path: String): DataFrame =
    ReviewSource.sentences(ReviewSource.reviews(spark, path))

  /** A one-product review file whose bodies are `bodies`. */
  private def product(bodies: Seq[String]): Path = {
    val f = Files.createTempFile("lsa_route", ".txt")
    f.toFile.deleteOnExit()
    val header = "review_id\tproduct_title\tstar_rating\tvine\tverified_purchase\treview_body"
    val lines = bodies.zipWithIndex.map { case (b, i) => s"R$i\tP\t5\tN\tY\t$b" }
    Files.write(f, (header +: lines).mkString("", "\n", "\n").getBytes("UTF-8"))
    f
  }

  /** The local route's rows and schema, checked equal to the
    * distributed route's; returns the rows.
    */
  private def twin(path: String): Seq[Row] = {
    val sents = sentences(path)
    val local = Pipelines.lsaSummaryLocal(sents, Lsa.Config())
    assert(local.isDefined, s"$path should take the local route")
    val dist = Pipelines.lsaSummaryDistributed(sents)
    assert(local.get.schema == dist.schema, path)
    val rows = local.get.collect().toSeq
    assert(rows == dist.collect().toSeq, path)
    rows
  }

  test("the local route's rows equal the distributed route's on the review fixtures") {
    val generated = s"${SyntheticReviews.write(products = 1, reviews = 600)}/product00.txt"
    for (path <- Seq(res("tiny_product.txt"), res("small_product.txt"),
        res("edge_cases.txt"), generated))
      assert(twin(path).nonEmpty, path)
  }

  test("a product without a surviving token gives no rows on both routes") {
    // every sentence passes F1 (>= 5 words), but only stopwords and
    // words shorter than 3 letters reach the tokenizer's filters
    val path = product(Seq("it is a be to. it is on me an", "we do so if at it"))
    assert(sentences(path.toString).count() == 3)
    assert(twin(path.toString).isEmpty)
  }

  test("a 900-sentence, 900-token product solves on the driver, the same twice") {
    // 810,000 dense cells, more than the dense solver this route used to
    // take, and far inside the row budget
    val rnd = new scala.util.Random(7)
    val vocab = (0 until 900).map(i => SyntheticReviews.word(i + 26 * 26))
    val bodies = (0 until 900).map { i =>
      (vocab(i) +: Seq.fill(11)(vocab(rnd.nextInt(vocab.size)))).mkString(" ") + "."
    }
    val sents = sentences(product(bodies).toString)
    def local(): Seq[Row] = Pipelines.lsaSummaryLocal(sents, Lsa.Config()).get.collect().toSeq
    val dist = Pipelines.lsaSummaryDistributed(sents)
    assert(Pipelines.lsaSummaryLocal(sents, Lsa.Config()).get.schema == dist.schema)
    val (routed, expected) = (local(), dist.collect().toSeq)
    assert(routed.length == 5)
    assert(local() == routed, "a second call returns other rows")
    // the distributed route sums the rows in another order: σ agrees to
    // round-off, every other column exactly
    def rest(r: Row): Seq[Any] = r.toSeq.patch(1, Nil, 1)
    assert(routed.map(rest) == expected.map(rest))
    routed.zip(expected).foreach { case (a, b) =>
      val (sa, sb) = (a.getDouble(1), b.getDouble(1))
      assert(math.abs(sa - sb) <= 1e-12 * sb, s"sigma $sa vs $sb")
    }
  }

  test("a product over the row budget is left to the distributed route") {
    // four 5-word sentences per review, all passing F1
    val reviews = Pipelines.LocalSentenceRows / 4 + 1
    val bodies = (0 until reviews).map(r =>
      Seq.tabulate(4)(s => s"review $r sentence $s battery works").mkString(". "))
    val sents = sentences(product(bodies).toString)
    assert(Pipelines.lsaSummaryLocal(sents, Lsa.Config()).isEmpty)
  }
}
