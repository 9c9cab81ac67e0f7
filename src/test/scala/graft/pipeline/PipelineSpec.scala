package graft.pipeline

import org.apache.spark.JobCount
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.io.ReviewSource

class ReviewSourceSpec extends SparkSpec {
  import spark.implicits._

  private def res(name: String): String =
    getClass.getResource(s"/reviews/$name").getPath

  test("reads the 6-column TSV with header and product id from filename") {
    val r = ReviewSource.reviews(spark, res("tiny_product.txt"))
    assert(r.count() == 3)
    assert(r.schema.fieldNames.toSeq == Seq("review_id", "product_title",
      "star_rating", "vine", "verified_purchase", "review_body", "product_id"))
    val first = r.orderBy($"review_id").head()
    assert(first.getAs[String]("review_id") == "R1")
    assert(first.getAs[Int]("star_rating") == 5)
    assert(first.getAs[String]("product_id") == "tiny_product")
  }

  test("sentence ids follow review_id + '_' + idx (P2)") {
    val s = ReviewSource.sentences(ReviewSource.reviews(spark, res("tiny_product.txt")))
    val ids = s.filter($"review_id" === "R1").orderBy($"sent_idx")
      .select($"sentence_id").as[String].collect().toSeq
    assert(ids.take(3) == Seq("R1_0", "R1_1", "R1_2"))
  }

  test("edge cases: empty body, no periods, unicode survive permissively") {
    val r = ReviewSource.reviews(spark, res("edge_cases.txt"))
    assert(r.count() == 4)
    val s = ReviewSource.sentences(r)
    // E2 has no period: exactly one sentence row
    assert(s.filter($"review_id" === "E2").count() == 1)
  }
}

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def res(name: String): String =
    getClass.getResource(s"/reviews/$name").getPath

  test("EP1: LSA summary yields k concepts with keywords and sentences") {
    val out = Pipelines.lsaSummary(spark, res("small_product.txt")).collect()
    assert(out.length == 5)
    out.foreach { r =>
      assert(r.getAs[String]("keywords").split(" ").length == 3)
      assert(r.getAs[String]("sentences").nonEmpty)
    }
  }

  test("EP1 is deterministic across runs (golden stability)") {
    def run() = Pipelines.lsaSummary(spark, res("small_product.txt"))
      .select($"concept", $"keywords", $"sentence_ids")
      .as[(Int, String, String)].collect().toSeq
    assert(run() == run())
  }

  test("EP2: TextRank top-5 sentences with ranks above init") {
    val out = Pipelines.textrankSummary(spark, res("small_product.txt"), 5)
    val rows = out.select($"rnk").as[Double].collect()
    assert(rows.length == 5)
    assert(rows.forall(_ >= 0.15))
  }

  test("EP3: evaluation produces per-metric means in [0,1]") {
    val out = Pipelines.evaluate(spark, res("small_product.txt"))
      .as[(String, String, Double, Double, Double)].collect()
    assert(out.map(_._2).toSet == Set("rouge1", "rouge2", "rougeL"))
    out.foreach { case (_, _, p, r, f) =>
      assert(p >= 0 && p <= 1); assert(r >= 0 && r <= 1); assert(f >= 0 && f <= 1)
    }
    // sanity: rouge1 >= rouge2 on recall (bigrams are strictly harder)
    val byM = out.map(x => x._2 -> x._4).toMap
    assert(byM("rouge1") >= byM("rouge2"))
  }

  test("EP1 and EP2 stay within their Spark job budgets on a product") {
    // a product-sized input takes the driver-local LSA and TextRank
    // routes: EP1 is its one bounded collect (the sorted take, then the
    // tokens); EP2 is its one bounded collect of the band rows with
    // their text and tokens
    val path = res("small_product.txt")
    val sc = spark.sparkContext
    val (lsaRows, lsaJobs) = JobCount(sc)(Pipelines.lsaSummary(spark, path).collect())
    val (trRows, trJobs) = JobCount(sc)(Pipelines.textrankSummary(spark, path, 5).collect())
    assert(lsaRows.length == 5 && trRows.length == 5)
    assert(lsaJobs <= 1, s"EP1 ran $lsaJobs jobs")
    assert(trJobs <= 1, s"EP2 ran $trJobs jobs")
  }

  test("EP3 stays within its Spark job budget on a product") {
    // the grouping shuffle's map stage, then the groups' stage
    val sc = spark.sparkContext
    val (rows, jobs) = JobCount(sc)(Pipelines.evaluate(spark, res("small_product.txt")).collect())
    assert(rows.length == 3)
    assert(jobs <= 2, s"EP3 ran $jobs jobs")
  }
}
