package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.io.ReviewSource
import graft.pipeline.{Pipelines, SyntheticReviews}

/** EP3 (`Pipelines.evaluate`) is the grouped single-job evaluator, and
  * its rows must be what the reference's per-product loop computes: EP1's
  * summary of each product scored by `GroupedSummarizer.evalRows`.
  */
class GroupedEvalSpec extends SparkSpec {
  import spark.implicits._

  private def res(name: String): String =
    getClass.getResource(s"/reviews/$name").getPath

  private type Rows = Map[(String, String), (Double, Double, Double)]

  private def rows(df: DataFrame): Rows =
    df.as[(String, String, Double, Double, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap

  private def assertClose(actual: Rows, expected: Rows): Unit = {
    assert(actual.keySet == expected.keySet)
    actual.foreach { case (k, (p, r, f)) =>
      val (ep, er, ef) = expected(k)
      assert(math.abs(p - ep) < 1e-9, s"$k precision $p vs $ep")
      assert(math.abs(r - er) < 1e-9, s"$k recall $r vs $er")
      assert(math.abs(f - ef) < 1e-9, s"$k f1 $f vs $ef")
    }
  }

  test("grouped EP3 equals Pipelines.evaluate (concept pairing, reference shape)") {
    val path = res("small_product.txt")
    val sents = ReviewSource.sentences(ReviewSource.reviews(spark, path))
      .select($"product_id".as("grp"), $"review_id", $"sent_idx", $"sentence")
    assertClose(rows(GroupedSummarizer.evaluatePerGroup(sents).toDF()),
      rows(Pipelines.evaluate(spark, path)))
  }

  test("EP3's rows equal EP1's summary of each product scored by evalRows") {
    val zipf = SyntheticReviews.zipf(products = 1, reviews = 150, vocab = 1500).resolve("product00.txt")
    for (path <- Seq(res("tiny_product.txt"), res("small_product.txt"), res("edge_cases.txt"),
        s"${SyntheticReviews.write(products = 1, reviews = 40)}/product00.txt", zipf.toString)) {
      val sents = ReviewSource.sentences(ReviewSource.reviews(spark, path))
        .filter(length(trim($"sentence")) > 0)
      val pid = sents.select($"product_id").as[String].head()
      val sys = Pipelines.lsaSummaryFromSentences(sents).select($"sentences").as[String]
        .collect().map(_.replace(" | ", " ")).toSeq
      val ordered = sents.orderBy($"review_id", $"sent_idx").select($"sentence").as[String]
        .collect().toSeq
      val expected = GroupedSummarizer.evalRows(pid, sys, ordered)
        .map(r => (r.product_id, r.metric, r.precision, r.recall, r.f1))
      val ep3 = Pipelines.evaluate(spark, path)
        .as[(String, String, Double, Double, Double)].collect().toSeq
      assert(ep3 == expected, path)
    }
  }

  test("grouped EP3 keeps groups independent (two products, one job)") {
    val path = res("small_product.txt")
    val base = ReviewSource.sentences(ReviewSource.reviews(spark, path))
      .select($"product_id".as("grp"), $"review_id", $"sent_idx", $"sentence")
    // duplicating the product under a second group id must yield the
    // identical metric rows for both groups
    val two = base.union(base.withColumn("grp", concat($"grp", lit("_b"))))
    val rows = GroupedSummarizer.evaluatePerGroup(two).collect()
    val byGrp = rows.groupBy(_.product_id).map { case (g, rs) =>
      g -> rs.map(r => (r.metric, r.precision, r.recall, r.f1)).sortBy(_._1).toSeq
    }
    assert(byGrp.size == 2)
    val vals = byGrp.values.toSeq
    assert(vals(0) == vals(1))
  }
}
