package graft.pipeline

import java.nio.file.Path

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.io.ReviewSource
import graft.operators.GroupedSummarizer

/** Reference-figure anchor: a 30-product synthetic corpus (the shape of
  * the reference's dataset — 30 Amazon-review TSV files × ~40 reviews,
  * BASELINE.md) pushed through EP2/EP3, asserting the PUBLISHED shape
  * invariants rather than exact values (the real review text is not
  * redistributable):
  *
  *  - BigData-Final.pdf Fig-2 (TextRank top-5 ranks 1.42/1.29/1.15/1.09/
  *    1.04): ranks descending, bounded below by the 0.15 init, top rank
  *    near 1 (the damped fixed point of the out-normalized symmetric
  *    graph), spread between rank 1 and rank 5;
  *  - Fig-5/6 (ROUGE-L product rows P=0.051 R=0.303 / P=0.042 R=0.416):
  *    precision ≪ recall under the reference's concept-level pairing.
  */
class AnchorSpec extends SparkSpec {
  import spark.implicits._

  private lazy val corpusDir: Path =
    SyntheticReviews.write(products = 30, reviews = 40)

  test("EP2 anchor: TextRank top-5 rank shape matches Fig-2") {
    // per-product, like the reference's per-file loop (3 spot products)
    Seq(0, 7, 23).foreach { p =>
      val path = corpusDir.resolve(f"product$p%02d.txt").toString
      val ranks = Pipelines.textrankSummary(spark, path, 5)
        .select($"rnk").as[Double].collect().toSeq
      assert(ranks.length == 5, s"product $p: ${ranks.length} rows")
      // descending, like 1.42 >= 1.29 >= 1.15 >= 1.09 >= 1.04
      assert(ranks == ranks.sorted.reverse, s"product $p not descending: $ranks")
      // bounded below by the damped init; bounded above sanely
      assert(ranks.forall(r => r >= 0.15 && r <= 2.5), s"product $p out of range: $ranks")
      // the top sentence accumulated real rank mass over the 0.15 init
      // (Fig-2 tops ~1.0-1.5 on natural text; the uniform synthetic
      // vocabulary converges a little lower)
      assert(ranks.head > 0.6, s"product $p top rank ${ranks.head} too low")
      // visible spread between rank 1 and rank 5, as in the figure
      assert(ranks.head > ranks.last, s"product $p flat ranks: $ranks")
    }
  }

  test("EP3 anchor: ROUGE-L precision << recall under concept pairing (Fig-5/6)") {
    // one product through the faithful driver-looped EP3...
    val one = Pipelines.evaluate(spark,
      corpusDir.resolve("product00.txt").toString)
      .filter($"metric" === "rougeL")
      .select($"precision", $"recall").as[(Double, Double)].head()
    assert(one._2 > 0, s"zero recall: $one")
    assert(one._1 < one._2,
      s"expected P << R like 0.051 vs 0.303, got $one")

    // ...and all 30 products through the single-job grouped EP3
    val sents = ReviewSource.sentences(
      ReviewSource.reviews(spark, s"$corpusDir/*.txt"))
      .select($"product_id".as("grp"), $"review_id", $"sent_idx", $"sentence")
    val rows = GroupedSummarizer.evaluatePerGroup(sents)
      .filter(_.metric == "rougeL").collect()
    assert(rows.length == 30)
    rows.foreach { r =>
      assert(r.recall > 0, s"${r.product_id}: zero recall")
      assert(r.precision < r.recall,
        s"${r.product_id}: P=${r.precision} not << R=${r.recall}")
    }
    // corpus means land in the published order of magnitude
    val meanP = rows.map(_.precision).sum / rows.length
    val meanR = rows.map(_.recall).sum / rows.length
    assert(meanP < 0.5 * meanR, s"meanP=$meanP vs meanR=$meanR")
  }
}
