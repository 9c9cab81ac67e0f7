package graft.textrank

import org.apache.spark.sql.functions._

import graft.SparkSpec

class GroupedTextRankSpec extends SparkSpec {
  import spark.implicits._

  test("grouped ranks equal independent per-group runs") {
    val mk = (g: String, off: Long) => Seq(
      (g, off + 0, ("alpha beta gamma delta " * 4).trim),
      (g, off + 1, ("beta gamma epsilon zeta " * 4).trim),
      (g, off + 2, ("alpha zeta theta iota " * 4).trim))
    val docs = (mk("g1", 0L) ++ mk("g2", 10L)).toDF("grp", "doc_id", "text")
      // vary g2's content so the two groups differ
      .withColumn("text", when($"grp" === "g2",
        concat($"text", lit(" kappa lambda"))).otherwise($"text"))

    val grouped = GroupedTextRank.rankDocuments(docs, "grp", "doc_id", "text",
      TextRank.Config(lemma = false))
      .as[(String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap

    Seq("g1", "g2").foreach { g =>
      val single = TextRank.rankDocuments(
        docs.filter($"grp" === g), "doc_id", "text",
        TextRank.Config(lemma = false))
        .as[(Long, Double)].collect().toMap
      assert(single.nonEmpty, s"group $g empty")
      single.foreach { case (id, r) =>
        assert(math.abs(r - grouped((g, id))) < 1e-12, s"grp=$g id=$id")
      }
    }
  }
}
