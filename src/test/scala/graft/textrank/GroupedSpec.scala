package graft.textrank

import org.apache.spark.sql.CacheAccess
import org.apache.spark.sql.functions._

import graft.SparkSpec

class GroupedTextRankSpec extends SparkSpec {
  import spark.implicits._

  test("grouped ranks equal independent per-group runs") {
    val mk = (g: String, off: Long) => Seq(
      (g, off + 0, ("alpha beta gamma delta " * 4).trim),
      (g, off + 1, ("beta gamma epsilon zeta " * 4).trim),
      (g, off + 2, ("alpha zeta theta iota " * 4).trim))
    // the second fixture reuses doc ids 0..2 in both groups: the (grp,
    // id) vertex key must never merge vertices across groups
    Seq(10L, 0L).foreach { g2Off =>
      val docs = (mk("g1", 0L) ++ mk("g2", g2Off)).toDF("grp", "doc_id", "text")
        // vary g2's content so the two groups differ
        .withColumn("text", when($"grp" === "g2",
          concat($"text", lit(" kappa lambda"))).otherwise($"text"))

      val grouped = GroupedTextRank.rankDocuments(docs, "grp", "doc_id", "text",
        lemma = false)
        .as[(String, Long, Double)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap

      Seq("g1", "g2").foreach { g =>
        val single = TextRank.rankDocuments(
          docs.filter($"grp" === g), "doc_id", "text",
          TextRank.Config(lemma = false))
          .as[(Long, Double)].collect().toMap
        assert(single.nonEmpty, s"group $g empty")
        single.foreach { case (id, r) =>
          assert(math.abs(r - grouped((g, id))) < 1e-12, s"g2Off=$g2Off grp=$g id=$id")
        }
      }
      assert(grouped.size == 6, s"g2Off=$g2Off")
    }
  }

  test("a failing call leaves the session's caches as it found them") {
    val dir = java.nio.file.Files.createTempDirectory("grouped-textrank").toString
    try {
      Seq(("g1", 0L, ("alpha beta gamma delta " * 4).trim),
        ("g1", 1L, ("beta gamma epsilon zeta " * 4).trim),
        ("g2", 2L, ("alpha zeta theta iota " * 4).trim))
        .toDF("grp", "doc_id", "text")
        .write.mode("overwrite").parquet(dir)
      // parquet-backed, so the error fires in a job, after the caches
      // were registered (a local relation would throw inside persist())
      val docs = spark.read.parquet(dir).withColumn("text",
        when($"doc_id" === 1L, raise_error(lit("grouped-boom"))).otherwise($"text"))
      val sc = spark.sparkContext
      val entries0 = CacheAccess.entries(spark)
      val rdds0 = sc.getPersistentRDDs.keySet
      val e = intercept[Exception](
        GroupedTextRank.rankDocuments(docs, "grp", "doc_id", "text", lemma = false))
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      assert(chain.exists(t => String.valueOf(t.getMessage).contains("grouped-boom")), e)
      assert((CacheAccess.entries(spark) - entries0,
        (sc.getPersistentRDDs.keySet -- rdds0).size) == ((0, 0)))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}
