package graft.textrank

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.IntersectSize.intersect_size

/** TextRank over MANY corpora in one job — the 100 TB formulation of the
  * reference's driver-side per-product-file loop (SURVEY §2.1 S2,
  * §4.1 anti-patterns).
  *
  * The group key (product, document, language shard, …) joins into every
  * stage: the similarity self-join co-locates each group's quadratic work
  * behind a shuffle on `grp` (each group's sentence count is bounded, so
  * per-task work is bounded), and the rank iteration aggregates on
  * (grp, dst). A million products parallelize across executors with zero
  * driver involvement — compare the reference, which runs one Spark job
  * per file and collects between them.
  */
object GroupedTextRank {

  /** vertices: (grp, id, tokens). Returns (grp, id, rnk). */
  def ranks(vertices: DataFrame): DataFrame = {
    val v = vertices.select(col("grp"), col("id"),
      array_distinct(col("tokens")).as("dt"),
      size(col("tokens")).as("n"))
    val a = v.select(col("grp"), col("id").as("src"), col("dt").as("dt_a"), col("n").as("na"))
    val b = v.select(col("grp").as("grp_b"), col("id").as("dst"), col("dt").as("dt_b"), col("n").as("nb"))
    val edges = a.join(b, col("grp") === col("grp_b") && col("src") < col("dst"))
      .withColumn("weight",
        intersect_size(col("dt_a"), col("dt_b")).cast("double") /
          (log2(col("na")) + log2(col("nb")) + lit(1.0)))
      .filter(col("weight") =!= 0.0)
      .select(explode(array(
        struct(col("grp"), col("src"), col("dst"), col("weight")),
        struct(col("grp"), col("dst").as("src"), col("src").as("dst"), col("weight")))).as("e"))
      .select(col("e.grp").as("grp"), col("e.src").as("src"),
        col("e.dst").as("dst"), col("e.weight").as("weight"))

    val outSum = edges.groupBy(col("grp"), col("src")).agg(sum(col("weight")).as("ow"))
    val norm = edges.join(outSum, Seq("grp", "src"))
      .select(col("grp"), col("src"), col("dst"), (col("weight") / col("ow")).as("wn"))
      .persist()
    norm.count()

    // rank table keys renamed (r_grp, id) to keep the iterated self-join
    // unambiguous
    var r = norm.select(col("grp").as("r_grp"), col("src").as("id")).distinct()
      .withColumn("rnk", lit(TextRank.InitRank))
    for (_ <- 1 to TextRank.Iterations) {
      r = norm.join(r, col("grp") === col("r_grp") && col("src") === col("id"))
        .groupBy(col("grp"), col("dst"))
        .agg((lit(TextRank.InitRank) + lit(TextRank.Damping) *
          sum(col("rnk") * col("wn"))).as("rnk"))
        .select(col("grp").as("r_grp"), col("dst").as("id"), col("rnk"))
        .localCheckpoint()
    }
    norm.unpersist()
    r.select(col("r_grp").as("grp"), col("id"), col("rnk"))
  }

  /** Full pipeline over (grpCol, idCol, textCol) with the reference's
    * band filter per sentence/doc.
    */
  def rankDocuments(docs: DataFrame, grpCol: String, idCol: String,
      textCol: String, cfg: TextRank.Config = TextRank.Config()): DataFrame = {
    import graft.text.TextFunctions
    val vertices = graft.Par.fanOut(docs
      .filter(TextFunctions.spaceWordCount(col(textCol)) > TextRank.MinWords &&
        TextFunctions.spaceWordCount(col(textCol)) < TextRank.MaxWords))
      .select(col(grpCol).as("grp"), col(idCol).as("id"),
        TextFunctions.textrankTokens(col(textCol), cfg.lemma).as("tokens"))
      .filter(size(col("tokens")) > 0)
      .persist()
    val r = ranks(vertices)
    vertices.unpersist()
    r
  }
}
