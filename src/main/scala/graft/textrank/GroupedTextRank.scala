package graft.textrank

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** TextRank over MANY corpora in one job — the 100 TB formulation of the
  * reference's driver-side per-product-file loop (SURVEY §2.1 S2,
  * §4.1 anti-patterns).
  *
  * Every piece is [[TextRank]]'s own: the vertex builder, the weight
  * kernel and its mirror, and the distributed rank loop
  * ([[TextRank.ranksShuffled]], so tr05's oracle hash-checks that route
  * at every gate scale). A vertex's id is the struct (grp, id), which
  * keeps equal doc ids in different groups apart; the only grouped step
  * is the pair join, whose equality on `grp` co-locates each group's
  * quadratic work behind a shuffle (each group's sentence count is
  * bounded, so per-task work is bounded). A million products
  * parallelize across executors with zero driver involvement — compare
  * the reference, which runs one Spark job per file and collects
  * between them.
  */
object GroupedTextRank {

  /** Full pipeline over (grpCol, idCol, textCol) with the reference's
    * band filter per sentence/doc. Returns (grp, id, rnk).
    */
  def rankDocuments(docs: DataFrame, grpCol: String, idCol: String,
      textCol: String, lemma: Boolean = true): DataFrame = {
    val vertices = TextRank.vertices(docs,
      struct(col(grpCol).as("grp"), col(idCol).as("id")), textCol, lemma)
      .persist()
    // ranksShuffled is eager (it cuts lineage every round), so the vertex
    // cache is consumed on return; the finally also releases it when a
    // job aborts
    try {
      val v = TextRank.tokenSets(vertices)
      val a = v.select(col("id").as("src"), col("dt").as("dt_a"), col("n").as("na"))
      val b = v.select(col("id").as("dst"), col("dt").as("dt_b"), col("n").as("nb"))
      // structs compare field by field, so inside one grp src < dst is
      // id order: each unordered pair once, mirrored by weightedMirror
      val edges = TextRank.weightedMirror(
        a.join(b, col("src.grp") === col("dst.grp") && col("src") < col("dst")))
      TextRank.ranksShuffled(edges, symmetricEdges = true)
        .select(col("id.grp").as("grp"), col("id.id").as("id"), col("rnk"))
    } finally vertices.unpersist()
  }
}
