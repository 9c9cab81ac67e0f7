package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.baseline.OzsoyLsaSummarizer
import graft.io.ReviewSource
import graft.lsa.Lsa
import graft.pipeline.Pipelines
import graft.rouge.Rouge
import graft.textrank.TextRank

/** The paper's three entry points as the benchmark calls them. Untimed
  * runs go through `graft.pipeline.Pipelines` only. Traced runs compose
  * the same lower-layer calls the way `Pipelines` does, so that each
  * lower layer can be its own span; each traced method names the
  * `Pipelines` method it mirrors. The run checks that both give the same
  * result, and reports whether they run the same number of Spark jobs
  * (`trace.mirror_job_gap`), so a mirror left behind by a change to
  * `Pipelines` shows in the output.
  */
object ReviewOps {

  sealed abstract class Ep(val name: String)
  case object LsaSummary extends Ep("lsa")
  case object TextRankSummary extends Ep("textrank")
  case object Evaluate extends Ep("eval")

  val TopK = 5

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** The DataFrame an entry point returns for one product file. */
  def build(spark: SparkSession, ep: Ep, path: String): DataFrame = ep match {
    case LsaSummary => Pipelines.lsaSummary(spark, path)
    case TextRankSummary => Pipelines.textrankSummary(spark, path, TopK)
    case Evaluate => Pipelines.evaluate(spark, path)
  }

  /** As [[build]], with a span around each lower-layer call. */
  def buildTraced(tr: Tracer, spark: SparkSession, ep: Ep, path: String): DataFrame =
    ep match {
      case LsaSummary => lsaFromSentences(tr, sentences(tr, spark, path))
      case TextRankSummary =>
        // Pipelines.textrankSummary (Pipelines.scala:83-87)
        val sents = sentences(tr, spark, path)
        tr.span("textrank")(TextRank.summarize(sents, "sentence_id", "sentence", TopK))
      case Evaluate => evaluate(tr, spark, path)
    }

  /** The layer that owns the DataFrame an entry point returns; its action
    * is charged there.
    */
  def execLayer(ep: Ep): String = if (ep == TextRankSummary) "textrank" else "pipeline"

  /** A full scan of the sentence table, so the read path has a time of
    * its own in the traced run.
    */
  def forcedScan(tr: Tracer, spark: SparkSession, path: String): Unit =
    tr.span("io", "exec")(noop(ReviewSource.sentences(ReviewSource.reviews(spark, path))))

  private def sentences(tr: Tracer, spark: SparkSession, path: String): DataFrame =
    tr.span("io")(ReviewSource.sentences(ReviewSource.reviews(spark, path)))

  /** Pipelines.lsaSummaryFromSentences (Pipelines.scala:39-57) with
    * default settings.
    */
  private def lsaFromSentences(tr: Tracer, sents0: DataFrame): DataFrame = {
    val spark = sents0.sparkSession
    import spark.implicits._
    val sents = Pipelines.sentencesWithSid(sents0)
    val concepts = tr.span("lsa")(Lsa.concepts(sents, "sid", "sentence", Lsa.Config()))
    concepts
      .select($"concept", $"singular_value",
        concat_ws(" ", $"keywords").as("keywords"),
        posexplode($"doc_ids").as(Seq("ord", "sid")))
      .join(sents.select($"sid", $"sentence_id", $"sentence"), "sid")
      .groupBy($"concept", $"singular_value", $"keywords")
      .agg(
        concat_ws(",", transform(array_sort(collect_list(struct($"ord", $"sentence_id"))),
          x => x.getField("sentence_id"))).as("sentence_ids"),
        concat_ws(" | ", transform(array_sort(collect_list(struct($"ord", $"sentence"))),
          x => x.getField("sentence"))).as("sentences"))
      .orderBy($"concept")
  }

  /** Pipelines.evaluate (Pipelines.scala:111-165) with default settings,
    * on its per-product route (the benchmark's files each hold one
    * product, far below the grouped route's 64-product threshold).
    */
  private def evaluate(tr: Tracer, spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val all = sentences(tr, spark, path)
      .filter(length(trim(col("sentence"))) > 0)
      .persist()
    val products = all.select($"product_id").distinct().as[String].collect().sorted.toSeq
    require(products.length <= 64, "the grouped evaluation route is not mirrored")
    val rows = products.flatMap { pid =>
      val psents = all.filter($"product_id" === pid)
      val sys = lsaFromSentences(tr, psents).select($"sentences").as[String].collect()
        .map(_.replace(" | ", " ")).toSeq
      val ordered = psents.orderBy($"review_id", $"sent_idx")
        .select($"sentence").as[String].collect().toSeq
      val ref = tr.span("baseline")(OzsoyLsaSummarizer.summarize(ordered, 15, 15.0))
      val pairs = sys.zip(ref)
      tr.span("rouge") {
        Seq("rouge1", "rouge2", "rougeL").map { metric =>
          val scores = pairs.map { case (s, r) =>
            metric match {
              case "rouge1" => Rouge.rougeN(s, r, 1, stem = true)
              case "rouge2" => Rouge.rougeN(s, r, 2, stem = true)
              case _ => Rouge.rougeL(s, r, stem = true)
            }
          }
          val n = math.max(scores.size, 1)
          (pid, metric,
            scores.map(_.precision).sum / n,
            scores.map(_.recall).sum / n,
            scores.map(_.f1).sum / n)
        }
      }
    }
    all.unpersist()
    spark.createDataFrame(rows).toDF("product_id", "metric", "precision", "recall", "f1")
  }

  /** Structural problems with an entry point's result rows; empty when
    * the result is well formed.
    */
  def problems(ep: Ep, rows: Seq[Row]): Seq[String] = ep match {
    case LsaSummary =>
      val sigmas = rows.map(_.getAs[Double]("singular_value"))
      Seq(
        Option.when(rows.isEmpty || rows.size > Lsa.Config().k)(s"${rows.size} concepts"),
        Option.when(rows.map(_.getAs[Int]("concept")) != rows.indices)("concepts not numbered 0..k-1"),
        Option.when(rows.exists(_.getAs[String]("keywords").split(" ").length != Lsa.Config().nKeywords))(
          "a concept without its keywords"),
        Option.when(rows.exists(_.getAs[String]("sentence_ids").isEmpty))("a concept without sentences"),
        Option.when(sigmas.exists(s => !(s > 0)) || sigmas != sigmas.sorted.reverse)(
          s"singular values not positive and descending: $sigmas")).flatten
    case TextRankSummary =>
      val ranks = rows.map(_.getAs[Double]("rnk"))
      Seq(
        Option.when(rows.size != TopK)(s"${rows.size} rows, expected $TopK"),
        Option.when(ranks != ranks.sorted.reverse)(s"ranks not descending: $ranks"),
        Option.when(rows.map(_.getAs[String]("id")).distinct.size != rows.size)("duplicate ids"),
        Option.when(rows.exists(r => Option(r.getAs[String]("sentence")).forall(_.trim.isEmpty)))(
          "an empty sentence")).flatten
    case Evaluate =>
      val scores = rows.flatMap(r => Seq("precision", "recall", "f1").map(r.getAs[Double]))
      Seq(
        Option.when(rows.map(_.getAs[String]("metric")) != Seq("rouge1", "rouge2", "rougeL"))(
          s"metrics ${rows.map(_.getAs[String]("metric"))}"),
        Option.when(scores.exists(s => !(s >= 0.0 && s <= 1.0)))(s"ROUGE outside [0, 1]: $scores")
      ).flatten
  }

  /** A digest of the result rows. Doubles are rounded to 7 significant
    * digits: the LSA solver's start vector differs between calls, which
    * moves singular values in their last bits only.
    */
  def digest(rows: Seq[Row]): String = {
    def canon(v: Any): String = v match {
      case d: Double =>
        if (d == 0.0 || d.isNaN || d.isInfinite) d.toString
        else BigDecimal(d).round(new java.math.MathContext(7)).toString
      case null => "null"
      case o => o.toString
    }
    val text = rows.map(_.toSeq.map(canon).mkString("\u0001")).mkString("\n")
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(text.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }
}
