package graft.pipeline

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.io.ReviewSource
import graft.lsa.{LocalLsa, Lsa}
import graft.operators.{GroupedSummarizer, LocalRoute}
import graft.text.TextFunctions
import graft.textrank.TextRank

/** The reference's three entry points (SURVEY.md §3 EP1-EP3) as
  * Spark-native APIs over the review TSV input shape.
  */
object Pipelines {

  /** F1: sentences of at least `MinSentenceWords` space-separated words,
    * the rows EP1 numbers and summarizes.
    */
  private def longSentences(sents: DataFrame): DataFrame =
    sents.filter(TextFunctions.spaceWordCount(col("sentence")) >=
      GroupedSummarizer.MinSentenceWords)

  /** Sentence table with surrogate long ids for the matrix row index
    * (deterministic by (review_id, sent_idx)); F1 length filter applied.
    * Numbering is distributed: sort range-partitions the table and
    * `zipWithIndex` assigns contiguous ids per partition — no
    * single-partition global window even on multi-product input.
    */
  def sentencesWithSid(sents: DataFrame): DataFrame = {
    val spark = sents.sparkSession
    val sorted = longSentences(sents).orderBy(col("review_id"), col("sent_idx"))
    val numbered = sorted.rdd.zipWithIndex().map { case (row, i) =>
      Row.fromSeq(row.toSeq :+ (i + 1L))
    }
    spark.createDataFrame(numbered, sorted.schema.add("sid", LongType))
  }

  /** EP1's result columns, as [[lsaSummaryDistributed]]'s plan types them. */
  private val LsaSummarySchema = StructType(Seq(
    StructField("concept", IntegerType, nullable = false),
    StructField("singular_value", DoubleType, nullable = false),
    StructField("keywords", StringType, nullable = false),
    StructField("sentence_ids", StringType, nullable = false),
    StructField("sentences", StringType, nullable = false)))

  /** F1-filtered sentences at or below which EP1 collects a product to
    * summarize it on the driver. On 4 cores the local route beat the
    * distributed one at every measured size up to 32 k sentences, for
    * synthetic and English vocabularies. A collected row measured
    * 0.7–1.2 KiB, so the budget holds about 40 MiB on the driver. Over
    * it, the refused collect (a sorted take of untokenized sentences)
    * cost 0.56 s before a 4.2 s distributed run. CHANGES.md records the
    * sweeps.
    */
  private[pipeline] val LocalSentenceRows = 32 << 10

  /** EP1 core — LSA summary from a sentence table.
    * Output: (concept, singular_value, keywords, sentence_ids, sentences).
    *
    * A product-sized table runs [[lsaSummaryLocal]]: one bounded collect
    * of its sentences with Spark's LSA tokens, then the sid numbering,
    * tf·idf cells, solve and sentence join on the driver. Above
    * [[LocalSentenceRows]] sentences, [[lsaSummaryDistributed]] runs
    * instead. Both give the same rows (`LsaSummaryRouteSpec`), σ to
    * the round-off of summing the rows in another order.
    */
  def lsaSummaryFromSentences(sents: DataFrame,
      cfg: Lsa.Config = Lsa.Config()): DataFrame =
    lsaSummaryLocal(sents, cfg).getOrElse(lsaSummaryDistributed(sents, cfg))

  /** EP1 on the driver, or `None` over its row budget. Spark's sort takes
    * at most budget + 1 sentences in (review_id, sent_idx) order, and
    * only those get their `TextFunctions.lsaTokens`, so an over-budget
    * product is refused before the lemmatizer runs. Sid n is the n-th
    * row, as [[sentencesWithSid]] numbers it. The rows stay Spark's own
    * (`LocalRoute.collectRowsWithin`): `LocalLsa.fromTokenArrays` codes
    * their tokens into the CSR matrix `LocalLsa.solve` solves, and only
    * the winners' ids and sentences become strings, so no collect is
    * thrown away and no row is boxed.
    */
  private[graft] def lsaSummaryLocal(sents: DataFrame, cfg: Lsa.Config): Option[DataFrame] = {
    val spark = sents.sparkSession
    val firstRows = longSentences(sents).orderBy(col("review_id"), col("sent_idx"))
      .limit(LocalSentenceRows + 1)
      .select(col("sentence_id"), col("sentence"),
        TextFunctions.lsaTokens(col("sentence"), cfg.lemma).as("tokens"))
    LocalRoute.collectRowsWithin(firstRows, LocalSentenceRows).map { rows =>
      val concepts = LocalLsa.solve(LocalLsa.fromTokenArrays(rows.map(_.getArray(2))), cfg)
      // as the distributed join's concat_ws: ids in loading order, nulls skipped
      def joined(ids: Seq[Long], field: Int, sep: String): String =
        ids.map(sid => rows((sid - 1).toInt)).filterNot(_.isNullAt(field))
          .map(_.getUTF8String(field).toString).mkString(sep)
      val out = concepts.map { c =>
        Row(c.concept, c.singular_value, c.keywords.mkString(" "),
          joined(c.doc_ids, 0, ","), joined(c.doc_ids, 1, " | "))
      }
      spark.createDataFrame(out.asJava, LsaSummarySchema)
    }
  }

  /** EP1 through Spark at any size: distributed sid numbering,
    * `Lsa.concepts`, and the join back to the sentences.
    */
  private[graft] def lsaSummaryDistributed(sents0: DataFrame,
      cfg: Lsa.Config = Lsa.Config()): DataFrame = {
    val spark = sents0.sparkSession
    import spark.implicits._
    val sents = sentencesWithSid(sents0)
    val concepts = Lsa.concepts(sents, "sid", "sentence", cfg)
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

  /** EP1 — LSA review summary for a product path. */
  def lsaSummary(spark: SparkSession, path: String,
      cfg: Lsa.Config = Lsa.Config()): DataFrame =
    lsaSummaryFromSentences(
      ReviewSource.sentences(ReviewSource.reviews(spark, path)), cfg)

  /** S5 report shape: the reference's printed concept report (:144-152,
    * `round(x, 2)` formatting at :399-401) as a table — presentation
    * stays a table, never a driver print. σ is formatted through
    * CAST(… AS DECIMAL(18,2)) rather than %.2f: both Spark and DuckDB
    * round the decimal cast HALF_UP and print the fixed-scale form
    * ("4.10", "5.00"), while printf-style %.2f is round-half-even in C
    * — the decimal cast is the engine-stable spelling, which is what
    * lets ls09 gate this exact string. `concept` rides along as the
    * deterministic sort key.
    */
  def conceptReport(concepts: DataFrame): DataFrame =
    concepts.select(col("concept"),
      concat(lit("Concept "), col("concept").cast("string"),
        lit(" [sigma="), col("singular_value").cast("decimal(18,2)").cast("string"),
        lit("] keywords: "), col("keywords"),
        lit(" | sentences: "), col("sentence_ids")).as("line"))

  /** EP2 — TextRank review summary: top-k sentences by rank, with their
    * text. A product of at most 4,096 band sentences runs in one Spark
    * job: `TextRank.summarize` collects the band rows with their tokens
    * once and ranks, picks the top-k and looks up their text on the
    * driver. A larger product runs the distributed graph.
    */
  def textrankSummary(spark: SparkSession, path: String, k: Int = 5,
      cfg: TextRank.Config = TextRank.Config()): DataFrame = {
    val sents = ReviewSource.sentences(ReviewSource.reviews(spark, path))
    TextRank.summarize(sents, "sentence_id", "sentence", k, cfg)
  }

  /** EP3 — evaluation: LSA system summary vs the Ozsoy/pytldr-style
    * baseline, zip-paired and ROUGE-scored with stemming, per product
    * ([[GroupedSummarizer.evalRows]]). Implements the INTENDED
    * per-product comparison — not the reference's file-0 bug (quirk Q7).
    * Each system element is ONE CONCEPT's sentences joined, zipped
    * against single baseline sentences, as the reference pairs them
    * (BigdataProjectCode.py:196: `zip(textSummariesConcepts, rfrncedata)`)
    * — the length asymmetry behind the published ROUGE-L P ≪ R shape
    * (BASELINE.md Fig-5/6).
    *
    * Output: one row per product × metric with mean P/R/F (A7), ordered
    * by (product_id, metric).
    *
    * One `flatMapGroups` job for one product or a million
    * ([[GroupedSummarizer.evaluatePerGroup]]): each product is summarized
    * inside its group by the solver EP1 runs, in memory linear in its
    * nonzero cells. Its rows equal EP1's summary of each product scored
    * by `evalRows` (`GroupedEvalSpec`). The order costs no job: the
    * groups' stage is coalesced to one task, which sorts its rows. That
    * task also runs every group's solve, one after another; a
    * `repartition(1)` would keep the groups parallel at the cost of a
    * third job (AQE runs each shuffle stage as its own job).
    */
  def evaluate(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    GroupedSummarizer.evaluatePerGroup(
        ReviewSource.sentences(ReviewSource.reviews(spark, path))
          .select($"product_id".as("grp"), $"review_id", $"sent_idx", $"sentence"))
      .toDF()
      .coalesce(1)
      .sortWithinPartitions($"product_id", $"metric")
  }
}
