package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.baseline.{OzsoyLsaSummarizer, OzsoyPowerSummarizer}
import graft.lsa.{LocalLsa, PowerCore, PowerLocalLsa, SparkNumerics}
import graft.rouge.Rouge

/** Distributed per-group extractive summarization and evaluation: the
  * LSA scorers run INSIDE `flatMapGroups`, one local SVD per group (a
  * group = one document's sentences, or one product's reviews — always
  * bounded), so a 100 TB corpus of millions of documents is processed in
  * a single shuffle-by-key job with no driver loop. This replaces the
  * reference's per-file driver iteration (SURVEY §4.1); EP3
  * (`Pipelines.evaluate`) is [[evaluatePerGroup]].
  */
object GroupedSummarizer {

  final case class SentenceRow(grp: String, sid: Long, text: String)
  final case class ScoredSentence(grp: String, sid: Long, score: Double, text: String)

  /** Top-k sentences per group by the Ozsoy cross-method score, emitted
    * in each group's original sentence order. The in-group scorer is
    * [[graft.baseline.OzsoyPowerSummarizer]] (PowerCore exact-decimal
    * SVD at deflation depth `topics`), so the whole per-group selection
    * is a pure function of the data that the ls04 oracle unrolls as a
    * keyed CTE chain.
    *
    * sents: (grp string, sid long, text string).
    */
  def topKPerGroupPower(sents: DataFrame, k: Int, topics: Int = 5,
      iters: Int = 8,
      sigmaThreshold: Double = 0.75): Dataset[ScoredSentence] = {
    val spark = sents.sparkSession
    import spark.implicits._
    sents.select(col("grp").cast("string"), col("sid").cast("long"),
        col("text").cast("string"))
      .as[SentenceRow]
      .groupByKey(_.grp)
      .flatMapGroups { (grp, it) =>
        val rows = it.toVector.sortBy(_.sid)
        val scored = OzsoyPowerSummarizer.scoreSentences(
          rows.map(_.text), topics, iters, sigmaThreshold)
        scored.sortBy(s => (-s.score, s.index)).take(k)
          .sortBy(_.index)
          .map(s => ScoredSentence(grp, rows(s.index).sid,
            OzsoyPowerSummarizer.round6(s.score),
            rows(s.index).text))
          .iterator
      }
  }

  final case class EvalSentence(grp: String, review_id: String,
      sent_idx: Int, sentence: String)
  final case class EvalRow(product_id: String, metric: String,
      precision: Double, recall: Double, f1: Double)

  // the reference's pytldr call (BigdataProjectCode.py:167-176, SURVEY V1)
  private val BaselineTopics = 15
  private val BaselineLength = 15.0

  /** EP3's scoring of one product: the Ozsoy cross-method baseline of the
    * product's ordered sentences, zip-paired with the system summaries
    * (J3: zip truncates to the shorter list), stemmed ROUGE-1/2/L, and
    * the plain mean P/R/F per metric (A7; an empty pair set gives zeros).
    */
  def evalRows(productId: String, systemSummaries: Seq[String],
      orderedSentences: Seq[String]): Seq[EvalRow] = {
    val ref = OzsoyLsaSummarizer.summarize(orderedSentences, BaselineTopics,
      BaselineLength)
    Rouge.stemmedScores(systemSummaries.zip(ref)).map { case (metric, scores) =>
      val n = math.max(scores.size, 1)
      EvalRow(productId, metric,
        scores.map(_.precision).sum / n,
        scores.map(_.recall).sum / n,
        scores.map(_.f1).sum / n)
    }
  }

  /** One `flatMapGroups` job: `score` gets each group's non-blank
    * sentences in (review_id, sent_idx) order.
    *
    * sents: (grp, review_id, sent_idx, sentence).
    */
  private def perGroup(sents: DataFrame)(
      score: (String, Vector[EvalSentence]) => Seq[EvalRow]): Dataset[EvalRow] = {
    val spark = sents.sparkSession
    import spark.implicits._
    sents.select(col("grp").cast("string"),
        col("review_id").cast("string"), col("sent_idx").cast("int"),
        col("sentence").cast("string"))
      .filter(length(trim(col("sentence"))) > 0)
      .as[EvalSentence]
      .groupByKey(_.grp)
      .flatMapGroups { (grp, it) =>
        score(grp, it.toVector.sortBy(r => (r.review_id, r.sent_idx))).iterator
      }
  }

  /** F1: the fewest space-separated words a numbered sentence has, here
    * and in `Pipelines.sentencesWithSid`.
    */
  private[graft] val MinSentenceWords = 5

  /** In-group sid numbering, as `Pipelines.sentencesWithSid` numbers a
    * product: the F1 filter (split keeps trailing empties, like Spark's
    * split(col, " ")), then 1-based ids in sentence order.
    */
  private def withSid(ordered: Seq[EvalSentence]): Seq[(Long, String)] =
    ordered.filter(_.sentence.split(" ", -1).length >= MinSentenceWords)
      .zipWithIndex.map { case (r, i) => (i + 1L, r.sentence) }

  /** The DuckDB-replayable configuration of [[evaluatePerGroup]]: both
    * in-group summarizers run on the [[PowerCore]] exact-decimal solver
    * (system = [[PowerLocalLsa]] k-concept TF-IDF summaries, baseline =
    * [[OzsoyPowerSummarizer]]), and the per-metric means are exact
    * decimal sums of the round-6 per-pair ROUGE scores — so the ENTIRE
    * evaluation (two SVD families + stemmed ROUGE-1/2/L + aggregation)
    * is a pure function of the corpus that the ls05 oracle unrolls.
    * Same single flatMapGroups shape as [[evaluatePerGroup]].
    */
  def evaluatePerGroupPower(sents: DataFrame, topics: Int = 5,
      iters: Int = 8, summaryLen: Int = 15, k: Int = 5,
      nDocs: Int = 3): Dataset[EvalRow] =
    perGroup(sents) { (grp, ordered) =>
      val sided = withSid(ordered)
      val sentenceOf = sided.toMap
      val sys = PowerLocalLsa.concepts(sided, k, iters, nDocs)
        .map(_.docIds.map(sentenceOf).mkString(" "))
      val ref = OzsoyPowerSummarizer.summarize(
        ordered.map(_.sentence), summaryLen, topics, iters).map(_._2)
      def r6(x: Double): Double = SparkNumerics.round(x, 6)
      // exact-decimal mean of the round-6 per-pair scores (the
      // oracle-replayable aggregation; empty pair set -> zeros)
      def mean(xs: Seq[Double]): Double =
        if (xs.isEmpty) 0.0 else r6(PowerCore.sum(xs.map(r6)) / xs.size)
      Rouge.stemmedScores(sys.zip(ref)).map { case (metric, scores) =>
        EvalRow(grp, metric,
          mean(scores.map(_.precision)),
          mean(scores.map(_.recall)),
          mean(scores.map(_.f1)))
      }
    }

  /** EP3 (`Pipelines.evaluate`): the per-product system-vs-baseline
    * ROUGE evaluation as ONE `flatMapGroups` job, no driver loop. Per
    * group (one product's review sentences) the system summary is
    * [[LocalLsa.concepts]] over the sid-numbered sentences, each
    * concept's top documents joined: EP1's sparse solve, about 16 B per
    * nonzero tf·idf cell. [[evalRows]] scores it; `GroupedEvalSpec`
    * checks the rows against EP1's summary of each product.
    *
    * sents: (grp, review_id, sent_idx, sentence).
    */
  def evaluatePerGroup(sents: DataFrame): Dataset[EvalRow] =
    perGroup(sents) { (grp, ordered) =>
      val sided = withSid(ordered)
      val sentenceOf = sided.toMap
      val sys = LocalLsa.concepts(sided).map(_.doc_ids.map(sentenceOf).mkString(" "))
      evalRows(grp, sys, ordered.map(_.sentence))
    }
}
