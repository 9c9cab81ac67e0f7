package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.baseline.{OzsoyLsaSummarizer, OzsoyPowerSummarizer}
import graft.lsa.{LocalLsa, Lsa, PowerCore, PowerLocalLsa, SparkNumerics}
import graft.rouge.Rouge

/** Distributed per-group extractive summarization: the Ozsoy/LSA scorer
  * runs INSIDE `flatMapGroups`, one local SVD per group (a group = one
  * document's sentences, or one product's reviews — always bounded), so
  * a 100 TB corpus of millions of documents summarizes in a single
  * shuffle-by-key job with no driver loop. This is the scale counterpart
  * of the reference's per-file driver iteration (SURVEY §4.1) and of
  * `Pipelines.evaluate`'s faithful but driver-looped EP3.
  */
object GroupedSummarizer {

  final case class SentenceRow(grp: String, sid: Long, text: String)
  final case class ScoredSentence(grp: String, sid: Long, score: Double, text: String)

  /** Top-k sentences per group by the Ozsoy cross-method score (the
    * pytldr-parity default of [[OzsoyLsaSummarizer.scoreSentences]]),
    * emitted in each group's original sentence order.
    *
    * sents: (grp string, sid long, text string).
    */
  def topKPerGroup(sents: DataFrame, k: Int, topics: Int = 15,
      sigmaThreshold: Double = 0.75): Dataset[ScoredSentence] = {
    val spark = sents.sparkSession
    import spark.implicits._
    sents.select(col("grp").cast("string"), col("sid").cast("long"),
        col("text").cast("string"))
      .as[SentenceRow]
      .groupByKey(_.grp)
      .flatMapGroups { (grp, it) =>
        // one bounded group in memory; one local SVD (no Spark jobs here)
        val rows = it.toVector.sortBy(_.sid)
        val scored = OzsoyLsaSummarizer.scoreSentences(
          rows.map(_.text), topics, sigmaThreshold)
        scored.sortBy(s => (-s.score, s.index)).take(k)
          .sortBy(_.index)
          .map(s => ScoredSentence(grp, rows(s.index).sid,
            math.rint(s.score * 1e6) / 1e6, s.sentence))
          .iterator
      }
  }

  /** DuckDB-replayable variant of [[topKPerGroup]]: the in-group scorer
    * is [[graft.baseline.OzsoyPowerSummarizer]] (PowerCore exact-decimal
    * SVD at deflation depth `topics`), so the whole per-group selection
    * is a pure function of the data that the ls04 oracle unrolls as a
    * keyed CTE chain. Same flatMapGroups shape — one bounded group per
    * call, a single shuffle-by-key job at any corpus size.
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
        val scored = graft.baseline.OzsoyPowerSummarizer.scoreSentences(
          rows.map(_.text), topics, iters, sigmaThreshold)
        scored.sortBy(s => (-s.score, s.index)).take(k)
          .sortBy(_.index)
          .map(s => ScoredSentence(grp, rows(s.index).sid,
            graft.baseline.OzsoyPowerSummarizer.round6(s.score),
            rows(s.index).text))
          .iterator
      }
  }

  final case class EvalSentence(grp: String, review_id: String,
      sent_idx: Int, sentence: String)
  final case class EvalRow(product_id: String, metric: String,
      precision: Double, recall: Double, f1: Double)

  /** The DuckDB-replayable configuration of [[evaluatePerGroup]]: both
    * in-group summarizers run on the [[PowerCore]] exact-decimal solver
    * (system = [[PowerLocalLsa]] k-concept TF-IDF summaries, baseline =
    * [[OzsoyPowerSummarizer]]), and the per-metric means are exact
    * decimal sums of the round-6 per-pair ROUGE scores — so the ENTIRE
    * evaluation (two SVD families + stemmed ROUGE-1/2/L + aggregation)
    * is a pure function of the corpus that the ls05 oracle unrolls.
    * Same single flatMapGroups shape as the LAPACK variant.
    */
  def evaluatePerGroupPower(sents: DataFrame, topics: Int = 5,
      iters: Int = 8, summaryLen: Int = 15, k: Int = 5,
      nDocs: Int = 3): Dataset[EvalRow] = {
    val spark = sents.sparkSession
    import spark.implicits._
    def r6(x: Double): Double = SparkNumerics.round(x, 6)
    sents.select(col("grp").cast("string"),
        col("review_id").cast("string"), col("sent_idx").cast("int"),
        col("sentence").cast("string"))
      .filter(length(trim(col("sentence"))) > 0)
      .as[EvalSentence]
      .groupByKey(_.grp)
      .flatMapGroups { (grp, it) =>
        val ordered = it.toVector.sortBy(r => (r.review_id, r.sent_idx))
        val sided = ordered
          .filter(_.sentence.split(" ", -1).length >= 5)
          .zipWithIndex.map { case (r, i) => (i + 1L, r.sentence) }
        val sentenceOf = sided.toMap
        val concepts = PowerLocalLsa.concepts(sided, k, iters, nDocs)
        val sys = concepts.map(_.docIds.map(sentenceOf).mkString(" "))
        val ref = OzsoyPowerSummarizer.summarize(
          ordered.map(_.sentence), summaryLen, topics, iters).map(_._2)
        val pairs = sys.zip(ref)
        Seq("rouge1", "rouge2", "rougeL").map { metric =>
          val scores = pairs.map { case (s, r) =>
            metric match {
              case "rouge1" => Rouge.rougeN(s, r, 1, stem = true)
              case "rouge2" => Rouge.rougeN(s, r, 2, stem = true)
              case _ => Rouge.rougeL(s, r, stem = true)
            }
          }
          // exact-decimal mean of the round-6 per-pair scores (the
          // oracle-replayable aggregation; empty pair set -> zeros)
          def mean(xs: Seq[Double]): Double =
            if (xs.isEmpty) 0.0 else r6(PowerCore.sum(xs.map(r6)) / xs.size)
          EvalRow(grp, metric,
            mean(scores.map(_.precision)),
            mean(scores.map(_.recall)),
            mean(scores.map(_.f1)))
        }.iterator
      }
  }

  /** EP3 at scale: the full per-product system-vs-baseline ROUGE
    * evaluation of `Pipelines.evaluate` as ONE `flatMapGroups` job — no
    * driver loop, no per-product Spark jobs. Per group (bounded: one
    * product's review sentences):
    *
    *  1. system summary: [[LocalLsa.concepts]] (the local mirror of the
    *     distributed `Lsa.concepts`) over the sid-numbered sentences,
    *     concepts' top documents in concept order;
    *  2. baseline: Ozsoy cross-method summary of the ordered sentences
    *     (same call as `Pipelines.evaluate`);
    *  3. zip-paired (J3 truncation; `conceptPairs` exactly as in
    *     `Pipelines.evaluate`), stemmed ROUGE-1/2/L, mean P/R/F per
    *     metric (A7).
    *
    * `GroupedEvalSpec` asserts equality with `Pipelines.evaluate` on the
    * review fixture.
    *
    * sents: (grp, review_id, sent_idx, sentence).
    */
  def evaluatePerGroup(sents: DataFrame, topics: Int = 15,
      summaryLen: Int = 15, conceptPairs: Boolean = true,
      lsaCfg: Lsa.Config = Lsa.Config()): Dataset[EvalRow] = {
    val spark = sents.sparkSession
    import spark.implicits._
    sents.select(col("grp").cast("string"),
        col("review_id").cast("string"), col("sent_idx").cast("int"),
        col("sentence").cast("string"))
      .filter(length(trim(col("sentence"))) > 0)
      .as[EvalSentence]
      .groupByKey(_.grp)
      .flatMapGroups { (grp, it) =>
        val ordered = it.toVector.sortBy(r => (r.review_id, r.sent_idx))
        // sid numbering mirrors Pipelines.sentencesWithSid: (review_id,
        // sent_idx) order, 1-based, F1 space-word filter (split keeps
        // trailing empties, like Spark's split(col, " "))
        val sided = ordered
          .filter(_.sentence.split(" ", -1).length >= 5)
          .zipWithIndex.map { case (r, i) => (i + 1L, r.sentence) }
        val sentenceOf = sided.toMap
        val concepts = LocalLsa.concepts(sided, lsaCfg).sortBy(_.concept)
        val sys =
          if (conceptPairs) concepts.map(_.docIds.map(sentenceOf).mkString(" "))
          else concepts.flatMap(_.docIds.map(sentenceOf))
        val ref = OzsoyLsaSummarizer.summarize(
          ordered.map(_.sentence), topics, summaryLen.toDouble)
        val pairs = sys.zip(ref)
        Seq("rouge1", "rouge2", "rougeL").map { metric =>
          val scores = pairs.map { case (s, r) =>
            metric match {
              case "rouge1" => Rouge.rougeN(s, r, 1, stem = true)
              case "rouge2" => Rouge.rougeN(s, r, 2, stem = true)
              case _ => Rouge.rougeL(s, r, stem = true)
            }
          }
          val n = math.max(scores.size, 1)
          EvalRow(grp, metric,
            scores.map(_.precision).sum / n,
            scores.map(_.recall).sum / n,
            scores.map(_.f1).sum / n)
        }.iterator
      }
  }
}
