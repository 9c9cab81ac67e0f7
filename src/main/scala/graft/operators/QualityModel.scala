package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The a29 quality-classifier distillation core, factored out so the
  * batch gate query and the streaming scorer (sm17) share one
  * definition of features, training and scoring.
  *
  * The whole run is partition-order-proof: features are 6dp DECIMALs,
  * corpus means and per-round gradients are exact DECIMAL sums (each
  * per-row term rounded to 6dp first), and every weight update rounds
  * back to 6dp — so the learned model is a pure function of the data
  * and a SQL oracle replays training as [[Rounds]] unrolled CTE rounds
  * (see AnalysisQueries.lrQualityOracle).
  *
  * Scale shape: training reduces the corpus to 4 numbers per pass —
  * one mean pass plus [[Rounds]] map-reduce gradient passes over a
  * persisted 4-decimal projection; scoring is a stateless broadcast-
  * literal transform, which is what lets the STREAMING path apply the
  * offline-trained model per micro-batch with no state at all.
  */
object QualityModel {

  /** Fixed GD rounds / learning rate — shared with the SQL replay. */
  final val Rounds = 6
  final val Rate = 8.0

  /** mu = 6dp feature means; w = (bias, f1, f2, f3) 6dp weights. */
  final case class Model(mu: Array[Double], w: Array[Double])

  private def round6(d: Double): Double = graft.lsa.SparkNumerics.round(d, 6)

  /** (doc_id, h1, h2, h3, y): ln-length, digit ratio, alpha ratio as
    * 6dp DECIMALs plus the hard length/digit gate label. Narrow — safe
    * on batch and streaming frames alike.
    */
  def rawFeatures(docs: DataFrame): DataFrame = {
    val len = length(col("text")).cast("double")
    val nd = size(regexp_extract_all(col("text"), lit("[0-9]"), lit(0)))
      .cast("double")
    val na = size(regexp_extract_all(col("text"), lit("[A-Za-z]"), lit(0)))
      .cast("double")
    val dr = nd / greatest(len, lit(1.0))
    docs.select(col("doc_id"),
      round(log(lit(1.0) + len), 6).cast("decimal(18,6)").as("h1"),
      round(dr, 6).cast("decimal(18,6)").as("h2"),
      round(na / greatest(len, lit(1.0)), 6).cast("decimal(18,6)")
        .as("h3"),
      when(len >= 150.0 && dr <= 0.2, lit(1)).otherwise(lit(0))
        .cast("decimal(18,6)").as("y"))
  }

  /** Center the raw features on the model means (6dp DECIMAL again). */
  def centered(raw: DataFrame, mu: Array[Double]): DataFrame =
    raw.select(col("doc_id"),
      round(col("h1").cast("double") - mu(0), 6).cast("decimal(18,6)")
        .as("f1"),
      round(col("h2").cast("double") - mu(1), 6).cast("decimal(18,6)")
        .as("f2"),
      round(col("h3").cast("double") - mu(2), 6).cast("decimal(18,6)")
        .as("f3"),
      col("y"))

  /** z associated left-to-right exactly as the oracle writes it, so the
    * double is bit-identical in both engines; expects f1..f3 columns.
    */
  private def z(w: Array[Double]): Column =
    lit(w(0)) + col("f1").cast("double") * lit(w(1)) +
      col("f2").cast("double") * lit(w(2)) +
      col("f3").cast("double") * lit(w(3))

  def scoreCol(w: Array[Double]): Column =
    round(lit(1.0) / (lit(1.0) + exp(-z(w))), 6)

  /** Full-batch logistic GD: one mean pass, then [[Rounds]] gradient
    * passes over a persisted centered projection (released on return).
    */
  def train(raw: DataFrame): Model = {
    val muRow = raw
      .agg(count(lit(1)), sum(col("h1")), sum(col("h2")), sum(col("h3")))
      .head()
    val n = muRow.getLong(0).toDouble
    val mu = Array.tabulate(3)(k =>
      if (n > 0) round6(muRow.getDecimal(k + 1).doubleValue() / n) else 0.0)
    val feats = centered(raw, mu).persist()
    var w = Array(0.0, 0.0, 0.0, 0.0)
    try {
      for (_ <- 1 to Rounds if n > 0) {
        val r = scoreCol(w).cast("decimal(18,6)") - col("y")
        val g = feats.select(r.as("r"), col("f1"), col("f2"), col("f3"))
          .agg(sum(col("r")), sum(col("r") * col("f1")),
            sum(col("r") * col("f2")), sum(col("r") * col("f3")))
          .head()
        w = Array.tabulate(4)(k =>
          round6(w(k) - Rate * g.getDecimal(k).doubleValue() / n))
      }
    } finally feats.unpersist()
    Model(mu, w)
  }

  /** Score raw features with a trained model: (doc_id, label, score,
    * pred). Stateless — the model rides along as literals, so this is
    * the exact transform a streaming micro-batch applies.
    */
  def scored(raw: DataFrame, m: Model): DataFrame =
    centered(raw, m.mu)
      .select(col("doc_id"), col("y").cast("int").as("label"),
        scoreCol(m.w).as("score"))
      .withColumn("pred", col("score") >= 0.5)
}
