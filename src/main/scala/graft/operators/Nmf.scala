package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Fnv
import graft.lsa.SparkNumerics

/** Nonnegative matrix factorization of the TF-IDF doc×term matrix by
  * Lee–Seung multiplicative updates (NIPS 2000) — the classic
  * deterministic topic extractor: V ≈ W·H with W (doc×k) and H
  * (k×term) elementwise nonnegative,
  *
  *   W ← W ∘ (V Hᵀ) ⊘ (W·(H Hᵀ) + ε)
  *   H ← H ∘ (Wᵀ V) ⊘ ((Wᵀ W)·H + ε)     (H's update uses the NEW W)
  *
  * run for a FIXED number of rounds from an FNV-seeded init, so the
  * factorization is a pure function of the corpus (no RNG) and a SQL
  * oracle replays every round.
  *
  * Determinism: all matrix entries live as 6dp DECIMALs; every matrix
  * product is a sum of exact DECIMAL products (partition-order-proof),
  * rounded back to 6dp after the divide. The only floats are the
  * per-entry multiply/divide, written with identical association in
  * both engines.
  *
  * Scale shape: H and the k×k Gram matrices are vocabulary-/k-bounded
  * — broadcast; W is doc-sized and stays distributed. Per round: one
  * broadcast join V⋈H grouped by (doc, topic), one broadcast Gram
  * join on W, one shuffle-join V⋈W grouped by (topic, term) — the
  * corpus-sized V is touched twice per round, never self-joined.
  */
object Nmf {

  /** Banded TF-IDF matrix (doc_id, term, v): v = round(tf·ln(N/df), 6)
    * over terms with df ≤ maxDfFrac·N (stopword band dropped).
    */
  def tfidf(docs: DataFrame, maxDfFrac: Double = 0.5): DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode(graft.text.TextFunctions.tokenize(col("text"))).as("term"))
    val tf = toks.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.select(countDistinct(col("doc_id")).as("n_docs"))
    tf.join(df, Seq("term"))
      .crossJoin(broadcast(n))
      .filter(col("df") <= col("n_docs") * maxDfFrac)
      .select(col("doc_id"), col("term"),
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6)
          .cast("decimal(18,6)").as("v"))
  }

  /** FNV-seeded init in (0, 1]: ((fnv1a(key) mod 1000) + 1) / 1000. */
  private def init(key: org.apache.spark.sql.Column) =
    ((pmod(Fnv.fnv1a64(key), lit(1000L)) + 1).cast("double") / 1000.0)
      .cast("decimal(18,6)")

  /** One multiplicative factor: round(x·num/(den+ε), 6) as DECIMAL. */
  private def stepped(x: String, num: String, den: String) =
    round(col(x).cast("double") * col(num).cast("double") /
      (col(den).cast("double") + 1e-9), 6).cast("decimal(18,6)")

  /** Local-route budget (nonzero cells). */
  private val MaxLocalNnz = 2000000

  /** Run `rounds` update rounds at rank k. Returns (W (doc_id, topic,
    * w), H (topic, term, h)), both 6dp DECIMAL.
    *
    * Scale routing (r15; the Hits/PowerLsa pattern): under the nnz
    * budget, ONE bounded collect ([[LocalRoute.collectWithin]]) feeds a
    * local loop walking the IDENTICAL exact-decimal multiplicative updates
    * (NmfLocalTwinSpec pins the routes bit-equal) — at gate scale this
    * replaces 2·rounds eager-checkpoint jobs of 3 grouped matrix
    * products each, for every ls10/ls11/ls13-class consumer. Above the
    * budget [[factorizeDistributed]] runs (the 100 TB path).
    */
  def factorize(v: DataFrame, k: Int, rounds: Int): (DataFrame, DataFrame) =
    LocalRoute.collectWithin(
        v.select(col("doc_id"), col("term"), col("v")), MaxLocalNnz) match {
      case Some(rows) => factorizeLocal(v, rows, k, rounds)
      case None => factorizeDistributed(v, k, rounds)
    }

  /** The distributed update loop: per round three grouped matrix
    * products for W and three for H, lineage cut with localCheckpoint.
    */
  private[operators] def factorizeDistributed(v: DataFrame, k: Int,
      rounds: Int): (DataFrame, DataFrame) = {
    val spark = v.sparkSession
    import spark.implicits._
    val vp = v.persist()
    val topics = spark.range(k).select($"id".cast("int").as("topic"))
    var w = vp.select($"doc_id").distinct()
      .crossJoin(broadcast(topics))
      .select($"doc_id", $"topic",
        init(concat($"doc_id".cast("string"), lit(":"),
          $"topic".cast("string"))).as("w"))
      .localCheckpoint()
    var h = vp.select($"term").distinct()
      .crossJoin(broadcast(topics))
      .select($"topic", $"term",
        init(concat($"term", lit(":"), $"topic".cast("string"))).as("h"))
      .localCheckpoint()
    for (_ <- 1 to rounds) {
      // ---- W update (uses current H) ----
      val g = h.as("a").join(h.as("b"), "term")
        .groupBy($"a.topic".as("t1"), $"b.topic".as("t2"))
        .agg(round(sum($"a.h" * $"b.h").cast("double"), 6)
          .cast("decimal(18,6)").as("g"))
      val numW = vp.join(broadcast(h), Seq("term"))
        .groupBy($"doc_id", $"topic")
        .agg(round(sum($"v" * $"h").cast("double"), 6)
          .cast("decimal(18,6)").as("num"))
      val denW = w.join(broadcast(g), $"topic" === $"t1")
        .groupBy($"doc_id", $"t2")
        .agg(round(sum($"w" * $"g").cast("double"), 6)
          .cast("decimal(18,6)").as("den"))
        .withColumnRenamed("t2", "topic")
      w = w.join(numW, Seq("doc_id", "topic"), "left")
        .join(denW, Seq("doc_id", "topic"))
        .select($"doc_id", $"topic",
          // defensive: a (doc, topic) with no numW row scores 0
          coalesce(stepped("w", "num", "den"),
            lit(0).cast("decimal(18,6)")).as("w"))
        .localCheckpoint()
      // ---- H update (uses the NEW W) ----
      val f = w.as("a").join(w.as("b"), "doc_id")
        .groupBy($"a.topic".as("t1"), $"b.topic".as("t2"))
        .agg(round(sum($"a.w" * $"b.w").cast("double"), 6)
          .cast("decimal(18,6)").as("f"))
      val numH = vp.join(w, Seq("doc_id"))
        .groupBy($"topic", $"term")
        .agg(round(sum($"v" * $"w").cast("double"), 6)
          .cast("decimal(18,6)").as("num"))
      val denH = h.join(broadcast(f), $"topic" === $"t1")
        .groupBy($"t2", $"term")
        .agg(round(sum($"h" * $"f").cast("double"), 6)
          .cast("decimal(18,6)").as("den"))
        .withColumnRenamed("t2", "topic")
      h = h.join(numH, Seq("topic", "term"))
        .join(denH, Seq("topic", "term"))
        .select($"topic", $"term",
          stepped("h", "num", "den").as("h"))
        .localCheckpoint()
    }
    (w, h)
  }

  /** Bounded-collect twin of [[factorize]] — every DF op mirrored 1:1
    * on arrays so values are bit-identical:
    *  - init = the same FNV-1a seed expression
    *    (((fnv1a64(key) mod 1000)+1)/1000 as double, cast to 6dp
    *    decimal);
    *  - every matrix product is an EXACT decimal sum of exact
    *    decimal×decimal products (scale 6 × scale 6 → scale 12), cast
    *    to double, then `round(_, 6).cast(decimal(18,6))` through
    *    [[graft.lsa.SparkNumerics]];
    *  - the multiplicative step is the same plain-double
    *    `x·num/(den+1e-9)` rounded at 6dp.
    * Sum order never reaches a value (decimal addition is exact).
    */
  private def factorizeLocal(v: DataFrame,
      rows: Array[org.apache.spark.sql.Row], k: Int,
      rounds: Int): (DataFrame, DataFrame) = {
    import java.math.{BigDecimal => JBig}
    val spark = v.sparkSession
    val docIds: Array[Any] = rows.map(_.get(0)).distinct
    val terms: Array[String] = rows.map(_.getString(1)).distinct
    val dIdx: Map[Any, Int] = docIds.zipWithIndex.toMap
    val tIdx: Map[String, Int] = terms.zipWithIndex.toMap
    val nd = docIds.length
    val nt = terms.length
    val cd = rows.map(r => dIdx(r.get(0)))
    val ct = rows.map(r => tIdx(r.getString(1)))
    val cv: Array[JBig] = rows.map(_.getDecimal(2))

    // round(x, 6).cast("decimal(18,6)"); NaN/Inf are unreachable here
    // (den+1e-9 > 0 keeps every divide finite)
    def r6(x: Double): JBig = SparkNumerics.dec(SparkNumerics.round(x, 6), 18, 6)
    def init(key: String): JBig = {
      val hv = graft.functions.Fnv.hashUtf8(
        org.apache.spark.unsafe.types.UTF8String.fromString(key))
      val m = ((hv % 1000L) + 1000L) % 1000L
      SparkNumerics.dec((m + 1).toDouble / 1000.0, 18, 6)
    }
    def stepped(x: JBig, num: JBig, den: JBig): JBig =
      r6(x.doubleValue * num.doubleValue / (den.doubleValue + 1e-9))

    var w: Array[Array[JBig]] = Array.tabulate(nd, k)((d, t) =>
      init(s"${docIds(d)}:$t"))
    var h: Array[Array[JBig]] = Array.tabulate(k, nt)((t, m) =>
      init(s"${terms(m)}:$t"))

    // exact-decimal grouped product: out(i)(j) = r6(Σ a·b as double)
    def gram(m: Array[Array[JBig]], n: Int): Array[Array[JBig]] = {
      // g[t1][t2] = Σ over the shared axis of m(t1)(x)·m(t2)(x)
      Array.tabulate(k, k) { (t1, t2) =>
        var acc = JBig.ZERO
        var x = 0
        while (x < n) { acc = acc.add(m(t1)(x).multiply(m(t2)(x))); x += 1 }
        r6(acc.doubleValue)
      }
    }
    var round = 0
    while (round < rounds) {
      // ---- W update (uses current H) ----
      val g = gram(h, nt) // h·hᵀ over terms
      val numW = Array.fill(nd, k)(JBig.ZERO)
      var i = 0
      while (i < cv.length) {
        var t = 0
        while (t < k) {
          numW(cd(i))(t) = numW(cd(i))(t).add(cv(i).multiply(h(t)(ct(i))))
          t += 1
        }
        i += 1
      }
      val wNew = Array.tabulate(nd, k) { (d, t2) =>
        var den = JBig.ZERO
        var t1 = 0
        while (t1 < k) { den = den.add(w(d)(t1).multiply(g(t1)(t2))); t1 += 1 }
        stepped(w(d)(t2), r6(numW(d)(t2).doubleValue), r6(den.doubleValue))
      }
      w = wNew
      // ---- H update (uses the NEW W) ----
      val wt = Array.tabulate(k, nd)((t, d) => w(d)(t))
      val f = gram(wt, nd) // wᵀ·w over docs
      val numH = Array.fill(k, nt)(JBig.ZERO)
      i = 0
      while (i < cv.length) {
        var t = 0
        while (t < k) {
          numH(t)(ct(i)) = numH(t)(ct(i)).add(cv(i).multiply(w(cd(i))(t)))
          t += 1
        }
        i += 1
      }
      val hNew = Array.tabulate(k, nt) { (t2, m) =>
        var den = JBig.ZERO
        var t1 = 0
        while (t1 < k) { den = den.add(h(t1)(m).multiply(f(t1)(t2))); t1 += 1 }
        stepped(h(t2)(m), r6(numH(t2)(m).doubleValue), r6(den.doubleValue))
      }
      h = hNew
      round += 1
    }

    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DecimalType, IntegerType, StructField, StructType}
    val docField = v.schema("doc_id")
    val termField = v.schema("term")
    val wDf = spark.createDataFrame(
      spark.sparkContext.parallelize(
        (for (d <- docIds.indices; t <- 0 until k)
          yield Row(docIds(d), t, w(d)(t))).toIndexedSeq, 1),
      StructType(Seq(docField, StructField("topic", IntegerType, false),
        StructField("w", DecimalType(18, 6), nullable = true))))
    val hDf = spark.createDataFrame(
      spark.sparkContext.parallelize(
        (for (t <- 0 until k; m <- terms.indices)
          yield Row(t, terms(m), h(t)(m))).toIndexedSeq, 1),
      StructType(Seq(StructField("topic", IntegerType, false),
        termField.copy(name = "term"),
        StructField("h", DecimalType(18, 6), nullable = true))))
    (wDf, hDf)
  }

  /** Per-document topic mixture from W: dominant topic (argmax weight,
    * lowest-topic tiebreak) and its share of the document's total topic
    * mass — (doc_id, topic, share). The total is a DECIMAL-exact sum of
    * the k 6dp weights, so the share is partition-order-proof; an
    * all-zero row (a doc the updates zeroed out) reports share 0.
    */
  def topicMixture(w: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tot = w.groupBy(col("doc_id")).agg(sum(col("w")).as("s"))
    val win = Window.partitionBy(col("doc_id"))
      .orderBy(col("w").desc, col("topic"))
    w.withColumn("rn", row_number().over(win))
      .filter(col("rn") === 1)
      .join(tot, Seq("doc_id"))
      .select(col("doc_id"), col("topic"),
        round(when(col("s").cast("double") === 0.0, 0.0)
          .otherwise(col("w").cast("double") / col("s").cast("double")), 6)
          .as("share"))
  }

  /** Per-topic top-n terms: (topic, rnk, term, weight). */
  def topTerms(h: DataFrame, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("topic"))
      .orderBy(col("h").desc, col("term"))
    h.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= n)
      .select(col("topic"), col("rnk"), col("term"),
        col("h").cast("double").as("weight"))
  }
}
