package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding vocabulary induction (Sennrich, Haddow & Birch,
  * "Neural Machine Translation of Rare Words with Subword Units", ACL
  * 2016) — the tokenizer-training step of an LLM data pipeline, run the
  * way an industrial trainer shards it:
  *
  *  1. ONE corpus-scale pass reduces the corpus to its word-TYPE
  *     frequency table (hash aggregation with map-side combine). This
  *     is the only stage that touches corpus bytes; everything after is
  *     O(|vocab types|), which is why BPE training parallelizes — the
  *     merge statistics over types weighted by frequency equal the
  *     statistics over the raw token stream.
  *  2. Each merge step is a distributed pair-count over the (tiny,
  *     distributed, never collected) type table + a top-1 argmax; only
  *     the single winning pair row ever reaches the driver, exactly
  *     like TextRank's per-iteration convergence probe.
  *
  * Symbols are managed as a unit-separator (U+001F) delimited string; each word starts
  * as its characters plus a terminal end-of-word marker `$` (the paper
  * uses `</w>`; `$` cannot collide because words are `[a-z]+`). A merge
  * of pair (l, r) is the standard greedy left-to-right scan, expressed
  * as a row-local `aggregate()` fold over the symbol list: a fresh
  * merge result never re-matches as `l` within the same pass (merged =
  * l+r is strictly longer than l), so the fold is equivalent to the
  * reference regex-replace semantics, including back-to-back runs
  * ([a,a,a,a] + (a,a) → [aa,aa]).
  *
  * Determinism: ties on pair count break by (l, r) ascending — both
  * engines compare the same ASCII strings — so the whole merge
  * trajectory is engine-stable and the DuckDB oracle can replay it
  * stage for stage (see TextQueries.t15OracleSql).
  */
object Bpe {

  val Sep = "\u001f"
  val EndMark = "$"

  /** One merge-table row: step (1-based), the winning pair, the new
    * symbol, and the weighted pair count that won the step.
    */
  final case class Merge(step: Long, l: String, r: String, merged: String,
      cnt: Long)

  /** Word-type frequency table from a token-array column: the single
    * corpus-scale aggregation of BPE training.
    */
  def wordFrequencies(toks: DataFrame, tokensCol: String): DataFrame =
    toks.select(explode(col(tokensCol)).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))

  /** Run `numMerges` BPE merge steps over a (word, freq) table; returns
    * the merge table (step, l, r, merged, cnt) ordered by step — the
    * artifact a tokenizer ships. Stops early if every word collapses to
    * a single symbol.
    */
  def merges(spark: SparkSession, wordFreq: DataFrame,
      numMerges: Int): DataFrame =
    mergesAndVocab(spark, wordFreq, numMerges)._1

  /** Subword-token frequency table after `numMerges` merge steps: the
    * trained tokenizer applied back to the corpus. Because encoding is
    * a pure function of the word TYPE, the corpus is never re-scanned —
    * the type table's final symbol strings are exploded and re-weighted
    * by type frequency (at 100 TB: encode each distinct word once,
    * broadcast-join the dictionary onto documents).
    */
  def subwordCounts(spark: SparkSession, wordFreq: DataFrame,
      numMerges: Int): DataFrame = {
    val (_, vocab) = mergesAndVocab(spark, wordFreq, numMerges)
    vocab.select(col("freq"), explode(split(col("repr"), Sep)).as("token"))
      .groupBy(col("token")).agg(sum(col("freq")).as("cnt"))
  }

  /** The trained tokenizer as an encode dictionary: (word, n_sub) —
    * how many subword symbols (end-marker symbol included) each word
    * TYPE encodes to after `numMerges` steps. Fertility audits join
    * this once-per-type table back onto the corpus (broadcast at any
    * corpus scale: the dictionary is vocabulary-sized).
    */
  def subwordDict(spark: SparkSession, wordFreq: DataFrame,
      numMerges: Int): DataFrame = {
    val (_, vocab) = mergesAndVocab(spark, wordFreq, numMerges)
    vocab.select(col("word"), size(split(col("repr"), Sep)).as("n_sub"))
  }

  /** Local-route budget (word types). */
  private val MaxLocalTypes = 2000000L

  /** Merge table + the final (word, freq, repr) word-type table.
    *
    * Scale routing (the TextRank/PowerLsa pattern): the merge loop's
    * working set is the word-TYPE table, which Heaps' law keeps
    * vocabulary-sized however large the corpus — so when the type count
    * fits a driver budget the 2·numMerges tiny Spark jobs (each a
    * shuffle + an eager checkpoint, pure scheduling overhead at this
    * size) are replaced by ONE bounded collect and a local loop walking
    * the IDENTICAL greedy recurrence (BpeSpec pins the two routes
    * row-equal). A truly unbounded type table (100 TB multilingual)
    * routes to [[mergesAndVocabDF]] unchanged.
    */
  def mergesAndVocab(spark: SparkSession, wordFreq: DataFrame,
      numMerges: Int): (DataFrame, DataFrame) = {
    require(numMerges >= 1, "numMerges must be >= 1")
    val (wf, owned) = graft.Par.cacheIfNew(wordFreq.select(col("word"),
      col("freq").cast("long").as("freq")))
    val nTypes = wf.count()
    val out =
      if (nTypes <= MaxLocalTypes) mergesAndVocabLocal(spark, wf, numMerges)
      else mergesAndVocabDF(spark, wf, numMerges)
    if (owned) wf.unpersist()
    out
  }

  /** Bounded-types route: one collect, local greedy loop — semantics
    * identical to [[mergesAndVocabDF]] (same per-position pair counts
    * weighted by type frequency, same (cnt desc, l, r) tie-break, same
    * left-to-right non-overlapping merge scan).
    */
  private def mergesAndVocabLocal(spark: SparkSession, wordFreq: DataFrame,
      numMerges: Int): (DataFrame, DataFrame) = {
    import spark.implicits._
    val types: Array[(String, Long)] =
      // collect-bound: vocabulary: word-type frequency table (Heaps-bounded)
      wordFreq.as[(String, Long)].collect()
    // chars + end marker; ASCII-ordered like the engine's ORDER BY word
    val reprs: Array[Array[String]] = types.map { case (w, _) =>
      (w.map(_.toString) :+ EndMark).toArray
    }
    val freqs = types.map(_._2)
    val merges = scala.collection.mutable.ListBuffer.empty[Merge]
    var step = 1
    var exhausted = false
    while (step <= numMerges && !exhausted) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      var i = 0
      while (i < reprs.length) {
        val s = reprs(i); val f = freqs(i)
        var p = 0
        while (p + 1 < s.length) {
          val k = (s(p), s(p + 1))
          counts.update(k, counts.getOrElse(k, 0L) + f)
          p += 1
        }
        i += 1
      }
      if (counts.isEmpty) exhausted = true
      else {
        val ((l, r), cnt) = counts.minBy { case ((l, r), c) => (-c, l, r) }
        val merged = l + r
        merges += Merge(step.toLong, l, r, merged, cnt)
        var j = 0
        while (j < reprs.length) {
          val s = reprs(j)
          // greedy left-to-right non-overlapping scan == the engine fold
          var hit = false
          var p = 0
          while (!hit && p + 1 < s.length) {
            hit = s(p) == l && s(p + 1) == r; p += 1
          }
          if (hit) {
            val b = scala.collection.mutable.ArrayBuffer.empty[String]
            var q = 0
            while (q < s.length) {
              if (q + 1 < s.length && s(q) == l && s(q + 1) == r) {
                b += merged; q += 2
              } else { b += s(q); q += 1 }
            }
            reprs(j) = b.toArray
          }
          j += 1
        }
        step += 1
      }
    }
    val vocabRows = types.indices.map { i =>
      (types(i)._1, freqs(i), reprs(i).mkString(Sep))
    }
    val parts = math.min(8, math.max(1, spark.sparkContext.defaultParallelism))
    (merges.toSeq.toDF("step", "l", "r", "merged", "cnt"),
      spark.createDataFrame(
        spark.sparkContext.parallelize(vocabRows.toSeq, parts))
        .toDF("word", "freq", "repr"))
  }

  /** Distributed route — the 100 TB path (unbounded type tables). */
  private[operators] def mergesAndVocabDF(spark: SparkSession, wordFreq: DataFrame,
      numMerges: Int): (DataFrame, DataFrame) = {
    // chars + end marker, joined on the separator; the word TYPE rides
    // along untouched so the final table doubles as an encode dictionary
    var repr = wordFreq.select(col("word"),
      col("freq").cast("long").as("freq"),
      concat(array_join(expr("regexp_extract_all(word, '.', 0)"), Sep),
        lit(Sep + EndMark)).as("repr"))
      // lineage is re-truncated every step; eager so step timing is real
      .localCheckpoint(true)
    val out = scala.collection.mutable.ListBuffer.empty[Merge]
    var step = 1
    var exhausted = false
    while (step <= numMerges && !exhausted) {
      // fully-merged words (one symbol) contribute no pairs; filtering
      // them also keeps sequence(1, size-1) ascending (ANSI-safe)
      val syms = repr.withColumn("syms", split(col("repr"), Sep))
        .filter(size(col("syms")) >= 2)
      val best: Array[Row] = syms
        .select(col("freq"), explode(expr(
          "transform(sequence(1, size(syms)-1), " +
            "i -> struct(element_at(syms, i) AS l, element_at(syms, i+1) AS r))"))
          .as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(desc("cnt"), col("l"), col("r"))
        // collect-bound: scalar: limit(1) best merge pair per round
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (l, r, cnt) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        val merged = l + r
        out += Merge(step.toLong, l, r, merged, cnt)
        // greedy left-to-right merge as a row-local fold; the pair
        // literals are [a-z$]-only so direct embedding is safe
        val prev = repr
        repr = repr.withColumn("repr", expr(
          s"""aggregate(slice(split(repr, '$Sep'), 2, size(split(repr, '$Sep')) - 1),
             |  element_at(split(repr, '$Sep'), 1),
             |  (acc, x) -> CASE
             |    WHEN (acc = '$l' OR endswith(acc, '$Sep$l')) AND x = '$r'
             |    THEN concat(substring(acc, 1, length(acc) - ${l.length}), '$merged')
             |    ELSE concat(acc, '$Sep', x) END)""".stripMargin))
          .localCheckpoint(true)
        prev.unpersist(false)
        step += 1
      }
    }
    import spark.implicits._
    (out.toSeq.toDF("step", "l", "r", "merged", "cnt"), repr)
  }

  /** BPE-encode optimality audit (cf. Bostrom & Durrett, "Byte Pair
    * Encoding is Suboptimal for Language Model Pretraining", Findings
    * of EMNLP 2020): merge-order encoding applies merges in trained
    * priority order, which is NOT guaranteed to yield the fewest
    * tokens expressible over the final vocabulary. Per word type this
    * reports both counts — bpe_ntok from the trained repr, opt_ntok
    * from a shortest-segmentation dynamic program over the same
    * effective vocabulary (the distinct symbols surviving in any final
    * repr) — and their gap.
    *
    * The DP runs as one row-local `aggregate()` fold over positions of
    * `word + EndMark` with the vocabulary as an array literal (the
    * vocabulary is merge-count-bounded, the standard broadcast-
    * dictionary size), so the audit is a narrow codegen'd map over the
    * type table: no shuffle beyond training itself, any corpus scale.
    * A word's own BPE repr is always one valid segmentation, so
    * opt_ntok <= bpe_ntok (gap >= 0) by construction.
    *
    * Output: (word, freq, bpe_ntok, opt_ntok, gap).
    */
  def optimalityGap(spark: SparkSession, wordFreq: DataFrame,
      numMerges: Int): DataFrame = {
    val (_, reprs) = mergesAndVocab(spark, wordFreq, numMerges)
    val units = reprs.select(explode(split(col("repr"), Sep)).as("u"))
      // collect-bound: vocabulary: distinct BPE units <= base chars + numMerges
      .distinct().orderBy("u").collect().map(_.getString(0)).toSeq
    val uCol = typedLit(units)
    val Big = 1000000
    val w = concat(col("word"), lit(EndMark))
    val len = length(w)
    // best(i) = fewest vocab units concatenating to prefix i of w;
    // fold appends best(i) = 1 + min over units u ending at i of
    // best(i - |u|). The when-guard keeps element_at indices >= 1.
    val best = aggregate(
      sequence(lit(1), len),
      array(lit(0)),
      (acc, i) => concat(acc, array(
        array_min(transform(uCol, u =>
          when(i >= length(u) &&
              w.substr(i - length(u) + lit(1), length(u)) === u,
            element_at(acc, i - length(u) + 1) + 1)
            .otherwise(lit(Big)))))),
      acc => element_at(acc, len + 1))
    reprs.select(col("word"), col("freq"),
      size(split(col("repr"), Sep)).as("bpe_ntok"),
      best.as("opt_ntok"))
      .withColumn("gap", col("bpe_ntok") - col("opt_ntok"))
  }
}
