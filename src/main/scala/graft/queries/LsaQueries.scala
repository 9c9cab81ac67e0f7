package graft.queries

import org.apache.spark.sql.functions._

import graft.baseline.OzsoyPowerSummarizer
import graft.lsa.{Lsa, PowerLsa}
import graft.tables.Tables
import graft.text.{TextFunctions => TF}
import graft.tfidf.TfIdf

/** LSA concept extraction + the pytldr-equivalent baseline (EP1/V1).
  * SVD factors are not SQL-expressible, so these are rows-only checks;
  * determinism comes from the Q9 sign convention and pinned vocabulary
  * order, asserted in unit tests.
  */
object LsaQueries extends QueryProvider {

  /** Power-method rounds for the power SVD family (declared BEFORE
    * `all` — the oracle string is built eagerly at object init).
    */
  private[graft] val PowerIters = 8

  /** ls01 gate shape: k concepts, top-3 keywords / docs each.
    * (All gate parameters sit BEFORE `all` — the oracle strings are
    * built eagerly at object init.)
    */
  private val K = 5
  private val NKw = PowerLsa.NKeywords
  private val NDoc = PowerLsa.NDocs

  /** Deflation depth for the Ozsoy power queries (see
    * OzsoyPowerSummarizer: the 0.75 σ-threshold keeps the surviving set
    * well inside 5 concepts — OzsoyPowerSpec asserts it on gate data).
    */
  private val OzsoyTopics = 5

  override val all: Seq[Q] = Seq(

    // The reference's k=5 LSA concept table (BigdataProjectCode.py:138)
    // as a fully DuckDB-replayed query: the TF-IDF matrix (lemma'd LSA
    // token pipeline, quirk Q3 idf) factored by the PowerCore implicit-
    // deflation recurrence — the k-concept generalization of ls06/ls07.
    // The production ARPACK solver stays a first-class path as
    // ls08_concepts_arpack (below), which cross-gates against LAPACK
    // in-query; PowerLsaSpec ties the two families together.
    Q(
      "ls01_concepts",
      (s, dir) => {
        import s.implicits._
        PowerLsa.kConceptsShared(s, powerCells(s, dir, lemma = true),
            factorsKey(dir, lemma = true), K, PowerIters)
          .orderBy($"concept")
      },
      Some(ls01OracleSql)),

    // The production-solver sibling: the distributed Lanczos SVD
    // (graft.lsa.Svd, one Spark job per step — the path a 100 TB corpus
    // calls), taken at every scale through Lsa.conceptsDistributed.
    // Verified at EVERY scale, two layers:
    //  1. the solver's built-in eigen-residual gate (unconditional —
    //     including here, including under Bench): one distributed pass
    //     proves each returned (σⱼ, vⱼ) is a genuine singular triple of
    //     this matrix (‖AᵀAvⱼ−σⱼ²vⱼ‖ ≤ 1e-6·σⱼ²), so the solver cannot
    //     silently return garbage at any corpus size — the r5
    //     "unverified above 2000 docs" gap.
    //  2. Below 2000 docs, additionally the cell-for-cell dense-LAPACK
    //     twin (LocalLsa.lapackConcepts): σ within 1e-3 relative and
    //     identical keyword/doc selections. Above that, Stress
    //     cross-checks σ against the PowerLsa twin on the gap-separated
    //     leaders (a degenerate cluster — sf0.1 has σ₂≈σ₃≈σ₄ within 1% —
    //     cannot be separated by any bounded-iteration power method; the
    //     residual gate covers those concepts instead).
    // Rows-only at the DuckDB layer by nature of the solver; the k=5
    // semantics themselves are hash-verified via ls01's power twin.
    Q(
      "ls08_concepts_arpack",
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir)
        val out = Lsa.conceptsDistributed(docs, "doc_id", "text")
        val nDocs = docs.count()
        // Bounded verification collect: covers the correctness gate
        // (sf0.01 = 500 docs); at bench scale the in-query residual gate
        // (above) is the verifier — the dense LAPACK mirror at 5k×vocab
        // would dominate the timing, not the solver.
        if (nDocs <= 2000L) {
          val local = graft.lsa.LocalLsa.lapackConcepts(
            docs.select($"doc_id".cast("long"), $"text")
              // collect-bound: fixture: LAPACK truth twin, gated on nDocs <= 2000 just above
              .as[(Long, String)].collect().toSeq.sortBy(_._1))
          // collect-bound: model: k concept rows
          val dist = out.orderBy($"concept").collect()
          require(dist.length == local.length,
            s"Lanczos returned ${dist.length} concepts, LAPACK ${local.length}")
          dist.zip(local).foreach { case (r, lc) =>
            val sd = r.getAs[Double]("singular_value")
            require(math.abs(sd - lc.singular_value) <=
                1e-3 * math.max(1.0, math.abs(lc.singular_value)),
              s"concept ${lc.concept}: Lanczos sigma $sd vs LAPACK ${lc.singular_value}")
            require(r.getAs[Seq[String]]("keywords") == lc.keywords,
              s"concept ${lc.concept}: keyword sets diverge")
            require(r.getAs[Seq[Long]]("doc_ids") == lc.doc_ids,
              s"concept ${lc.concept}: doc selections diverge")
          }
        }
        out.select($"concept",
            round($"singular_value", 4).as("singular_value"),
            concat_ws(" ", $"keywords").as("keywords"),
            concat_ws(" ", $"doc_ids").as("doc_ids"))
          .orderBy($"concept")
      },
      None,
      bench = true,
      // Bench/stress tier only: the ARPACK float internals are un-oracle-
      // able by nature (the k=5 semantics are hash-gated via ls01's power
      // twin; this entry is verified in-process by the eigen-residual gate
      // at every scale plus the dense-LAPACK mirror below 2000 docs).
      gate = false),

    // The pytldr-equivalent baseline (V1/H3) in its DuckDB-replayable
    // configuration: the Ozsoy cross-method over a PowerCore-factored
    // binary matrix (OzsoyPowerSummarizer doc). V1 is a driver-local
    // per-document baseline by design; the "document" here is the
    // ordered en-corpus slice. The LAPACK/topics=15 parity anchor stays
    // OzsoyLsaSummarizer + OzsoySpec/AnchorSpec/OzsoyPowerSpec.
    Q(
      "ls02_baseline_scores",
      (s, dir) => {
        import s.implicits._
        val sents = baselineSents(s, dir)
        val scored = OzsoyPowerSummarizer.scoreSentences(
          sents, OzsoyTopics, PowerIters)
        s.createDataFrame(scored.map(x =>
            (x.index.toLong, OzsoyPowerSummarizer.round6(x.score))))
          .toDF("sent_idx", "score")
          .orderBy($"sent_idx")
      },
      Some(s"""$ozsoyChainSql
             |SELECT sid AS sent_idx, round(score, 6) AS score
             |FROM scall ORDER BY sent_idx""".stripMargin)),

    // Per-group (per-source) extractive top-k in one flatMapGroups job —
    // one local SVD per bounded group, no driver loop. The in-group
    // scorer is the PowerCore configuration, so the whole selection is
    // DuckDB-replayed as a keyed chain (20 groups ride the same CTEs).
    Q(
      "ls04_grouped_topk",
      (s, dir) => {
        import s.implicits._
        val sents = Tables.documents(s, dir)
          .select($"source".as("grp"), $"doc_id".as("sid"), $"text")
        graft.operators.GroupedSummarizer
          .topKPerGroupPower(sents, 3, OzsoyTopics, PowerIters)
          .toDF()
          .select($"grp", $"sid", $"score")
          .orderBy($"grp", $"sid")
      },
      Some(ls04OracleSql)),

    // EP3 at scale: per-source system-vs-baseline ROUGE table in ONE
    // flatMapGroups job (no driver loop), in its DuckDB-replayable
    // configuration — both in-group summarizers on the PowerCore
    // solver, stemmed ROUGE-1/2/L, exact-decimal means. The oracle
    // unrolls the ENTIRE evaluation: two keyed power chains (system
    // TF-IDF k=5 with morphy lemmas + baseline binary Ozsoy), the
    // Porter stemmer, n-gram overlap, the recursive-CTE LCS, and the
    // per-group means. The Lanczos composite (evaluatePerGroup) is
    // Pipelines.evaluate itself, pinned by GroupedEvalSpec.
    Q(
      "ls05_grouped_eval",
      (s, dir) => {
        import s.implicits._
        val sents = Tables.documents(s, dir)
          .select($"source".as("grp"), $"doc_id".cast("string").as("review_id"),
            lit(0).as("sent_idx"), $"text".as("sentence"))
        graft.operators.GroupedSummarizer
          .evaluatePerGroupPower(sents, OzsoyTopics, PowerIters,
            summaryLen = 15, k = K, nDocs = NDoc)
          .toDF()
          .select($"product_id", $"metric",
            round($"precision", 6).as("precision"),
            round($"recall", 6).as("recall"),
            round($"f1", 6).as("f1"))
          .orderBy($"product_id", $"metric")
      },
      Some(ls05OracleSql)),

    Q(
      "ls03_baseline_summary",
      (s, dir) => {
        import s.implicits._
        val sents = baselineSents(s, dir)
        val summary = OzsoyPowerSummarizer.summarize(sents, length = 15,
          OzsoyTopics, PowerIters)
        s.createDataFrame(summary).toDF("pos", "sentence").orderBy($"pos")
      },
      Some(s"""$ozsoyChainSql,
             |sel AS (SELECT sid FROM scall ORDER BY score DESC, sid LIMIT 15)
             |SELECT row_number() OVER (ORDER BY sid) - 1 AS pos,
             |  text AS sentence
             |FROM sents JOIN sel USING (sid) ORDER BY pos""".stripMargin)),

    // The SVD family's ORACLE-CHECKED member: top singular triple of
    // the t05 TF-IDF matrix via the deterministic fixed-iteration power
    // method (PowerLsa — decimal-exact matvecs, IEEE-pinned norms,
    // cells rounded on both sides), with DuckDB unrolling the identical
    // recurrence. ls01's ARPACK path remains the production solver for
    // k concepts; PowerLsaSpec ties the two together on a fixture. This
    // closes the "SVD not SQL-expressible" gap the same way s03 closed
    // it for KMeans: make the algorithm a pure function of the data.
    // S5 (the stdout report sink) as a GATE QUERY — the last unit-only
    // §2 row: the reference prints its concept report line-by-line
    // (BigdataProjectCode.py:144-152 with the round(x,2) formatting of
    // :399-401); here the same line is a TABLE (Pipelines.conceptReport)
    // over the ls01 power concepts, and DuckDB rebuilds the exact string
    // — decimal-cast σ, keyword/doc lists — from the same k-concept
    // chain, so even the presentation layer is hash-verified.
    Q(
      "ls09_concept_report",
      (s, dir) => {
        import s.implicits._
        val concepts = PowerLsa.kConceptsShared(s,
            powerCells(s, dir, lemma = true),
            factorsKey(dir, lemma = true), K, PowerIters)
          .withColumnRenamed("doc_ids", "sentence_ids")
        graft.pipeline.Pipelines.conceptReport(concepts).orderBy($"concept")
      },
      Some(s"""$ls01ReportSql"""),
      bench = false),

    Q(
      "ls06_power_concept",
      (s, dir) => {
        import s.implicits._
        PowerLsa.topSingular(powerCells(s, dir), iters = PowerIters)
          .orderBy($"kind", $"ident")
      },
      Some(powerOracleSql(PowerIters))),

    // Second concept via IMPLICIT deflation — A₂ᵀA₂ = AᵀA − σ₁²v₁v₁ᵀ,
    // so the residual never densifies: each round is the same two
    // sparse matvecs plus a dot product and a rank-1 correction on the
    // vocabulary-sized vector. The oracle replays BOTH concepts
    // (concept 1's chain feeds σ₁ and v₁) — a two-factor SVD, fully
    // hash-checked.
    Q(
      "ls07_power_concept2",
      (s, dir) => {
        import s.implicits._
        PowerLsa.secondSingular(powerCells(s, dir), iters = PowerIters)
          .orderBy($"kind", $"ident")
      },
      Some(secondOracleSql(PowerIters))),

    // NMF topic extraction (Lee–Seung multiplicative updates) over the
    // documents TF-IDF matrix — the nonnegative, parts-based complement
    // to the SVD family: k=4 topics, 4 fixed update rounds from an
    // FNV-seeded init, per-topic top-10 terms. Every matrix product is
    // a DECIMAL sum rounded to 6dp, so DuckDB replays both rounds.
    Q(
      "ls10_nmf_topics",
      (s, dir) => {
        import s.implicits._
        // band at 0.9N: the synthetic corpus has a ~31-term vocabulary
        // where most terms hit 75-80% of docs — d15's 0.5N stopword
        // band would leave a single term; 0.9N drops only the (absent
        // here) universal stratum while keeping idf > 0 informative
        val v = graft.operators.Nmf.tfidf(
          graft.Par.fanOut(Tables.documents(s, dir)), maxDfFrac = 0.9)
        val (_, h) = graft.operators.Nmf.factorize(v, k = NmfK,
          rounds = NmfRounds)
        graft.operators.Nmf.topTerms(h, 10).orderBy($"topic", $"rnk")
      },
      Some(nmfOracleSql)),

    // The W side of the same factorization: per-document topic mixture
    // — dominant topic (argmax weight, topic tiebreak) and its share of
    // the doc's total topic mass. The oracle rides the identical
    // unrolled W/H chain; only the final select differs.
    Q(
      "ls11_topic_mixture",
      (s, dir) => {
        import s.implicits._
        val v = graft.operators.Nmf.tfidf(
          graft.Par.fanOut(Tables.documents(s, dir)), maxDfFrac = 0.9)
        val (w, _) = graft.operators.Nmf.factorize(v, k = NmfK,
          rounds = NmfRounds)
        graft.operators.Nmf.topicMixture(w).orderBy($"doc_id")
      },
      Some(nmfMixtureOracleSql)),

    // Spectral energy curve — the "how many concepts" model-selection
    // harness (the LSA analog of sk11/s13's parameter sweeps): per
    // concept j, σⱼ and the cumulative Σσᵢ²/‖A‖²_F captured-energy
    // fraction, from the SAME k-concept power-deflation chain ls01
    // rides. One extra pass computes the Frobenius total as an exact
    // decimal sum; the 4-row cumulative window is decimal-summed in
    // concept order so both engines agree bit-for-bit.
    Q(
      "ls12_energy_curve",
      (s, dir) => {
        import s.implicits._
        val cells = powerCells(s, dir)
        val fro = cells.agg(
          sum(($"a" * $"a").cast("decimal(38,12)")).cast("double")
            .as("fro2"))
        val conc = PowerLsa.kConceptsShared(s, cells,
            factorsKey(dir, lemma = false), k = 4, PowerIters)
          .select($"concept", $"singular_value")
        val w = org.apache.spark.sql.expressions.Window
          .orderBy($"concept")
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, 0)
        conc.crossJoin(broadcast(fro))
          .withColumn("cum2",
            sum(($"singular_value" * $"singular_value")
              .cast("decimal(38,12)")).over(w).cast("double"))
          .select($"concept", $"singular_value",
            round($"cum2" / $"fro2", 6).as("energy_frac"))
          .orderBy($"concept")
      },
      Some(energyCurveOracleSql)),

    // UMass topic coherence (Mimno et al. 2011) over the ls10 NMF
    // topics — the intrinsic eval that says whether the factorization
    // found TOPICS or noise: per topic, Σ over ordered top-word pairs
    // of ln((D(wi,wj)+1)/D(wj)) from document co-occurrence counts.
    // The pair table is topics×10 rows (broadcast); co-occurrence is
    // two joins against the distinct (doc, term) table; the sum
    // passes through DECIMAL so partition order is unobservable.
    Q(
      "ls13_topic_coherence",
      (s, dir) => {
        import s.implicits._
        val docs = graft.Par.fanOut(Tables.documents(s, dir))
        val v = graft.operators.Nmf.tfidf(docs, maxDfFrac = 0.9)
        val (_, h) = graft.operators.Nmf.factorize(v, k = NmfK,
          rounds = NmfRounds)
        val top5 = graft.operators.Nmf.topTerms(h, 5)
          .select($"topic", $"rnk", $"term")
        val pt = top5.as("a").join(top5.as("b"),
            $"a.topic" === $"b.topic" && $"a.rnk" > $"b.rnk")
          .select($"a.topic".as("topic"), $"a.term".as("ti"),
            $"b.term".as("tj"))
        val dt = docs.select($"doc_id",
          explode(array_distinct(TF.tokenize($"text"))).as("term"))
          .persist() // feeds dj AND both legs of the co-occurrence join
        val dj = dt.groupBy($"term").agg(count(lit(1)).as("d"))
        val dij = broadcast(pt)
          .join(dt.as("x"), $"x.term" === $"ti", "left")
          .join(dt.as("y"),
            $"y.term" === $"tj" && $"y.doc_id" === $"x.doc_id", "left")
          .groupBy($"topic", $"ti", $"tj")
          .agg(count($"y.doc_id").as("d2"))
        dij.join(broadcast(dj), $"term" === $"tj")
          .groupBy($"topic")
          .agg(count(lit(1)).as("n_pairs"),
            round(sum(log(($"d2" + 1) * lit(1.0) / $"d")
              .cast("decimal(38,18)")).cast("double"), 6).as("coherence"))
          .orderBy($"topic")
      },
      Some(coherenceOracleSql)),

    // LSI retrieval (ls14) — the fold-in that closes the LSA loop
    // (Deerwester et al. 1990 §4): queries project into concept space
    // as q̂_j = Σ_t q_t·v_j(t)/σ_j, documents are their Av_j/σ_j rows,
    // and ranking is the 4-dim concept-space cosine — the latent
    // matching that lexical TF-IDF (t05/t13) cannot do. Queries here
    // are docs 0-4 (each must rank itself #1 — a built-in sanity
    // property the hash check pins). Factors come from
    // PowerLsa.kFactorsShared (the same factor chain ls01 rides);
    // all concept-space sums are DECIMAL-exact in concept order.
    Q(
      "ls14_lsi_retrieval",
      (s, dir) => {
        import s.implicits._
        val DecT = "decimal(38,18)"
        val cells = powerCells(s, dir).select($"id", $"token", $"a")
        // factors come from the shared memo (same chain as ls12) through
        // the local-budget auto route; only the tiny query slice persists
        val factors = PowerLsa.kFactorsShared(s, cells,
          factorsKey(dir, lemma = false), k = 4, PowerIters)
        val qcells = cells.filter($"id" < 5).persist()
        val qp = factors.zipWithIndex.map { case ((vj, sigma, _), j) =>
          qcells
            .join(vj, Seq("token"))
            .groupBy($"id")
            .agg(sum(($"a" * $"v").cast(DecT)).cast("double").as("num"))
            .select($"id".as("qid"), lit(j).as("j"),
              (if (sigma == 0.0) lit(0.0) else $"num" / sigma).as("qv"))
        }.reduce(_ unionByName _)
        val dp = factors.zipWithIndex.map { case ((_, sigma, av), j) =>
          av.select($"id".as("did"), lit(j).as("j"),
            (if (sigma == 0.0) lit(0.0) else $"av" / sigma).as("dv"))
        }.reduce(_ unionByName _)
        val qn = qp.groupBy($"qid")
          .agg(sum(($"qv" * $"qv").cast(DecT)).cast("double").as("qq"))
        val dn = dp.groupBy($"did")
          .agg(sum(($"dv" * $"dv").cast(DecT)).cast("double").as("dd"))
        val num = broadcast(qp).join(dp, Seq("j"))
          .groupBy($"qid", $"did")
          .agg(sum(($"qv" * $"dv").cast(DecT)).cast("double").as("nm"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"qid").orderBy($"cos".desc, $"did")
        num.join(broadcast(qn), Seq("qid")).join(dn, Seq("did"))
          .withColumn("cos",
            round($"nm" / (sqrt($"qq") * sqrt($"dd")), 6))
          .withColumn("rnk", row_number().over(w))
          .filter($"rnk" <= 5)
          .select($"qid", $"rnk", $"did", $"cos")
          .orderBy($"qid", $"rnk")
      },
      Some(lsiRetrievalOracleSql))
  )

  /** ls14: the 4-concept chain + fold-in projections, concept-space
    * cosine, top-5 per query.
    */
  private def lsiRetrievalOracleSql: String = {
    val qpU = (1 to 4).map(j =>
      s"""SELECT c.id AS qid, ${j - 1} AS j,
         |  CASE WHEN s.sigma = 0 THEN 0.0
         |    ELSE CAST(sum(CAST(c.a * v.v AS DECIMAL(38,18))) AS DOUBLE)
         |      / s.sigma END AS qv
         |  FROM qcells c JOIN cv$j v USING (token) CROSS JOIN sg$j s
         |  GROUP BY c.id, s.sigma""".stripMargin)
      .mkString("\n  UNION ALL ")
    val dpU = (1 to 4).map(j =>
      s"""SELECT a.id AS did, ${j - 1} AS j,
         |  CASE WHEN s.sigma = 0 THEN 0.0 ELSE a.av / s.sigma END AS dv
         |  FROM av$j a CROSS JOIN sg$j s""".stripMargin)
      .mkString("\n  UNION ALL ")
    s"""WITH tok AS (SELECT doc_id, unnest(${TextQueries.tokSql()}) AS token
       |  FROM documents),
       |tf AS (SELECT doc_id, token, count(*) AS tf
       |  FROM tok GROUP BY doc_id, token),
       |d AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
       |n AS (SELECT count(*) AS n FROM documents),
       |cells AS MATERIALIZED (SELECT '' AS g, doc_id AS id, tf.token,
       |    round(tf.tf * log10(n.n * 1.0 / d.df), 6) AS a
       |  FROM tf JOIN d USING (token) CROSS JOIN n),
       |${PowerKSql.chain(4, PowerIters)},
       |qcells AS (SELECT id, token, a FROM cells WHERE id < 5),
       |qp AS ($qpU),
       |dp AS ($dpU),
       |qn AS (SELECT qid, CAST(sum(CAST(qv * qv AS DECIMAL(38,18)))
       |  AS DOUBLE) AS qq FROM qp GROUP BY qid),
       |dn AS (SELECT did, CAST(sum(CAST(dv * dv AS DECIMAL(38,18)))
       |  AS DOUBLE) AS dd FROM dp GROUP BY did),
       |nm AS (SELECT qid, did, CAST(sum(CAST(qv * dv AS DECIMAL(38,18)))
       |  AS DOUBLE) AS nm FROM qp JOIN dp USING (j) GROUP BY qid, did),
       |sc AS (SELECT nm.qid, nm.did,
       |  round(nm.nm / (sqrt(qn.qq) * sqrt(dn.dd)), 6) AS cos
       |  FROM nm JOIN qn USING (qid) JOIN dn USING (did)),
       |r AS (SELECT *, row_number() OVER (PARTITION BY qid
       |  ORDER BY cos DESC, did) AS rnk FROM sc)
       |SELECT qid, rnk, did, cos FROM r WHERE rnk <= 5
       |ORDER BY qid, rnk""".stripMargin
  }

  /** ls12: the PowerKSql 4-concept chain (g = '' constant) plus the
    * exact-decimal Frobenius total and the cumulative energy window.
    */
  private def energyCurveOracleSql: String = {
    // kConceptsShared numbers concepts 0-based; sg CTEs are 1-based
    val sigUnion = (1 to 4).map(j =>
      s"SELECT ${j - 1} AS concept, round(sigma, 4) AS singular_value FROM sg$j")
      .mkString("\n  UNION ALL ")
    s"""WITH tok AS (SELECT doc_id, unnest(${TextQueries.tokSql()}) AS token
       |  FROM documents),
       |tf AS (SELECT doc_id, token, count(*) AS tf
       |  FROM tok GROUP BY doc_id, token),
       |d AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
       |n AS (SELECT count(*) AS n FROM documents),
       |cells AS MATERIALIZED (SELECT '' AS g, doc_id AS id, tf.token,
       |    round(tf.tf * log10(n.n * 1.0 / d.df), 6) AS a
       |  FROM tf JOIN d USING (token) CROSS JOIN n),
       |${PowerKSql.chain(4, PowerIters)},
       |fro AS (SELECT CAST(sum(CAST(a * a AS DECIMAL(38,12))) AS DOUBLE)
       |  AS fro2 FROM cells),
       |sig AS ($sigUnion),
       |cum AS (SELECT concept, singular_value,
       |  CAST(sum(CAST(singular_value * singular_value AS DECIMAL(38,12)))
       |    OVER (ORDER BY concept ROWS BETWEEN UNBOUNDED PRECEDING AND
       |    CURRENT ROW) AS DOUBLE) AS cum2 FROM sig)
       |SELECT concept, singular_value, round(cum2 / fro2, 6) AS energy_frac
       |FROM cum CROSS JOIN fro ORDER BY concept""".stripMargin
  }

  /** ls13: UMass coherence per NMF topic — the nmf chain's top-5 terms
    * per topic, pairwise (higher-rank, lower-rank) doc co-occurrence
    * counts, Σ ln((D(wi,wj)+1)/D(wj)) DECIMAL-summed.
    */
  private lazy val coherenceOracleSql: String =
    s"""WITH $nmfChainSql,
       |top5 AS (SELECT topic, term, rnk FROM (
       |  SELECT topic, term, row_number() OVER
       |    (PARTITION BY topic ORDER BY h DESC, term) AS rnk
       |  FROM h$NmfRounds) WHERE rnk <= 5),
       |pt AS (SELECT a.topic, a.term AS ti, b.term AS tj
       |  FROM top5 a JOIN top5 b
       |    ON a.topic = b.topic AND a.rnk > b.rnk),
       |dt AS (SELECT DISTINCT doc_id,
       |  unnest(regexp_extract_all(lower(text), '[a-zA-Z]+')) AS term
       |  FROM documents),
       |dj AS (SELECT term, count(*) AS d FROM dt GROUP BY term),
       |dij AS (SELECT p.topic, p.ti, p.tj, count(y.doc_id) AS d2
       |  FROM pt p
       |  LEFT JOIN dt x ON x.term = p.ti
       |  LEFT JOIN dt y ON y.term = p.tj AND y.doc_id = x.doc_id
       |  GROUP BY p.topic, p.ti, p.tj)
       |SELECT CAST(d0.topic AS INTEGER) AS topic,
       |  CAST(count(*) AS BIGINT) AS n_pairs,
       |  round(CAST(sum(CAST(ln((d0.d2 + 1) * 1.0 / dj.d)
       |    AS DECIMAL(38,18))) AS DOUBLE), 6) AS coherence
       |FROM dij d0 JOIN dj ON dj.term = d0.tj
       |GROUP BY d0.topic ORDER BY topic""".stripMargin

  private final val NmfK = 4
  private final val NmfRounds = 4

  /** The shared ls10/ls11 CTE chain: TF-IDF band, FNV-seeded W0/H0,
    * then [[NmfRounds]] unrolled Lee–Seung rounds (Gram → numerator →
    * denominator → elementwise step, W first, H with the new W),
    * ending at w[[NmfRounds]] / h[[NmfRounds]]. All sums are exact
    * DECIMAL sums of 6dp DECIMAL entries, matching the engine's
    * summation discipline. MATERIALIZED throughout — inlining doubles
    * the expression tree per round.
    */
  private lazy val nmfChainSql: String = {
    def pm(key: String) =
      s"((${FnvSql.toSigned(FnvSql.ofString(key))} % 1000) + 1000) % 1000"
    def initSql(key: String) =
      s"CAST(((${pm(key)}) + 1)::DOUBLE / 1000.0 AS DECIMAL(18,6))"
    val rounds = (1 to NmfRounds).map { r =>
      val (wp, hp) = (s"w${r - 1}", s"h${r - 1}")
      s"""g$r AS MATERIALIZED (SELECT a.topic AS t1, b.topic AS t2,
         |    CAST(round(CAST(sum(a.h*b.h) AS DOUBLE), 6) AS DECIMAL(18,6)) AS g
         |  FROM $hp a JOIN $hp b USING (term) GROUP BY a.topic, b.topic),
         |nw$r AS MATERIALIZED (SELECT vv.doc_id, h.topic,
         |    CAST(round(CAST(sum(vv.v*h.h) AS DOUBLE), 6) AS DECIMAL(18,6)) AS num
         |  FROM vv JOIN $hp h USING (term) GROUP BY vv.doc_id, h.topic),
         |dw$r AS MATERIALIZED (SELECT w.doc_id, g.t2 AS topic,
         |    CAST(round(CAST(sum(w.w*g.g) AS DOUBLE), 6) AS DECIMAL(18,6)) AS den
         |  FROM $wp w JOIN g$r g ON w.topic = g.t1 GROUP BY w.doc_id, g.t2),
         |w$r AS MATERIALIZED (SELECT w.doc_id, w.topic,
         |    CAST(coalesce(round(CAST(w.w AS DOUBLE) * CAST(n.num AS DOUBLE) /
         |      (CAST(d.den AS DOUBLE) + 1e-9), 6), 0) AS DECIMAL(18,6)) AS w
         |  FROM $wp w
         |  LEFT JOIN nw$r n ON n.doc_id = w.doc_id AND n.topic = w.topic
         |  JOIN dw$r d ON d.doc_id = w.doc_id AND d.topic = w.topic),
         |f$r AS MATERIALIZED (SELECT a.topic AS t1, b.topic AS t2,
         |    CAST(round(CAST(sum(a.w*b.w) AS DOUBLE), 6) AS DECIMAL(18,6)) AS f
         |  FROM w$r a JOIN w$r b USING (doc_id) GROUP BY a.topic, b.topic),
         |nh$r AS MATERIALIZED (SELECT w.topic, vv.term,
         |    CAST(round(CAST(sum(vv.v*w.w) AS DOUBLE), 6) AS DECIMAL(18,6)) AS num
         |  FROM vv JOIN w$r w USING (doc_id) GROUP BY w.topic, vv.term),
         |dh$r AS MATERIALIZED (SELECT f.t2 AS topic, h.term,
         |    CAST(round(CAST(sum(h.h*f.f) AS DOUBLE), 6) AS DECIMAL(18,6)) AS den
         |  FROM $hp h JOIN f$r f ON h.topic = f.t1 GROUP BY f.t2, h.term),
         |h$r AS MATERIALIZED (SELECT h.topic, h.term,
         |    CAST(round(CAST(h.h AS DOUBLE) * CAST(n.num AS DOUBLE) /
         |      (CAST(d.den AS DOUBLE) + 1e-9), 6) AS DECIMAL(18,6)) AS h
         |  FROM $hp h
         |  JOIN nh$r n ON n.topic = h.topic AND n.term = h.term
         |  JOIN dh$r d ON d.topic = h.topic AND d.term = h.term)""".stripMargin
    }.mkString(",\n")
    s"""t AS MATERIALIZED (SELECT doc_id,
       |  regexp_extract_all(lower(text),'[a-zA-Z]+') AS tok FROM documents),
       |corpus AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
       |tfq AS (SELECT doc_id, tok2 AS term, count(*) AS tf FROM
       |  (SELECT doc_id, unnest(tok) AS tok2 FROM t) GROUP BY doc_id, tok2),
       |dfq AS (SELECT term, count(*) AS df FROM tfq GROUP BY term),
       |vv AS MATERIALIZED (SELECT doc_id, term,
       |    CAST(round(tf * ln(n_docs::DOUBLE / df), 6) AS DECIMAL(18,6)) AS v
       |  FROM tfq JOIN dfq USING (term) CROSS JOIN corpus
       |  WHERE df <= n_docs * 0.9),
       |tp AS (SELECT unnest(range($NmfK)) AS topic),
       |w0 AS MATERIALIZED (SELECT doc_id, topic,
       |    ${initSql("(doc_id::VARCHAR || ':' || topic::VARCHAR)")} AS w
       |  FROM (SELECT DISTINCT doc_id FROM vv) CROSS JOIN tp),
       |h0 AS MATERIALIZED (SELECT topic, term,
       |    ${initSql("(term || ':' || topic::VARCHAR)")} AS h
       |  FROM (SELECT DISTINCT term FROM vv) CROSS JOIN tp),
       |$rounds""".stripMargin
  }

  private lazy val nmfOracleSql: String =
    s"""WITH $nmfChainSql
       |SELECT CAST(topic AS INTEGER) AS topic, rnk, term,
       |  CAST(h AS DOUBLE) AS weight FROM (
       |  SELECT topic, term, h, row_number() OVER
       |    (PARTITION BY topic ORDER BY h DESC, term) AS rnk
       |  FROM h$NmfRounds) WHERE rnk <= 10
       |ORDER BY topic, rnk""".stripMargin

  /** ls11's final select over the same chain: per-doc argmax topic +
    * its share of the (DECIMAL-exact) total topic mass.
    */
  private lazy val nmfMixtureOracleSql: String =
    s"""WITH $nmfChainSql,
       |tot AS (SELECT doc_id, sum(w) AS s FROM w$NmfRounds GROUP BY doc_id),
       |dom AS (SELECT doc_id, topic, w, row_number() OVER
       |    (PARTITION BY doc_id ORDER BY w DESC, topic) AS rn
       |  FROM w$NmfRounds)
       |SELECT d.doc_id, CAST(d.topic AS INTEGER) AS topic,
       |  round(CASE WHEN CAST(t.s AS DOUBLE) = 0.0 THEN 0.0
       |    ELSE CAST(d.w AS DOUBLE) / CAST(t.s AS DOUBLE) END, 6) AS share
       |FROM dom d JOIN tot t USING (doc_id) WHERE d.rn = 1
       |ORDER BY d.doc_id""".stripMargin

  /** DuckDB replay of ls04: per-source binary matrices factored by the
    * SAME keyed chain (every CTE carries g = source), scored by the
    * keyed Ozsoy CTEs, top-3 per group by (score desc, position).
    */
  private def ls04OracleSql: String =
    s"""WITH sents AS (SELECT source AS g, doc_id AS sid, text,
       |  row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS sidx
       |  FROM documents),
       |tokrows AS (SELECT g, sidx, unnest(list_distinct(list_filter(
       |    regexp_extract_all(lower(text), '[a-zA-Z]+'),
       |    x -> NOT (${TextSql.inWords(graft.text.StopWords.nltkEnglishAlpha, "x")})))) AS term
       |  FROM sents),
       |cells AS MATERIALIZED (SELECT g, term AS id, sidx AS token, 1.0 AS a
       |  FROM tokrows),
       |nsent AS (SELECT g, count(*) AS n FROM sents GROUP BY g),
       |${PowerKSql.chain(OzsoyTopics, PowerIters)},
       |${PowerKSql.ozsoyScoreCtes(OzsoyTopics)},
       |scall AS (SELECT s.g, s.sid, s.sidx, coalesce(sct.score, 0.0) AS score
       |  FROM sents s LEFT JOIN sct ON sct.g = s.g AND sct.sid = s.sidx),
       |sel AS (SELECT g, sid, score, row_number() OVER (PARTITION BY g
       |    ORDER BY score DESC, sidx) AS rn FROM scall)
       |SELECT g AS grp, sid, round(score, 6) AS score
       |FROM sel WHERE rn <= 3 ORDER BY grp, sid""".stripMargin

  /** DuckDB replay of ls05 — the full grouped evaluation:
    *  1. `ord`: per-source sentences in (review_id-string) order;
    *     `sided`: the ≥5-space-word slice with 1-based sids;
    *  2. system side: lemma'd TF-IDF cells (morphy CTEs) → keyed power
    *     chain (prefix `s`) → per-concept top-3 summaries;
    *  3. baseline side: binary cells → keyed chain (prefix `b`) + Ozsoy
    *     scoring → top-15 summary sentences in original order;
    *  4. pairs j=1..K (concept j vs j-th baseline sentence), stemmed
    *     ROUGE-1/2/L (Porter CTEs + recursive LCS), round-6 per pair,
    *     exact-decimal means per (group, metric) on a group spine.
    */
  private def ls05OracleSql: String = {
    val sysJ = (1 to K).map { j =>
      s"""sys$j AS (SELECT r.g, string_agg(sd.text, ' ' ORDER BY r.su DESC, r.sid) AS summary
         |  FROM (SELECT g, id AS sid,
         |      CASE WHEN sigma = 0.0 THEN 0.0 ELSE fl * (av / sigma) END AS su,
         |      row_number() OVER (PARTITION BY g ORDER BY
         |        CASE WHEN sigma = 0.0 THEN 0.0 ELSE fl * (av / sigma) END DESC,
         |        id) AS rn
         |    FROM sav$j JOIN ssg$j USING (g) JOIN sfl$j USING (g)) r
         |  JOIN sided sd ON sd.g = r.g AND sd.sid = r.sid
         |  WHERE r.rn <= $NDoc GROUP BY r.g)""".stripMargin
    }.mkString(",\n")
    val sysAll = (1 to K).map(j => s"SELECT g, $j AS j, summary FROM sys$j")
      .mkString(" UNION ALL ")
    s"""WITH RECURSIVE
       |${MorphySql.universeCtes},
       |ord AS MATERIALIZED (SELECT source AS g, CAST(doc_id AS VARCHAR) AS rid, text,
       |  row_number() OVER (PARTITION BY source
       |    ORDER BY CAST(doc_id AS VARCHAR)) - 1 AS oidx
       |  FROM documents WHERE len(trim(text)) > 0),
       |sided AS MATERIALIZED (SELECT g, text,
       |  row_number() OVER (PARTITION BY g ORDER BY rid) AS sid
       |  FROM ord WHERE len(string_split(text, ' ')) >= 5),
       |stok AS (SELECT g, sid, unnest(${TextQueries.tokSql()}) AS tok FROM sided),
       |slt AS (SELECT s.g, s.sid, l.lemma AS token
       |  FROM stok s JOIN lem l ON l.tok = s.tok),
       |stf AS MATERIALIZED (SELECT g, sid, token, count(*) AS tf
       |  FROM slt GROUP BY g, sid, token),
       |snd AS (SELECT g, count(DISTINCT sid) AS nd FROM stf GROUP BY g),
       |sdf AS (SELECT g, token, count(*) AS df FROM stf GROUP BY g, token),
       |scells AS MATERIALIZED (SELECT g, sid AS id, stf.token,
       |  round(stf.tf * log10(nd * 1.0 / df), 6) AS a
       |  FROM stf JOIN sdf USING (g, token) JOIN snd USING (g)),
       |${PowerKSql.chain(K, PowerIters, "s")},
       |$sysJ,
       |sysall AS ($sysAll),
       |btok AS (SELECT g, oidx, unnest(list_distinct(list_filter(
       |    regexp_extract_all(lower(text), '[a-zA-Z]+'),
       |    x -> NOT (${TextSql.inWords(graft.text.StopWords.nltkEnglishAlpha, "x")})))) AS term
       |  FROM ord),
       |bcells AS MATERIALIZED (SELECT g, term AS id, oidx AS token, 1.0 AS a
       |  FROM btok),
       |bnsent AS (SELECT g, count(*) AS n FROM ord GROUP BY g),
       |${PowerKSql.chain(OzsoyTopics, PowerIters, "b")},
       |${PowerKSql.ozsoyScoreCtes(OzsoyTopics, "b")},
       |bscall AS (SELECT o.g, o.oidx, o.text, coalesce(b.score, 0.0) AS score
       |  FROM ord o LEFT JOIN bsct b ON b.g = o.g AND b.sid = o.oidx),
       |bsel AS (SELECT g, oidx, text, row_number() OVER (PARTITION BY g
       |    ORDER BY score DESC, oidx) AS rn FROM bscall),
       |bref AS (SELECT g, row_number() OVER (PARTITION BY g ORDER BY oidx) AS j,
       |  text FROM bsel WHERE rn <= 15),
       |pairs AS MATERIALIZED (SELECT s.g, s.j, s.summary AS sys, r.text AS ref
       |  FROM sysall s JOIN bref r ON r.g = s.g AND r.j = s.j),
       |rtokr AS MATERIALIZED (
       |  SELECT g, j, 's' AS side, unnest(range(len(t))) AS pos, unnest(t) AS tok
       |  FROM (SELECT g, j, regexp_extract_all(lower(sys), '[a-z0-9]+') AS t
       |        FROM pairs)
       |  UNION ALL
       |  SELECT g, j, 'r', unnest(range(len(t))), unnest(t)
       |  FROM (SELECT g, j, regexp_extract_all(lower(ref), '[a-z0-9]+') AS t
       |        FROM pairs)),
       |rvoc AS (SELECT DISTINCT tok FROM rtokr WHERE len(tok) > 3),
       |${PorterSql.ctes("rvoc")},
       |rmap AS (SELECT t.g, t.j, t.side, t.pos,
       |    CASE WHEN len(t.tok) <= 3 THEN t.tok ELSE s.stm END AS stok
       |  FROM rtokr t LEFT JOIN stems s ON s.tok = t.tok),
       |ragg AS MATERIALIZED (SELECT g, j, side, list(stok ORDER BY pos) AS toks
       |  FROM rmap GROUP BY g, j, side),
       |rpairs AS MATERIALIZED (SELECT p.g, p.j,
       |    coalesce(sa.toks, []::VARCHAR[]) AS sys,
       |    coalesce(ra.toks, []::VARCHAR[]) AS ref
       |  FROM pairs p
       |  LEFT JOIN ragg sa ON sa.g = p.g AND sa.j = p.j AND sa.side = 's'
       |  LEFT JOIN ragg ra ON ra.g = p.g AND ra.j = p.j AND ra.side = 'r'),
       |u_sc AS (SELECT g, j, tok, count(*) AS c
       |  FROM (SELECT g, j, unnest(sys) AS tok FROM rpairs) GROUP BY g, j, tok),
       |u_rc AS (SELECT g, j, tok, count(*) AS c
       |  FROM (SELECT g, j, unnest(ref) AS tok FROM rpairs) GROUP BY g, j, tok),
       |u_ov AS (SELECT sc.g, sc.j, sum(least(sc.c, rc.c)) AS ov
       |  FROM u_sc sc JOIN u_rc rc
       |    ON rc.g = sc.g AND rc.j = sc.j AND rc.tok = sc.tok
       |  GROUP BY sc.g, sc.j),
       |u_sco AS (SELECT p.g, p.j,
       |    coalesce(ov.ov, 0) * 1.0 / greatest(len(p.sys), 1) AS p,
       |    coalesce(ov.ov, 0) * 1.0 / greatest(len(p.ref), 1) AS r
       |  FROM rpairs p LEFT JOIN u_ov ov ON ov.g = p.g AND ov.j = p.j),
       |bgp AS MATERIALIZED (SELECT g, j,
       |    CASE WHEN len(sys) < 2 THEN [] ELSE list_transform(range(1, len(sys)),
       |      i -> sys[i] || ' ' || sys[i+1]) END AS gs,
       |    CASE WHEN len(ref) < 2 THEN [] ELSE list_transform(range(1, len(ref)),
       |      i -> ref[i] || ' ' || ref[i+1]) END AS gr
       |  FROM rpairs),
       |b_sc AS (SELECT g, j, tok, count(*) AS c
       |  FROM (SELECT g, j, unnest(gs) AS tok FROM bgp) GROUP BY g, j, tok),
       |b_rc AS (SELECT g, j, tok, count(*) AS c
       |  FROM (SELECT g, j, unnest(gr) AS tok FROM bgp) GROUP BY g, j, tok),
       |b_ov AS (SELECT sc.g, sc.j, sum(least(sc.c, rc.c)) AS ov
       |  FROM b_sc sc JOIN b_rc rc
       |    ON rc.g = sc.g AND rc.j = sc.j AND rc.tok = sc.tok
       |  GROUP BY sc.g, sc.j),
       |b_sco AS (SELECT b.g, b.j,
       |    coalesce(ov.ov, 0) * 1.0 / greatest(len(b.gs), 1) AS p,
       |    coalesce(ov.ov, 0) * 1.0 / greatest(len(b.gr), 1) AS r
       |  FROM bgp b LEFT JOIN b_ov ov ON ov.g = b.g AND ov.j = b.j),
       |lcs(g, j, i, row) AS (
       |  SELECT g, j, 0, list_transform(range(0, len(ref)+1), x -> 0) FROM rpairs
       |  UNION ALL
       |  SELECT l.g, l.j, l.i+1,
       |    list_reduce([[0]] || list_transform(range(1, len(p.ref)+1), jj -> [jj]),
       |      (acc, x) -> list_append(acc,
       |        CASE WHEN p.sys[l.i+1] = p.ref[x[1]] THEN l.row[x[1]] + 1
       |             ELSE greatest(l.row[x[1]+1], acc[len(acc)]) END))
       |  FROM lcs l JOIN rpairs p ON p.g = l.g AND p.j = l.j
       |  WHERE l.i < len(p.sys)),
       |lfin AS (SELECT l.g, l.j, l.row[len(l.row)] AS ll, len(p.sys) AS ns,
       |  len(p.ref) AS nr
       |  FROM lcs l JOIN rpairs p ON p.g = l.g AND p.j = l.j
       |  WHERE l.i = len(p.sys)),
       |l_sco AS (SELECT g, j, ll * 1.0 / greatest(ns, 1) AS p,
       |  ll * 1.0 / greatest(nr, 1) AS r FROM lfin),
       |allsco AS (
       |  SELECT g, j, 'rouge1' AS metric, p, r FROM u_sco
       |  UNION ALL SELECT g, j, 'rouge2', p, r FROM b_sco
       |  UNION ALL SELECT g, j, 'rougeL', p, r FROM l_sco),
       |rounded AS (SELECT g, metric, round(p, 6) AS p, round(r, 6) AS r,
       |  round(CASE WHEN p + r = 0 THEN 0 ELSE 2 * p * r / (p + r) END, 6) AS f
       |  FROM allsco),
       |means AS (SELECT g, metric,
       |  CAST(sum(CAST(p AS DECIMAL(38,18))) AS DOUBLE) / count(*) AS mp,
       |  CAST(sum(CAST(r AS DECIMAL(38,18))) AS DOUBLE) / count(*) AS mr,
       |  CAST(sum(CAST(f AS DECIMAL(38,18))) AS DOUBLE) / count(*) AS mf
       |  FROM rounded GROUP BY g, metric),
       |mspine AS (SELECT g, metric
       |  FROM (SELECT DISTINCT g FROM ord)
       |  CROSS JOIN (SELECT unnest(['rouge1','rouge2','rougeL']) AS metric))
       |SELECT m.g AS product_id, m.metric,
       |  round(coalesce(mp, 0.0), 6) AS precision,
       |  round(coalesce(mr, 0.0), 6) AS recall,
       |  round(coalesce(mf, 0.0), 6) AS f1
       |FROM mspine m LEFT JOIN means me ON me.g = m.g AND me.metric = m.metric
       |ORDER BY product_id, m.metric""".stripMargin
  }

  /** The V1 baseline's input: the ordered en-corpus slice. */
  private def baselineSents(s: org.apache.spark.sql.SparkSession,
      dir: String): Seq[String] = {
    import s.implicits._
    Tables.documents(s, dir)
      .filter($"lang" === "en" && $"doc_id" < 200)
      .orderBy($"doc_id")
      // collect-bound: query-batch: en slice bounded by doc_id < 200 (the V1 baseline input)
      .select($"text").as[String].collect().toSeq
  }

  /** Shared ls02/ls03 oracle prefix: sentence slice → binary matrix →
    * PowerKSql chain + keyed Ozsoy scoring (g = '' constant), ending in
    * scall(sid, score) over ALL sentences (zero-token ones score 0).
    */
  private def ozsoyChainSql: String =
    s"""WITH sents AS (SELECT row_number() OVER (ORDER BY doc_id) - 1 AS sid, text
       |  FROM documents WHERE lang = 'en' AND doc_id < 200),
       |tokrows AS (SELECT sid, unnest(list_distinct(list_filter(
       |    regexp_extract_all(lower(text), '[a-zA-Z]+'),
       |    x -> NOT (${TextSql.inWords(graft.text.StopWords.nltkEnglishAlpha, "x")})))) AS term
       |  FROM sents),
       |cells AS MATERIALIZED (SELECT '' AS g, term AS id, sid AS token, 1.0 AS a
       |  FROM tokrows),
       |nsent AS (SELECT '' AS g, count(*) AS n FROM sents),
       |${PowerKSql.chain(OzsoyTopics, PowerIters)},
       |${PowerKSql.ozsoyScoreCtes(OzsoyTopics)},
       |scall AS (SELECT s.sid, coalesce(sct.score, 0.0) AS score
       |  FROM sents s LEFT JOIN sct ON sct.sid = s.sid)""".stripMargin

  /** Memo key for [[PowerLsa.kFactorsShared]]: corpus dir + file state
    * (mtime+length invalidates on an in-place rewrite, the
    * Tables.eventsFileSchema pattern) + token pipeline. Session identity
    * lives in PowerLsa's per-session memo map, not in this key.
    */
  private def factorsKey(dir: String, lemma: Boolean): String = {
    val f = new java.io.File(s"$dir/documents.parquet")
    s"$dir:${f.lastModified}:${f.length}:lemma=$lemma"
  }

  /** The t05-style TF-IDF cell matrix the power queries factor (ls06/
    * ls07 take the raw-token form; ls01 the lemma'd LSA pipeline).
    */
  private def powerCells(s: org.apache.spark.sql.SparkSession, dir: String,
      lemma: Boolean = false) = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val n = docs.count()
    val tok = graft.Par.fanOut(docs)
      .select($"doc_id", TF.lsaTokens($"text", lemma).as("tokens"))
    val tf = TfIdf.termFrequencies(tok, "doc_id", "tokens")
    val idf = TfIdf.idfTable(tf, "doc_id", n)
    tf.join(broadcast(idf.select($"token", $"idf")), "token")
      .select($"doc_id".as("id"), $"token", round($"tf" * $"idf", 6).as("a"))
  }

  /** ls09: the ls01 chain re-emitted as the S5 report line. The string
    * is rebuilt piece-for-piece — decimal-cast σ (HALF_UP in both
    * engines, fixed scale-2 print), space-joined keyword/doc lists.
    * Built from the SAME top-level CTE list as ls01 (the WITH is
    * hoisted, not nested), so the prefix-sharer sees ls01 and ls09 as
    * one chain and the power iteration is materialized once per gate.
    */
  private def ls01ReportSql: String =
    s"""WITH
       |$ls01Ctes
       |SELECT concept,
       |  'Concept ' || CAST(concept AS VARCHAR) ||
       |  ' [sigma=' || CAST(CAST(singular_value AS DECIMAL(18,2)) AS VARCHAR) ||
       |  '] keywords: ' || keywords ||
       |  ' | sentences: ' || doc_ids AS line
       |FROM (
       |${PowerKSql.conceptEmission(K, NKw, NDoc)}
       |) ORDER BY concept""".stripMargin

  /** The ls01 CTE list: gate-shared lemma universe (morphy in SQL, as
    * in tr03/t07) → lemma'd TF-IDF cells → PowerKSql k-concept chain.
    */
  private def ls01Ctes: String =
    s"""${MorphySql.universeCtes},
       |d0 AS (SELECT doc_id, ${TextQueries.tokSql()} AS t0 FROM documents),
       |tokrows AS (SELECT doc_id, unnest(t0) AS tok FROM d0),
       |ltok AS (SELECT tr.doc_id, l.lemma AS token
       |  FROM tokrows tr JOIN lem l ON l.tok = tr.tok),
       |ltf AS (SELECT doc_id, token, count(*) AS tf
       |  FROM ltok GROUP BY doc_id, token),
       |ldf AS (SELECT token, count(*) AS df FROM ltf GROUP BY token),
       |nn AS (SELECT count(*) AS n FROM documents),
       |cells AS MATERIALIZED (SELECT '' AS g, doc_id AS id, ltf.token,
       |  round(ltf.tf * log10(nn.n * 1.0 / ldf.df), 6) AS a
       |  FROM ltf JOIN ldf USING (token) CROSS JOIN nn),
       |${PowerKSql.chain(K, PowerIters)}""".stripMargin

  /** DuckDB replay of ls01: [[ls01Ctes]] → concept emission. */
  private def ls01OracleSql: String =
    s"""WITH
       |$ls01Ctes
       |${PowerKSql.conceptEmission(K, NKw, NDoc)}""".stripMargin

  // AS MATERIALIZED throughout: without it DuckDB inlines every CTE
  // reference and the iteration chain re-evaluates `cells` exponentially.
  private def mvSql(out: String, grp: String, other: String, vin: String,
      vcol: String, ocol: String): String =
    s"""$out AS MATERIALIZED (SELECT $grp, CAST(sum(CAST(a * $vcol AS DECIMAL(38,18)))
       |    AS DOUBLE) AS $ocol
       |  FROM cells JOIN $vin USING ($other) GROUP BY $grp)""".stripMargin

  /** Concept-1 chain `cells, nv, v0 … v<iters>` (shared by ls06/ls07). */
  private def powerChainCtes(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      Seq(
        mvSql(s"u$i", "id", "token", s"v${i - 1}", "v", "u"),
        mvSql(s"w$i", "token", "id", s"u$i", "u", "w"),
        s"""nrm$i AS MATERIALIZED (SELECT sqrt(CAST(sum(CAST(w * w AS DECIMAL(38,18)))
           |    AS DOUBLE)) AS nrm FROM w$i)""".stripMargin,
        s"v$i AS MATERIALIZED (SELECT token, w / nrm AS v FROM w$i CROSS JOIN nrm$i)"
      ).mkString(",\n")
    }
    s"""tok AS (SELECT doc_id, unnest(${TextQueries.tokSql()}) AS token
       |  FROM documents),
       |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
       |d AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
       |n AS (SELECT count(*) AS n FROM documents),
       |cells AS MATERIALIZED (SELECT doc_id AS id, tf.token,
       |    round(tf.tf * log10(n.n * 1.0 / d.df), 6) AS a
       |  FROM tf JOIN d USING (token) CROSS JOIN n),
       |nv AS (SELECT count(DISTINCT token) AS nv FROM cells),
       |v0 AS (SELECT token, 1.0 / sqrt(nv * 1.0) AS v
       |  FROM (SELECT DISTINCT token FROM cells) CROSS JOIN nv),
       |${rounds.mkString(",\n")}""".stripMargin
  }

  /** Emit (kind, ident, score) for a final vector CTE `vf`. */
  private def emitSql(vf: String, avName: String, sgName: String): String =
    s"""$avName AS MATERIALIZED (SELECT id,
       |  CAST(sum(CAST(a * v AS DECIMAL(38,18))) AS DOUBLE) AS av
       |  FROM cells JOIN $vf USING (token) GROUP BY id),
       |$sgName AS (SELECT sqrt(CAST(sum(CAST(av * av AS DECIMAL(38,18))) AS DOUBLE))
       |  AS sigma FROM $avName)
       |SELECT kind, ident, score FROM (
       |  SELECT 'sigma' AS kind, '' AS ident, round(sigma, 6) AS score FROM $sgName
       |  UNION ALL
       |  SELECT 'term', token, round(v, 6) FROM $vf
       |  UNION ALL
       |  SELECT 'doc', id::VARCHAR, round(av / sigma, 6)
       |  FROM $avName CROSS JOIN $sgName)
       |ORDER BY kind, ident""".stripMargin

  /** DuckDB replay of [[PowerLsa.topSingular]] over the same TF-IDF
    * cells: the `iters` rounds are unrolled as CTE pairs with the exact
    * decimal summation discipline of the engine.
    */
  private def powerOracleSql(iters: Int): String =
    s"""WITH ${powerChainCtes(iters)},
       |${emitSql(s"v$iters", "av", "sg")}""".stripMargin

  /** DuckDB replay of [[PowerLsa.secondSingular]]: concept-1 chain,
    * σ₁²/v₁, deflated-init q0, then `iters` deflated rounds.
    */
  private def secondOracleSql(iters: Int): String = {
    val v1 = s"v$iters"
    val rounds = (1 to iters).map { i =>
      Seq(
        mvSql(s"qu$i", "id", "token", s"q${i - 1}", "v", "u"),
        mvSql(s"qw0$i", "token", "id", s"qu$i", "u", "w0"),
        s"""qd$i AS MATERIALIZED (SELECT CAST(sum(CAST(a1.v * b.v AS DECIMAL(38,18)))
           |    AS DOUBLE) AS dot
           |  FROM $v1 a1 JOIN q${i - 1} b USING (token))""".stripMargin,
        s"""qw$i AS MATERIALIZED (SELECT a1.token,
           |    coalesce(w0, 0.0) - ((s2 * dot) * a1.v) AS w
           |  FROM $v1 a1 LEFT JOIN qw0$i USING (token)
           |  CROSS JOIN qd$i CROSS JOIN s2c)""".stripMargin,
        s"""qnrm$i AS MATERIALIZED (SELECT sqrt(CAST(sum(CAST(w * w AS DECIMAL(38,18)))
           |    AS DOUBLE)) AS nrm FROM qw$i)""".stripMargin,
        s"q$i AS MATERIALIZED (SELECT token, w / nrm AS v FROM qw$i CROSS JOIN qnrm$i)"
      ).mkString(",\n")
    }
    s"""WITH ${powerChainCtes(iters)},
       |av1 AS MATERIALIZED (SELECT id,
       |  CAST(sum(CAST(a * v AS DECIMAL(38,18))) AS DOUBLE) AS av
       |  FROM cells JOIN $v1 USING (token) GROUP BY id),
       |sg1 AS MATERIALIZED (SELECT sqrt(CAST(sum(CAST(av * av AS DECIMAL(38,18)))
       |  AS DOUBLE)) AS sigma FROM av1),
       |s2c AS MATERIALIZED (SELECT sigma * sigma AS s2 FROM sg1),
       |dot0 AS MATERIALIZED (SELECT CAST(sum(CAST(v * (1.0 / sqrt(nv * 1.0))
       |    AS DECIMAL(38,18))) AS DOUBLE) AS dot
       |  FROM $v1 CROSS JOIN nv),
       |q0r AS MATERIALIZED (SELECT token,
       |    (1.0 / sqrt(nv * 1.0)) - (dot * v) AS w
       |  FROM $v1 CROSS JOIN nv CROSS JOIN dot0),
       |qnrm0 AS MATERIALIZED (SELECT sqrt(CAST(sum(CAST(w * w AS DECIMAL(38,18)))
       |  AS DOUBLE)) AS nrm FROM q0r),
       |q0 AS MATERIALIZED (SELECT token, w / nrm AS v FROM q0r CROSS JOIN qnrm0),
       |${rounds.mkString(",\n")},
       |${emitSql(s"q$iters", "av2", "sg2")}""".stripMargin
  }
}
