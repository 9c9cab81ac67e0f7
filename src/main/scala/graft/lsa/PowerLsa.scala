package graft.lsa

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic fixed-iteration power method for the TOP singular
  * triple (σ₁, u₁, v₁) of a sparse (id × token) matrix — the
  * oracle-replicable sibling of [[Lsa]]'s ARPACK SVD, the same move
  * that made the IVF quantizer verifiable (`Similarity.lloydClusters`):
  * replace the solver whose float internals no SQL engine can replay
  * with a fixed declarative recurrence whose every value is a pure
  * function of the data.
  *
  *  - init: v₀ = 1/√|vocab| on every term (the matrix is nonnegative —
  *    tf·idf with idf = log10(N/df) ≥ 0 — so by Perron-Frobenius the
  *    top singular vector is nonnegative: no sign ambiguity, and the
  *    all-ones start has positive overlap with it);
  *  - `iters` rounds of v ← AᵀA v / ‖AᵀA v‖;
  *  - σ = ‖A v‖, u = A v / σ.
  *
  * Float discipline (the whole point): every matvec sum runs in EXACT
  * decimal — per-cell products are doubles (bit-identical cross-engine
  * given identical inputs), summed as DECIMAL(38,18) (associative, so
  * partitioning cannot reorder anything observable) and cast back.
  * Norms are √(exact sum of squares); sqrt and division are IEEE
  * correctly-rounded, so both engines walk the same bit sequence.
  * Cell values themselves must be pinned upstream (round tf·idf before
  * calling — log10 is the one non-correctly-rounded step).
  *
  * 100 TB shape: each iteration is two shuffled join+agg matvecs (the
  * classic distributed power iteration); v is vocabulary-sized and
  * broadcast; lineage is cut per round with localCheckpoint. More
  * concepts = deflation rounds (A ← A − σuvᵀ), same recurrence.
  */
object PowerLsa {

  private val Dec = "decimal(38,18)"

  /** Default local-route budgets: cells (nnz) and distinct ids. */
  private val MaxLocalNnz = 2000000L
  private val MaxLocalIds = 500000L

  /** The one route probe over persisted cells: whether they fit the
    * local budgets, and — when `vocab` — the vocabulary size the DF
    * chains' uniform start 1/√nv needs (else 0), fused into the same
    * aggregate job.
    */
  private def probe(c: DataFrame, maxNnz: Long, maxIds: Long,
      vocab: Boolean): (Boolean, Long) = {
    val aggs = Seq(count(lit(1)), count_distinct(col("id"))) ++
      (if (vocab) Seq(count_distinct(col("token"))) else Nil)
    val r = c.agg(aggs.head, aggs.tail: _*).head()
    val nv = if (vocab) r.getLong(2) else 0L
    // fail fast on an impossible-empty vocabulary: a cache race
    // could otherwise feed 0 into 1/sqrt(nv) (silent Inf or ANSI
    // divide-by-zero deep in the chain — seen once under a
    // concurrent-gate clearCache; see Verify's cache note)
    require(!vocab || nv > 0, s"empty vocabulary (nv=$nv) from non-empty " +
      "cells - likely a cache/materialization race; retry the query")
    (r.getLong(0) <= maxNnz && r.getLong(1) <= maxIds, nv)
  }

  /** The local routes' one bounded collect: cells → [[PowerCore.Matrix]]. */
  private def collectCells(cells: DataFrame): PowerCore.Matrix = {
    val spark = cells.sparkSession
    import spark.implicits._
    PowerCore.Matrix(cells.select(col("id").cast("long"), col("token"),
      // collect-bound: probe-guarded: every caller routes here only under the probe()'s nnz/id budgets; the distributed chains are the fallback
      col("a").cast("double")).as[(Long, String, Double)].collect().toSeq)
  }

  /** One A v matvec: (id, u). */
  private def matvecV(c: DataFrame, v: DataFrame, out: String): DataFrame =
    c.join(v, Seq("token"))
      .groupBy(col("id"))
      .agg(sum((col("a") * col("v")).cast(Dec)).cast("double").as(out))

  /** The plain power chain v ← AᵀAv / ‖AᵀAv‖ from the uniform start. */
  private def powerV(c: DataFrame, nv: Long, iters: Int): DataFrame = {
    var v = c.select(col("token")).distinct()
      .withColumn("v", lit(1.0) / sqrt(lit(nv.toDouble)))
      .localCheckpoint()
    (1 to iters).foreach { _ =>
      val u = matvecV(c, v, "u")
      val w = c.join(u, Seq("id"))
        .groupBy(col("token"))
        .agg(sum((col("a") * col("u")).cast(Dec)).cast("double").as("w"))
      val nrm = w.agg(
        sqrt(sum((col("w") * col("w")).cast(Dec)).cast("double")).as("nrm"))
      v = w.crossJoin(broadcast(nrm))
        .select(col("token"), (col("w") / col("nrm")).as("v"))
        .localCheckpoint()
    }
    v
  }

  /** (kind, ident, score) output rows for a converged v: σ = ‖Av‖,
    * u = Av/σ, everything rounded to 6 decimals.
    */
  private def emit(c: DataFrame, v: DataFrame): DataFrame = {
    val av = matvecV(c, v, "av")
    val sg = av.agg(
      sqrt(sum((col("av") * col("av")).cast(Dec)).cast("double")).as("sigma"))
    val u = av.crossJoin(broadcast(sg))
      .select(col("id"), (col("av") / col("sigma")).as("u"))
    sg.select(lit("sigma").as("kind"), lit("").as("ident"),
        round(col("sigma"), 6).as("score"))
      .unionAll(v.select(lit("term").as("kind"), col("token").as("ident"),
        round(col("v"), 6).as("score")))
      .unionAll(u.select(lit("doc").as("kind"), col("id").cast("string").as("ident"),
        round(col("u"), 6).as("score")))
  }

  /** cells: (id long, token string, a double) sparse matrix entries.
    * Returns (kind, ident, score): one 'sigma' row, a 'term' row per
    * vocabulary entry (v₁ loading) and a 'doc' row per matrix row (u₁
    * loading), scores rounded to 6 decimals.
    *
    * Scale routing (r15; the kConcepts/kFactorsAuto pattern): under the
    * same nnz/id budgets, ONE bounded collect feeds [[LocalPowerChain]]
    * walking the IDENTICAL exact-decimal recurrence on primitive arrays
    * (PowerLsaSpec pins the two routes row-equal on the gate corpora) —
    * at gate scale this removes ~3·iters shuffled-matvec jobs PLUS the
    * 2-3 post-unpersist re-derivations of the cells chain that emit()'s
    * union legs paid. Above the budgets the distributed chain runs
    * unchanged (the 100 TB path). The probe aggregate also supplies the
    * DF route's vocabulary count — its separate distinct().count() job
    * is gone on both routes.
    */
  def topSingular(cells: DataFrame, iters: Int,
      maxLocalNnz: Long = MaxLocalNnz, maxLocalIds: Long = MaxLocalIds): DataFrame = {
    require(iters >= 1 && iters <= 32, s"iters $iters out of range")
    val c = cells.select(col("id"), col("token"), col("a")).persist()
    val (fits, nv) = probe(c, maxLocalNnz, maxLocalIds, vocab = true)
    if (fits) {
      val chain = new LocalPowerChain(collectCells(c))
      c.unpersist()
      chain.emitTop(cells.sparkSession, iters)
    } else {
      val out = emit(c, powerV(c, nv, iters))
      c.unpersist()
      out
    }
  }

  /** k LSA concepts (the ls01 surface: per concept σ, top keywords, top
    * doc ids) via sequential implicit deflation — the fully
    * oracle-replayable form of `Lsa.concepts`' k=5 ARPACK semantics
    * (reference BigdataProjectCode.py:138). Routes on matrix size like
    * `TextRank.ranks`: a sub-driver-budget matrix (bounded by the nnz /
    * row-count probes) runs the [[PowerCore]] compact recurrence off one
    * bounded collect; anything larger runs [[kConceptsDF]]'s shuffled
    * join+agg matvecs — both walk the IDENTICAL exact-decimal recurrence,
    * so the routes are bit-equal (pinned in PowerLsaSpec).
    *
    * cells: (id long, token string, a double). Output: (concept int,
    * singular_value round-4, keywords "t1 t2 …", doc_ids "d1 d2 …").
    */
  def kConcepts(cells: DataFrame, k: Int, iters: Int,
      nKeywords: Int = 3, nDocs: Int = 3,
      maxLocalNnz: Long = MaxLocalNnz, maxLocalIds: Long = MaxLocalIds): DataFrame = {
    val c = cells.select(col("id"), col("token"), col("a")).persist()
    val out =
      if (probe(c, maxLocalNnz, maxLocalIds, vocab = false)._1)
        kConceptsLocal(c, k, iters, nKeywords, nDocs)
      else kConceptsDF(c, k, iters, nKeywords, nDocs)
    c.unpersist()
    out
  }

  final case class ConceptRow(concept: Int, singular_value: Double,
      keywords: String, doc_ids: String)

  /** Bounded-collect twin of the ls06/ls07 chains ([[topSingular]] /
    * [[secondSingular]]): the SAME exact-decimal recurrences walked on
    * [[PowerCore]]'s primitives off one collect. Each DF op is mirrored
    * 1:1 — matvecs, norms and dots in dec sums, PLAIN double arithmetic
    * exactly where the DF chain uses it (powerV's unguarded w/‖w‖
    * division; secondSingular's `c0 − dot·v1` / `w0 − (σ²·dot)·v1`
    * corrections, which unlike kFactors' grouped sums do NOT round-trip
    * through decimal), and Spark's ROUND for the 6dp emission. Index
    * and order never reach a value: every sum is an exact decimal
    * (associative), every per-element op is elementwise.
    */
  private[lsa] final class LocalPowerChain(m: PowerCore.Matrix) {
    import PowerCore.{dot, norm}

    /** The powerV loop: v ← AᵀAv / ‖AᵀAv‖ from the uniform start —
      * UNGUARDED division, exactly like the DF chain (a zero norm yields
      * Inf/NaN there too, never the zero vector).
      */
    def powerV(iters: Int): Array[Double] = {
      var v = Array.fill(m.nToks)(1.0 / math.sqrt(m.nToks.toDouble))
      var it = 0
      while (it < iters) {
        val w = m.matvecU(m.matvecV(v))
        val nrm = norm(w)
        v = w.map(_ / nrm)
        it += 1
      }
      v
    }

    /** emit(): one sigma row + per-token 'term' rows + per-id 'doc' rows. */
    private def emitRows(spark: SparkSession,
        v: Array[Double]): DataFrame = {
      def round6(x: Double) = SparkNumerics.round(x, 6)
      val av = m.matvecV(v)
      val sigma = norm(av)
      val rows =
        Seq(("sigma", "", round6(sigma))) ++
          m.toks.indices.map(t => ("term", m.toks(t), round6(v(t)))) ++
          m.ids.indices.map(d => ("doc", m.ids(d).toString, round6(av(d) / sigma)))
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toSeq, 1))
        .toDF("kind", "ident", "score")
    }

    def emitTop(spark: SparkSession, iters: Int): DataFrame =
      emitRows(spark, powerV(iters))

    /** secondSingular's exact chain: v₁ from powerV, implicit deflation
      * with the corrections in PLAIN double (no decimal round-trip —
      * the one place this chain differs from kFactors/PowerCore).
      */
    def emitSecond(spark: SparkSession, iters: Int): DataFrame = {
      val v1 = powerV(iters)
      val sigma1 = norm(m.matvecV(v1))
      val s2 = sigma1 * sigma1
      val c0 = 1.0 / math.sqrt(m.nToks.toDouble)
      // init: uniform orthogonalized against v₁ (dot in dec, correction
      // and division in plain double, unguarded — as the DF chain)
      val dot0 = dot(v1, Array.fill(m.nToks)(c0))
      val q0raw = v1.map(x => c0 - dot0 * x)
      val nrm0 = norm(q0raw)
      var q = q0raw.map(_ / nrm0)
      var it = 0
      while (it < iters) {
        val w0 = m.matvecU(m.matvecV(q))
        val dt = dot(v1, q)
        val w = Array.tabulate(m.nToks)(t => w0(t) - (s2 * dt) * v1(t))
        val nrm = norm(w)
        q = w.map(_ / nrm)
        it += 1
      }
      emitRows(spark, q)
    }
  }

  /** Compact route: one bounded collect, then the [[PowerCore]]
    * recurrence on primitive arrays (index order = ascending key order,
    * so tie-breaks match the SQL oracle's ORDER BY).
    */
  def kConceptsLocal(cells: DataFrame, k: Int, iters: Int,
      nKeywords: Int, nDocs: Int): DataFrame = {
    val spark = cells.sparkSession
    val m = collectCells(cells)
    val (ids, toks) = (m.ids, m.toks)
    val out = PowerCore.factorize(m, k, iters).zipWithIndex.map { case (f, j) =>
      // sign convention: max-|loading| term positive (Q9/H2), ties to
      // the lexicographically first token — ORDER BY abs(v) DESC, token
      val tStar = toks.indices.minBy(t => (-math.abs(f.v(t)), toks(t)))
      val fl = if (f.v(tStar) < 0) -1.0 else 1.0
      val kw = toks.indices.map(t => (fl * f.v(t), toks(t)))
        .sortBy { case (sv, t) => (-sv, t) }.take(nKeywords)
        .map(_._2).mkString(" ")
      val dc = ids.indices.map(d => (
          if (f.sigma == 0.0) 0.0 else fl * (f.av(d) / f.sigma), ids(d)))
        .sortBy { case (su, d) => (-su, d) }.take(nDocs)
        .map(_._2).mkString(" ")
      ConceptRow(j, round4(f.sigma), kw, dc)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(out.toSeq, 1))
  }

  private def round4(x: Double): Double = SparkNumerics.round(x, 4)

  /** Distributed route: the [[secondSingular]] machinery generalized to
    * k concepts — per round two shuffled matvecs plus one grouped dot /
    * rank-1 correction against the UNION of prior vectors; v stays
    * vocabulary-sized, lineage cut per round. The 100 TB path.
    */
  def kConceptsDF(cells: DataFrame, k: Int, iters: Int,
      nKeywords: Int, nDocs: Int): DataFrame = {
    val c = cells.select(col("id"), col("token"), col("a")).persist()
    val done = kFactors(c, k, iters)
    val out = kConceptsFromFactors(done, cells.sparkSession, nKeywords, nDocs)
    // `out` holds plain local rows now — every (v, av) checkpoint is dead.
    done.foreach { case (vj, _, av) =>
      releaseCheckpoint(vj); releaseCheckpoint(av)
    }
    c.unpersist()
    out
  }

  /** Bounded-collect twin of [[kFactors]]: run the IDENTICAL
    * exact-decimal recurrence on primitive arrays ([[PowerCore]] — the
    * kConceptsLocal route, spec-pinned bit-equal to the DF route) and
    * re-emit the factors as small local DataFrames in the kFactors
    * shape. At gate scale this removes k×iters shuffled-matvec rounds
    * of per-job overhead from every factor consumer (ls14 dropped from
    * ~60 s to seconds in the r7 gate); above the local budget callers
    * route to [[kFactors]] via [[kFactorsAuto]].
    */
  def kFactorsLocal(cells: DataFrame, k: Int,
      iters: Int): Seq[(DataFrame, Double, DataFrame)] = {
    val spark = cells.sparkSession
    import spark.implicits._
    val m = collectCells(cells)
    PowerCore.factorize(m, k, iters).toSeq.map { f =>
      val vj = m.toks.indices.map(t => (m.toks(t), f.v(t))).toDF("token", "v")
      val av = m.ids.indices.map(d => (m.ids(d), f.av(d))).toDF("id", "av")
      (vj, f.sigma, av)
    }
  }

  /** [[kFactorsLocal]] under the kConcepts size budget, [[kFactors]]
    * (persisting/unpersisting the cells around the loop) above it.
    * Either way the caller owns the returned factors.
    */
  def kFactorsAuto(cells: DataFrame, k: Int, iters: Int,
      maxLocalNnz: Long = MaxLocalNnz,
      maxLocalIds: Long = MaxLocalIds): Seq[(DataFrame, Double, DataFrame)] = {
    val c = cells.select(col("id"), col("token"), col("a")).persist()
    val out =
      if (probe(c, maxLocalNnz, maxLocalIds, vocab = false)._1) kFactorsLocal(c, k, iters)
      else kFactors(c, k, iters)
    // factors are materialized (collected locally or localCheckpoint'd),
    // so the cells cache is dead either way
    c.unpersist()
    out
  }

  /** Session-lifetime memo over [[kFactorsAuto]] — the ls-family
    * amortization: ls01/ls09 (lemma'd cells) and ls12/ls14 (raw cells)
    * each re-run the SAME k-concept deflation chain; in a one-session
    * 300-query gate (or a stress replica) the chain now runs once per
    * distinct (session, corpus, k, iters) key. Retained factor storage
    * is bounded: k vectors of vocabulary + row cardinality per key
    * (NOT corpus-scale cells — those unpersist inside kFactorsAuto),
    * the price of never re-running k×iters matvec rounds.
    *
    * The outer map is keyed on the SparkSession OBJECT and swept for
    * stopped sessions on every access: a test JVM that creates many
    * sessions would otherwise pin each retired session's
    * localCheckpoint'd factors (and their blocks) for the JVM lifetime
    * — and a stopped session's checkpoint blocks are gone anyway, so
    * its memo entries are dangerous as well as dead. `key` encodes
    * corpus provenance (the LsaQueries caller uses dir + mtime + lemma).
    */
  private val factorsMemo = new java.util.concurrent.ConcurrentHashMap[
    org.apache.spark.sql.SparkSession,
    java.util.concurrent.ConcurrentHashMap[
      String, Seq[(DataFrame, Double, DataFrame)]]]()

  def kFactorsShared(session: org.apache.spark.sql.SparkSession,
      cells: => DataFrame, key: String, k: Int,
      iters: Int): Seq[(DataFrame, Double, DataFrame)] = {
    val it = factorsMemo.keySet.iterator
    while (it.hasNext) if (it.next().sparkContext.isStopped) it.remove()
    factorsMemo
      .computeIfAbsent(session, _ => new java.util.concurrent.ConcurrentHashMap)
      .computeIfAbsent(s"$key:$k:$iters", _ => kFactorsAuto(cells, k, iters))
  }

  /** Concept emission from precomputed factors ([[kConceptsDF]]'s
    * tail): sign convention, top keywords/doc ids, round-4 σ. Does NOT
    * release the factors — the caller (or the memo) owns them.
    */
  def kConceptsFromFactors(done: Seq[(DataFrame, Double, DataFrame)],
      spark: org.apache.spark.sql.SparkSession,
      nKeywords: Int, nDocs: Int): DataFrame = {
    import spark.implicits._
    val out = done.zipWithIndex.map { case ((vj, sigma, av), i) =>
      val flRow = vj.orderBy(abs(col("v")).desc, col("token")).limit(1)
        .select(col("v")).head()
      val fl = if (flRow.getDouble(0) < 0) -1.0 else 1.0
      val kw = vj.select(col("token"), (lit(fl) * col("v")).as("sv"))
        .orderBy(desc("sv"), col("token")).limit(nKeywords)
        // collect-bound: top-k: limit(nKeywords) tokens per concept
        .select(col("token")).as[String].collect().mkString(" ")
      val dc = av.select(col("id"),
          (if (sigma == 0.0) lit(0.0)
           else lit(fl) * (col("av") / lit(sigma))).as("su"))
        .orderBy(desc("su"), col("id")).limit(nDocs)
        // collect-bound: top-k: limit(nDocs) ids per concept
        .select(col("id").cast("long")).as[Long].collect().mkString(" ")
      ConceptRow(i, round4(sigma), kw, dc)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(out, 1))
  }

  /** [[kConcepts]] semantics through the [[kFactorsShared]] memo: the
    * factor chain runs once per (session, corpus, k, iters); emission
    * (a handful of bounded top-k collects) runs per call.
    */
  def kConceptsShared(session: org.apache.spark.sql.SparkSession,
      cells: => DataFrame, key: String, k: Int, iters: Int,
      nKeywords: Int = 3, nDocs: Int = 3): DataFrame = {
    val done = kFactorsShared(session, cells, key, k, iters)
    kConceptsFromFactors(done, session, nKeywords, nDocs)
  }

  /** The k-concept power-deflation loop itself, returning the LIVE
    * factors — per concept j: (v_j (token, v), σ_j, Av_j (id, av)).
    * Callers own the returned checkpoints (release via
    * [[releaseCheckpoint]] when done); `c` = persisted (id, token, a)
    * cells. This is the surface ls14's LSI fold-in consumes; the ls01
    * concept emission above is one consumer of it.
    */
  def kFactors(c: DataFrame, k: Int,
      iters: Int): Seq[(DataFrame, Double, DataFrame)] = {
    val nv = c.select(col("token")).distinct().count()
    // fail fast on an impossible-empty vocabulary: a cache race
    // could otherwise feed 0 into 1/sqrt(nv) (silent Inf or ANSI
    // divide-by-zero deep in the chain — seen once under a
    // concurrent-gate clearCache; see Verify's cache note)
    require(nv > 0, s"empty vocabulary (nv=$nv) from non-empty cells - " +
      "likely a cache/materialization race; retry the query")
    val c0 = 1.0 / math.sqrt(nv.toDouble)
    // (v_j DataFrame(token, v), sigma_j, av_j DataFrame(id, av))
    val done = scala.collection.mutable.ArrayBuffer
      .empty[(DataFrame, Double, DataFrame)]
    var j = 0
    while (j < k) {
      val vprev =
        if (done.isEmpty) null
        else done.zipWithIndex.map { case ((vi, sg, _), i) =>
          vi.select(lit(i).as("i"), lit(sg * sg).as("s2"),
            col("token"), col("v"))
        }.reduce(_ unionAll _).localCheckpoint()
      var q: DataFrame =
        if (done.isEmpty)
          c.select(col("token")).distinct()
            .withColumn("v", lit(c0)).localCheckpoint()
        else {
          val dots0 = vprev.groupBy(col("i"))
            .agg(sum((col("v") * lit(c0)).cast(Dec)).cast("double").as("dot"))
          val corr0 = vprev.join(dots0.select(col("i"), col("dot")), "i")
            .groupBy(col("token"))
            .agg(sum((col("dot") * col("v")).cast(Dec)).cast("double").as("corr"))
          val w0r = corr0.select(col("token"), (lit(c0) - col("corr")).as("w"))
          normalized(w0r).localCheckpoint()
        }
      (1 to iters).foreach { _ =>
        val u = matvecV(c, q, "u")
        val w0 = c.join(u, Seq("id"))
          .groupBy(col("token"))
          .agg(sum((col("a") * col("u")).cast(Dec)).cast("double").as("w0"))
        val w =
          if (done.isEmpty) w0.select(col("token"), col("w0").as("w"))
          else {
            val dots = vprev.join(q.select(col("token"), col("v").as("qv")), "token")
              .groupBy(col("i"), col("s2"))
              .agg(sum((col("v") * col("qv")).cast(Dec)).cast("double").as("dot"))
            val corr = vprev.join(dots.select(col("i"), col("dot")), "i")
              .groupBy(col("token"))
              .agg(sum(((col("s2") * col("dot")) * col("v")).cast(Dec))
                .cast("double").as("corr"))
            w0.join(corr, Seq("token"))
              .select(col("token"), (col("w0") - col("corr")).as("w"))
          }
        val qNext = normalized(w).localCheckpoint()
        // localCheckpoint is EAGER: qNext's blocks are materialized, so
        // the previous round's vector is dead — release its checkpoint
        // storage now instead of letting ~k·iters vocabulary-sized block
        // sets pile up for the session lifetime on the at-scale path.
        releaseCheckpoint(q)
        q = qNext
      }
      val av = matvecV(c, q, "av").localCheckpoint()
      if (vprev != null) releaseCheckpoint(vprev) // dead once av materializes
      val sigma = av.agg(
        sqrt(sum((col("av") * col("av")).cast(Dec)).cast("double")))
        .head().getDouble(0)
      done += ((q, sigma, av))
      j += 1
    }
    done.toSeq
  }

  /** Free the block storage behind a localCheckpoint'd DataFrame. The
    * checkpoint IS the persisted RDD blocks (LocalRDDCheckpointData), so
    * unpersisting the underlying RDD releases them immediately instead of
    * waiting for the ContextCleaner's weak-reference GC pass. The plan of
    * a checkpointed Dataset is a LogicalRDD (package-private) — reached
    * via reflection; a non-checkpointed plan is left untouched. MUST only
    * be called once no downstream computation will read the DataFrame
    * again (its lineage was truncated — re-access cannot recompute).
    */
  private def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical.collect {
      case p if p.getClass.getSimpleName == "LogicalRDD" =>
        try p.getClass.getMethod("rdd").invoke(p) match {
          case r: org.apache.spark.rdd.RDD[_] => r.unpersist(blocking = false)
          case _ => ()
        } catch { case _: ReflectiveOperationException => () }
    }

  /** w → w/‖w‖ with the exact-decimal norm, column renamed to v; a
    * zero-norm residual yields the ZERO vector (PowerCore's
    * zero-continue convention for rank-deficient inputs).
    */
  private def normalized(w: DataFrame): DataFrame = {
    val nrm = w.agg(
      sqrt(sum((col("w") * col("w")).cast(Dec)).cast("double")).as("nrm"))
    w.crossJoin(broadcast(nrm))
      .select(col("token"),
        when(col("nrm") === 0.0, 0.0)
          .otherwise(col("w") / col("nrm")).as("v"))
  }

  /** SECOND singular triple via IMPLICIT deflation: never materialize
    * the dense residual A − σ₁u₁v₁ᵀ (impossible at scale); instead use
    * A₂ᵀA₂ = AᵀA − σ₁²v₁v₁ᵀ, so each round is the same two sparse
    * matvecs plus one dot product and a rank-1 correction on the
    * vocabulary-sized vector:
    *
    *   v ← normalize( Aᵀ(A v) − σ₁²·(v₁·v)·v₁ )
    *
    * started from the uniform vector orthogonalized against v₁. Same
    * float discipline as [[topSingular]] — decimal-exact sums, pinned
    * multiplication order `(σ₁²·dot)·v₁` — so the DuckDB oracle replays
    * both concepts bit-for-bit.
    */
  def secondSingular(cells: DataFrame, iters: Int,
      maxLocalNnz: Long = MaxLocalNnz, maxLocalIds: Long = MaxLocalIds): DataFrame = {
    require(iters >= 1 && iters <= 32, s"iters $iters out of range")
    val c = cells.select(col("id"), col("token"), col("a")).persist()
    // same routing and budgets as topSingular — see its scaladoc; the
    // local twin replicates THIS chain's plain-double corrections, not
    // kFactors' decimal-summed ones
    val (fits, nv) = probe(c, maxLocalNnz, maxLocalIds, vocab = true)
    if (fits) {
      val chain = new LocalPowerChain(collectCells(c))
      c.unpersist()
      return chain.emitSecond(cells.sparkSession, iters)
    }
    val v1 = powerV(c, nv, iters)
    val av1 = matvecV(c, v1, "av")
    val sigma1 = av1.agg(
      sqrt(sum((col("av") * col("av")).cast(Dec)).cast("double")))
      .head().getDouble(0)
    val s2 = sigma1 * sigma1

    def dotWithV1(v: DataFrame): DataFrame =
      v1.select(col("token"), col("v").as("v1"))
        .join(v, Seq("token"))
        .agg(sum((col("v1") * col("v")).cast(Dec)).cast("double").as("dot"))

    // init: uniform start orthogonalized against v₁, normalized
    val c0 = 1.0 / math.sqrt(nv.toDouble)
    val dot0 = v1.agg(
      sum((col("v") * lit(c0)).cast(Dec)).cast("double").as("dot"))
    val q0raw = v1.crossJoin(broadcast(dot0))
      .select(col("token"), (lit(c0) - col("dot") * col("v")).as("w"))
    val nrm0 = q0raw.agg(
      sqrt(sum((col("w") * col("w")).cast(Dec)).cast("double")).as("nrm"))
    var q = q0raw.crossJoin(broadcast(nrm0))
      .select(col("token"), (col("w") / col("nrm")).as("v"))
      .localCheckpoint()

    (1 to iters).foreach { _ =>
      val u = matvecV(c, q, "u")
      val w0 = c.join(u, Seq("id"))
        .groupBy(col("token"))
        .agg(sum((col("a") * col("u")).cast(Dec)).cast("double").as("w0"))
      val dt = dotWithV1(q)
      val w = v1.select(col("token"), col("v").as("v1"))
        .join(w0, Seq("token"), "left")
        .crossJoin(broadcast(dt))
        .select(col("token"),
          (coalesce(col("w0"), lit(0.0)) -
            (lit(s2) * col("dot")) * col("v1")).as("w"))
      val nrm = w.agg(
        sqrt(sum((col("w") * col("w")).cast(Dec)).cast("double")).as("nrm"))
      q = w.crossJoin(broadcast(nrm))
        .select(col("token"), (col("w") / col("nrm")).as("v"))
        .localCheckpoint()
    }
    val out = emit(c, q)
    c.unpersist()
    out
  }
}
