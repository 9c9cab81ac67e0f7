package graft.lsa

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic fixed-iteration power SVD of a sparse (id × token)
  * matrix — the oracle-replicable sibling of [[Lsa]]'s ARPACK SVD, the
  * same move that made the IVF quantizer verifiable
  * (`Similarity.lloydClusters`): replace the solver whose float
  * internals no SQL engine can replay with a fixed declarative
  * recurrence whose every value is a pure function of the data.
  *
  * One factor chain serves every caller: [[kFactors]] (distributed) and
  * [[PowerCore.factorize]] (local) walk the same implicit-deflation
  * recurrence from the uniform start 1/√|vocab| (the matrix is
  * nonnegative — tf·idf with idf = log10(N/df) ≥ 0 — so by
  * Perron-Frobenius the top singular vector is nonnegative and the
  * all-ones start has positive overlap with it). ls06 ([[topSingular]])
  * emits the first factor; ls07 ([[secondSingular]]) deflates against
  * it; ls01/ls09/ls12/ls14 consume k factors through [[kFactorsShared]].
  *
  * Float discipline (the whole point): every matvec sum runs in EXACT
  * decimal — per-cell products are doubles (bit-identical cross-engine
  * given identical inputs), summed as DECIMAL(38,18) (associative, so
  * partitioning cannot reorder anything observable) and cast back.
  * Norms are √(exact sum of squares); sqrt and division are IEEE
  * correctly-rounded, so both engines walk the same bit sequence.
  * A zero-norm vector normalizes to the ZERO vector and a zero σ emits
  * zero left loadings (PowerCore's zero-continue convention), on both
  * routes. Cell values themselves must be pinned upstream (round tf·idf
  * before calling — log10 is the one non-correctly-rounded step).
  *
  * Routing: one probe per call decides between one bounded collect
  * feeding [[PowerCore]]'s compact arrays and the shuffled join+agg
  * matvecs (v vocabulary-sized and broadcast, lineage cut per round
  * with localCheckpoint — the 100 TB path). Both routes hand back the
  * same factors bit for bit (PowerLsaSpec, PowerLocalTwinSpec).
  */
object PowerLsa {

  private val Dec = "decimal(38,18)"

  /** Local-route budgets: cells (nnz) and distinct ids. */
  private val MaxLocalNnz = 2000000L
  private val MaxLocalIds = 500000L

  /** Keywords and doc ids per emitted concept (the reference's top 3). */
  private[graft] val NKeywords = 3
  private[graft] val NDocs = 3

  /** One factor: v (token, v), σ, and the unnormalized left image
    * Av (id, av) — u = Av/σ.
    */
  type Factor = (DataFrame, Double, DataFrame)

  private def decSum(x: Column): Column = sum(x.cast(Dec)).cast("double")

  /** √Σ dec(x·x) over column `x`. */
  private def norm(x: String): Column = sqrt(decSum(col(x) * col(x)))

  /** The one route probe over persisted cells: whether they fit the
    * local budgets, and the vocabulary size the distributed chain's
    * uniform start 1/√nv needs, in one aggregate job.
    */
  private def probe(c: DataFrame): (Boolean, Long) = {
    val r = c.agg(count(lit(1)), count_distinct(col("id")),
      count_distinct(col("token"))).head()
    val nv = r.getLong(2)
    // fail fast on an empty vocabulary: empty cells, or a cache race
    // that would otherwise feed 0 into 1/sqrt(nv) (silent Inf or ANSI
    // divide-by-zero deep in the chain — seen once under a
    // concurrent-gate clearCache; see Verify's cache note)
    require(nv > 0, s"empty vocabulary (nv=$nv, nnz=${r.getLong(0)}) - " +
      "empty cells, or a cache/materialization race; retry the query")
    (r.getLong(0) <= MaxLocalNnz && r.getLong(1) <= MaxLocalIds, nv)
  }

  /** The one route decision: persist the (id, token, a) cells, probe
    * them once, then run `local` on them when they fit the budgets and
    * `distributed` (with the vocabulary size) when they do not. Both
    * routes return collected or localCheckpoint'd factors, so the cells
    * cache is released either way.
    */
  private def routed[T](cells: DataFrame)(local: DataFrame => T)(
      distributed: (DataFrame, Long) => T): T = {
    val c = cells.select(col("id"), col("token"), col("a")).persist()
    try {
      val (fits, nv) = probe(c)
      if (fits) local(c) else distributed(c, nv)
    } finally c.unpersist()
  }

  /** The local routes' one bounded collect: cells → [[PowerCore.Matrix]]. */
  private def collectCells(cells: DataFrame): PowerCore.Matrix = {
    val spark = cells.sparkSession
    import spark.implicits._
    PowerCore.Matrix(cells.select(col("id").cast("long"), col("token"),
      // collect-bound: probe-guarded: every caller routes here only under the probe()'s nnz/id budgets; the distributed chains are the fallback
      col("a").cast("double")).as[(Long, String, Double)].collect().toSeq)
  }

  /** A local factor as small (token, v) / (id, av) DataFrames. */
  private def frames(spark: SparkSession, m: PowerCore.Matrix,
      f: PowerCore.Factor): Factor = {
    import spark.implicits._
    (m.toks.indices.map(t => (m.toks(t), f.v(t))).toDF("token", "v"), f.sigma,
      m.ids.indices.map(d => (m.ids(d), f.av(d))).toDF("id", "av"))
  }

  /** One A v matvec: (id, out). */
  private def matvecV(c: DataFrame, v: DataFrame, out: String): DataFrame =
    c.join(v, Seq("token"))
      .groupBy(col("id"))
      .agg(decSum(col("a") * col("v")).as(out))

  /** One Aᵀ u matvec: (token, out). */
  private def matvecU(c: DataFrame, u: DataFrame, out: String): DataFrame =
    c.join(u, Seq("id"))
      .groupBy(col("token"))
      .agg(decSum(col("a") * col("u")).as(out))

  /** w → w/‖w‖ with the exact-decimal norm, column renamed to v; a
    * zero-norm residual yields the ZERO vector (PowerCore's
    * zero-continue convention for rank-deficient inputs).
    */
  private def normalized(w: DataFrame): DataFrame =
    w.crossJoin(broadcast(w.agg(norm("w").as("nrm"))))
      .select(col("token"),
        when(col("nrm") === 0.0, 0.0)
          .otherwise(col("w") / col("nrm")).as("v"))

  /** A converged distributed vector's factor: Av checkpointed, σ = ‖Av‖. */
  private def factorOf(c: DataFrame, v: DataFrame): Factor = {
    val av = matvecV(c, v, "av").localCheckpoint()
    (v, av.agg(norm("av")).head().getDouble(0), av)
  }

  private def requireIters(iters: Int): Unit =
    require(iters >= 1 && iters <= 32, s"iters $iters out of range")

  /** The ls06/ls07 rows of one factor, for both routes: one 'sigma' row,
    * a 'term' row per vocabulary entry (v loading) and a 'doc' row per
    * matrix row (u = Av/σ, 0 when σ = 0), scores rounded to 6 decimals.
    */
  private[lsa] def emit(f: Factor): DataFrame = {
    val (v, sigma, av) = f
    val u = if (sigma == 0.0) lit(0.0) else col("av") / lit(sigma)
    v.sparkSession.range(1)
      .select(lit("sigma").as("kind"), lit("").as("ident"),
        round(lit(sigma), 6).as("score"))
      .unionAll(v.select(lit("term").as("kind"), col("token").as("ident"),
        round(col("v"), 6).as("score")))
      .unionAll(av.select(lit("doc").as("kind"), col("id").cast("string").as("ident"),
        round(u, 6).as("score")))
  }

  /** cells: (id long, token string, a double) sparse matrix entries.
    * Returns the TOP singular triple (σ₁, u₁, v₁) as (kind, ident,
    * score) rows (see [[emit]]): the first factor of [[kFactorsAuto]].
    */
  def topSingular(cells: DataFrame, iters: Int): DataFrame = {
    requireIters(iters)
    emit(kFactorsAuto(cells, 1, iters).head)
  }

  /** SECOND singular triple via IMPLICIT deflation: never materialize
    * the dense residual A − σ₁u₁v₁ᵀ (impossible at scale); instead use
    * A₂ᵀA₂ = AᵀA − σ₁²v₁v₁ᵀ, so each round is the same two sparse
    * matvecs plus one dot product and a rank-1 correction on the
    * vocabulary-sized vector:
    *
    *   v ← normalize( Aᵀ(A v) − σ₁²·(v₁·v)·v₁ )
    *
    * started from the uniform vector orthogonalized against v₁, where
    * v₁/σ₁ are [[topSingular]]'s first factor. Unlike [[kFactors]]' and
    * PowerCore's decimal-summed corrections, the correction here is
    * PLAIN double with the pinned order `(σ₁²·dot)·v₁` — what the ls07
    * DuckDB oracle replays bit-for-bit. Rows as [[topSingular]].
    */
  def secondSingular(cells: DataFrame, iters: Int): DataFrame = {
    requireIters(iters)
    emit(routed(cells)(secondLocal(_, iters))(secondDistributed(_, _, iters)))
  }

  /** [[secondSingular]]'s local route: the same recurrence on
    * [[PowerCore]]'s arrays off one bounded collect — dots and norms in
    * dec sums, the corrections in plain double, exactly where the
    * distributed route uses each.
    */
  private[lsa] def secondLocal(cells: DataFrame, iters: Int): Factor = {
    import PowerCore.{dot, normalize}
    val m = collectCells(cells)
    val f1 = PowerCore.factorize(m, 1, iters).head
    val (v1, s2) = (f1.v, f1.sigma * f1.sigma)
    val c0 = 1.0 / math.sqrt(m.nToks.toDouble)
    val dot0 = dot(v1, Array.fill(m.nToks)(c0))
    var q = normalize(v1.map(x => c0 - dot0 * x))
    var it = 0
    while (it < iters) {
      val w0 = m.matvecU(m.matvecV(q))
      val dt = dot(v1, q)
      q = normalize(Array.tabulate(m.nToks)(t => w0(t) - (s2 * dt) * v1(t)))
      it += 1
    }
    val av = m.matvecV(q)
    frames(cells.sparkSession, m, PowerCore.Factor(PowerCore.norm(av), q, av))
  }

  /** [[secondSingular]]'s distributed route over persisted cells `c`
    * with `nv` distinct tokens.
    */
  private[lsa] def secondDistributed(c: DataFrame, nv: Long,
      iters: Int): Factor = {
    val (v1, sigma1, av1) = kFactors(c, nv, 1, iters).head
    releaseCheckpoint(av1)
    val s2 = sigma1 * sigma1
    val v1c = v1.select(col("token"), col("v").as("v1"))
    // init: uniform start orthogonalized against v₁, normalized
    val c0 = 1.0 / math.sqrt(nv.toDouble)
    val dot0 = v1.agg(decSum(col("v") * lit(c0)).as("dot"))
    var q = normalized(v1.crossJoin(broadcast(dot0))
      .select(col("token"), (lit(c0) - col("dot") * col("v")).as("w")))
      .localCheckpoint()
    (1 to iters).foreach { _ =>
      val w0 = matvecU(c, matvecV(c, q, "u"), "w0")
      val dt = v1c.join(q, Seq("token")).agg(decSum(col("v1") * col("v")).as("dot"))
      val qNext = normalized(v1c.join(w0, Seq("token"), "left")
        .crossJoin(broadcast(dt))
        .select(col("token"),
          (coalesce(col("w0"), lit(0.0)) -
            (lit(s2) * col("dot")) * col("v1")).as("w")))
        .localCheckpoint()
      releaseCheckpoint(q)
      q = qNext
    }
    val out = factorOf(c, q)
    releaseCheckpoint(v1)
    out
  }

  final case class ConceptRow(concept: Int, singular_value: Double,
      keywords: String, doc_ids: String)

  /** k LSA concepts (the ls01 surface: per concept σ, top keywords, top
    * doc ids) through the [[kFactorsShared]] memo: the factor chain runs
    * once per (session, corpus, k, iters); emission (a handful of
    * bounded top-k collects) runs per call. The fully oracle-replayable
    * form of `Lsa.concepts`' k=5 ARPACK semantics (reference
    * BigdataProjectCode.py:138).
    *
    * cells: (id long, token string, a double). Output: (concept int,
    * singular_value round-4, keywords "t1 t2 …", doc_ids "d1 d2 …").
    */
  def kConceptsShared(session: SparkSession, cells: => DataFrame,
      key: String, k: Int, iters: Int): DataFrame =
    kConceptsFromFactors(kFactorsShared(session, cells, key, k, iters), session)

  /** Concept emission from factors: sign convention (the
    * [[Loadings.sign]] rule as an ordering), top keywords/doc ids,
    * round-4 σ. Does NOT release the factors — the caller (or the memo)
    * owns them.
    */
  private[lsa] def kConceptsFromFactors(done: Seq[Factor],
      spark: SparkSession): DataFrame = {
    import spark.implicits._
    val out = done.zipWithIndex.map { case ((vj, sigma, av), i) =>
      val flRow = vj.orderBy(abs(col("v")).desc, col("token")).limit(1)
        .select(col("v")).head()
      val fl = if (flRow.getDouble(0) < 0) -1.0 else 1.0
      val kw = vj.select(col("token"), (lit(fl) * col("v")).as("sv"))
        .orderBy(desc("sv"), col("token")).limit(NKeywords)
        // collect-bound: top-k: limit(NKeywords) tokens per concept
        .select(col("token")).as[String].collect().mkString(" ")
      val dc = av.select(col("id"),
          (if (sigma == 0.0) lit(0.0)
           else lit(fl) * (col("av") / lit(sigma))).as("su"))
        .orderBy(desc("su"), col("id")).limit(NDocs)
        // collect-bound: top-k: limit(NDocs) ids per concept
        .select(col("id").cast("long")).as[Long].collect().mkString(" ")
      ConceptRow(i, SparkNumerics.round(sigma, 4), kw, dc)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(out, 1))
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
    SparkSession, java.util.concurrent.ConcurrentHashMap[String, Seq[Factor]]]()

  def kFactorsShared(session: SparkSession, cells: => DataFrame, key: String,
      k: Int, iters: Int): Seq[Factor] = {
    val it = factorsMemo.keySet.iterator
    while (it.hasNext) if (it.next().sparkContext.isStopped) it.remove()
    factorsMemo
      .computeIfAbsent(session, _ => new java.util.concurrent.ConcurrentHashMap)
      .computeIfAbsent(s"$key:$k:$iters", _ => kFactorsAuto(cells, k, iters))
  }

  /** k factors of the cells, [[kFactorsLocal]] under the local budgets
    * and [[kFactors]] above them. Either way the caller owns the
    * returned factors.
    */
  private[lsa] def kFactorsAuto(cells: DataFrame, k: Int,
      iters: Int): Seq[Factor] =
    routed(cells)(kFactorsLocal(_, k, iters))(kFactors(_, _, k, iters))

  /** Bounded-collect twin of [[kFactors]]: the IDENTICAL exact-decimal
    * recurrence on primitive arrays ([[PowerCore.factorize]]), re-emitted
    * as small local DataFrames in the kFactors shape. At gate scale this
    * removes k×iters shuffled-matvec rounds of per-job overhead from
    * every factor consumer (ls14 dropped from ~60 s to seconds in the r7
    * gate).
    */
  private[lsa] def kFactorsLocal(cells: DataFrame, k: Int,
      iters: Int): Seq[Factor] = {
    val m = collectCells(cells)
    PowerCore.factorize(m, k, iters).toSeq.map(frames(cells.sparkSession, m, _))
  }

  /** The k-concept power-deflation loop itself over persisted
    * (id, token, a) cells `c` with `nv` distinct tokens, returning the
    * LIVE factors. Callers own the returned checkpoints (release via
    * [[releaseCheckpoint]] when done). Per round: two shuffled matvecs
    * plus one grouped dot / rank-1 correction against the UNION of
    * prior vectors; v stays vocabulary-sized, lineage cut per round.
    */
  private[lsa] def kFactors(c: DataFrame, nv: Long, k: Int,
      iters: Int): Seq[Factor] = {
    val c0 = 1.0 / math.sqrt(nv.toDouble)
    val done = scala.collection.mutable.ArrayBuffer.empty[Factor]
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
            .agg(decSum(col("v") * lit(c0)).as("dot"))
          val corr0 = vprev.join(dots0.select(col("i"), col("dot")), "i")
            .groupBy(col("token"))
            .agg(decSum(col("dot") * col("v")).as("corr"))
          val w0r = corr0.select(col("token"), (lit(c0) - col("corr")).as("w"))
          normalized(w0r).localCheckpoint()
        }
      (1 to iters).foreach { _ =>
        val w0 = matvecU(c, matvecV(c, q, "u"), "w0")
        val w =
          if (done.isEmpty) w0.select(col("token"), col("w0").as("w"))
          else {
            val dots = vprev.join(q.select(col("token"), col("v").as("qv")), "token")
              .groupBy(col("i"), col("s2"))
              .agg(decSum(col("v") * col("qv")).as("dot"))
            val corr = vprev.join(dots.select(col("i"), col("dot")), "i")
              .groupBy(col("token"))
              .agg(decSum((col("s2") * col("dot")) * col("v")).as("corr"))
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
      done += factorOf(c, q)
      if (vprev != null) releaseCheckpoint(vprev) // dead once av materializes
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
}
