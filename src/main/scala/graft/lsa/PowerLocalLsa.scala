package graft.lsa

/** LOCAL per-group LSA concepts on the [[PowerCore]] exact-decimal
  * recurrence — the DuckDB-replayable sibling of [[LocalLsa]] (which
  * runs the production Lanczos solver). Used by the ls05
  * grouped evaluation: one call per bounded group inside
  * `flatMapGroups`, each a pure function of the group's sentences that
  * the keyed PowerKSql chain unrolls.
  *
  * Conventions shared with LocalLsa: the lemma'd LSA token pipeline,
  * IDF = log10(N/df) over docs with ≥1 kept token, cell = tf·idf
  * rounded to 6 decimals (pinning the one non-correctly-rounded step,
  * log10, cross-engine — as in ls01's cells), sign per concept to the
  * max-|v| token (ties to lexicographically first), top docs by
  * (loading desc, id asc). No 1e-6 snap: the power recurrence is
  * bit-deterministic, so solver-noise quantization is unnecessary.
  */
object PowerLocalLsa {

  final case class Concept(concept: Int, sigma: Double, docIds: Seq[Long])

  def concepts(docs: Seq[(Long, String)], k: Int, iters: Int,
      nDocs: Int): Seq[Concept] = {
    val tok = docs.map { case (id, t) => id -> LocalLsa.lsaTokens(t) }
      .filter(_._2.nonEmpty)
    if (tok.isEmpty) return Seq.empty
    val nd = tok.size
    val df: Map[String, Int] = tok.flatMap { case (_, ts) => ts.distinct }
      .groupBy(identity).map { case (t, xs) => t -> xs.size }
    val m = PowerCore.Matrix(tok.flatMap { case (id, ts) =>
      ts.groupBy(identity).map { case (t, dup) => // = round(a, 6) on both engines
        (id, t, SparkNumerics.round(dup.size * math.log10(nd.toDouble / df(t)), 6))
      }
    })
    val factors = PowerCore.factorize(m, k, iters)
    factors.zipWithIndex.map { case (f, j) =>
      val fl = Loadings.sign(m.nToks)(f.v(_)) // toks ascending: ties to the first token
      val top = m.ids.indices.map(d => (
          if (f.sigma == 0.0) 0.0 else fl * (f.av(d) / f.sigma), m.ids(d)))
        .sortBy { case (su, d) => (-su, d) }.take(nDocs)
      Concept(j, f.sigma, top.map(_._2))
    }.toSeq
  }
}
