package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** Pins the dedup-family degenerate-corpus mass probe (r13 verdict
  * task 2): STRESS_r13 measured d04/d15's pre-shuffle partial
  * aggregates pressing 7.94–7.97 g at sf10 on the replica-degenerate
  * corpus with OOM projected at ~sf15 (~490 M post-cap pairs). The
  * probe ([[Dedup.massRouted]], Dedup object docs) measures the exact
  * post-cap pair mass above a row floor and, over a heap-derived
  * budget, swaps the pair stream to output-sized partitioning.
  * Contract pinned here:
  *  - the bounded route is VALUE-IDENTICAL to the default route (for
  *    d04's candidate distinct, d05's simhash chunk-band pairs and
  *    d15's quantized cosine) — the reroute moves partitioning, never
  *    answers;
  *  - the route decision is exactly mass > budget, and below the floor
  *    no mass is measured;
  *  - below the floor the optimized plan is byte-identical to the
  *    probe-less shape (no injected exchange).
  * The bounded route is reached through the operators' package-private
  * `*Within` entry points with small [[Dedup.MassLimits]]; the public
  * operators always use the production limits [[Dedup.Mass]].
  */
class DedupMassProbeSpec extends SparkSpec {
  import spark.implicits._

  // replica-degenerate fixture in miniature: every "document" is the
  // same token set, so every signature collides in every band (the
  // sf10 stress corpus's 100-near-identical-copies shape)
  private def degenerateSigs(n: Int): DataFrame =
    (0L until n.toLong).map(i => (i, Seq.fill(8)(42L))).toDF("id", "sig")

  private def exchanged(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.toString.toLowerCase
      .contains("repartitionbyexpression")

  test("route decision is exactly mass > budget") {
    // at or below the floor the mass is never evaluated
    val pairs = Seq((1L, 2L)).toDF("a", "b")
    val limits = Dedup.MassLimits(minRows = 10L, budgetPairs = 100L)
    def routed(rows: Long, mass: => Long) =
      exchanged(Dedup.massRouted("spec", rows, limits, "a", "b")(mass)(pairs))
    assert(routed(11L, 101L))
    assert(!routed(11L, 100L))
    assert(!routed(11L, 0L))
    assert(!routed(10L, sys.error("mass probed at the floor")))
  }

  test("massParts scales with mass inside [32, 4096]") {
    assert(Dedup.massParts(1000L) == 32)
    assert(Dedup.massParts(490000000L) == 245)
    assert(Dedup.massParts(Long.MaxValue / 4) == 4096)
  }

  test("tripped probe takes the bounded route with IDENTICAL candidate " +
      "pairs (d04 shape)") {
    val sigs = degenerateSigs(50)
    // mass = 4 bands × 50·49 = 9800 > budget 1000; floor 10 < 50 docs
    val default = Dedup.lshCandidates(sigs, bands = 4, rowsPerBand = 2)
      .as[(Long, Long)].collect().toSet
    val bounded = Dedup.lshCandidatesWithin(sigs, bands = 4, rowsPerBand = 2,
      maxBucket = 1000, Dedup.MassLimits(minRows = 10L, budgetPairs = 1000L))
    assert(exchanged(bounded),
      "probe must have injected the output-sized exchange")
    assert(bounded.as[(Long, Long)].collect().toSet == default,
      "bounded route changed the candidate set")
    assert(default.size == 50 * 49 / 2, "fixture must be all-pairs degenerate")
  }

  test("below the floor the plan carries no injected exchange") {
    val sigs = degenerateSigs(20)
    assert(!exchanged(Dedup.lshCandidates(sigs, bands = 4, rowsPerBand = 2)),
      "default-scale plan must stay byte-identical to the probe-less shape")
  }

  test("tripped probe keeps d05's simhash pairs identical and injects " +
      "the exchange; below the floor the plan is probe-less") {
    // identical token lists -> identical 64-bit signatures -> every doc
    // shares all four 16-bit chunks (the replica-degenerate shape; no
    // maxBucket cap exists on this path, so the probe is the only guard)
    val toks = (0L until 30L).map(i => (i, Seq("alpha", "beta", "gamma")))
      .toDF("id", "tokens")
    val below = Dedup.simhashNearDuplicates(toks)
    val default = below.as[(Long, Long, Int)].collect().toSet
    assert(default.size == 30 * 29 / 2 &&
      default.forall(_._3 == 0), "fixture must be all-pairs at Hamming 0")
    val bounded = Dedup.simhashNearDuplicatesWithin(toks, maxHamming = 3,
      Dedup.MassLimits(minRows = 10L, budgetPairs = 100L))
    assert(exchanged(bounded),
      "probe must have injected the output-sized exchange")
    assert(bounded.as[(Long, Long, Int)].collect().toSet == default,
      "bounded route changed the simhash pair set")
    assert(!exchanged(below),
      "default-scale plan must stay byte-identical to the probe-less shape")
  }

  test("tripped probe keeps d15's quantized cosine pairs bit-identical") {
    // same-token documents (quadratic token join) plus two distinct
    // docs so the df cap keeps a nonzero vocabulary
    val docs = ((0 until 12).map(i => (i.toLong, "alpha beta gamma delta")) ++
      Seq((100L, "alpha epsilon zeta eta"), (200L, "beta theta iota kappa")))
      .toDF("doc_id", "text")
    val tokens =
      graft.text.TextFunctions.tokenize(org.apache.spark.sql.functions.col("text"))
    val default = Similarity.tfidfCosinePairs(docs, "doc_id", tokens,
        quantScale = 1e4, maxDfFrac = 0.95, tau = 0.1)
      .as[(Long, Long, Double)].collect().toSet
    val bounded = Similarity.tfidfCosinePairsWithin(docs, "doc_id", tokens,
      quantScale = 1e4, maxDfFrac = 0.95, tau = 0.1,
      Dedup.MassLimits(minRows = 5L, budgetPairs = 10L))
    assert(exchanged(bounded),
      "probe must have injected the output-sized exchange")
    assert(bounded.as[(Long, Long, Double)].collect().toSet == default,
      "bounded route changed d15 values")
    assert(default.nonEmpty, "fixture must produce pairs")
  }
}
