package graft.textrank

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.lsa.SparkNumerics
import graft.operators.LocalRoute
import graft.text.TextFunctions

/** TextRank (Mihalcea & Tarau 2004) re-expressed as declarative DataFrame
  * plans — SURVEY.md §2.9 (G1-G7) / EP2.
  *
  * Reference semantics reproduced exactly (BigdataProjectCode.py):
  *  - similarity `|set-intersect| / (log2(|a|) + log2(|b|) + 1)` where the
  *    lengths count duplicates but the intersection is set-based (:339-347,
  *    quirk in SURVEY G2);
  *  - self/zero-similarity edges dropped (:342-347, F8);
  *  - rank init 0.15 (not 1/N), damping 0.85, fixed 5 iterations, update
  *    `r' = 0.15 + 0.85 * Σ_in rank_src * w / Σ_out w_src` (:386-391, Q4);
  *  - vertices with an empty token list are excluded (log2(0) is undefined
  *    — the reference would crash on them; F7).
  *
  * Scale design: the all-pairs similarity join (J2) is the quadratic
  * step. A product-sized exact graph (up to [[LocalVertices]] vertices)
  * is built and ranked on the driver, as the reference ranks on the
  * driver: [[summarize]] collects the band rows with their text and
  * tokens once and does the top-k and text lookup there too (one Spark
  * job), [[rankDocuments]] collects its persisted vertex table. Above
  * it the exact path is a broadcast-nested-loop self-join, correct and
  * fast while the vertex set (sentence band survivors) fits a
  * broadcast;
  * the 100 TB path ([[EdgeCandidates.Lsh]]) routes edge generation through
  * the MinHash-LSH banding in `graft.operators.Dedup` — candidates from
  * bucket joins (linear + bounded-bucket quadratic), exact re-weighting
  * only on candidate pairs — producing the same edge schema so the rank
  * loop (two shuffles per iteration, lineage cut by localCheckpoint) is
  * unchanged.
  */
object TextRank {

  /** How the all-pairs similarity edge list is generated. */
  sealed trait EdgeCandidates
  object EdgeCandidates {
    /** Exact all-pairs self-join (src<dst halving + mirror). O(V²)
      * comparisons — the correctness oracle path, right up to the point
      * where the vertex set outgrows a broadcast.
      */
    case object Exact extends EdgeCandidates

    /** MinHash-LSH candidate prefilter: signature over the distinct
      * token set, band/bucket join for candidates, exact TextRank
      * re-weighting ONLY on candidate pairs. Linear in V plus the
      * bounded within-bucket joins — the 100 TB shape.
      *
      * Recall caveat: a pair whose token-set Jaccard is low (but whose
      * intersection is nonzero) may never collide in any band; its edge
      * is dropped, perturbing ranks slightly. With rowsPerBand=2 and
      * bands=64 a pair at Jaccard 0.2 is caught with p≈0.93, at 0.5
      * with p≈1-2e-8. `TextRankLshSpec` bounds the rank divergence on
      * the fixture corpus.
      */
    final case class Lsh(
        numHashes: Int = 128,
        bands: Int = 64,
        maxBucket: Int = 10000) extends EdgeCandidates
  }

  final case class Config(
      lemma: Boolean = true,
      /** Edge-generation strategy; Exact below, LSH at corpus scale. */
      edgeCandidates: EdgeCandidates = EdgeCandidates.Exact)

  // The reference's fixed numbers (BigdataProjectCode.py:386-391; the
  // band is F2's exclusive 10..30 space-split words). Every TextRank
  // oracle in the gate replays exactly these.
  private[textrank] val Iterations = 5
  private[textrank] val Damping = 0.85
  private[textrank] val InitRank = 0.15
  private val MinWords = 10
  private val MaxWords = 30

  /** Edge count above which [[ranks]] falls back from the
    * compacted-primitive-arrays treeAggregate strategy to the shuffled
    * join: the compact arrays are EDGE-sized (16 bytes per directed edge
    * held across the executor heap), so vertex count alone is the wrong
    * budget — the sf3 stress replica's exact graph (~1 B directed edges,
    * 45 k vertices) passed the vertex probe and then blew the 8 g heap
    * building the arrays. 150 M edges ≈ 2.4 GB of arrays; the sf1 graph
    * (113 M) stays on the fast path.
    */
  private val EdgeBudget: Long = 150000000L

  /** Estimated edge-cache bytes above which [[edgeStorage]] puts the
    * edge caches on DISK_ONLY (2 GB ≈ a quarter of the default 8 g
    * heap; the sf1 graph's 2.7 GB crosses it, the sf0.1 bench graph's
    * ~54 MB does not).
    */
  val DiskEdgeBytes: Long = 2L << 30

  /** Storage level for the edge-sized caches (the edge list and the
    * normalized-weight table), from the caller's upper bound on the
    * directed edge count: DISK_ONLY when the bound at 48 B per edge
    * exceeds [[DiskEdgeBytes]], MEMORY_AND_DISK otherwise. At the sf3
    * replica a ~24 GB columnar edge cache on an 8 g heap made every
    * concurrent reader/builder marginal (boxed dictionary decoders
    * OOM'd mid-read), while DISK_ONLY leaves the whole heap to
    * execution memory and streams blocks from local disk.
    *
    * `Long.MaxValue` means the caller has no bound, and keeps
    * MEMORY_AND_DISK. The nv² bound of an `nv`-vertex graph saturates
    * to that value only at nv ≳ 3e9, a graph whose directed pair count
    * no longer fits a Long.
    */
  private[textrank] def edgeStorage(maxDirectedEdges: Long): StorageLevel =
    if (maxDirectedEdges != Long.MaxValue &&
        satMul(maxDirectedEdges, 48L) > DiskEdgeBytes) StorageLevel.DISK_ONLY
    else StorageLevel.MEMORY_AND_DISK

  /** a·b saturating at Long.MaxValue (inputs are non-negative counts).
    * The quadratic probes (`nv² · bytes-per-edge`) overflow a plain Long
    * multiply at nv ≳ 4.4e8 vertices and wrap NEGATIVE — silently
    * disengaging the DISK_ONLY flip and output-sized partitioning at
    * exactly the corpus scales they protect. Saturation keeps the
    * comparisons monotone at any vertex count.
    */
  def satMul(a: Long, b: Long): Long =
    if (a == 0L || b == 0L) 0L
    else if (a > Long.MaxValue / b) Long.MaxValue
    else a * b

  /** Overflow-safe estimate of the exact route's edge-cache bytes:
    * every vertex pair, both directions, 24 B each (`nv² · 48`,
    * saturating). Sizes [[similarityEdges]]' output partitions.
    */
  def quadEdgeBytes(nv: Long): Long = satMul(satMul(nv, nv), 48L)

  /** Ordered-vertex-pair count above which [[lshSimilarityEdges]]'
    * degeneracy probe may fall back to the exact route. Sits in the
    * dead band between the largest ORACLE-GATED graph (sf1: 10,660
    * band-filtered vertices → 113.6 M ordered pairs — the engine must
    * stay on the oracle-replayed LSH route there, whatever the probe
    * reads) and the sf3 stress replica (31,980 vertices → 1.02 B pairs
    * — where a diversity-less corpus collapses the bucket joins toward
    * all-pairs and OOMs the 8 g heap). Below it the probe is skipped
    * entirely: gate-scale tr06 plans and values are byte-identical to
    * the probe-less round-11 code.
    */
  val LshFallbackMinPairs: Long = 300000000L

  /** System property gating the degenerate-corpus fallback in
    * [[lshSimilarityEdges]] (r12 ADVICE: the reroute changes the answer
    * class, so runs whose values are externally checked must not take
    * it silently):
    *
    *  - `"auto"` (default, absent) — when the diversity probe reads
    *    degenerate, reroute to the exact superset graph, announcing it
    *    on stderr (the engine/stress posture: complete rather than OOM);
    *  - `"off"` — fail loudly (`IllegalStateException` carrying the
    *    probe readings) instead of rerouting. [[graft.Verify]] sets
    *    this: an oracle-gated corpus that ever grows past the probe
    *    floor AND reads degenerate must surface as a gate ERROR to be
    *    re-adjudicated, never as a silent route (and hash) drift.
    *
    * The probe itself always runs above [[LshFallbackMinPairs]] — the
    * property only selects what happens when it trips.
    */
  val LshFallbackProp: String = "graft.textrank.lshFallback"

  /** Enforces [[LshFallbackProp]] at the moment the probe trips: no-op
    * in `"auto"` mode (caller proceeds to reroute), throws in `"off"`
    * mode with the probe evidence in the message. Factored out so the
    * policy is unit-testable below the 300 M-pair probe floor.
    */
  private[textrank] def enforceFallbackPolicy(
      nv: Long, mass: Long, allPairs: Long): Unit = {
    val mode = sys.props.getOrElse(LshFallbackProp, "auto")
    if (mode == "off")
      throw new IllegalStateException(
        s"TextRank LSH diversity probe read DEGENERATE (nv=$nv, " +
          s"bucket-join mass=$mass >= all-pairs bound $allPairs) and " +
          s"-D$LshFallbackProp=off forbids the exact-route fallback: " +
          "this corpus's LSH plan is not sub-quadratic, and the " +
          "fallback would widen the edge set (answer-class change). " +
          "Re-adjudicate the route for this corpus explicitly.")
  }

  /** The vertex table every TextRank graph starts from: docs inside F2's
    * exclusive [[MinWords]]..[[MaxWords]] space-split word band, fanned
    * out over every core BEFORE tokenizing (the token pipeline and the
    * quadratic self-join that streams over these partitions must not
    * inherit the scan's possibly single split), `textrankTokens`, and
    * empty token lists dropped (F7). Columns (id, tokens), `id` being
    * the caller's expression. The caller persists it.
    */
  private[graft] def vertices(docs: DataFrame, id: Column, textCol: String,
      lemma: Boolean): DataFrame =
    graft.Par.fanOut(inBand(docs, textCol))
      .select(id.as("id"), tokensOf(textCol, lemma))
      .filter(size(col("tokens")) > 0)

  /** The docs inside F2's band, the rows TextRank ranks and looks up. */
  private def inBand(docs: DataFrame, textCol: String): DataFrame =
    docs.filter(TextFunctions.spaceWordCount(col(textCol)) > MinWords &&
      TextFunctions.spaceWordCount(col(textCol)) < MaxWords)

  private def tokensOf(textCol: String, lemma: Boolean): Column =
    TextFunctions.textrankTokens(col(textCol), lemma).as("tokens")

  /** Distinct token sets and raw lengths are per-VERTEX quantities:
    * (id, dt, n) computed once before any pair join, not per pair (a
    * V²→V reduction in array_distinct work).
    */
  private[textrank] def tokenSets(vertices: DataFrame): DataFrame =
    vertices.select(col("id"),
      array_distinct(col("tokens")).as("dt"),
      size(col("tokens")).as("n"))

  /** Directed edge list (src, dst, weight) over all ordered pairs with
    * nonzero similarity (both directions present — the graph is
    * symmetric, matching the reference's adjacency map).
    *
    * vertices: (id: long, tokens: array<string>), tokens non-empty.
    *
    * @param vertexCount the caller's `vertices.count()`, which sizes the
    *        stream side for the quadratic output
    */
  def similarityEdges(vertices: DataFrame, vertexCount: Long): DataFrame = {
    val v = tokenSets(vertices)
    // Size the STREAM side for the quadratic OUTPUT, not the input: the
    // self-join multiplies row count by ~V/2, so cores-sized input
    // partitions become multi-hundred-MB edge partitions whose cache
    // blocks downstream readers must hold whole — at the sf3 replica
    // (45 k vertices -> ~2 B directed edges) 32 concurrent fat-block
    // reads starved every keyed aggregation in the session
    // (AGGREGATE_OUT_OF_MEMORY). Hash-partitioning by src keeps each
    // vertex's out-edges together (map-side combine for the out-weight
    // sums) and bounds a partition to ~64 MB of edges.
    val cores = vertices.sparkSession.sparkContext.defaultParallelism
    // saturating: a plain nv²·48 wraps negative at nv ≳ 4.4e8 and would
    // collapse targetParts back to `cores` at exactly the scales the
    // output-sized partitioning protects
    val targetParts = math.min(4096L,
      math.max(cores.toLong, quadEdgeBytes(vertexCount) / (64L << 20))).toInt
    val a = v.repartition(targetParts, col("id"))
      .select(col("id").as("src"), col("dt").as("dt_a"), col("n").as("na"))
    val b = v.select(col("id").as("dst"), col("dt").as("dt_b"), col("n").as("nb"))
    // The graph is symmetric: compute each unordered pair's intersection
    // once (src < dst) and mirror the edge — halves the quadratic work.
    weightedMirror(a.join(broadcast(b), col("src") < col("dst")))
  }

  /** The reference's similarity on candidate pairs
    * (src, dt_a, na, dst, dt_b, nb): set intersection over
    * `log2(na) + log2(nb) + 1`, zero-weight pairs dropped, and each
    * surviving pair emitted in both directions as (src, dst, weight).
    */
  private[textrank] def weightedMirror(pairs: DataFrame): DataFrame =
    pairs
      .withColumn("weight",
        graft.functions.IntersectSize.intersect_size(col("dt_a"), col("dt_b")).cast("double") /
          (log2(col("na")) + log2(col("nb")) + lit(1.0)))
      .filter(col("weight") =!= 0.0)
      // mirror in the same pass (a union would re-run the join subtree)
      .select(explode(array(
        struct(col("src"), col("dst"), col("weight")),
        struct(col("dst").as("src"), col("src").as("dst"), col("weight")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"), col("e.weight").as("weight"))

  /** LSH-prefiltered edge list — same schema and weight semantics as
    * [[similarityEdges]], but candidate pairs come from MinHash banding
    * over the distinct token sets instead of the quadratic self-join.
    * Exact TextRank weights are recomputed on the candidates, so every
    * SURVIVING edge is bit-identical to the exact path's; only edges the
    * banding misses (low-Jaccard pairs) can differ.
    *
    * ==Degenerate-corpus fallback contract==
    *
    * Above [[LshFallbackMinPairs]] ordered pairs, a diversity probe
    * (below) may route this call to [[similarityEdges]] — and that
    * CHANGES THE ANSWER CLASS, deliberately: the exact route emits
    * every nonzero-weight pair, a SUPERSET of the band-colliding pairs
    * this route emits (`TextRankSpec` pins the direction: LSH edges ⊆
    * exact edges, surviving weights bit-identical). On a corpus where
    * the probe trips, banding is not pruning, so the superset is both
    * cheaper to compute and closer to the exact TextRank semantics —
    * but a caller treating "tr06 = LSH-approximate ranks" as a fixed
    * contract must know the swap happened: the runtime marker is the
    * `[textrank] LSH diversity probe: ... DEGENERATE, exact-route
    * fallback` stderr line. Callers whose values are externally
    * checked can forbid the reroute outright with
    * `-D{{{graft.textrank.lshFallback}}}=off` ([[LshFallbackProp]]) —
    * the probe tripping then throws instead. No oracle-gated scale
    * reaches the probe floor (sf1 tops out at 113.6 M pairs), so the
    * gate plan is unaffected either way.
    */
  def lshSimilarityEdges(vertices: DataFrame,
      lsh: EdgeCandidates.Lsh, vertexCount: Long): DataFrame = {
    import graft.operators.Dedup
    val rowsPerBand = math.max(1, lsh.numHashes / lsh.bands)
    // The per-vertex table feeds the signature build and both candidate
    // re-join sides. (Persisted without an unpersist hook — the result
    // is a lazy plan that still references it; MEMORY_AND_DISK entries
    // are LRU-evicted, same documented pattern as
    // Dedup.minhashNearDuplicates.)
    val v = tokenSets(vertices).persist()
    val sigs = v
      .withColumn("hv", Dedup.shingleHashes(col("dt")))
      .withColumn("sig", Dedup.minhashSignature(col("hv"), lsh.bands * rowsPerBand))
      .select("id", "sig")
    // DEGENERATE-CORPUS GUARD. LSH banding is sub-quadratic only while
    // documents' signatures differ; on a diversity-less corpus (the sf3
    // stress replica's ~31-token shared vocabulary) nearly every
    // document collides into shared buckets, the candidate set
    // collapses toward all-pairs (~1 B), and the bucket joins OOM the
    // heap — LSH cannot be sub-quadratic there BY CONSTRUCTION. Probe
    // the post-cap bucket pair mass (one vertex-sized aggregation) and,
    // when the banding provably isn't pruning, run the exact route
    // instead: it carries output-sized partitioning + DISK_ONLY caches
    // and survived the same replica's 1.02 B-edge graph inside 8 g.
    // The probe only runs above [[LshFallbackMinPairs]], a scale no
    // oracle-gated graph reaches — at/below sf1 the plan and values
    // are identical to the probe-less path (tr06's oracle replays the
    // LSH banding, so the engine must stay on it wherever hashes are
    // checked).
    val allPairs = satMul(vertexCount, vertexCount)
    // When the probe runs, the signature stage (the compute-bound step
    // — see Dedup.minhashSignature) is about to be evaluated once for
    // the probe aggregation and, on the non-degenerate path, again
    // inside lshCandidates: persist it so the 100 TB shape pays the
    // signature pass exactly once (same no-unpersist-hook pattern as
    // `v` above; released explicitly on the fallback path, where
    // nothing downstream reads it). Below the probe floor nothing
    // changes — gate-scale plans stay byte-identical.
    val probed = allPairs > LshFallbackMinPairs
    if (probed) sigs.persist(): Unit
    val (degenerate, probeMass) = if (!probed) (false, 0L) else {
      // Per-(band, bucket) member counts c, capped like lshCandidates;
      // Σ c·(c−1) over surviving buckets is the bucket joins' exact
      // directed PRE-DISTINCT output — the LSH route's true cost. A
      // first cut compared the /bands-normalized (deduped) candidate
      // estimate to all-pairs and read "banding prunes" on the sf3
      // replica (111 M deduped vs 1.02 B pairs) while the raw mass was
      // 7.1 B rows — the distinct over THAT stream is what OOM'd the
      // 8 g heap. So compare costs directly: when the bucket joins
      // would emit at least as many rows as the exact all-pairs join,
      // LSH is strictly more work than exact for (at best) the same
      // edges — fall back. On a diverse corpus a pair collides in ~1
      // band and mass ≪ allPairs, so the 100 TB shape stays on LSH.
      // collect-bound: scalar: single aggregated row (bucket-mass probe)
      val mass = sigs
        .select(posexplode(Dedup.bandKeyArray(col("sig"), lsh.bands, rowsPerBand)))
        .toDF("band", "key")
        .groupBy(col("band"), col("key")).agg(count(lit(1)).as("c"))
        .filter(col("c") <= lsh.maxBucket)
        .agg(coalesce(sum(col("c") * (col("c") - lit(1L))), lit(0L)))
        .first().getLong(0)
      val hit = mass >= allPairs
      System.err.println(s"[textrank] LSH diversity probe: nv=$vertexCount, " +
        s"bucket-join mass=$mass (all-pairs bound $allPairs) -> " +
        (if (hit) "DEGENERATE, exact-route fallback" else "banding prunes, LSH route"))
      (hit, mass)
    }
    if (degenerate) {
      // release BOTH probe caches before the policy gate: neither the
      // exact route nor the off-mode throw path reads them, and a
      // caller that catches the throw (Verify's per-query catch keeps
      // the session alive) must not inherit two corpus-scale caches
      // competing for its heap
      sigs.unpersist() // the exact route reads neither cache
      v.unpersist()    // it re-derives its own per-vertex table
      // throws here when -Dgraft.textrank.lshFallback=off (Verify sets
      // it: an oracle-gated run must never silently change answer class)
      enforceFallbackPolicy(vertexCount, probeMass, allPairs)
      return similarityEdges(vertices, vertexCount)
    }
    val cands = Dedup.lshCandidates(sigs, lsh.bands, rowsPerBand, lsh.maxBucket)
    val a = v.select(col("id").as("src"), col("dt").as("dt_a"), col("n").as("na"))
    val b = v.select(col("id").as("dst"), col("dt").as("dt_b"), col("n").as("nb"))
    weightedMirror(cands.select(col("a").as("src"), col("b").as("dst"))
      .join(a, "src").join(b, "dst"))
  }

  /** Routes edge generation per [[Config.edgeCandidates]]: exact
    * all-pairs or LSH candidates. `vertexCount` is the caller's
    * `vertices.count()` ([[rankDocuments]] already holds it for the
    * edge bound), so no route re-counts; the caller should persist
    * `vertices`, which the edge plan reads more than once.
    */
  def edges(vertices: DataFrame, cfg: Config, vertexCount: Long): DataFrame =
    cfg.edgeCandidates match {
      case EdgeCandidates.Exact => similarityEdges(vertices, vertexCount)
      case l: EdgeCandidates.Lsh => lshSimilarityEdges(vertices, l, vertexCount)
    }

  /** Vertex count below which the rank vector is held as driver-side
    * state per iteration (the [[ranksAggregated]] path). The budget is
    * the same one an explicit `broadcast(r)` hint would spend — the
    * vector must fit on the driver to build the broadcast either way —
    * so 500k vertices ≈ 4 MB of doubles (vs 30-50 MB as a broadcast
    * hash relation). Beyond it the iteration falls back to a shuffled
    * join over distributed rank state ([[ranksShuffled]]).
    */
  val broadcastRankLimit: Long = 500000L

  /** Iterative rank propagation (G4-G6). Returns (id, rnk).
    *
    * Two execution strategies, routed on vertex count (the rank vector
    * is vertex-sized) AND edge count (the compact arrays are edge-sized
    * — [[EdgeBudget]]):
    *
    *  - **≤ [[broadcastRankLimit]]**: the MLlib small-model pattern
    *    (how gradient descent iterates): the edge list is compacted once
    *    into cached primitive arrays, and each iteration is ONE
    *    `treeAggregate` job — broadcast the rank array, fused
    *    multiply-add into a per-partition accumulator, tree-combine.
    *    No join to plan, no broadcast hash relation to build, no
    *    checkpoint: per-iteration cost is the raw edge scan. This is
    *    exactly the state a broadcast-join iteration would hold on the
    *    driver anyway — same memory budget, ~6× less per-round overhead.
    *  - **above the limit**: rank state stays distributed; each
    *    iteration is a shuffled join + hash-agg with a `localCheckpoint`
    *    lineage cut (H5). This is the arbitrarily-large-V shape.
    *
    * The edge caches' storage level comes from `maxDirectedEdges`
    * through [[edgeStorage]].
    */
  def ranks(edges: DataFrame,
      maxDirectedEdges: Long = Long.MaxValue,
      symmetricEdges: Boolean = false,
      maxVertices: Long = Long.MaxValue): DataFrame = {
    val storage = edgeStorage(maxDirectedEdges)
    val e = edges.select(col("src"), col("dst"), col("weight"))
      .persist(storage)
    // Materialize the edge cache under a STATELESS scan first: at the
    // sf3 replica, building the 1 B-edge cache underneath a hash
    // aggregation starved the aggregation of execution memory
    // (AGGREGATE_OUT_OF_MEMORY) — a plain count lets cache blocks spill
    // to disk with no operator state competing. The count is also the
    // edge budget probe for the strategy routing below.
    //
    // SKIPPED when the caller's upper bound (`maxDirectedEdges`, e.g.
    // rankDocuments' nv² exact-route bound) already proves the graph is
    // small: below the edge budget the route is decided either way, and
    // below the DISK_ONLY estimate the cache materializes harmlessly
    // under the vertex distinct — the stateless pre-scan proved nothing
    // and cost the sf0.1 bench's tr02 +0.3 s every run. Routing inputs
    // are unchanged wherever the bound does not bind (count ≤ bound ≤
    // budget → same strategy), so this is hash-neutral by construction.
    val edgeCount =
      if (maxDirectedEdges <= EdgeBudget &&
          storage == StorageLevel.MEMORY_AND_DISK) maxDirectedEdges
      else e.count()
    // Vertex set = src ∪ dst (equal to src-distinct on the symmetric
    // lists the pipeline builds, but a directed list through the public
    // API gets its sink-only vertices ranked too instead of an NPE).
    // Callers that KNOW their list carries both directions (the whole
    // rankDocuments pipeline — both edge routes mirror every pair) pass
    // `symmetricEdges = true` and the distinct reads half the rows
    // (r14; guide §2.3 — same result set by symmetry, half the shuffle
    // input).
    // Route on a COUNT first — the ids are only ever collected once the
    // count proves they fit the driver-side budget; above the limit the
    // vertex set never leaves the cluster. SKIPPED (r15, same move as
    // the edge-count skip above) when the caller's upper bound
    // (`maxVertices`, e.g. rankDocuments' token-table count — the rank
    // vertex set is a subset of its doc ids) already proves the set
    // fits: the count job and the cache it needed both disappear, and
    // the collect below is the single read. Routing is unchanged
    // wherever the bound does not bind (count <= bound <= limit -> same
    // strategy); the collected id order is the same distinct-output
    // order either way.
    val vertices0 =
      (if (symmetricEdges) e.select(col("src"))
       else e.select(col("src")).union(e.select(col("dst"))))
        .distinct()
    val boundedVertices = maxVertices <= broadcastRankLimit
    val vertices =
      if (boundedVertices) vertices0
      else vertices0.persist() // count probe + (small path) collect read it once each
    val vertexCount = if (boundedVertices) maxVertices else vertices.count()
    try {
      if (vertexCount <= broadcastRankLimit && edgeCount <= EdgeBudget) {
        // Bounded by the check above. The numbering order never reaches
        // the output values: per-destination sums accumulate in edge
        // order within partitions and tree-combine across them.
        // collect-bound: probe-guarded: count() (or the caller's maxVertices bound) <= broadcastRankLimit just above, with the distributed ranksShuffled fallback
        val ids: Array[Any] = vertices.collect().map(_.get(0))
        // Once the compacted primitive arrays materialize, nothing reads
        // the edge DataFrame again — drop both caches BEFORE the
        // iterations so one query's steady heap is the compact arrays
        // alone. (Two concurrent sf1 tr queries holding edge cache +
        // compact each OOM'd an 8 g heap in the round-11 verify.)
        ranksAggregated(e, ids,
          onCompacted = () => { vertices.unpersist(); e.unpersist() })
      } else ranksShuffled(e, maxDirectedEdges,
        smallVertexSet = vertexCount <= broadcastRankLimit,
        symmetricEdges = symmetricEdges)
    } finally {
      // idempotent (no-op when the small path already released them) —
      // and, crucially, still runs when a job ABORTS, so a failed query
      // cannot leak a corpus-scale edge cache into the session and
      // starve every later query (seen at the sf3 stress replica)
      vertices.unpersist()
      e.unpersist()
    }
  }

  /** Small-vector strategy: the edge list is compacted once into cached
    * primitive arrays (no per-edge object, no codegen); out-weight sums
    * and each rank iteration are ONE `treeAggregate` job each — a fused
    * multiply-add into a per-partition accumulator, tree-combined. The
    * normalized weight is applied as `w / ow(src)` inside the iteration:
    * the division is deterministic, so the result is bit-identical to
    * materializing `wn` up front.
    */
  private def ranksAggregated(e: DataFrame, ids: Array[Any],
      onCompacted: () => Unit = () => ()): DataFrame = {
    val spark = e.sparkSession
    val sc = spark.sparkContext

    val n = ids.length
    val index = new java.util.HashMap[Any, Integer](n * 2)
    var i = 0
    while (i < n) { index.put(ids(i), i); i += 1 }
    val indexB = sc.broadcast(index)

    // Compact once: (srcIdx[], dstIdx[], w[]) triple per partition.
    // Row-based (not typed) so any vertex id type works — EP2 keys
    // sentences by string ids, the document queries by longs.
    val compact = e.rdd
      .mapPartitions { it =>
        val idx = indexB.value
        val ss = new scala.collection.mutable.ArrayBuilder.ofInt
        val ds = new scala.collection.mutable.ArrayBuilder.ofInt
        val ws = new scala.collection.mutable.ArrayBuilder.ofDouble
        it.foreach { row =>
          ss += idx.get(row.get(0)).intValue()
          ds += idx.get(row.get(1)).intValue()
          ws += row.getDouble(2)
        }
        Iterator.single((ss.result(), ds.result(), ws.result()))
      }
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    def accumulate(f: ((Array[Int], Array[Int], Array[Double]),
        Array[Double]) => Unit): Array[Double] =
      compact.treeAggregate(new Array[Double](n))(
        seqOp = { (acc, part) => f(part, acc); acc },
        combOp = { (a, b) =>
          var j = 0
          while (j < a.length) { a(j) += b(j); j += 1 }
          a
        })

    // out-weight sums: ow(src) = Σ_out w. This first pass over the
    // compact RDD also MATERIALIZES it under the persist (r14: the
    // separate compact.count() job it replaced proved nothing this
    // pass doesn't — the peak where edge cache and compact coexist is
    // identical), after which the caller releases the edge caches the
    // arrays were built from.
    val ow = accumulate { case ((ss, _, ws), acc) =>
      var j = 0
      while (j < ss.length) { acc(ss(j)) += ws(j); j += 1 }
    }
    onCompacted()
    val owB = sc.broadcast(ow)

    var r = Array.fill(n)(InitRank)
    for (_ <- 1 to Iterations) {
      val rB = sc.broadcast(r)
      val contrib = accumulate { case ((ss, ds, ws), acc) =>
        val rv = rB.value; val o = owB.value
        var j = 0
        while (j < ss.length) {
          acc(ds(j)) += rv(ss(j)) * (ws(j) / o(ss(j)))
          j += 1
        }
      }
      rB.destroy()
      r = contrib.map(c => InitRank + Damping * c)
    }
    compact.unpersist()
    indexB.destroy()
    owB.destroy()
    spark.createDataFrame(
      sc.parallelize(ids.zip(r).toIndexedSeq.map { case (id, rnk) => Row(id, rnk) }),
      rankSchema(e.schema("src").dataType))
  }

  /** Large-vector strategy: rank state stays distributed; out-weights
    * are normalized once, then each iteration is a shuffled join +
    * hash-agg with a `localCheckpoint` lineage cut (H5).
    *
    * `smallVertexSet` (vertex count within [[broadcastRankLimit]],
    * i.e. this route was chosen by the EDGE budget, not vertex count)
    * broadcast-hints the two vertex-sized join sides against the
    * edge-scale `norm`: Catalyst's size estimate for the out-weight
    * aggregate tracks the edge input, so it planned a SortMergeJoin
    * that external-sorted the sf3 replica's ~1 B edges — the spill
    * readers' read-ahead buffers alone blew the 8 g heap. A broadcast
    * keeps the edge side streaming in place; above the limit the
    * joins stay shuffled (a >500 k-vertex relation is no broadcast
    * candidate). `maxDirectedEdges` picks the `norm` cache's storage
    * level, as in [[ranks]].
    */
  private[textrank] def ranksShuffled(e: DataFrame,
      maxDirectedEdges: Long = Long.MaxValue,
      smallVertexSet: Boolean = false,
      symmetricEdges: Boolean = false): DataFrame = {
    def dim(df: DataFrame): DataFrame = if (smallVertexSet) broadcast(df) else df
    val outSum = e.groupBy(col("src")).agg(sum(col("weight")).as("ow"))
    val norm = e.join(dim(outSum), "src")
      .select(col("src"), col("dst"), (col("weight") / col("ow")).as("wn"))
      .persist(edgeStorage(maxDirectedEdges))
    // Full vertex set (src ∪ dst), kept through every iteration: a
    // vertex with no in-edges still holds rank initRank and feeds its
    // out-edges next round — dropping it after one groupBy(dst) would
    // silently zero its contributions on directed inputs. Symmetric
    // lists read src alone (same set, half the distinct input — r14).
    val vertices =
      (if (symmetricEdges) norm.select(col("src").as("id"))
       else norm.select(col("src").as("id"))
         .union(norm.select(col("dst").as("id")))).distinct()
    // the iterations are eager (localCheckpoint), so both caches are
    // consumed on return; the finally also releases them when a job
    // aborts
    try {
      vertices.persist()
      vertices.count() // materialize both once; reused every iteration
      var r = vertices.withColumn("rnk", lit(InitRank))
      for (_ <- 1 to Iterations) {
        val contrib = norm.join(dim(r), norm("src") === r("id"))
          .groupBy(col("dst"))
          .agg(sum(col("rnk") * col("wn")).as("c"))
          .select(col("dst").as("id"), col("c"))
        // Left join keeps contribution-less vertices at initRank (c = 0).
        r = vertices.join(contrib, Seq("id"), "left")
          .select(col("id"),
            (lit(InitRank) + lit(Damping) * coalesce(col("c"), lit(0.0))).as("rnk"))
          // Cut lineage each round or the plan doubles per iteration (H5).
          .localCheckpoint()
      }
      r
    } finally {
      norm.unpersist()
      vertices.unpersist()
    }
  }

  /** Vertices at or below which an exact graph is ranked on the driver
    * ([[localRanks]]): 4,096, so at most 8 Mi vertex pairs. Memory
    * binds, not speed: on 4 cores the local route beat the distributed
    * one at every measured size (4,096 vertices: 0.9 s vs 24.8 s;
    * CHANGES.md records the sweep). The kernel keeps each vertex pair
    * once, in 24 B (two int ends and one weight share per direction), and
    * up to 48 B while the sweep's growing builders hand over their
    * arrays: a complete graph at the budget (8.4 M pairs) keeps 192 MiB
    * and peaked near 450 MiB of heap on 4 cores (CHANGES.md). The sf1
    * gate graph (10,660 vertices, 56.8 M pairs) stays above it, so the
    * stress replica still runs the distributed similarity kernel.
    */
  private val LocalVertices = 4096

  /** Full document-level pipeline over a (id, text) DataFrame: band filter
    * F2 on raw space-split words, token pipeline, edges, ranks. An exact
    * graph of at most [[LocalVertices]] vertices is ranked on the
    * driver ([[ranksLocal]]); a larger one, or LSH candidates, runs
    * [[rankDocumentsDistributed]]'s route.
    */
  def rankDocuments(docs: DataFrame, idCol: String, textCol: String,
      cfg: Config = Config()): DataFrame =
    withVertices(docs, idCol, textCol, cfg) { (vertices, nv) =>
      if (cfg.edgeCandidates == EdgeCandidates.Exact && nv <= LocalVertices)
        ranksLocal(vertices)
      else rankGraph(vertices, nv, cfg)
    }

  /** [[rankDocuments]] on the distributed edge and rank route at any
    * size.
    */
  private[graft] def rankDocumentsDistributed(docs: DataFrame, idCol: String,
      textCol: String, cfg: Config = Config()): DataFrame =
    withVertices(docs, idCol, textCol, cfg)(rankGraph(_, _, cfg))

  /** The persisted vertex table and its count, released when `body`
    * returns or fails. Both routes are eager (the local route collects,
    * [[ranks]] checkpoints every iteration), so nothing reads the cache
    * after `body`.
    */
  private def withVertices(docs: DataFrame, idCol: String, textCol: String,
      cfg: Config)(body: (DataFrame, Long) => DataFrame): DataFrame = {
    val vertices = this.vertices(docs, col(idCol), textCol, cfg.lemma)
      .persist() // read once, joined against itself
    try body(vertices, vertices.count())
    finally vertices.unpersist()
  }

  /** The distributed route: the edge list of [[edges]], ranked by
    * [[ranks]].
    */
  private def rankGraph(vertices: DataFrame, nv: Long, cfg: Config): DataFrame =
    // nv² bounds the directed edge count on BOTH edge routes (LSH
    // candidates are a subset of all pairs), so it sets the edge caches'
    // storage level and lets ranks() skip its stateless pre-count when
    // the bound proves the graph small. The bound is applied to the LSH
    // route's storage too: on a low-diversity corpus the banding
    // degenerates toward all-pairs — the sf3 probe's 31-token vocabulary
    // collided ~every document into shared buckets and tr06's candidate
    // edge set OOM'd an in-heap cache exactly like the exact route's.
    ranks(edges(vertices, cfg, nv),
      maxDirectedEdges = satMul(nv, nv),
      // both edge routes mirror every surviving pair (see
      // similarityEdges / lshSimilarityEdges), so src-distinct is the
      // full vertex set
      symmetricEdges = true,
      // the rank vertex set is a SUBSET of the token table's doc ids
      // (isolated docs drop out), so nv bounds it — below the broadcast
      // limit ranks() skips its vertex count job entirely
      maxVertices = nv)

  /** Spark's `log2` (`Log2`: `StrictMath.log(x) / StrictMath.log(2)`),
    * so local weights are bit-identical to [[weightedMirror]]'s.
    */
  private def sparkLog2(n: Int): Double = StrictMath.log(n.toDouble) / StrictMath.log(2.0)

  /** [[localEdges]] with every row its own vertex: edges (a, b, weight)
    * with a < b indexing `tokens`.
    */
  private[textrank] def localEdges(
      tokens: Array[Seq[String]]): (Array[Int], Array[Int], Array[Double]) =
    localEdges(tokens, Array.range(0, tokens.length))

  /** The exact graph over row token lists, as upper-triangle edges
    * (v(a), v(b), weight) for rows a < b of `tokens` (each edge stands for
    * both directions). `v` maps each row to its vertex, -1 for none: a
    * pair of rows on one vertex, or with a row on none, emits no edge.
    * Tokens are int-coded with a per-call dictionary; a posting list per
    * code (its rows, ascending) counts every pair's distinct shared
    * tokens in one sweep — the integer `intersect_size` gives — so the
    * work follows the shared (pair, token) incidences, not all token
    * comparisons. The weight is
    * [[weightedMirror]]'s in the same double operations
    * (`inter / (log2(na) + log2(nb) + 1.0)`, raw token counts), so it is
    * bit-identical; zero-weight pairs are dropped.
    */
  private[textrank] def localEdges(tokens: Array[Seq[String]],
      v: Array[Int]): (Array[Int], Array[Int], Array[Double]) = {
    val nv = tokens.length
    val dict = new java.util.HashMap[String, Integer]()
    val codes = tokens.map(_.map { t =>
      val c = dict.get(t)
      if (c != null) c.intValue()
      else { val d = dict.size; dict.put(t, d); d }
    }.distinct.toArray)
    val lg = tokens.map(ts => sparkLog2(ts.length))
    val postings = Array.fill(dict.size)(new scala.collection.mutable.ArrayBuilder.ofInt)
    for (a <- 0 until nv; t <- codes(a)) postings(t) += a
    val post = postings.map(_.result())

    val as = new scala.collection.mutable.ArrayBuilder.ofInt
    val bs = new scala.collection.mutable.ArrayBuilder.ofInt
    val ws = new scala.collection.mutable.ArrayBuilder.ofDouble
    val inter = new Array[Int](nv)
    var a = 0
    while (a < nv) {
      val va = v(a)
      val ca = if (va >= 0) codes(a) else Array.emptyIntArray
      var k = 0
      while (k < ca.length) {
        val p = post(ca(k))
        var i = java.util.Arrays.binarySearch(p, a) + 1
        while (i < p.length) { inter(p(i)) += 1; i += 1 }
        k += 1
      }
      var b = a + 1
      while (b < nv) {
        if (inter(b) > 0) {
          val vb = v(b)
          if (vb >= 0 && vb != va) {
            as += va; bs += vb; ws += inter(b).toDouble / (lg(a) + lg(b) + 1.0)
          }
          inter(b) = 0
        }
        b += 1
      }
      a += 1
    }
    (as.result(), bs.result(), ws.result())
  }

  /** The exact graph over the vertices (`ids`, `tokens`) ranked on the
    * driver through [[localEdges]]. Out-weight sums and [[Iterations]]
    * rounds of `r' = InitRank + Damping·Σ r(src)·(w/ow(src))` follow
    * [[ranksAggregated]]. Vertices sharing an id are one vertex, as the
    * distributed route keys its edges by id: an edge between two of them
    * drops out (its `src < dst` is false) and their other edges add up.
    * A null id gets no edge (`src < dst` is null). Returns (id, rnk) for
    * every id with an edge, in first-appearance order. Per-destination
    * sums run in vertex-pair order, so ranks may differ from the
    * distributed route's in the last bits.
    */
  private def localRanks(ids: Array[Any],
      tokens: Array[Seq[String]]): Array[(Any, Double)] = {
    val ofId = ids.filter(_ != null).distinct
    val index = ofId.zipWithIndex.toMap
    val nv = ofId.length
    val (src, dst, w) = localEdges(tokens, ids.map(id => if (id == null) -1 else index(id)))
    val ow = new Array[Double](nv)
    var e = 0
    while (e < src.length) { ow(src(e)) += w(e); ow(dst(e)) += w(e); e += 1 }
    // the rounds' w/ow(src) and w/ow(dst), computed once; w's array
    // holds the second
    val toDst = new Array[Double](w.length)
    e = 0
    while (e < w.length) { toDst(e) = w(e) / ow(src(e)); w(e) = w(e) / ow(dst(e)); e += 1 }
    val toSrc = w

    var r = Array.fill(nv)(InitRank)
    for (_ <- 1 to Iterations) {
      val c = new Array[Double](nv)
      e = 0
      while (e < src.length) {
        c(dst(e)) += r(src(e)) * toDst(e)
        c(src(e)) += r(dst(e)) * toSrc(e)
        e += 1
      }
      r = c.map(InitRank + Damping * _)
    }
    (0 until nv).filter(ow(_) > 0.0).map(i => (ofId(i), r(i))).toArray
  }

  /** The (id, rnk) columns every rank route returns. */
  private def rankSchema(idType: DataType): StructType = StructType(Seq(
    StructField("id", idType, nullable = false),
    StructField("rnk", DoubleType, nullable = false)))

  /** The exact graph ranked on the driver, from one collect of the
    * persisted (id, tokens) vertex table — the tokens are Spark's
    * `textrankTokens`, so there is no tokenizer mirror — through
    * [[localRanks]]. Returns (id, rnk) with the caller's id type as a
    * local relation.
    */
  private def ranksLocal(vertices: DataFrame): DataFrame = {
    // collect-bound: probe-guarded: rankDocuments routes here only when nv <= LocalVertices; rankDocumentsDistributed is the fallback
    val rows = vertices.collect()
    val ranked = localRanks(rows.map(_.get(0)), rows.map(_.getSeq[String](1)))
    vertices.sparkSession.createDataFrame(
      ranked.toSeq.map { case (id, rnk) => Row(id, rnk) }.asJava,
      rankSchema(vertices.schema("id").dataType))
  }

  /** G7: the top `k` sentences by rank with their text (the reference's
    * per-winner `lookup()` jobs, SURVEY §4.1, are a key lookup here).
    * An exact-edge product of at most [[LocalVertices]] band rows runs
    * [[summarizeLocal]]: one Spark job. A larger one, or LSH candidates,
    * runs [[topRanked]] over [[rankDocuments]].
    */
  def summarize(docs: DataFrame, idCol: String, textCol: String, k: Int,
      cfg: Config = Config()): DataFrame =
    (if (cfg.edgeCandidates == EdgeCandidates.Exact)
      summarizeLocal(docs, idCol, textCol, k, cfg.lemma) else None)
      .getOrElse(topRanked(rankDocuments(docs, idCol, textCol, cfg), docs, idCol, textCol, k))

  /** [[summarize]] on the driver, or `None` over [[LocalVertices]] band
    * rows. One bounded collect takes the band rows with their text and
    * Spark's `textrankTokens` (no fan-out: the collect's limit already
    * bounds tokenizing to budget + 1 rows per partition). The rows with
    * tokens are ranked by [[localRanks]], then [[topRanked]]'s work runs
    * on the collected rows: `round(rnk, 6)` as Spark rounds a double,
    * order by (rnk desc, id) in Spark's ordering of the id type, the
    * first `k`, and each winner's text from its band rows.
    */
  private def summarizeLocal(docs: DataFrame, idCol: String, textCol: String,
      k: Int, lemma: Boolean): Option[DataFrame] = {
    val band = inBand(docs, textCol).select(col(idCol).as("id"), col(textCol),
      tokensOf(textCol, lemma))
    // collect-bound: probe-guarded: collectWithin's limit(LocalVertices + 1) bounds the band rows; topRanked over rankDocuments is the fallback
    LocalRoute.collectWithin(band, LocalVertices).map { rows =>
      val vs = rows.filter(_.getSeq[String](2).nonEmpty)
      val idField = band.schema("id")
      val idOrder = {
        val toCatalyst = CatalystTypeConverters.createToCatalystConverter(idField.dataType)
        PhysicalDataType.ordering(idField.dataType).on[Any](toCatalyst)
      }
      val top = localRanks(vs.map(_.get(0)), vs.map(_.getSeq[String](2)))
        .map { case (id, rnk) => (id, SparkNumerics.round(rnk, 6)) }
        .sorted(Ordering.by[(Any, Double), Double](_._2)(Ordering.Double.TotalOrdering.reverse)
          .orElseBy(_._1)(idOrder))
        .take(k)
      val out = top.toSeq.flatMap { case (id, rnk) =>
        rows.iterator.filter(_.get(0) == id).map(r => Row(id, rnk, r.get(1)))
      }
      // Spark's round() types rnk nullable
      docs.sparkSession.createDataFrame(out.asJava, StructType(Seq(
        StructField("id", idField.dataType, nullable = false),
        StructField("rnk", DoubleType), band.schema.fields(1))))
    }
  }

  /** [[summarize]]'s top-k over ranks `r` (id, rnk), each winner joined
    * to its text in the band rows.
    */
  private[textrank] def topRanked(r0: DataFrame, docs: DataFrame, idCol: String,
      textCol: String, k: Int): DataFrame = {
    val r = r0
      .withColumn("rnk", round(col("rnk"), 6))
      .orderBy(desc("rnk"), col("id"))
      .limit(k)
    r.join(inBand(docs, textCol).select(col(idCol).as("id"), col(textCol)), "id")
      .orderBy(desc("rnk"), col("id"))
  }
}
