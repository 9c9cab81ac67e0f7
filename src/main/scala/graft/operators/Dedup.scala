package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale corpus curation — the
  * training-data-pipeline extension mandated by SURVEY.md §7.5. All
  * stages are declarative DataFrame plans with shuffle-minimal shapes:
  *
  *  - exact: one hash-aggregate on a content digest (never ships text
  *    twice across the wire — md5 computed at the scan);
  *  - MinHash+LSH: per-doc signature (narrow), band explode (×b rows),
  *    bucket self-join (shuffle on band key — bounded buckets, the
  *    quadratic work happens only within buckets), exact-Jaccard verify
  *    on the candidate pairs;
  *  - SimHash: 64-bit signatures, candidates via 16-bit chunk banding
  *    (Hamming ≤ 3 ⟹ at least one of 4 chunks equal — pigeonhole);
  *  - n-gram Jaccard: brute-force verify step (quadratic; used directly
  *    only on bounded slices, otherwise fed by the LSH candidates).
  *
  * At 100 TB the only all-pairs step (brute-force Jaccard) is replaced
  * by the LSH path; everything else is linear in corpus size + a
  * shuffle keyed on content/bucket hashes.
  */
object Dedup {

  // ==== Degenerate-corpus mass probe (r13 verdict task 2) ====
  //
  // STRESS_r13 measured the dedup family's next scale boundary: on a
  // replica-degenerate corpus (every doc ~100 near-identical copies)
  // the LSH bucket-join mass Σ c·(c−1) grows ∝ copies² while bucket
  // keys stay invariant, and the pre-shuffle partial aggregates over
  // that stream (d04's candidate distinct, d15's pair-dot groupBy)
  // pressed 7.94–7.97 g of the 8 g heap at sf10 with OOM projected at
  // ~sf15 (~490 M post-cap pairs). The same probe pattern that closed
  // tr06's cliff closes this one BEFORE it is hit: above a row floor,
  // aggregate the exact post-cap pair mass (one bounded job — the
  // quantity is the joins' true pre-distinct output, the number DuckDB
  // replay predicted to the digit at tr06), and when it exceeds a
  // heap-derived budget, switch the pair stream to OUTPUT-SIZED
  // partitioning: an explicit repartition on the pair key BEFORE the
  // distinct/groupBy, so no pre-shuffle hash map ever holds a
  // corpus-quadratic working set — each post-shuffle task handles
  // ~[[MassPairsPerPartition]] pairs. VALUES ARE UNCHANGED (the same
  // rows flow through the same distinct/sum; only partitioning moves),
  // so unlike tr06's fallback this is not an answer-class change and
  // needs no Verify tripwire.
  //
  // [[massRouted]] is the one implementation (lshCandidates,
  // simhashNearDuplicates, Similarity.tfidfCosinePairs). Its row floor
  // is the same count-then-floor gate as TextRank.lshSimilarityEdges'
  // nv probe (the count is one column-pruned job over the callers'
  // already-cached tables — milliseconds at gate scale): gate corpora
  // (sf0.001–sf1, ≤ 50 k documents) never reach the floor, so no probe
  // job runs and gate values/hashes are identical to the probe-less
  // path (since r14 the banded/chunk tables are persisted at EVERY
  // scale — they feed both sides of the bucket joins, see
  // lshCandidates — so the plan carries an InMemoryRelation the
  // probe-less path lacked; rows and hashes are unchanged); the sf3+
  // stress replicas (150 k+ docs) probe.

  /** Floor (input rows) and budget (post-cap pairs) of the mass probe. */
  private[operators] final case class MassLimits(minRows: Long,
      budgetPairs: Long)

  /** The production limits.
    *  - Floor 100 k rows: the largest oracle-gated corpus (sf1) holds
    *    50 k documents, the first stress rung past it (sf3) 150 k — and
    *    STRESS_r13's ladder shows every scale below sf5 completing with
    *    ≥ 0.75 g of headroom probe-less.
    *  - Budget maxHeap/64 pairs (≈131 M at the 8 g stress heap):
    *    STRESS_r13 measured 216 M post-cap pairs peaking 7.97 g — past
    *    the budget, inside the measured envelope — so the reroute
    *    engages one rung BEFORE the projected ~490 M OOM.
    */
  private[operators] val Mass: MassLimits =
    MassLimits(100000L, Runtime.getRuntime.maxMemory / 64L)

  /** Target pairs per post-shuffle task on the bounded route (~2 M
    * pairs ≈ 100 MB of aggregation state per task).
    */
  private val MassPairsPerPartition: Long = 2000000L

  /** Partition count for a bounded-route pair stream of `mass` rows. */
  private[operators] def massParts(mass: Long): Int =
    math.min(4096L, math.max(32L,
      mass / MassPairsPerPartition)).toInt

  /** The mass probe for operator `op` over an input of `rows` rows:
    * at or below `limits.minRows` no probe job runs and the pair stream
    * is left as it is. Above it, the exact post-cap pair `mass` is
    * evaluated (one bounded job) and logged (the runtime marker STRESS
    * rows cite); when it exceeds `limits.budgetPairs` the returned
    * function repartitions the pair stream on `keys` into
    * [[massParts]] partitions (output-sized partitioning), otherwise it
    * is the identity. The caller applies it to the pair stream right
    * before the distinct/groupBy whose pre-shuffle partial aggregate it
    * replaces.
    */
  private[operators] def massRouted(op: String, rows: Long,
      limits: MassLimits, keys: String*)(mass: => Long): DataFrame => DataFrame =
    if (rows <= limits.minRows) identity
    else {
      val m = mass
      val hit = m > limits.budgetPairs
      System.err.println(s"[dedup] $op mass probe: post-cap pair mass=$m " +
        s"(budget ${limits.budgetPairs}) -> " +
        (if (hit) "DEGENERATE, output-sized partitioning"
         else "within budget, default route"))
      if (hit) _.repartition(massParts(m), keys.map(col): _*) else identity
    }

  /** Whitespace-collapsed, lowercased, trimmed content key. */
  def normalized(text: Column): Column =
    lower(trim(regexp_replace(text, "\\s+", " ")))

  /** Exact duplicate clusters: (content_hash, n_docs, doc_ids). */
  def exactClusters(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("id"), md5(normalized(col(textCol))).as("content_hash"))
      .groupBy(col("content_hash"))
      .agg(count(lit(1)).as("n_docs"),
        sort_array(collect_list(col("id"))).as("doc_ids"))

  /** Word n-gram shingles ("a b c" strings), empty array if too short.
    * Fused codegen'd sliding window — byte-identical strings to the
    * when/transform/array_join/slice composition it replaced (see
    * WordShingles doc + WordShinglesSpec; this is the scan-stage front
    * of every MinHash/Jaccard/dup-gram operator).
    */
  def shingles(tokens: Column, n: Int): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.WordShingles(
        org.apache.spark.sql.graft.ColumnBridge.expression(tokens), n))

  /** Distinct 64-bit shingle hashes (the MinHash universe). FNV-1a via
    * the custom codegen'd expression — chosen so the DuckDB oracle can
    * reproduce the exact hash family (see graft.functions.Fnv).
    */
  def shingleHashes(sh: Column): Column =
    array_distinct(transform(sh, s => graft.functions.Fnv.fnv1a64(s)))

  /** MinHash signature: element i = min over shingles of the seeded
    * permutation hash h_i. Seeding through the expression's first operand
    * keeps the whole signature inside codegen'd Catalyst expressions —
    * no UDF — and the FNV-based family is oracle-reproducible.
    */
  def minhashSignature(hashes: Column, numHashes: Int): Column =
    // fused codegen'd loop over the SAME Fnv.hashPerm the HOF composition
    // transform(sequence(0, n-1), i -> array_min(transform(hashes,
    // h -> fnv1a_perm(i, h)))) evaluates — bit-identical signatures,
    // one allocation per row instead of n permuted arrays
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.MinHashSig(
        org.apache.spark.sql.graft.ColumnBridge.expression(hashes), numHashes))

  /** Per-band LSH bucket keys: element j = comma-joined j-th band slice
    * of the signature. THE parity contract between the batch banding
    * (d04), the streaming index (sm13) and the DuckDB `bands` CTE —
    * one definition so the three cannot drift.
    */
  def bandKeyArray(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      j => array_join(slice(sig, j * rowsPerBand + 1, lit(rowsPerBand)), ","))

  /** Candidate pairs (a, b) from LSH banding of signatures.
    *
    * sigs: (id, sig array<long> of length bands*rowsPerBand).
    * maxBucket guards against degenerate mega-buckets (skew control at
    * scale). NOTE this is a recall/cost dial, not free: a pair colliding
    * ONLY in dropped buckets is missed. Members of an oversized bucket
    * usually also collide in other bands (high-similarity content
    * collides almost everywhere), but callers wanting guaranteed recall
    * should raise maxBucket or run the brute-force verify on the
    * affected keys.
    */
  def lshCandidates(sigs: DataFrame, bands: Int, rowsPerBand: Int,
      maxBucket: Int = 1000): DataFrame =
    lshCandidatesWithin(sigs, bands, rowsPerBand, maxBucket, Mass)

  /** [[lshCandidates]] under explicit mass-probe limits. */
  private[operators] def lshCandidatesWithin(sigs: DataFrame, bands: Int,
      rowsPerBand: Int, maxBucket: Int, limits: MassLimits): DataFrame = {
    val banded = sigs.select(col("id"),
      posexplode(bandKeyArray(col("sig"), bands, rowsPerBand)))
      .toDF("id", "band", "key")
    val sized0 = banded
      .withColumn("bucket_n", count(lit(1))
        .over(org.apache.spark.sql.expressions.Window.partitionBy(col("band"), col("key"))))
      .filter(col("bucket_n") <= maxBucket)
    // The banded+windowed table feeds BOTH sides of the bucket join —
    // unpersisted, the signature build and the window (an exchange + a
    // sort) execute twice per call (the r14 plan audit showed the
    // Window subtree duplicated under l and r at every scale). Persist
    // it unconditionally: at gate/bench scale that halves the banding
    // work; at probe scale it is the same cache the probe already
    // required. Values unchanged (same rows either way); same
    // no-unpersist-hook pattern as the callers' shingle caches.
    val sized = s0persist(sized0)
    // Mass probe (see object docs): the bucket joins' exact
    // pre-distinct output Σ c·(c−1) — `sized` already carries each
    // row's bucket size, so the probe is one sum over the persisted
    // table. The count is column-pruned (sig never evaluates) and reads
    // the callers' cached shingle tables — milliseconds at gate scale.
    // collect-bound: scalar: row count vs the probe floor
    val route = massRouted("lshCandidates", sigs.count(), limits, "a", "b") {
      // collect-bound: scalar: single aggregated row (bucket-mass probe)
      sized.agg(coalesce(sum(col("bucket_n") - lit(1L)), lit(0L)))
        .first().getLong(0)
    }
    val l = sized.select(col("band"), col("key"), col("id").as("a"))
    val r = sized.select(col("band"), col("key"), col("id").as("b"))
    val pairs = l.join(r, Seq("band", "key"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"))
    // on the bounded route the explicit exchange on the pair key
    // replaces the pre-shuffle partial aggregate (the join output
    // streams straight into the exchange writer — no corpus-quadratic
    // hash map in any task), and the post-shuffle distinct runs on
    // ~MassPairsPerPartition rows per task
    route(pairs).distinct()
  }

  /** MEMORY_AND_DISK persist for probe-scale intermediates (no
    * unpersist hook — the result is a lazy plan that still references
    * it; LRU-bounded, same documented pattern as the shingle caches).
    */
  private def s0persist(df: DataFrame): DataFrame =
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** Exact Jaccard over DISTINCT-element arrays: |A∩B| via the fused
    * intersect_size expression and |A∪B| = |A|+|B|−|A∩B|, so no
    * intermediate union/intersection arrays are materialized (this runs
    * once per candidate pair). Inputs must be array_distinct'ed.
    */
  def jaccard(a: Column, b: Column): Column = {
    val i = graft.functions.IntersectSize.intersect_size(a, b).cast("double")
    val u = size(a).cast("double") + size(b).cast("double") - i
    when(u === 0.0, lit(0.0)).otherwise(i / u)
  }

  /** Full MinHash-LSH near-dup pipeline over (id, tokens):
    * returns (a, b, jaccard) pairs with exact jaccard >= threshold.
    */
  def minhashNearDuplicates(toks0: DataFrame, shingleN: Int, numHashes: Int,
      bands: Int, threshold: Double): DataFrame = {
    val rowsPerBand = numHashes / bands
    // Shingling + numHashes×|shingles| hashing is the compute-bound stage:
    // make sure it fans out across cores even off a one-row-group scan.
    val toks = graft.Par.fanOut(toks0)
    val sh = toks.select(col("id"),
      array_distinct(shingles(col("tokens"), shingleN)).as("sh"))
      .filter(size(col("sh")) > 0)
      // Feeds the signature build and both verify joins. The cache has no
      // unpersist hook (the result is a lazy plan that still references
      // it); entries are MEMORY_AND_DISK and LRU-evicted, so repeated
      // calls in one session are bounded by the storage region, not
      // leaked unboundedly. Guarded: a plan-equal sibling may have
      // cached the identical subtree already (d04/d05 share it).
      .transform(df => graft.Par.cacheIfNew(df)._1)
    // Materialize the hash array as its own column BEFORE the signature
    // transform: referencing the expression inside the outer lambda would
    // re-evaluate shingle hashing numHashes times per row.
    val withSig = sh
      .withColumn("hv", shingleHashes(col("sh")))
      .withColumn("sig", minhashSignature(col("hv"), numHashes))
    val cands = lshCandidates(withSig.select("id", "sig"), bands, rowsPerBand)
    val shOnly = sh.select(col("id"), col("sh"))
    cands
      .join(shOnly.withColumnRenamed("id", "a").withColumnRenamed("sh", "sh_a"), "a")
      .join(shOnly.withColumnRenamed("id", "b").withColumnRenamed("sh", "sh_b"), "b")
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** Incremental (delta-vs-base) MinHash-LSH near-dup probe — the
    * steady-state ingest shape at 100 TB: the BASE corpus's band index
    * is built once (in production: stored bucketed by (band, key) and
    * only appended to) and each new shard probes it. Per ingest, only
    * the delta's shingles/signatures are computed and shuffled; the
    * probe join's output is bounded by the delta's bucket hits, never
    * by |base| or |base|². Overfull base buckets (> maxBucket members)
    * are skipped — the same skew cap the batch path uses, applied on
    * the index side where the skew lives.
    *
    * Returns one row per delta doc that has any shingles:
    * (id, n_matches, best_base, best_j) where matches are base docs
    * with exact Jaccard >= threshold; best = max Jaccard, ties -> min
    * base id; zero-match docs keep nulls.
    */
  def incrementalNearDuplicates(baseToks: DataFrame, deltaToks: DataFrame,
      shingleN: Int, numHashes: Int, bands: Int, threshold: Double,
      maxBucket: Int = 1000): DataFrame = {
    val rowsPerBand = numHashes / bands
    def prep(toks0: DataFrame): DataFrame =
      graft.Par.fanOut(toks0).select(col("id"),
          array_distinct(shingles(col("tokens"), shingleN)).as("sh"))
        .filter(size(col("sh")) > 0)
        .transform(df => graft.Par.cacheIfNew(df)._1)
    def banded(sh: DataFrame): DataFrame =
      sh.withColumn("hv", shingleHashes(col("sh")))
        .withColumn("sig", minhashSignature(col("hv"), numHashes))
        .select(col("id"),
          posexplode(bandKeyArray(col("sig"), bands, rowsPerBand)))
        .toDF("id", "band", "key")
    val bSh = prep(baseToks)
    val dSh = prep(deltaToks)
    val capped = banded(bSh)
      .withColumn("bucket_n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("band"), col("key"))))
      .filter(col("bucket_n") <= maxBucket)
      .select(col("band"), col("key"), col("id").as("bid"))
    val cand = banded(dSh).select(col("band"), col("key"), col("id").as("did"))
      .join(capped, Seq("band", "key"))
      .select(col("did"), col("bid")).distinct()
    val hits = cand
      .join(dSh.select(col("id").as("did"), col("sh").as("sh_d")), "did")
      .join(bSh.select(col("id").as("bid"), col("sh").as("sh_b")), "bid")
      .withColumn("j", jaccard(col("sh_d"), col("sh_b")))
      .filter(col("j") >= threshold)
      .select(col("did"), col("bid"), col("j"))
      .transform(df => graft.Par.cacheIfNew(df)._1)
    // best = max j, ties -> min base id — mirrored by the oracle as a
    // max(j) join-back (each engine compares only its own doubles, so
    // the tie test is self-consistent per engine)
    val agg = hits.groupBy(col("did"))
      .agg(count(lit(1)).as("n_matches"), max(col("j")).as("bj"))
    val best = hits.join(agg, "did")
      .filter(col("j") === col("bj"))
      .groupBy(col("did"), col("n_matches"), col("bj"))
      .agg(min(col("bid")).as("best_base"))
    dSh.select(col("id"))
      .join(best.select(col("did").as("id"), col("n_matches"),
        col("best_base"), round(col("bj"), 6).as("best_j")), Seq("id"), "left")
      .withColumn("n_matches",
        coalesce(col("n_matches"), lit(0L)))
  }

  /** Content-defined chunking (CDC) + chunk-level dedup — the
    * storage-layer dedup primitive (LBFS/FastCDC family): a chunk
    * boundary falls AFTER every window whose rolling fingerprint is
    * ≡ 0 (mod mask+1), so boundaries survive insertions/deletions that
    * shift byte offsets (unlike fixed-size blocks). The memoryless
    * fingerprint is FNV-1a of the last `window` chars — every position
    * is tested independently, so the whole boundary pass is one
    * narrow per-row expression chain (no shuffle); the only shuffle in
    * the operator is the corpus-wide chunk-hash groupBy, which is
    * linear in total chunk count. pmod (not %) on the Spark side: the
    * signed two's-complement fnv and the oracle's unsigned HUGEINT
    * agree under positive mod because 2^64 ≡ 0 (mod 64).
    *
    * Returns (id, n_chunks, dup_chunks, dup_chars, dup_frac) per doc:
    * chunks whose md5 occurs >= 2 times corpus-wide are "duplicated",
    * dup_frac = duplicated chars / total chars.
    */
  def cdcChunkDedup(docs: DataFrame, idCol: String, textCol: String,
      window: Int = 8, mask: Int = 63): DataFrame = {
    require(window >= 2 && mask >= 1)
    // mask+1 must be a power of two: the signed-pmod / unsigned-HUGEINT-mod
    // equivalence documented above only holds when mask+1 divides 2^64.
    require(((mask.toLong + 1) & mask.toLong) == 0,
      s"mask+1 must be a power of two (got mask=$mask)")
    val w = window
    val m = mask + 1
    val base = graft.Par.fanOut(docs)
      .select(col(idCol).as("id"), col(textCol).as("t"))
      .filter(length(col("t")) >= 1)
    // chunk END positions: i + w - 1 for each window start i whose
    // fingerprint ≡ 0; the doc end is always a boundary
    // (array_distinct folds the last-window-already-cut case). A doc
    // shorter than the window is one chunk.
    val t = col("t")
    // pure Column API (the CASE branches stay lazy, so the descending
    // sequence / 0-index never evaluate) — no SQL-registry dependence
    val withEnds = base.withColumn("ends",
      array_sort(array_distinct(concat(
        when(length(t) >= w,
          filter(
            transform(sequence(lit(1), length(t) - lit(w - 1)),
              p => when(pmod(graft.functions.Fnv.fnv1a64(
                substring(t, p, lit(w))), lit(m.toLong)) === 0,
                p + lit(w - 1))),
            x => x.isNotNull))
          .otherwise(array().cast("array<int>")),
        array(length(t))))))
    // chunk k spans (ends[k-1]+1 .. ends[k]); one explode, then the
    // operator's only shuffle: the corpus-wide chunk-hash groupBy
    val chunks = withEnds.select(col("id"), col("t"), col("ends"),
        posexplode(col("ends")).as(Seq("k", "e")))
      // posexplode's k is 0-based: chunk 0 starts at 1, chunk k at
      // ends[k]+1 (element_at is 1-based, so ends[k] IS the previous
      // end; the CASE keeps the invalid 0 index unevaluated)
      .withColumn("s0", when(col("k") === 0, lit(1))
        .otherwise(element_at(col("ends"), col("k")) + 1))
      .select(col("id"), col("k"),
        substring(col("t"), col("s0"),
          col("e") - col("s0") + lit(1)).as("chunk"))
      .withColumn("clen", length(col("chunk")))
      .withColumn("ch", md5(col("chunk")))
      .transform(df => graft.Par.cacheIfNew(df)._1)
    val dupSet = chunks.groupBy(col("ch"))
      .agg(count(lit(1)).as("cnt")).filter(col("cnt") >= 2).select("ch")
    chunks.join(dupSet.withColumn("dup", lit(1)), Seq("ch"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("dup").isNotNull, 1L).otherwise(0L)).as("dup_chunks"),
        sum(when(col("dup").isNotNull, col("clen").cast("long"))
          .otherwise(0L)).as("dup_chars"),
        sum(col("clen").cast("long")).as("n_chars"))
      .select(col("id"), col("n_chunks"), col("dup_chunks"), col("dup_chars"),
        round(col("dup_chars") * 1.0 / col("n_chars"), 6).as("dup_frac"))
  }

  /** Brute-force n-gram Jaccard pairs over a bounded slice (the verify
    * path / small-corpus path; J2 shape with src<dst dedup).
    */
  def bruteForceJaccardPairs(toks0: DataFrame, shingleN: Int,
      threshold: Double): DataFrame = {
    val toks = graft.Par.fanOut(toks0)
    val sh = toks.select(col("id"),
      array_distinct(shingles(col("tokens"), shingleN)).as("sh"))
      .filter(size(col("sh")) > 0)
    val a = sh.select(col("id").as("a"), col("sh").as("sh_a"))
    val b = sh.select(col("id").as("b"), col("sh").as("sh_b"))
    a.join(b, col("a") < col("b"))
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** Asymmetric shingle CONTAINMENT pairs: |A∩B| / |A| ≥ tau — the
    * sub-document-duplication detector (boilerplate wrapping, quoted
    * articles, page templates) that Jaccard-keyed MinHash misses: a
    * small doc fully contained in a big one has tiny Jaccard but
    * containment 1.0.
    *
    * Candidate generation is a PREFIX-FILTERED inverted-index join,
    * not all-pairs: under the global order of the FNV shingle hashes,
    * a probe doc A with containment ≥ tau against ANY container B
    * shares ≥ ceil(tau·|A|) shingles with it, so by pigeonhole at
    * least one of A's (|A| − ceil(tau·|A|) + 1) smallest hashes is
    * shared. Joining only that prefix against the full inverted index
    * is therefore LOSSLESS for the threshold, while shrinking the
    * probe side by ~tau. The exact containment then verifies each
    * candidate once (intersect_size — fused codegen, no intermediate
    * array).
    *
    * Scale shape: explode (narrow) → shuffle on shingle hash →
    * distinct candidate pairs → verify join. `maxDf` caps the document
    * frequency of an index hash (a boilerplate trigram shared by a
    * million docs would emit a quadratic candidate set); hashes above
    * the cap are dropped from the INDEX side, which trades recall for
    * a hard bound on bucket fan-out — same dial as lshCandidates'
    * maxBucket, off by default so the gate result stays exactly equal
    * to brute force.
    *
    * toks0: (id, tokens); output (a, b, containment) with a ≠ b,
    * containment = |sh(a) ∩ sh(b)| / |sh(a)|.
    */
  def containmentPairs(toks0: DataFrame, shingleN: Int, tau: Double,
      maxDf: Long = Long.MaxValue): DataFrame = {
    val toks = graft.Par.fanOut(toks0)
    val sh = toks.select(col("id"),
      array_distinct(shingles(col("tokens"), shingleN)).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("id"), col("sh"),
        sort_array(shingleHashes(col("sh"))).as("hs"))
    val prefLen =
      (size(col("hs")) - ceil(lit(tau) * size(col("hs"))) + 1).cast("int")
    val probe = sh.select(col("id").as("a"),
      explode(slice(col("hs"), lit(1), prefLen)).as("h"))
    val index0 = sh.select(col("id").as("b"), explode(col("hs")).as("h"))
    val index =
      if (maxDf == Long.MaxValue) index0
      else {
        val rare = index0.groupBy(col("h")).agg(count(lit(1)).as("df"))
          .filter(col("df") <= maxDf).select(col("h"))
        index0.join(rare, "h")
      }
    val cand = probe.join(index, "h")
      .filter(col("a") =!= col("b"))
      .select(col("a"), col("b")).distinct()
    cand
      .join(sh.select(col("id").as("a"), col("sh").as("sh_a")), "a")
      .join(sh.select(col("id").as("b"), col("sh").as("sh_b")), "b")
      .withColumn("containment",
        graft.functions.IntersectSize.intersect_size(col("sh_a"), col("sh_b"))
          .cast("double") / size(col("sh_a")))
      .filter(col("containment") >= tau)
      .select(col("a"), col("b"), col("containment"))
  }

  /** Near-duplicate CLUSTERS from a pair list: connected components via
    * min-label propagation — after k iterations every node carries the
    * smallest id within k hops, so components with diameter <= k are
    * fully labeled. Near-dup components are cliquish (everything matched
    * everything), so small k converges; at 100 TB scale the iteration is
    * the standard shuffle-per-round connected-components shape (each
    * round: edge join + min-aggregate, lineage cut per round). The
    * FIXED iteration count (not a convergence loop) keeps the result a
    * pure function of (pairs, k) — oracle-checkable by unrolling.
    *
    * pairs: (a, b); output: (id, cluster) for every node in pairs,
    * cluster = min reachable id within k hops.
    */
  def labelPropagationClusters(pairs: DataFrame, iterations: Int = 3): DataFrame = {
    val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
      .union(pairs.select(col("b").as("src"), col("a").as("dst")))
    val nodes = edges.select(col("dst").as("id")).distinct()
    var labels = nodes.select(col("id"), col("id").as("lbl")).localCheckpoint()
    (1 to iterations).foreach { _ =>
      val nb = edges.join(labels, edges("src") === labels("id"))
        .groupBy(col("dst")).agg(min(col("lbl")).as("nlbl"))
      labels = labels.join(nb, labels("id") === nb("dst"), "left")
        .select(labels("id"),
          least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"))
        .localCheckpoint()
    }
    labels.select(col("id"), col("lbl").as("cluster"))
  }

  /** k-core peeling over an undirected pair graph (Seidman 1983;
    * Batagelj & Zaveršnik 2003): each round drops every node whose
    * degree among SURVIVING nodes is < k, for a fixed number of
    * rounds. The k-core is the density skeleton of a near-dup graph —
    * template/boilerplate families form cores, incidental one-off
    * matches are peeled away — the structural complement of
    * [[labelPropagationClusters]] (which answers "which component",
    * not "how dense"). Fixed rounds keep the oracle an unrolled CTE
    * chain; peeling converges when a round removes nothing (the spec
    * pins convergence on bounded graphs; at the gate config 4 rounds
    * suffice for the corpus pair graphs).
    *
    * Each round is one groupBy over surviving edges + one semi-join —
    * edge-linear, lineage cut per round. Returns
    * (id, degree0, in_core) for every node of the pair graph.
    */
  def kCore(pairs: DataFrame, k: Int = 2, rounds: Int = 4): DataFrame = {
    val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
      .union(pairs.select(col("b").as("src"), col("a").as("dst")))
      .localCheckpoint()
    val deg0 = edges.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("degree0"))
    var alive = deg0.filter(col("degree0") >= k)
      .select(col("id")).localCheckpoint()
    (1 to rounds).foreach { _ =>
      val live = edges
        .join(alive.withColumnRenamed("id", "src"), Seq("src"))
        .join(alive.withColumnRenamed("id", "dst"), Seq("dst"))
      alive = live.groupBy(col("src").as("id"))
        .agg(count(lit(1)).as("d"))
        .filter(col("d") >= k).select(col("id"))
        .localCheckpoint()
    }
    deg0.join(alive.withColumn("in_core", lit(true)), Seq("id"), "left")
      .select(col("id"), col("degree0"),
        coalesce(col("in_core"), lit(false)).as("in_core"))
  }

  /** CONVERGED connected components via alternating large-star /
    * small-star rounds (Kiveris et al. 2014, "Connected Components in
    * MapReduce and Beyond") — O(log n) rounds regardless of component
    * diameter. This is the scale-correct closure of the near-dup
    * cluster step: fixed-k min-label propagation ([[labelPropagationClusters]],
    * d07's reference semantics) under-merges any chain longer than k
    * hops, while the star rounds double the collapsed distance every
    * round. Returns (id, component), component = min id reachable.
    *
    * Each round is two bounded groupBy/join passes over the edge set
    * (kept distinct, stored larger→smaller); lineage is cut per round.
    * Convergence check: `exactConvergence = true` (the gate default)
    * compares edge sets with two `except`s; `false` is the 100 TB path
    * — one aggregation computing (count, wrapped sum of per-edge FNV),
    * which declares convergence when the signature repeats (a false
    * positive needs a 64-bit wrapped-sum collision between CONSECUTIVE
    * star rounds — astronomically unlikely, and ConnectedComponentsSpec
    * pins both modes identical on random graphs).
    */
  def connectedComponents(pairs: DataFrame, maxRounds: Int = 30,
      exactConvergence: Boolean = true): DataFrame = {
    // DECIMAL(38,0) sum: exact at any edge count, and safe under the
    // ANSI default (a LongType sum of 64-bit hashes would overflow)
    def signature(e: DataFrame): (Long, String) = {
      val r = e.agg(
        count(lit(1)).as("n"),
        sum(graft.functions.Fnv.fnv1a64(
          concat(col("x").cast("string"), lit(":"), col("w").cast("string")))
          .cast("decimal(38,0)")).as("h"))
        // collect-bound: scalar: single-row (count, hash) signature aggregate
        .collect()(0)
      (r.getLong(0), if (r.isNullAt(1)) "0" else r.getDecimal(1).toPlainString)
    }
    var edges = pairs.filter(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("x"),
        least(col("a"), col("b")).as("w"))
      .distinct().localCheckpoint()
    var done = edges.isEmpty
    var prevSig: Option[(Long, String)] =
      if (exactConvergence || done) None else Some(signature(edges))
    var rounds = 0
    while (!done && rounds < maxRounds) {
      // large-star: every neighbor v > u links to min(N(u) ∪ {u})
      val bidir = edges.select(col("x").as("u"), col("w").as("v"))
        .union(edges.select(col("w").as("u"), col("x").as("v")))
      val mins = bidir.groupBy(col("u"))
        .agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      val large = bidir.join(mins, "u")
        .where(col("v") > col("u") && col("v") =!= col("m"))
        .select(col("v").as("x"), col("m").as("w"))
        .distinct()
      // small-star: every neighbor (all ≤ x here) and x link to the min
      val smins = large.groupBy(col("x")).agg(min(col("w")).as("m"))
      val small = large.join(smins, "x")
        .where(col("w") =!= col("m"))
        .select(col("w").as("x"), col("m").as("w"))
        .union(smins.select(col("x"), col("m").as("w")))
        .distinct().localCheckpoint()
      done =
        if (exactConvergence)
          small.except(edges).isEmpty && edges.except(small).isEmpty
        else {
          // carry the prior round's signature: one aggregation per
          // round, not a recompute of both sides
          val sigSmall = signature(small)
          val same = prevSig.contains(sigSmall)
          prevSig = Some(sigSmall)
          same
        }
      edges = small
      rounds += 1
    }
    require(done || rounds < maxRounds,
      s"connectedComponents did not converge in $maxRounds rounds")
    edges.select(col("x").as("id"), col("w").as("component"))
      .union(edges.select(col("w").as("id"), col("w").as("component")))
      .distinct()
  }

  // ---- SimHash ----

  /** GraphX/Pregel backend for [[labelPropagationClusters]] — identical
    * semantics (min reachable id within k supersteps), proven equal in
    * DedupSpec on randomized pair sets. The DataFrame loop stays the
    * default (AQE + Tungsten); this formulation keeps the edge
    * partitioning resident across supersteps and only re-sends a label
    * when it can still lower a neighbor (change-activation + idempotent
    * min), so it wins when running many rounds to full convergence on a
    * high-diameter graph.
    */
  def labelPropagationClustersGraphX(pairs: DataFrame,
      iterations: Int = 3): DataFrame = {
    import org.apache.spark.graphx.{Edge, EdgeDirection, Graph}
    val spark = pairs.sparkSession
    import spark.implicits._
    val e = pairs.select(col("a").cast("long"), col("b").cast("long"))
      .as[(Long, Long)].rdd
    val edges = e.flatMap { case (a, b) => Seq(Edge(a, b, ()), Edge(b, a, ())) }
    // serialized+spillable like TextRankGraphX.ranks: candidate-pair
    // edge sets are LSH-bounded but still corpus-proportional; default
    // MEMORY_ONLY deserialized caching is the only unbounded-heap shape
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
    val g = Graph.fromEdges(edges, (),
      edgeStorageLevel = lvl, vertexStorageLevel = lvl)
      .mapVertices((id, _) => id)
    val res = g.pregel(Long.MaxValue, iterations, EdgeDirection.Either)(
      (_, attr, msg) => math.min(attr, msg),
      t => if (t.srcAttr < t.dstAttr) Iterator((t.dstId, t.srcAttr))
           else Iterator.empty,
      math.min)
    res.vertices.map { case (id, lbl) => (id, lbl) }.toDF("id", "cluster")
  }

  /** 64-bit SimHash: weighted bit votes from per-token FNV-1a hashes,
    * composed entirely from codegen'd higher-order functions (no UDF):
    * one pass hashes the tokens, then per bit position the vote sum
    * decides the output bit. Disjoint powers of two are OR-combined, so
    * bit 63 wraps into the sign bit exactly like the long arithmetic.
    */
  def simhash(tokens: Column): Column =
    // fused codegen'd form of the 64-bit-position x per-token-vote HOF
    // composition (bit-identical incl. null corners — see SimHash64 doc
    // and SimHash64Spec; integer vote sums are order-independent)
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.SimHash64(
        org.apache.spark.sql.graft.ColumnBridge.expression(tokens)))

  /** SimHash near-dup pairs with Hamming distance <= maxHamming (<= 3
    * guaranteed recall via 4-chunk banding; pigeonhole over 16-bit
    * chunks).
    */
  def simhashNearDuplicates(toks0: DataFrame, maxHamming: Int = 3): DataFrame =
    simhashNearDuplicatesWithin(toks0, maxHamming, Mass)

  /** [[simhashNearDuplicates]] under explicit mass-probe limits. */
  private[operators] def simhashNearDuplicatesWithin(toks0: DataFrame,
      maxHamming: Int, limits: MassLimits): DataFrame = {
    val toks = graft.Par.fanOut(toks0)
    val sigs = toks.select(col("id"), simhash(col("tokens")).as("sig"))
    val chunks0 = sigs.select(col("id"), col("sig"),
      posexplode(array((0 until 4).map(i =>
        shiftrightunsigned(col("sig"), i * 16).bitwiseAND(lit(0xffffL))): _*)))
      .toDF("id", "sig", "chunk_idx", "chunk")
    // Mass probe, as in [[lshCandidates]]: replica copies of a
    // document carry an IDENTICAL 64-bit signature, so they share all
    // four 16-bit chunks and the band join's pre-distinct mass grows
    // with the square of the replica count — and unlike the MinHash
    // path there is no maxBucket cap in front of it (the operator
    // guarantees recall at Hamming ≤ 3, so a cap would silently drop
    // true pairs). The probed mass is Σ c·(c−1) over chunk groups.
    // The chunk table feeds BOTH sides of the band join — unpersisted,
    // the per-row simhash fold over the corpus executed twice per call
    // (r14). Persist unconditionally, same rationale and pattern as
    // lshCandidates' sized cache.
    val chunks = s0persist(chunks0)
    // collect-bound: scalar: row count vs the probe floor
    val route = massRouted("simhashNearDuplicates", sigs.count(), limits,
        "a", "b") {
      // One hash aggregation of the cached chunk table (r14: the former
      // window attached a per-row count — an exchange + sort — to
      // compute the same scalar; a two-level groupBy reads the same
      // quantity with no sort).
      // collect-bound: scalar: single aggregated row (chunk-mass probe)
      chunks.groupBy(col("chunk_idx"), col("chunk"))
        .agg(count(lit(1)).as("c"))
        .agg(coalesce(sum(col("c") * (col("c") - lit(1L))), lit(0L)))
        .first().getLong(0)
    }
    val l = chunks.select(col("chunk_idx"), col("chunk"), col("id").as("a"), col("sig").as("sig_a"))
    val r = chunks.select(col("chunk_idx"), col("chunk"), col("id").as("b"), col("sig").as("sig_b"))
    val cand = l.join(r, Seq("chunk_idx", "chunk"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
    // see lshCandidates: on the bounded route the explicit pair-key
    // exchange replaces the pre-shuffle partial aggregate
    route(cand).distinct()
      .filter(col("hamming") <= maxHamming)
  }

  // ---- Embedding cosine near-dup ----

  /** Cosine similarity between two double arrays (codegen'd HOFs). */
  def cosine(a: Column, b: Column): Column = {
    val dot = graft.operators.Similarity.dot(a, b)
    val na = graft.operators.Similarity.norm(a)
    val nb = graft.operators.Similarity.norm(b)
    dot / (na * nb)
  }

  /** Brute-force cosine near-dup pairs over (id, vec array<double>).
    * Norms precomputed per row (not per pair); cosine arithmetic stays
    * dot/(na·nb) to match the oracle bit-for-bit after rounding.
    */
  def cosineNearDuplicates(vecs: DataFrame, threshold: Double): DataFrame = {
    import graft.operators.{Similarity => S}
    val withNorm = vecs.select(col("id"), col("vec"), S.norm(col("vec")).as("nrm"))
    val a = withNorm.select(col("id").as("a"), col("vec").as("va"), col("nrm").as("na"))
    val b = withNorm.select(col("id").as("b"), col("vec").as("vb"), col("nrm").as("nb"))
    a.join(b, col("a") < col("b"))
      .withColumn("cosine", S.dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cosine") >= threshold)
      .select(col("a"), col("b"), col("cosine"))
  }

  /** SemDeDup-style clustered semantic dedup (Abbas et al. 2023): Lloyd
    * k-means partitions the embedding space, pairwise cosine runs only
    * WITHIN clusters, and each near-dup group keeps its lowest-id
    * member. Output: (id, cluster, n_dups_lower, keep) per vector —
    * `keep = false` iff some LOWER id in the same cluster sits at
    * cosine ≥ `tau` (min-id canonicalization, the same rule as c01's
    * exact path).
    *
    * 100 TB shape: the all-pairs stage of [[cosineNearDuplicates]] is
    * O(n²) over the corpus; here it is Σ O(|cluster|²) — the cluster
    * count is the quadratic-cost dial, and the per-cluster join is a
    * plain shuffled equi-join on the cluster id (skew-capped in
    * production by splitting oversized clusters, the d04 `maxBucket`
    * trick). Deterministic Lloyd means a SQL oracle replays the whole
    * thing.
    */
  def semanticDedup(vecs: DataFrame, nClusters: Int, lloydIters: Int,
      tau: Double): DataFrame = {
    import graft.operators.{Similarity => S}
    val (_, assigned) = S.lloydClusters(vecs, nClusters, lloydIters)
    val withNorm = assigned.select(col("cluster"), col("id"), col("vec"),
      S.norm(col("vec")).as("nrm"))
    val a = withNorm.select(col("cluster"), col("id").as("a"),
      col("vec").as("va"), col("nrm").as("na"))
    val b = withNorm.select(col("cluster"), col("id").as("b"),
      col("vec").as("vb"), col("nrm").as("nb"))
    val dups = a.join(b, Seq("cluster")).filter(col("a") < col("b"))
      .withColumn("cosine",
        round(S.dot(col("va"), col("vb")) / (col("na") * col("nb")), 6))
      .filter(col("cosine") >= tau)
      .groupBy(col("b").as("id")).agg(count(lit(1)).as("n_dups_lower"))
    assigned.select(col("id"), col("cluster"))
      .join(dups, Seq("id"), "left")
      .select(col("id"), col("cluster"),
        coalesce(col("n_dups_lower"), lit(0L)).as("n_dups_lower"))
      .withColumn("keep", col("n_dups_lower") === 0L)
  }

  /** Edit-distance near-dup pairs over (id, key): all unordered pairs
    * with `levenshtein(key_a, key_b) <= maxDist`.
    *
    * LOSSLESS length banding instead of the all-pairs cross join:
    * `|len(a) - len(b)| <= lev(a, b)`, so a pair within distance k can
    * only span length bands of width k that are equal or adjacent —
    * each key joins its own band plus band+1 (the `src < dst`-style
    * halving comes free: same-band pairs dedup on id, adjacent-band
    * pairs are generated once in band order). The quadratic work drops
    * from |D|² to Σ per-band² over a skew-bounded distribution, and the
    * band id is a plain shuffled equi-join key Catalyst partitions —
    * the same shape as the SimHash chunk banding (pigeonhole, exact
    * recall) rather than MinHash (probabilistic recall).
    */
  def editDistanceNearDuplicates(keys: DataFrame, maxDist: Int): DataFrame = {
    require(maxDist >= 1, "maxDist must be >= 1")
    // fanOut: the levenshtein verify is the compute-bound stage; a
    // single-file scan would otherwise serialize every candidate pair
    // through one task (observed at sf0.1 before the floor was added).
    val banded = graft.Par.fanOut(keys).select(col("id"), col("key"),
      floor(length(col("key")) / maxDist).cast("long").as("band"))
    // The probe side carries two tags (its band and band+1), the build
    // side its band only, keeping the join a pure shuffled EQUI-join
    // (an OR of band conditions would fall back to nested-loop). A
    // same-band pair meets once after the a<b halving; an adjacent-band
    // pair meets exactly once, with the lower-band row on the probe
    // side — then the output is normalized to id order.
    val l = banded.select(col("id").as("a"), col("key").as("ka"),
      col("band"), explode(array(col("band"), col("band") + 1)).as("tag"))
    val r = banded.select(col("id").as("b"), col("key").as("kb"),
      col("band").as("band_r"))
    l.join(r, col("tag") === col("band_r"))
      .filter(col("band") =!= col("band_r") || col("a") < col("b"))
      .withColumn("dist", levenshtein(col("ka"), col("kb")))
      .filter(col("dist") <= maxDist)
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"), col("dist"))
  }

  /** Blocked sorted-neighborhood near-dup pairs (SNM — Hernández &
    * Stolfo's merge/purge): block on a cheap key, SORT each block by a
    * fuller key, and compare each record only with its next
    * `windowSize − 1` neighbors in sort order. The third classic
    * candidate-generation family beside hashing (MinHash-LSH, d04) and
    * indexing (prefix filter, d13): near-identical records sort
    * adjacently, so the quadratic comparison collapses to a linear
    * band along the sort order.
    *
    * Scale shape: ONE shuffle partitioned by the BLOCKING key (never a
    * global sort — each block sorts independently, which is the
    * documented recall tradeoff of blocked SNM: pairs straddling a
    * block boundary are not compared), then all `windowSize − 1` leads
    * come off that single per-block sort, are stacked row-locally
    * (explode of a struct array — no second shuffle) and verified with
    * the fused exact-Jaccard. Work is O(n·w) however large the corpus.
    *
    * toks0: (id, tokens). Blocking key = first token; sort key = first
    * 3 tokens joined. Output (a, b, jaccard) with a < b, exact shingle
    * Jaccard ≥ tau, ROUNDED to 6dp before thresholding (oracle-parity
    * pin: both engines threshold the identical rounded value).
    */
  def sortedNeighborhoodPairs(toks0: DataFrame, shingleN: Int,
      windowSize: Int, tau: Double): DataFrame = {
    require(windowSize >= 2, "windowSize must pair each row with >= 1 neighbor")
    val sh = graft.Par.fanOut(toks0).select(col("id"),
        col("tokens").getItem(0).as("block"),
        array_join(slice(col("tokens"), 1, 3), " ").as("skey"),
        array_distinct(shingles(col("tokens"), shingleN)).as("sh"))
      .filter(size(col("sh")) > 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("block")).orderBy(col("skey"), col("id"))
    val leadCols = (1 until windowSize).flatMap(i => Seq(
      lead(col("id"), i).over(w).as(s"b$i"),
      lead(col("sh"), i).over(w).as(s"shb$i")))
    val neighbors = sh
      .select(col("id") +: col("sh") +: leadCols: _*)
      .select(col("id").as("ida"), col("sh").as("sha"),
        explode(array((1 until windowSize).map(i =>
          struct(col(s"b$i").as("idb"), col(s"shb$i").as("shb"))): _*)).as("p"))
      .filter(col("p.idb").isNotNull)
    neighbors
      .withColumn("jaccard", round(jaccard(col("sha"), col("p.shb")), 6))
      .filter(col("jaccard") >= tau)
      .select(least(col("ida"), col("p.idb")).as("a"),
        greatest(col("ida"), col("p.idb")).as("b"), col("jaccard"))
  }

  /** Repeated-substring duplication profile (the shuffle-shaped
    * equivalent of Lee et al.'s "Deduplicating Training Data Makes
    * Language Models Better" suffix-array pass): every character
    * k-gram of every document, stride 1, is hashed and counted
    * corpus-wide; a position is DUPLICATED if its k-gram occurs ≥ 2
    * times anywhere in the corpus (including within the same doc).
    *
    * Scale shape: the gram fan-out is a narrow row-local Generate
    * (|text| rows per doc — linear in corpus bytes, like the
    * suffix-array construction it replaces), followed by ONE
    * corpus-wide hash aggregation on the fixed-width gram hash and one
    * shuffled equi-join back to positions; no pairwise comparisons
    * anywhere, so unlike d03/d08's quadratic truth paths this runs at
    * full corpus scale. Gram identity is md5 here (replayable in the
    * oracle); a 100 TB run would swap in xxhash64 raw-bytes keys and
    * verify colliding groups exactly — at gate scale md5 collisions
    * are not a factor and BOTH engines hash identically, so the
    * comparison is exact either way.
    *
    * docs: (idCol, textCol). Output: one row PER DOCUMENT —
    * (id, n_pos, n_dup, dup_ratio) with n_pos the number of k-gram
    * positions (0 for docs shorter than k), n_dup the duplicated
    * positions, dup_ratio rounded to 6dp — the per-doc "fraction of
    * bytes shared with the rest of the corpus" signal a dedup policy
    * thresholds on.
    */
  def repeatedSpanStats(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    require(k >= 2, "k-gram length must be >= 2")
    // fanOut: the gram Generate multiplies each row ~|text|-fold; a
    // one-row-group parquet scan would pin that entire fan-out (and
    // the md5 work) onto a single task.
    val grams = graft.Par.fanOut(docs)
      .filter(length(col(textCol)) >= k)
      .select(col(idCol).as("id"),
        explode(sequence(lit(1), length(col(textCol)) - (k - 1))).as("i"),
        col(textCol).as("t"))
      .select(col("id"), md5(expr(s"substr(t, i, $k)")).as("gh"))
    val counts = grams.groupBy(col("gh")).agg(count(lit(1)).as("cnt"))
    val perDoc = grams.join(counts, "gh")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_pos"),
        count(when(col("cnt") >= 2, 1)).as("n_dup"))
    docs.select(col(idCol).as("id")).join(perDoc, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_pos"), lit(0L)).as("n_pos"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"))
      .withColumn("dup_ratio",
        round(col("n_dup") / greatest(col("n_pos"), lit(1L)), 6))
  }

  /** Cross-document duplicated-n-gram rate (RefinedWeb/FineWeb quality
    * signal, Penedo et al. 2023 §4.2): per document, the fraction of its
    * word n-gram OCCURRENCES whose gram also appears in >= 1 OTHER
    * document. Distinct from within-doc repetition (repeatedSpanStats /
    * a06) and benchmark contamination (d09): this is corpus-global.
    *
    * Plan: one shuffle to the distinct (doc, gram, in-doc count) table,
    * one gram-keyed aggregation for document frequency, one
    * co-partitioned join back — linear in total gram count, no pair
    * enumeration. At 100 TB the df table is the big intermediate; it
    * carries (gram, count) only, and the exact df side can be replaced
    * by a Bloom/CMS approximation when approximate rates suffice.
    *
    * Output: (doc_id, n_grams, dup_occ, dup_frac) for docs with >= n
    * tokens.
    */
  /** Exact-substring span REMOVAL (the cut step of Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better" §4.1,
    * re-expressed over hashed char k-grams instead of a suffix array):
    * every k-char window whose gram occurs >= 2 times in the corpus is
    * marked, overlapping marks are merged into maximal spans, and the
    * spans are cut out of the document — d16 measures the signal, this
    * produces the deduplicated corpus.
    *
    * Plan (all linear, two shuffles): gram table with positions (narrow
    * fan-out; persisted — it feeds both the count aggregation and the
    * position join-back), gram-keyed count -> duplicated-hash set, join
    * back for per-doc duplicated positions, one groupBy(doc) collecting
    * the SORTED position list, then per-doc interval-merge + cut run as
    * two `aggregate` higher-order functions — no window, no second pass
    * over text. At 100 TB the gram table is ~|corpus| rows of
    * (id, i, 16-byte md5); the cnt>=2 filter drops the unique-gram
    * majority BEFORE the join-back shuffle, so only duplicated
    * positions (typically a small fraction) reach the per-doc state.
    * Position lists are bounded by |doc|, never by |corpus|.
    *
    * Merge rule matches the oracle's gaps-and-islands exactly: sorted
    * positions, a new span starts iff i > previous merged end
    * (= prev_i + k - 1); adjacent-but-not-overlapping windows stay
    * separate spans (they still cut the same characters).
    *
    * Output: (id, n_spans, n_cut, clean_text) for every input doc —
    * clean_text IS the deduplicated corpus.
    */
  def removeRepeatedSpans(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    require(k >= 2, "k-gram length must be >= 2")
    val base = docs.select(col(idCol).as("id"), col(textCol).as("t"))
    val grams = graft.Par.cacheIfNew(gramPositions(base, k))._1
    val dupHashes = grams.groupBy(col("gh"))
      .agg(count(lit(1)).as("cnt")).filter(col("cnt") >= 2).select("gh")
    cutSpansWith(base, grams, dupHashes, k)
  }

  /** (id, i, gh) k-gram position table of (id, t) docs. */
  def gramPositions(base: DataFrame, k: Int): DataFrame =
    graft.Par.fanOut(base)
      .filter(length(col("t")) >= k)
      .select(col("id"),
        explode(sequence(lit(1), length(col("t")) - (k - 1))).as("i"),
        col("t"))
      .select(col("id"), col("i"), md5(expr(s"substr(t, i, $k)")).as("gh"))

  /** The cut stage against a PRE-BUILT duplicated-hash set — split out
    * so a STREAM of documents can be cut at ingest against a
    * batch-derived set (sm19): per-doc dup positions, interval merge,
    * segment stitch. `base` = (id, t), `grams` its position table,
    * `dupHashes` = (gh).
    */
  def cutSpansWith(base: DataFrame, grams: DataFrame, dupHashes: DataFrame,
      k: Int): DataFrame = {
    val perDoc = grams.join(dupHashes, Seq("gh"))
      .groupBy(col("id"))
      .agg(sort_array(collect_list(col("i"))).as("ps"))
    val spans = expr(
      s"""aggregate(ps, cast(array() as array<struct<s:int,e:int>>),
         |  (acc, x) -> if(size(acc) = 0 or x > element_at(acc, -1).e,
         |    concat(acc, array(named_struct('s', x, 'e', x + ${k - 1}))),
         |    concat(slice(acc, 1, size(acc) - 1),
         |      array(named_struct('s', element_at(acc, -1).s,
         |        'e', x + ${k - 1})))))""".stripMargin)
    val cut = expr(
      """aggregate(spans, named_struct('p', 1, 'o', ''),
        |  (acc, sp) -> named_struct('p', sp.e + 1,
        |    'o', concat(acc.o, substring(t, acc.p, sp.s - acc.p))),
        |  acc -> concat(acc.o,
        |    substring(t, acc.p, length(t) - acc.p + 1)))""".stripMargin)
    base.join(perDoc, Seq("id"), "left")
      .withColumn("spans", spans)
      .select(col("id"),
        coalesce(size(col("spans")), lit(0)).cast("long").as("n_spans"),
        coalesce(expr("aggregate(spans, 0, (a, sp) -> a + sp.e - sp.s + 1)"),
          lit(0)).cast("long").as("n_cut"),
        when(col("ps").isNull, col("t")).otherwise(cut).as("clean_text"))
  }

  def dupGramRate(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val sh = graft.Par.fanOut(docs)
      .select(col(idCol).as("doc_id"),
        shingles(graft.text.TextFunctions.tokenize(col(textCol)), n).as("sh"))
      .filter(size(col("sh")) > 0)
    // per-(doc, gram) occurrence counts; one row per doc-gram pair.
    // Persisted: it feeds BOTH the df aggregation and the probe side of
    // the rate join — without it the scan+tokenize+shingle+explode
    // subtree replays once per reference (the d15/t13 diamond).
    val perDoc = sh
      .select(col("doc_id"), size(col("sh")).cast("long").as("n_grams"),
        explode(col("sh")).as("g"))
      .groupBy(col("doc_id"), col("n_grams"), col("g"))
      .agg(count(lit(1)).as("cnt"))
      .transform(df => graft.Par.cacheIfNew(df)._1)
    // gram document frequency: perDoc is already distinct per doc
    val df = perDoc.groupBy(col("g")).agg(count(lit(1)).as("ndocs"))
    perDoc.join(df, Seq("g"))
      .groupBy(col("doc_id"), col("n_grams"))
      .agg(sum(when(col("ndocs") >= 2, col("cnt")).otherwise(lit(0L)))
        .as("dup_occ"))
      .select(col("doc_id"), col("n_grams"), col("dup_occ"),
        round(col("dup_occ") * 1.0 / col("n_grams"), 6).as("dup_frac"))
  }

  /** [[dupGramRate]] with the exact gram-df side swapped for a count-min
    * sketch — the 100 TB route the d19 docs promised (and the same
    * docs-only-gap closure a35 gave a27): the exact route shuffles the
    * full doc-gram table TWICE (the df groupBy, then the gram-keyed join
    * back), both proportional to corpus gram volume; here the second
    * shuffle disappears entirely. One hash-aggregate folds the doc-gram
    * stream into a depth × width counter grid ([[CmsSketch.sketchTable]]
    * — map-side combine IS the sketch merge, so at most depth × width
    * rows leave any partition), the grid collapses to a ONE-ROW
    * broadcast array, and the duplicated-gram test becomes a narrow
    * per-row expression (least over depth counters), so the probe side
    * never shuffles on gram at all.
    *
    * Estimate semantics (spec-pinned in DupGramSketchSpec): CMS point
    * estimates only OVERCOUNT, so `dup_occ_est >= dup_occ` exact,
    * row-for-row one-sided — a gram is misclassified only when all
    * `depth` of its counters collide with other grams' mass (expected
    * overhang per probe ≤ (e·N/width)^depth for N distinct grams).
    * Width large enough for the corpus ⇒ bit-identical to the exact
    * route; undersized ⇒ a bounded upward bias on a quality SIGNAL
    * (dup_frac feeds threshold decisions, not the dedup keep-set).
    */
  def dupGramRateSketch(docs: DataFrame, idCol: String, textCol: String,
      n: Int, depth: Int = 4, width: Int = 8192): DataFrame = {
    val sh = graft.Par.fanOut(docs)
      .select(col(idCol).as("doc_id"),
        shingles(graft.text.TextFunctions.tokenize(col(textCol)), n).as("sh"))
      .filter(size(col("sh")) > 0)
    val perDoc = sh
      .select(col("doc_id"), size(col("sh")).cast("long").as("n_grams"),
        explode(col("sh")).as("g"))
      .groupBy(col("doc_id"), col("n_grams"), col("g"))
      .agg(count(lit(1)).as("cnt"))
      .transform(df => graft.Par.cacheIfNew(df)._1)
    // CMS over doc-distinct gram occurrences: one insert per (doc, gram),
    // so a counter's value upper-bounds the gram's document frequency
    val grid = CmsSketch.sketchTable(perDoc.select(col("g")), col("g"),
      depth, width)
    // grid -> one-row ordered counter array (depth*width longs; 4x8192 =
    // 256 KB — broadcast-sized by construction, independent of corpus)
    val counters = grid
      .agg(transform(
        array_sort(collect_list(struct(
          (col("d") * width + col("bucket")).as("i"), col("cnt")))),
        c => c.getField("cnt")).as("cs"))
    val h = graft.functions.Fnv.fnv1a64(col("g").cast("string"))
    val est = least((0 until depth).map(d =>
      element_at(col("cs"), (graft.functions.Fnv.fnv1a_perm(lit(d), h)
        .bitwiseAND(lit((width - 1).toLong)) + lit(d.toLong * width) + 1)
        .cast("int"))): _*)
    perDoc.crossJoin(broadcast(counters))
      .groupBy(col("doc_id"), col("n_grams"))
      .agg(sum(when(est >= 2, col("cnt")).otherwise(lit(0L)))
        .as("dup_occ"))
      .select(col("doc_id"), col("n_grams"), col("dup_occ"),
        round(col("dup_occ") * 1.0 / col("n_grams"), 6).as("dup_frac"))
  }

  /** [[dupGramRate]] with the probe-side JOIN swapped for a Bloom filter
    * over the duplicated grams — the preferred 100 TB route (vs the
    * [[dupGramRateSketch]] CMS, whose df>=2 test saturates unless width
    * tracks TOTAL gram cardinality). The df aggregate stays (it is
    * combiner-friendly: only per-partition-distinct grams shuffle), but
    * its output is immediately filtered to grams with df >= 2 — in a
    * real web corpus a small fraction — and packed into an mBits Bloom
    * bitmap whose size is the SKETCH size, not the corpus size
    * ([[BloomFilter.bitmap]]'s collect is bounded by mBits/64 longs).
    * The expensive half of the exact plan — re-shuffling the full
    * doc-gram table on gram to join df back — becomes a narrow
    * broadcast membership probe: no shuffle, no join, row-local.
    *
    * Estimate semantics (spec-pinned in DupGramSketchSpec): Bloom has
    * no false negatives, so every truly duplicated occurrence is
    * counted — `dup_occ_est >= dup_occ`, one-sided — and a df=1 gram
    * is miscounted only on a full k-position collision (rate ≈
    * (1 − e^{−k·n_dup/mBits})^k, sized by the DUPLICATED-gram count).
    */
  def dupGramRateBloom(docs: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int = 6, mBits: Int = 1 << 20): DataFrame = {
    val sh = graft.Par.fanOut(docs)
      .select(col(idCol).as("doc_id"),
        shingles(graft.text.TextFunctions.tokenize(col(textCol)), n).as("sh"))
      .filter(size(col("sh")) > 0)
    val perDoc = sh
      .select(col("doc_id"), size(col("sh")).cast("long").as("n_grams"),
        explode(col("sh")).as("g"))
      .groupBy(col("doc_id"), col("n_grams"), col("g"))
      .agg(count(lit(1)).as("cnt"))
      .transform(df => graft.Par.cacheIfNew(df)._1)
    val dupGrams = perDoc.groupBy(col("g"))
      .agg(count(lit(1)).as("ndocs"))
      .filter(col("ndocs") >= 2)
      .select(col("g"))
    val words = BloomFilter.bitmap(
      BloomFilter.bitsTable(dupGrams, col("g"), k, mBits), mBits)
    val flagged = BloomFilter.mightContain(words, perDoc, col("g"), k, mBits)
      .groupBy(col("doc_id"), col("n_grams"))
      .agg(sum(col("cnt")).as("dup_occ"))
    // docs whose every gram missed the filter drop out of `flagged`;
    // restore them with dup_occ = 0. Both (doc_id, n_grams) aggregates
    // shuffle at most one combined row per (doc, partition) — doc-count
    // bounded, not gram-volume — and the join broadcasts `flagged`.
    perDoc.select(col("doc_id"), col("n_grams")).distinct()
      .join(flagged, Seq("doc_id", "n_grams"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("dup_occ"), lit(0L)).as("dup_occ"),
        round(coalesce(col("dup_occ"), lit(0L)) * 1.0 / col("n_grams"), 6)
          .as("dup_frac"))
  }
}
