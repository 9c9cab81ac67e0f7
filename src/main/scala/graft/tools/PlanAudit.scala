package graft.tools

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}

/** Full-registry physical-plan audit: builds EVERY registered query at a
  * small scale factor, classifies its physical plan (join strategies,
  * exchanges, scans, whole-stage-codegen spans), and enforces the
  * invariant that decides whether a plan survives a 100 TB scale-up:
  * every nested-loop join (CartesianProduct / BroadcastNestedLoopJoin)
  * must have a STATICALLY BOUNDED inner side — a scalar aggregate, a
  * top-k, a literal band/config table — or be a whitelisted quadratic
  * truth leg. A nested loop whose inner side grows with the corpus is
  * the classic silent 100x cliff, and it can sneak in through an
  * innocuous-looking `crossJoin` or a non-equi condition.
  *
  * Boundedness is decided structurally on the plan tree (AQE disabled so
  * the tree is directly traversable), via the logical plan's `maxRows`
  * where Catalyst knows it, with physical fallbacks: a global aggregate
  * is 1 row; limits/top-k are k; literal local tables are their size;
  * row-preserving unary nodes recurse; `Generate`/`Expand` fan out and
  * are conservatively unbounded.
  *
  * [[graft.misc.PlanShapeSpec]] pins exact shapes for hand-picked
  * queries; this audit is the coarse net over the WHOLE registry so a
  * new query (or a Catalyst upgrade) cannot introduce an unbounded
  * nested loop without failing the round. Writes a markdown report
  * (default `PLAN_AUDIT.md`) and exits non-zero on violations.
  *
  * Usage: runMain graft.tools.PlanAudit [sfDir] [outPath]
  */
object PlanAudit {

  /** A nested-loop side counts as bounded when Catalyst can prove it no
    * larger than this. Every legitimate case in the registry is a scalar,
    * a k-row probe batch, a band/config literal, or a bounded truth
    * slice — all orders of magnitude under it at any corpus size.
    */
  val BoundedRowLimit = 100000L

  /** Queries whose nested loop is allowed despite an inner side Catalyst
    * cannot prove bounded. Three patterns, each bounded by CONSTRUCTION
    * rather than by a statically visible limit:
    *   - "query batch": a key-filtered k-row slice the engine broadcasts
    *     explicitly (`v.filter($"id" < k)` — a filter's maxRows is
    *     unknowable to Catalyst);
    *   - "model table": centroids / codebooks / percentile cuts / grids —
    *     grouped aggregates whose group domain is a fixed constant
    *     (k clusters, 10 bins, |sources|), not corpus-sized;
    *   - "truth leg": a deliberately quadratic oracle-checked reference
    *     for a sub-quadratic production route, over a bounded slice.
    * Every entry needs a one-line justification; an entry whose plan no
    * longer has an unbounded loop is reported stale.
    */
  val nestedLoopAllowed: Map[String, String] = Map(
    "a37_heaps_law" -> "model table: 8 sampled prefix sizes x vocab counts grid",
    "c18_quantile_calibrate" -> "model table: per-bin cumulative tables band-joined (10-bin grid)",
    "c27_doremi_weights" -> "model table: per-domain weight iterates (group domain = |sources|)",
    "d03_jaccard_pairs" -> "truth leg: bounded slice (doc_id<2000) non-equi self-join",
    "d06_cosine_neardup" -> "truth leg: deliberate all-pairs cosine reference (STRESS-exempt quadratic)",
    "d17_threshold_yield" -> "model table: threshold grid joined to pair stats",
    "e06_pca_project" -> "model table: top-k PCA component rows",
    "s01_cosine_topk" -> "query batch: id<5 slice broadcast against the corpus",
    "s03_ivf_topk" -> "query batch + model table: id<5 slice, k=16 IVF centroids",
    "s06_knn_graph" -> "query batch: bounded sample slice for the graph seed",
    "s07_hamming_topk" -> "query batch: id<k slice broadcast against signatures",
    "s08_pq_adc" -> "query batch + model table: per-subspace codebooks and LUTs",
    "s11_hybrid_rrf" -> "query batch: bounded query slice for both retrieval legs",
    "s12_ann_recall" -> "query batch: brute-force truth leg over the bounded query slice",
    "s15_ivfadc" -> "query batch + model table: IVF centroids + PQ codebooks/LUTs",
    "s16_matryoshka_recall" -> "query batch: id<k slice at each prefix dimension",
    "s17_ivfadc_recall" -> "query batch + model table: recall eval of s15's bounded sides",
    "s18_hard_negatives" -> "query batch: bounded anchor slice broadcast to the corpus",
    "s19_ann_ndcg" -> "query batch: bounded query slice for the NDCG eval",
    "sk12_theta_setops" -> "model table: theta-sketch register tables (k-bounded)",
    "sm14_stream_drift" -> "model table: reference-window histogram (bin-bounded)")

  final case class Audit(
      name: String,
      shuffles: Int,
      rangeParts: Int,
      bhj: Int,
      smj: Int,
      shj: Int,
      bnlj: Int,
      cartesian: Int,
      boundedLoops: Int,
      unboundedLoops: Seq[String],
      scans: Int,
      wscg: Int,
      error: Option[String]) {
    def joinSummary: String = {
      val parts = Seq(
        if (bhj > 0) Some(s"${bhj}xBHJ") else None,
        if (smj > 0) Some(s"${smj}xSMJ") else None,
        if (shj > 0) Some(s"${shj}xSHJ") else None,
        if (bnlj > 0) Some(s"${bnlj}xBNLJ") else None,
        if (cartesian > 0) Some(s"${cartesian}xCART") else None).flatten
      if (parts.isEmpty) "-" else parts.mkString(" ")
    }
  }

  private def count(plan: String, needle: String): Int = {
    var n = 0
    var i = plan.indexOf(needle)
    while (i >= 0) { n += 1; i = plan.indexOf(needle, i + needle.length) }
    n
  }

  /** Statically provable row bound of a physical subtree, if any. */
  def boundedRows(p: SparkPlan): Option[Long] =
    p.logicalLink.flatMap(_.maxRows).orElse(p match {
      case a: BaseAggregateExec if a.groupingExpressions.isEmpty => Some(1L)
      case l: LocalTableScanExec => Some(l.rows.size.toLong)
      case g: GlobalLimitExec => Some(g.limit.toLong)
      case t: TakeOrderedAndProjectExec => Some(t.limit.toLong)
      case c: CollectLimitExec => Some(c.limit.toLong)
      case _: GenerateExec | _: ExpandExec => None // fan-out: unbounded
      // Object kernels: 1-to-1 plumbing recurses, but anything whose
      // lambda may EMIT MANY rows per input (mapPartitions,
      // flatMapGroups, stateful flat-maps, co-groups) is conservatively
      // unbounded — a whitelist of known row-preserving producers, not
      // a blacklist of known fan-outs, so a new Catalyst node can't
      // silently defeat the invariant (r10 advice).
      case e: DeserializeToObjectExec => boundedRows(e.child)
      case e: MapElementsExec => boundedRows(e.child)
      case _: ObjectProducerExec => None
      // python/arrow kernels (mapInPandas etc.) produce rows, not
      // objects, and fan out freely — catch the family by name
      case u: UnaryExecNode
          if u.nodeName.contains("Pandas") || u.nodeName.contains("Python") ||
            u.nodeName.contains("InArrow") => None
      case u: UnaryExecNode => boundedRows(u.child) // row-preserving or fewer
      case _: LeafExecNode => None
      case b => // Union & friends: bounded iff every child is
        val cs = b.children.map(boundedRows)
        if (cs.nonEmpty && cs.forall(_.isDefined)) Some(cs.flatten.sum) else None
    })

  /** The nested-loop verdicts for one plan: (bounded count, unbounded
    * descriptions). For BNLJ the broadcast (build) side must be bounded;
    * for CartesianProduct both sides must be.
    */
  def nestedLoops(plan: SparkPlan): (Int, Seq[String]) = {
    val loops = plan.collectWithSubqueries {
      case j: BroadcastNestedLoopJoinExec =>
        val build = j.buildSide match {
          case BuildLeft => j.left
          case BuildRight => j.right
        }
        boundedRows(build) match {
          case Some(n) if n <= BoundedRowLimit => Right(n)
          case _ => Left(s"BNLJ build side unbounded (${build.nodeName})")
        }
      case j: CartesianProductExec =>
        (boundedRows(j.left), boundedRows(j.right)) match {
          // both sides bounded AND the product too: two 100k sides
          // would pass a per-side check while producing 1e10 rows,
          // which is not a survivable output (r10 advice)
          case (Some(a), Some(b)) if a <= BoundedRowLimit && b <= BoundedRowLimit &&
              a * b <= BoundedRowLimit => Right(a * b)
          case (Some(a), Some(b)) if a <= BoundedRowLimit && b <= BoundedRowLimit =>
            Left(s"CartesianProduct sides bounded ($a x $b) but product exceeds $BoundedRowLimit")
          case _ => Left(s"CartesianProduct with unbounded side")
        }
    }
    (loops.count(_.isRight), loops.collect { case Left(d) => d })
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outPath = args.lift(1).getOrElse("PLAN_AUDIT.md")
    // AQE off: the audit traverses the plan TREE, and the adaptive
    // wrapper hides its children until execution. The initial plan is
    // exactly what the invariant is about — the shape Catalyst commits
    // to before runtime stats.
    val spark = graft.LocalSession("graft-plan-audit", 8,
      "spark.sql.adaptive.enabled" -> "false", "spark.scheduler.mode" -> "FAIR")
    val qmap = graft.SparkEntry.allQueries
    val gate = graft.SparkEntry.queries.keySet
    val results = new ConcurrentHashMap[String, Audit]()
    // SEQUENTIAL, with the cache cleared before each plan build. The
    // audit used to share Verify's 8-way FAIR pool, but queries that
    // persist() mid-construction (s13's brute-force truth table, d12's
    // centroids, ...) register their subplans in the session-shared
    // CacheManager, and any query whose own subtree matches a
    // registered plan gets an InMemoryRelation SUBSTITUTED into its
    // audited plan — so the recorded shape depended on a scheduling
    // race (observed: s12's BNLJ truth leg flapped between
    // statically-bounded and whitelist-required across back-to-back
    // runs, moving the WSCG total by 6). Planning is driver-side and
    // the eager probes are small at sf0.001; the sequential sweep stays
    // well inside the old pool's 60 min deadline.
    qmap.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      spark.catalog.clearCache()
      val a =
        try {
          val plan = fn(spark, sfDir).queryExecution.executedPlan
          val s = plan.toString
          val (bounded, unbounded) = nestedLoops(plan)
          Audit(name,
            shuffles = count(s, "Exchange hashpartitioning"),
            rangeParts = count(s, "Exchange rangepartitioning"),
            bhj = count(s, "BroadcastHashJoin"),
            smj = count(s, "SortMergeJoin"),
            shj = count(s, "ShuffledHashJoin"),
            bnlj = count(s, "BroadcastNestedLoopJoin"),
            cartesian = count(s, "CartesianProduct"),
            boundedLoops = bounded,
            unboundedLoops = unbounded,
            scans = count(s, "Scan parquet"),
            // simple-mode toString marks codegen'd nodes with a
            // "*(stageId)" prefix; distinct ids = codegen spans
            wscg = raw"\*\((\d+)\)".r.findAllMatchIn(s)
              .map(_.group(1)).toSet.size,
            error = None)
        } catch {
          case e: Throwable =>
            Audit(name, 0, 0, 0, 0, 0, 0, 0, 0, Nil, 0, 0,
              Some(e.toString.linesIterator.next().take(160)))
        }
      results.put(name, a)
    }
    // leave no cache residue behind the sweep either
    spark.catalog.clearCache()
    val audits = qmap.keySet.toSeq.sorted.map { name =>
      Option(results.get(name)).getOrElse(
        Audit(name, 0, 0, 0, 0, 0, 0, 0, 0, Nil, 0, 0,
          Some("no result recorded")))
    }

    val errors = audits.filter(_.error.isDefined)
    val violations = audits.filter(a =>
      a.unboundedLoops.nonEmpty && !nestedLoopAllowed.contains(a.name))
    val staleWhitelist = nestedLoopAllowed.keySet --
      audits.filter(_.unboundedLoops.nonEmpty).map(_.name).toSet

    val sb = new StringBuilder
    sb ++= "# PLAN AUDIT — full-registry physical-plan sweep\n\n"
    sb ++= s"Generated by `graft.tools.PlanAudit` over `$sfDir` " +
      s"(${audits.size} registered queries, ${gate.size} in the oracle gate).\n\n"
    sb ++= "Counted on the AQE-off physical plan. `shuf` = hash exchanges,\n"
    sb ++= "`rp` = range exchanges (the deterministic final ORDER BY), `scan` =\n"
    sb ++= "parquet scans, `wscg` = WholeStageCodegen spans. Join codes: BHJ\n"
    sb ++= "broadcast-hash, SMJ sort-merge, SHJ shuffled-hash, BNLJ broadcast\n"
    sb ++= "nested-loop, CART cartesian. Every BNLJ/CART must carry a\n"
    sb ++= "statically bounded inner side (scalar aggregate, top-k, literal\n"
    sb ++= s"band/config table — proven <= $BoundedRowLimit rows on the plan tree)\n"
    sb ++= "or a whitelisted truth-leg justification.\n\n"
    sb ++= "## Invariants\n\n"
    val totalBounded = audits.map(_.boundedLoops).sum
    sb ++= s"- nested loops with a proven-bounded inner side: **$totalBounded** (allowed)\n"
    sb ++= s"- nested loops with an unbounded side outside the whitelist: **${violations.size}**\n"
    sb ++= s"- queries failing to plan: **${errors.size}**\n\n"
    if (violations.nonEmpty) {
      sb ++= "### VIOLATIONS\n\n"
      violations.foreach(a =>
        sb ++= s"- ${a.name}: ${a.unboundedLoops.mkString("; ")}\n")
      sb ++= "\n"
    }
    if (errors.nonEmpty) {
      sb ++= "### PLAN ERRORS\n\n"
      errors.foreach(a => sb ++= s"- ${a.name}: ${a.error.get}\n")
      sb ++= "\n"
    }
    if (nestedLoopAllowed.nonEmpty) {
      sb ++= "## Whitelisted truth legs\n\n"
      nestedLoopAllowed.toSeq.sortBy(_._1)
        .foreach { case (n, why) => sb ++= s"- $n: $why\n" }
      if (staleWhitelist.nonEmpty)
        sb ++= s"\nStale whitelist entries (plan no longer has an unbounded " +
          s"loop): ${staleWhitelist.toSeq.sorted.mkString(", ")}\n"
      sb ++= "\n"
    }
    val totals = audits.filter(_.error.isEmpty)
    sb ++= "## Registry totals\n\n"
    sb ++= s"- hash exchanges: ${totals.map(_.shuffles).sum}\n"
    sb ++= s"- joins: ${totals.map(_.bhj).sum} BHJ / ${totals.map(_.smj).sum} SMJ / " +
      s"${totals.map(_.shj).sum} SHJ / ${totals.map(_.bnlj).sum} BNLJ / " +
      s"${totals.map(_.cartesian).sum} CART\n"
    sb ++= s"- parquet scans: ${totals.map(_.scans).sum}; " +
      s"WholeStageCodegen spans: ${totals.map(_.wscg).sum}\n\n"
    sb ++= "## Per-query table\n\n"
    sb ++= "| query | shuf | rp | joins | scan | wscg |\n"
    sb ++= "|---|---:|---:|---|---:|---:|\n"
    audits.foreach { a =>
      val tag = a.error.map(_ => " (ERROR)").getOrElse("")
      sb ++= s"| ${a.name}$tag | ${a.shuffles} | ${a.rangeParts} | " +
        s"${a.joinSummary} | ${a.scans} | ${a.wscg} |\n"
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      sb.toString.getBytes("UTF-8"))
    println(s"== plan audit: ${audits.size} queries, $totalBounded bounded loops, " +
      s"${violations.size} violations, ${errors.size} errors -> $outPath ==")
    spark.stop()
    if (violations.nonEmpty || errors.nonEmpty) sys.exit(1)
  }
}
