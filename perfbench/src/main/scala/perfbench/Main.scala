package perfbench

import java.nio.file.{Path, Paths}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.ListenerBusAccess
import org.apache.spark.sql.{DataFrame, SparkSession}

import perfbench.ReviewOps._

/** One benchmark run: generates the workload's inputs from the seed, sets
  * up a Spark session and warms it up with untimed ops, runs timed
  * passes over the workload's fixed input until the given number of
  * seconds has passed (at least one pass), checks every result, and
  * prints one JSON line.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --work-dir <dir>
  *
  * With `--trace 1` the run times an untraced pass, a traced pass that
  * records a span around each call into a layer, and another untraced
  * pass, and reports per-layer metrics instead of end-to-end ones.
  */
object Main {

  /** A workload: the review counts of the products in its fixed input,
    * and the entry points one op runs on one product.
    */
  final case class Workload(name: String, products: Seq[Int], eps: Seq[Ep])

  /** product_reviews: the paper's own use, products of about 40 reviews
    * and a larger one. Nearly all Spark jobs run while the entry points
    * build their DataFrames, so this workload shows the driver-side job
    * floor.
    *
    * big_product: two large products. TextRank's exact all-pairs
    * similarity join dominates, so executor compute, shuffle and
    * partitioning show here and the job floor barely does. The join runs
    * `max(cores, V² · 48 / 64 MiB)` tasks for V sentences in TextRank's
    * band. On 4 cores the first product (1,620 band sentences) runs 4
    * tasks in one wave, well below the first step (5 tasks at V = 2,644);
    * the second (2,754) runs 5 tasks, so its join needs a second wave, and
    * sits midway between the steps at 2,644 and 2,897.
    */
  val Workloads: Seq[Workload] = Seq(
    Workload("product_reviews", Seq(40, 36, 60), Seq(LsaSummary, TextRankSummary, Evaluate)),
    Workload("big_product", Seq(600, 1020), Seq(LsaSummary, TextRankSummary)))

  /** Warm-up: this many untimed ops, on one product of `WarmupReviews`
    * reviews written from the run's seed. The first op in a JVM takes
    * about four times as long as a warm one, the second still a third
    * longer.
    */
  val WarmupOps = 2
  val WarmupReviews = 40

  /** The engine layers the traced run puts spans around, with the metrics
    * each has: `lsa.concepts` returns a local result (no action of its
    * own), the read path shuffles nothing, and the baseline summarizer
    * and ROUGE run on the driver without Spark.
    */
  private val AllMetrics = Seq("calls", "self_s", "build_s", "exec_s", "jobs",
    "build_jobs", "tasks", "task_s", "shuffle_mb", "spill_mb")
  val Layers: Seq[(String, Seq[String])] = Seq(
    "pipeline" -> AllMetrics,
    "io" -> Seq("calls", "self_s", "build_s", "exec_s", "jobs", "tasks", "task_s"),
    "lsa" -> Seq("calls", "self_s", "jobs", "solver_jobs", "tasks", "task_s", "shuffle_mb",
      "spill_mb"),
    "textrank" -> AllMetrics,
    "baseline" -> Seq("calls", "self_s"),
    "rouge" -> Seq("calls", "self_s"))

  def main(args: Array[String]): Unit = {
    val mainMillis = System.currentTimeMillis()
    val jvmMillis = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = Workloads.find(_.name == opts("workload")).getOrElse(
      throw new IllegalArgumentException(s"unknown workload ${opts("workload")}"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = Paths.get(opts("work-dir")).toAbsolutePath
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)

    val files = ReviewCorpus.write(work.resolve("reviews"), seed, wl.products).map(_.toString)
    val warmup = ReviewCorpus.write(work.resolve("warmup"), seed, Seq(WarmupReviews))
      .map(_.toString)

    // Set-up: JVM start until the session is built and the untimed warm-up
    // ops have finished, minus input generation.
    val genSec = (System.currentTimeMillis() - mainMillis) / 1e3
    val t0 = System.nanoTime()
    val run = new Run(wl, cores, work)
    for (_ <- 1 to WarmupOps) run.pass(warmup, None)
    val setupSec = (mainMillis - jvmMillis) / 1e3 + (System.nanoTime() - t0) / 1e9
    System.err.println(f"[perfbench] inputs $genSec%.2f s, set-up $setupSec%.2f s")

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!trace) {
      val m0 = System.nanoTime()
      val passes = mutable.ArrayBuffer(run.pass(files, None))
      while ((System.nanoTime() - m0) / 1e9 < seconds) passes += run.pass(files, None)
      def med(f: PassTimes => Double) = median(passes.map(f).toSeq)
      metrics("setup_s") = (setupSec, "s")
      metrics("wall_s") = (med(_.wall), "s")
      metrics("op_p50_s") = (median(passes.flatMap(_.ops).toSeq), "s")
      metrics("lsa_s") = (med(_.ep(LsaSummary)), "s")
      metrics("textrank_s") = (med(_.ep(TextRankSummary)), "s")
      System.err.println(s"[perfbench] ${passes.size} passes, ${passes.map(_.ops.size).sum} ops")
    } else {
      // Untraced passes before and after the traced one, so that the
      // JVM's continued warming does not count as tracing overhead. The
      // listener sees the first two: untraced ops charge their jobs to
      // Tracer.UntracedOp, so both passes' job counts can be compared.
      val sc = run.spark.sparkContext
      val listener = new SpanListener
      sc.addSparkListener(listener)
      val before = run.pass(files, None)
      val tr = Tracer.forSpark(sc)
      val traced = run.pass(files, Some(tr))
      ListenerBusAccess.drain(sc)
      sc.removeSparkListener(listener)
      val after = run.pass(files, None)
      metrics ++= layerMetrics(tr.spans, listener.counts, traced, before,
        (before.wall + after.wall) / 2, cores, sc)
      if (metrics("trace.mirror_job_gap")._1 != 0)
        System.err.println("[perfbench] WARNING: the traced pass and the untraced pass ran " +
          "different numbers of jobs (forced scans and Lanczos steps excluded): " +
          "ReviewOps.buildTraced no longer mirrors Pipelines, so the per-layer figures " +
          "describe the mirror")
    }
    run.spark.stop()

    val problems = run.problems.toSeq
    problems.foreach(p => System.err.println(s"[perfbench] FAILED: $p"))
    val correct = problems.isEmpty
    println(json(correct, run.attempted, run.failed, metrics.toSeq))
    if (!correct) sys.exit(1)
  }

  final case class Op(file: String, sec: Double, results: Seq[(Ep, Double, DataFrame)])
  final case class PassTimes(wall: Double, ops: Seq[Double], ep: Map[Ep, Double])

  /** Session, op execution and result checks for one run. */
  final class Run(wl: Workload, cores: Int, work: Path) {
    var attempted = 0
    var failed = 0
    val problems = mutable.LinkedHashSet.empty[String]
    private val digests = mutable.Map.empty[(String, Ep), String]
    private val fileDigests = mutable.Map.empty[String, String]

    /** Results are compared by the input's bytes, not its path, so the
      * warm-up product's results are checked against a timed product's
      * when both have the same contents.
      */
    private def contents(file: String): String = fileDigests.getOrElseUpdate(file,
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(java.nio.file.Files.readAllBytes(Paths.get(file)))
        .map("%02x".format(_)).mkString)

    val spark: SparkSession = {
      val s = SparkSession.builder()
        .withExtensions(new graft.functions.GraftExtensions)
        .master(s"local[$cores]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
        .config("spark.driver.bindAddress", "127.0.0.1")
        .config("spark.local.dir", work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }

    /** One op: every entry point of the workload on one product file.
      * Returns the op's latency, each entry point's time (build plus
      * action) and the DataFrames to check once the clock has stopped.
      */
    def op(file: String, tr: Option[Tracer]): Op = {
      attempted += 1
      val t0 = System.nanoTime()
      val sc = spark.sparkContext
      try {
        if (tr.isEmpty) sc.setLocalProperty(Tracer.SpanKey, Tracer.UntracedOp.toString)
        tr.foreach(_.beginOp())
        val results = traced(tr, "op") {
          tr.foreach(t => forcedScan(t, spark, file))
          wl.eps.map { ep =>
            val e0 = System.nanoTime()
            val df = traced(tr, "pipeline")(tr match {
              case Some(t) => buildTraced(t, spark, ep, file)
              case None => build(spark, ep, file)
            })
            traced(tr, execLayer(ep), "exec")(noop(df))
            (ep, (System.nanoTime() - e0) / 1e9, df)
          }
        }
        val o = Op(file, (System.nanoTime() - t0) / 1e9, results)
        System.err.println(f"[perfbench] op ${Paths.get(file).getFileName} ${o.sec}%.2f s (" +
          results.map { case (ep, s, _) => f"${ep.name} $s%.2f" }.mkString(", ") + ")")
        o
      } catch {
        case e: Exception =>
          failed += 1
          problems += s"${wl.name} ${Paths.get(file).getFileName}: $e"
          Op(file, (System.nanoTime() - t0) / 1e9, Nil)
      } finally sc.setLocalProperty(Tracer.SpanKey, null)
    }

    def pass(files: Seq[String], tr: Option[Tracer]): PassTimes = {
      val t0 = System.nanoTime()
      val ops = files.map(op(_, tr))
      val wall = (System.nanoTime() - t0) / 1e9
      failed += ops.count(o => !check(o))
      PassTimes(wall, ops.map(_.sec),
        wl.eps.map(ep => ep -> ops.flatMap(_.results).collect { case (`ep`, s, _) => s }.sum).toMap)
    }

    /** Checks each result's shape, and that it is the same every time the
      * same entry point runs on the same input, traced or not. False when
      * any result of the op is wrong.
      */
    private def check(o: Op): Boolean =
      o.results.forall { case (ep, _, df) =>
        val rows = df.collect().toSeq
        val d = digest(rows)
        val first = digests.getOrElseUpdate((contents(o.file), ep), d)
        val bad = ReviewOps.problems(ep, rows) ++
          Option.when(first != d)("result differs from an earlier run")
        bad.foreach(p => problems += s"${Paths.get(o.file).getFileName} ${ep.name}: $p")
        bad.isEmpty
      }
  }

  private def traced[T](tr: Option[Tracer], layer: String, phase: String = "build")(body: => T): T =
    tr match {
      case Some(t) => t.span(layer, phase)(body)
      case None => body
    }

  /** Per-layer metrics of the traced pass, from its spans and the Spark
    * work the listener charged to them.
    */
  def layerMetrics(spans: Seq[Span], counts: Map[Int, SparkCounts], traced: PassTimes,
      plain: PassTimes, plainWall: Double, cores: Int,
      sc: SparkContext): Seq[(String, (Double, String))] = {
    val self = Span.selfNanos(spans)
    val out = mutable.ArrayBuffer.empty[(String, (Double, String))]
    def put(name: String, v: Double, unit: String): Unit = out += name -> (v, unit)
    val mb = 1024.0 * 1024.0
    for ((layer, kept) <- Layers) {
      val ls = spans.filter(_.layer == layer)
      def sec(f: Span => Boolean) = ls.filter(f).map(s => self(s.id)).sum / 1e9
      def sum(f: Span => Boolean) = {
        val c = new SparkCounts
        ls.filter(f).foreach(s => counts.get(s.id).foreach(c.add))
        c
      }
      val c = sum(_ => true)
      val values = Map[String, (Double, String)](
        "calls" -> (ls.count(_.phase == "build"), "count"),
        "self_s" -> (sec(_ => true), "s"),
        "build_s" -> (sec(_.phase == "build"), "s"),
        "exec_s" -> (sec(_.phase == "exec"), "s"),
        "jobs" -> (c.jobs, "count"),
        "build_jobs" -> (sum(_.phase == "build").jobs, "count"),
        "solver_jobs" -> (c.solverJobs, "count"),
        "tasks" -> (c.tasks, "count"),
        "task_s" -> (c.taskNanos / 1e9, "s"),
        "shuffle_mb" -> (c.shuffleBytes / mb, "MB"),
        "spill_mb" -> (c.spillBytes / mb, "MB"))
      kept.foreach { m => val (v, u) = values(m); put(s"$layer.$m", v, u) }
    }
    // Span -1 holds the jobs run outside every span (the result checks),
    // and UntracedOp those of the untraced pass.
    val all = new SparkCounts
    counts.filter(_._1 >= 0).values.foreach(all.add)
    val forcedScanJobs = spans.filter(s => s.layer == "io" && s.phase == "exec")
      .flatMap(s => counts.get(s.id)).map(_.jobs).sum
    val untraced = counts.getOrElse(Tracer.UntracedOp, new SparkCounts)
    val cached = sc.getRDDStorageInfo.filter(_.isCached)
    put("cache.entries_end", cached.length, "count")
    put("cache.mb_end", cached.map(r => r.memSize + r.diskSize).sum / mb, "MB")
    put("spark.jobs", all.jobs, "count")
    put("spark.jobs_per_op", all.jobs.toDouble / traced.ops.size, "count")
    put("spark.unattributed_jobs", counts.get(-1).map(_.jobs.toDouble).getOrElse(0.0), "count")
    put("spark.untraced_jobs_per_op", untraced.jobs.toDouble / plain.ops.size, "count")
    // The traced pass composes the layers itself (ReviewOps.buildTraced);
    // it must run as many jobs as Pipelines does, plus its forced scans.
    // Lanczos steps are left out: ARPACK draws a new random start vector
    // at each call, so two calls on one input may take different numbers
    // of steps.
    put("trace.mirror_job_gap", math.abs((all.jobs - all.solverJobs - forcedScanJobs) -
      (untraced.jobs - untraced.solverJobs)).toDouble, "count")
    put("spark.busy_frac", all.taskNanos / 1e9 / (traced.wall * cores), "ratio")
    put("eval_s", traced.ep.getOrElse(Evaluate, 0.0), "s")
    put("trace.wall_s", traced.wall, "s")
    put("trace.overhead_s", traced.wall - plainWall, "s")
    out.toSeq
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def json(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, (Double, String))]): String = {
    def num(v: Double) = if (v.isNaN || v.isInfinite) "null" else v.toString
    val ms = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }
}
