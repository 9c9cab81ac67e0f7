package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * The query loop runs on a fixed thread pool (SPARK_GRAFT_VERIFY_PAR,
  * default 8): queries are independent, write to disjoint out dirs, and
  * Spark schedules concurrent jobs from multiple threads natively, so the
  * driver-side planning latency of ~300 queries overlaps instead of
  * serializing. Numeric determinism is untouched — per-query partitioning
  * (master local[N], shuffle.partitions=N) is exactly what the sequential
  * loop used; only job *submission* overlaps. FAIR scheduling keeps one
  * slow solver from head-of-line-blocking the cheap relational queries.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Oracle-gated runs must never take TextRank's degenerate-corpus
    // exact-route fallback SILENTLY — it widens tr06's edge set (answer-
    // class change; see TextRank.LshFallbackProp). No gate corpus
    // reaches the 300 M-pair probe floor today, so this is a tripwire,
    // not a behavior change: if a future gate corpus ever trips the
    // probe, the query ERRORS loudly and the route gets re-adjudicated
    // instead of drifting hashes. Respect an explicit caller override.
    // FORK DEPENDENCY (r13 ADVICE): the property is JVM-global. Safe
    // because build.sbt sets `run / fork := true`, so every main gets
    // a fresh JVM; if fork were ever disabled, 'off' would leak into a
    // subsequent Bench/Stress run in the same sbt JVM and turn their
    // intended auto-fallback into a hard failure — hence the cleanup
    // in the finally below, which bounds the leak to Verify's own run.
    val installedOff = !sys.props.contains(graft.textrank.TextRank.LshFallbackProp)
    if (installedOff)
      System.setProperty(graft.textrank.TextRank.LshFallbackProp, "off")
    // Optional third arg: regex over query names, for fast local iteration
    // on a subset. The driver always calls with two args → all queries.
    val nameFilter = args.lift(2).map(_.r)
    def keep(name: String): Boolean =
      nameFilter.forall(_.findFirstIn(name).isDefined)
    val spark = LocalSession("graft-verify", 4, "spark.scheduler.mode" -> "FAIR")
    new java.io.File(outDir).mkdirs()
    val t0 = System.nanoTime()
    val work = SparkEntry.queries.toSeq.filter(kv => keep(kv._1)).sortBy(_._1)
    val par = sys.env.getOrElse("SPARK_GRAFT_VERIFY_PAR", "8").toInt.max(1)
    // Memory-heavy queries — each materializes a corpus-scale edge set
    // (the tr family's ~113M sf1 edges) or holds a grouped solver's full
    // working set (ls05) or an all-pairs truth leg (d06) — must not all
    // run CONCURRENTLY: the alphabetical FAIR pool drains the tr family
    // LAST, so at the sf1 replica seven edge materializations shared one
    // 8g heap and the SparkContext OOM-died under the last six queries.
    // They run in a second phase on a narrower pool; each alone holds
    // its sf1 envelope (STRESS_r09/r10). tr07 is excluded: its graph is
    // vocabulary-sized (keyword mode), so it never materializes a
    // corpus-scale edge set and belongs in the wide light phase.
    // Width 1 by default: par=2 was RACE-marginal at sf1 — two tr
    // queries whose edge-cache+compact builds coincided OOM'd the 8 g
    // heap in the round-11 run (r10's three clean gates were the lucky
    // interleaving). Serializing the heavy 8 costs seconds at gate
    // scale and makes the envelope deterministic at every replica.
    val heavyRe = sys.env.getOrElse("SPARK_GRAFT_VERIFY_HEAVY",
      "^tr0[1-6]|^ls05|^d06").r
    val heavyPar =
      sys.env.getOrElse("SPARK_GRAFT_VERIFY_HEAVY_PAR", "1").toInt.max(1)
    val (heavy, light) = work.partition(kv => heavyRe.findFirstIn(kv._1).isDefined)
    val done = new AtomicInteger(0)
    def runPhase(batch: Seq[(String, (SparkSession, String) =>
        org.apache.spark.sql.DataFrame)], width: Int): Unit = {
      val pool = Executors.newFixedThreadPool(width)
      batch.foreach { case (name, fn) =>
        pool.submit(new Runnable {
          def run(): Unit = {
            val tq = System.nanoTime()
            try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/$name")
            catch { case e: Throwable =>
              System.err.println(s"[verify] $name failed: ${e.getMessage}")
              e.printStackTrace()
            }
            val sec = (System.nanoTime() - tq) / 1e9
            val n = done.incrementAndGet()
            System.err.println(
              f"[verify] $n%3d/${work.size} $name%-28s ${sec}%6.2fs")
            // Deliberately NO periodic spark.catalog.clearCache() here: a
            // clearCache racing a concurrent query's cache materialization
            // can make a count() probe on that cache observe ZERO rows
            // (seen once in a 304-query gate: PowerLsa's vocabulary probe
            // read 0 and ANSI divide-by-zero killed ls06; the probes now
            // fail fast on that). Accumulated caches are MEMORY_AND_DISK
            // and block-manager-managed, so a single-session gate pays
            // at most spill, never correctness.
          }
        })
      }
      pool.shutdown()
      pool.awaitTermination(24, TimeUnit.HOURS): Unit
    }
    runPhase(light, par)
    runPhase(heavy, heavyPar)
    System.err.println(
      f"[verify] total wall ${(System.nanoTime() - t0) / 1e9}%.1fs for ${work.size} queries (par=$par, heavy ${heavy.size} at par=$heavyPar)")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // ALWAYS the full oracle map, even under a name filter: a filtered
    // re-run into an existing out dir must not truncate the json the
    // full-gate compare reads (a ^tr0 re-run once rewrote it to 7
    // entries and the next full gate silently degraded 297 queries to
    // rows-only SKIPs). Subsetting the COMPARE is check_oracle.py's own
    // nameRegex argument.
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // un-install the tripwire on the way out (see the fork-dependency
    // note above). A crash path skips this, but a crashed forked JVM
    // takes its properties with it; only the clean same-JVM path could
    // ever carry state forward.
    if (installedOff)
      System.clearProperty(graft.textrank.TextRank.LshFallbackProp): Unit
  }
}
