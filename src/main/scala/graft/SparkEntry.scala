package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates every query module's named queries + DuckDB oracle SQL.
  * Each module covers a slice of SURVEY.md §2's operator inventory.
  */
object SparkEntry {

  /** All registered query modules. */
  def providers: Seq[QueryProvider] = Seq(
    Relational,
    TextQueries,
    TextRankQueries,
    RougeQueries,
    LsaQueries,
    DedupQueries,
    SimilarityQueries,
    EmbeddingQueries,
    AnalysisQueries,
    TemporalQueries,
    SketchQueries,
    CurationQueries,
    IoQueries,
    StreamingQueries
  )

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * TextRank top-5 — the reference's signature operation end-to-end:
    * tokenize → similarity self-join → 5 damped rank iterations → top-k
    * with text recovery.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("tr02_top5")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2 — the driver's
    * correctness-gate set. Every entry here has a DuckDB oracle (or a
    * deliberate rows-only check); in-process-verified solver queries that
    * no SQL engine can replay (Q.gate = false, e.g. ls08's ARPACK path)
    * live in [[allQueries]] and are exercised by Bench/Stress instead.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    providers.flatMap(_.all).filter(_.gate).map(q => q.name -> q.run).toMap

  /** Every registered query, including bench/stress-only (gate=false)
    * entries — what Bench, Stress, Profile, and PlanAudit resolve from.
    */
  def allQueries: Map[String, (SparkSession, String) => DataFrame] =
    providers.flatMap(_.all).map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    providers.flatMap(_.all).flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** Headline subset for Bench. */
  def benchNames: Seq[String] =
    providers.flatMap(_.all).filter(_.bench).map(_.name)
}
