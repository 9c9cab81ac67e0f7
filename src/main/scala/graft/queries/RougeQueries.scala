package graft.queries

import org.apache.spark.sql.functions._

import graft.rouge.Rouge
import graft.tables.Tables

/** ROUGE evaluation harness over `documents` (EP3 shape): documents are
  * zip-paired (J3 semantics — doc d vs doc d+250) and scored
  * distributedly; corpus means reproduce A7.
  *
  * ROUGE-1/2 without stemming have exact relational oracles (multiset
  * n-gram overlap as unnest + groupBy + least-sum). ROUGE-L has a full
  * SQL oracle too: the LCS dynamic program as a recursive CTE over row
  * index i, carrying the DP row as a LIST and computing each new row
  * with a seeded `list_reduce` fold (the sequential dp[i][j-1]
  * dependency lives inside the fold's accumulator). Only the STEMMED
  * variant stays rows-only — Porter's 5-phase suffix machine is not
  * reasonably expressible in one SQL statement.
  */
object RougeQueries extends QueryProvider {

  /** pairs CTE shared by the oracles. */
  private val pairsSql =
    """pairs AS (SELECT a.doc_id AS pid, a.text AS sys, b.text AS ref
      |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 250
      |WHERE a.doc_id < 250)""".stripMargin

  /** CTE chain producing per-pair raw (pid, p, r) scores for a given
    * n-gram expression; shared by the per-pair and mean oracles.
    */
  private def scoSql(gram: String => String): String =
    s"""$pairsSql,
       |sg AS (SELECT pid, unnest(${gram("sys")}) AS g FROM pairs),
       |rg AS (SELECT pid, unnest(${gram("ref")}) AS g FROM pairs),
       |sc AS (SELECT pid, g, count(*) AS c FROM sg GROUP BY pid, g),
       |rc AS (SELECT pid, g, count(*) AS c FROM rg GROUP BY pid, g),
       |ov AS (SELECT sc.pid, sum(least(sc.c, rc.c)) AS overlap
       |  FROM sc JOIN rc ON sc.pid = rc.pid AND sc.g = rc.g GROUP BY sc.pid),
       |tot AS (SELECT p.pid,
       |  (SELECT coalesce(sum(c),0) FROM sc WHERE sc.pid = p.pid) AS ns,
       |  (SELECT coalesce(sum(c),0) FROM rc WHERE rc.pid = p.pid) AS nr
       |  FROM pairs p),
       |sco AS (SELECT tot.pid,
       |  coalesce(ov.overlap, 0) * 1.0 / greatest(tot.ns, 1) AS p,
       |  coalesce(ov.overlap, 0) * 1.0 / greatest(tot.nr, 1) AS r
       |  FROM tot LEFT JOIN ov ON tot.pid = ov.pid)""".stripMargin

  /** Oracle for multiset n-gram overlap P/R/F. `gram(src)` must give a
    * list of n-gram strings for column `src`.
    */
  private def rougeNSql(gram: String => String): String =
    s"""WITH ${scoSql(gram)}
       |SELECT pid, round(p, 6) AS precision, round(r, 6) AS recall,
       |round(CASE WHEN p + r = 0 THEN 0 ELSE 2 * p * r / (p + r) END, 6) AS f1
       |FROM sco ORDER BY pid""".stripMargin

  private def uniSql(src: String): String =
    s"regexp_extract_all(lower($src),'[a-z0-9]+')"

  /** ROUGE-L oracle: LCS via WITH RECURSIVE over the system-token index,
    * the DP row as a LIST column. The inner row update folds over the
    * reference positions with `list_reduce`, seeding the accumulator as
    * the list's first element ([[0]] = dp[i][0]); `acc[len(acc)]` is
    * dp[i][j-1], `row[x[1]]`/`row[x[1]+1]` are dp[i-1][j-1]/dp[i-1][j].
    * O(n·m) like the Scala DP; validated cell-for-cell against an
    * independent Python LCS on sf0.01 (250/250 exact). `pairCtes` must
    * end with a `tpairs(pid, sys, ref)` CTE of token lists.
    */
  private def lcsOver(pairCtes: String): String =
    s"""WITH RECURSIVE
       |$pairCtes,
       |lcs(pid, i, row) AS (
       |  SELECT pid, 0, list_transform(range(0, len(ref)+1), x -> 0) FROM tpairs
       |  UNION ALL
       |  SELECT l.pid, l.i+1,
       |    list_reduce([[0]] || list_transform(range(1, len(p.ref)+1), j -> [j]),
       |      (acc, x) -> list_append(acc,
       |        CASE WHEN p.sys[l.i+1] = p.ref[x[1]] THEN l.row[x[1]] + 1
       |             ELSE greatest(l.row[x[1]+1], acc[len(acc)]) END))
       |  FROM lcs l JOIN tpairs p ON p.pid = l.pid
       |  WHERE l.i < len(p.sys)),
       |fin AS (SELECT l.pid, l.row[len(l.row)] AS ll, len(p.sys) AS ns,
       |  len(p.ref) AS nr
       |  FROM lcs l JOIN tpairs p ON p.pid = l.pid WHERE l.i = len(p.sys)),
       |sco AS (SELECT pid, ll * 1.0 / greatest(ns, 1) AS p,
       |  ll * 1.0 / greatest(nr, 1) AS r FROM fin)
       |SELECT pid, round(p, 6) AS precision, round(r, 6) AS recall,
       |round(CASE WHEN p + r = 0 THEN 0 ELSE 2 * p * r / (p + r) END, 6) AS f1
       |FROM sco ORDER BY pid""".stripMargin
  private def biSql(src: String): String =
    s"""(SELECT CASE WHEN len(t) < 2 THEN [] ELSE
       |list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]) END
       |FROM (SELECT ${uniSql(src)} AS t))""".stripMargin

  private def pairedScores(s: org.apache.spark.sql.SparkSession, dir: String,
      scorer: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column) = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val sys = docs.filter($"doc_id" < 250)
      .select($"doc_id".as("pid"), $"text".as("sys"))
    val ref = docs.select(($"doc_id" - 250).as("pid"), $"text".as("ref"))
    sys.join(ref, "pid")
      .withColumn("score", scorer($"sys", $"ref"))
      .select($"pid",
        round($"score.precision", 6).as("precision"),
        round($"score.recall", 6).as("recall"),
        round($"score.f1", 6).as("f1"))
      .orderBy($"pid")
  }

  override val all: Seq[Q] = Seq(

    Q("rg01_rouge1",
      (s, dir) => pairedScores(s, dir, Rouge.rouge1(stem = false)),
      Some(rougeNSql(uniSql))),

    Q("rg02_rouge2",
      (s, dir) => pairedScores(s, dir, Rouge.rouge2(stem = false)),
      Some(rougeNSql(biSql)),
      bench = true),

    Q("rg03_rougeL",
      (s, dir) => pairedScores(s, dir, Rouge.rougeLCol(stem = false)),
      Some(lcsOver(
        s"""tpairs AS (SELECT a.doc_id AS pid, ${uniSql("a.text")} AS sys,
           |  ${uniSql("b.text")} AS ref
           |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 250
           |  WHERE a.doc_id < 250)""".stripMargin))),

    // Stemmed ROUGE-L, fully oracle-checked: tokens longer than 3 chars
    // (the rouge-score quirk) run through the generated Porter-in-SQL
    // stemmer ([[PorterSql]]) before the same recursive-CTE LCS.
    Q("rg04_rouge_stemmed",
      (s, dir) => pairedScores(s, dir, Rouge.rougeLCol(stem = true)),
      Some(lcsOver(
        s"""rawpairs AS (SELECT a.doc_id AS pid, ${uniSql("a.text")} AS syst,
           |  ${uniSql("b.text")} AS reft
           |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 250
           |  WHERE a.doc_id < 250),
           |tokr AS (
           |  SELECT pid, 's' AS side, unnest(range(len(syst))) AS pos,
           |    unnest(syst) AS tok FROM rawpairs
           |  UNION ALL
           |  SELECT pid, 'r', unnest(range(len(reft))), unnest(reft) FROM rawpairs),
           |voc AS (SELECT DISTINCT tok FROM tokr WHERE len(tok) > 3),
           |${PorterSql.ctes("voc")},
           |mapped AS (SELECT t.pid, t.side, t.pos,
           |    CASE WHEN len(t.tok) <= 3 THEN t.tok ELSE s.stm END AS stok
           |  FROM tokr t LEFT JOIN stems s ON s.tok = t.tok),
           |agg AS (SELECT pid, side, list(stok ORDER BY pos) AS toks
           |  FROM mapped GROUP BY pid, side),
           |tpairs AS (SELECT rp.pid,
           |    coalesce(sa.toks, []::VARCHAR[]) AS sys,
           |    coalesce(ra.toks, []::VARCHAR[]) AS ref
           |  FROM rawpairs rp
           |  LEFT JOIN agg sa ON sa.pid = rp.pid AND sa.side = 's'
           |  LEFT JOIN agg ra ON ra.pid = rp.pid AND ra.side = 'r')""".stripMargin))),

    // Corpus means (A7) of the oracle-able variant.
    Q("rg05_rouge1_mean",
      (s, dir) => {
        import s.implicits._
        pairedScores(s, dir, Rouge.rouge1(stem = false))
          .agg(
            round(avg($"precision"), 6).as("avg_p"),
            round(avg($"recall"), 6).as("avg_r"),
            round(avg($"f1"), 6).as("avg_f"),
            count(lit(1)).as("n_pairs"))
      },
      Some(s"""WITH base AS (${rougeNSql(uniSql)})
              |SELECT round(avg(precision),6) AS avg_p, round(avg(recall),6) AS avg_r,
              |round(avg(f1),6) AS avg_f, count(*) AS n_pairs FROM base""".stripMargin)),

    // Same corpus means computed through the typed Aggregator (one
    // partial+final aggregation, no per-pair score table) against an
    // unrounded-average oracle.
    Q("rg06_rouge1_mean_aggregator",
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir)
        val pairs = docs.filter($"doc_id" < 250)
          .select($"doc_id".as("pid"), $"text".as("sys"))
          .join(docs.select(($"doc_id" - 250).as("pid"), $"text".as("ref")), "pid")
          .select($"sys", $"ref").as[(String, String)]
        val m = pairs.select(graft.rouge.RougeMean.rouge1(stem = false).toColumn).head()
        def r6(x: Double) = // round() on both engines
          graft.lsa.SparkNumerics.round(x, 6)
        Seq((r6(m.precision), r6(m.recall), r6(m.f1)))
          .toDF("avg_p", "avg_r", "avg_f")
      },
      Some(s"""WITH ${scoSql(uniSql)}
              |SELECT round(avg(p),6) AS avg_p, round(avg(r),6) AS avg_r,
              |round(avg(CASE WHEN p + r = 0 THEN 0 ELSE 2*p*r/(p+r) END),6) AS avg_f
              |FROM sco""".stripMargin))
  )
}
