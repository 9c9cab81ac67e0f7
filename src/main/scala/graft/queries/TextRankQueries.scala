package graft.queries

import org.apache.spark.sql.functions._

import graft.tables.Tables
import graft.text.StopWords
import graft.textrank.TextRank

/** TextRank over the `documents` table with a full DuckDB oracle: the
  * 5-iteration rank loop is unrolled into chained CTEs (r0..r5), so the
  * engine's iterative join+agg propagation is hash-checked end-to-end —
  * not just rows-counted. The lemmatized variant (tr03) is oracle-checked
  * too: its token CTE routes every token through the [[MorphySql]] lemma
  * mapping before the len>3 filter, exactly like `textrankTokens`.
  */
object TextRankQueries extends QueryProvider {

  private val stopSql: String =
    StopWords.nltkEnglishAlpha.map(w => s"'$w'").mkString("[", ",", "]")

  /** Out-normalization + rank init + unrolled damped iterations, as
    * chained CTEs ending in `r$iterations`; the caller appends its own
    * final SELECT. An `e(src, dst, w)` CTE must already be defined.
    */
  private def propagateCtes(iterations: Int): String = {
    val iters = (1 to iterations).map { i =>
      s"""r$i AS MATERIALIZED (SELECT en.dst AS id, 0.15 + 0.85 * sum(r${i - 1}.rnk * en.wn) AS rnk
         |FROM en JOIN r${i - 1} ON en.src = r${i - 1}.id GROUP BY en.dst)""".stripMargin
    }.mkString(",\n")
    s"""o AS MATERIALIZED (SELECT src, sum(w) AS ow FROM e GROUP BY src),
       |en AS MATERIALIZED (SELECT e.src, e.dst, e.w / o.ow AS wn FROM e JOIN o ON e.src = o.src),
       |r0 AS MATERIALIZED (SELECT DISTINCT src AS id, 0.15 AS rnk FROM e),
       |$iters""".stripMargin
  }

  private def propagateSql(iterations: Int, topK: Option[Int]): String = {
    val tail = topK match {
      case Some(k) =>
        s"""SELECT r.id, round(r.rnk,6) AS rnk, d.text FROM r$iterations r
           |JOIN documents d ON r.id = d.doc_id
           |ORDER BY round(r.rnk,6) DESC, r.id LIMIT $k""".stripMargin
      case None =>
        s"SELECT id, round(rnk,6) AS rnk FROM r$iterations ORDER BY rnk DESC, id"
    }
    s"""${propagateCtes(iterations)}
       |$tail""".stripMargin
  }

  /** Shared-token pair weights as chained CTEs `vd, tok, pw`: pw holds
    * each unordered pair (src < dst) of documents sharing >= 1 distinct
    * token, weighted `|intersection| / (log2(n_src) + log2(n_dst) + 1)`.
    *
    * The intersection SIZE of two deduplicated token lists equals the
    * number of matches in a token equi-join, so the former
    * `vd a JOIN vd b ON a.id <> b.id` + per-pair `list_intersect` —
    * an O(n^2) nested-loop scan that made tr03 the sf1 gate's 2,566 s
    * critical path — becomes a hash join + group-by whose cost is
    * sum over tokens of df(token)^2, i.e. proportional to the edges
    * that exist rather than to all document pairs. Same integer iw,
    * same float expression, bit-identical w. Kept byte-identical across
    * the family (tr01/tr02/tr04/tr06) so check_oracle's shared-prefix
    * materialization builds the pair table once per gate.
    */
  private val pairCtes: String =
    s"""vd AS MATERIALIZED (SELECT id, list_distinct(toks) AS dt, n FROM v),
       |tok AS MATERIALIZED (SELECT id, n, unnest(dt) AS g FROM vd),
       |pw AS MATERIALIZED (
       |SELECT src, dst, iw * 1.0 / (log2(an) + log2(bn) + 1) AS w FROM (
       |  SELECT a.id AS src, b.id AS dst, a.n AS an, b.n AS bn, count(*) AS iw
       |  FROM tok a JOIN tok b ON a.g = b.g AND a.id < b.id
       |  GROUP BY a.id, b.id, a.n, b.n))""".stripMargin

  /** Rank iterations + final projection over the exact all-pairs edge
    * list. `v` must be defined as (id, toks, n). Directed edges are the
    * two mirrors of each pw pair (IEEE addition is commutative, so the
    * mirrored w is bit-identical to evaluating the formula per
    * direction, which is what the old <> self-join did).
    */
  private def rankSql(iterations: Int, topK: Option[Int]): String =
    s"""$pairCtes,
       |e AS (SELECT src, dst, w FROM pw
       |UNION ALL SELECT dst AS src, src AS dst, w FROM pw),
       |${propagateSql(iterations, topK)}""".stripMargin

  /** Unrolled oracle for `TextRank.rankDocuments(lemma = false)`. */
  private def oracleSql(iterations: Int, topK: Option[Int]): String =
    s"""WITH v0 AS (
       |SELECT doc_id AS id,
       |list_filter(regexp_extract_all(lower(text),'[a-zA-Z]+'),
       |  x -> len(x) >= 4 AND NOT (${TextSql.inWords(StopWords.nltkEnglishAlpha, "x")})) AS toks
       |FROM documents
       |WHERE len(string_split(text,' ')) > 10 AND len(string_split(text,' ')) < 30),
       |v AS (SELECT id, toks, len(toks) AS n FROM v0 WHERE len(toks) > 0),
       |${rankSql(iterations, topK)}""".stripMargin

  /** Unrolled oracle for the lemma=true path: stopword-filtered tokens
    * exploded with positions, joined through the morphy `lem` mapping,
    * len>3 applied POST-lemma (F5), re-assembled in document order.
    * Opens with [[MorphySql.universeCtes]] — the gate-shared lemma
    * prefix (tr03's own token stream is a subset of that universe, and
    * the `lem` equi-join below picks exactly the rows the old
    * per-query morphy computed).
    */
  private def lemmaOracleSql(iterations: Int, topK: Option[Int]): String =
    s"""WITH
       |${MorphySql.universeCtes},
       |d0 AS (
       |SELECT doc_id,
       |list_filter(regexp_extract_all(lower(text),'[a-zA-Z]+'),
       |  x -> NOT (${TextSql.inWords(StopWords.nltkEnglishAlpha, "x")})) AS t0
       |FROM documents
       |WHERE len(string_split(text,' ')) > 10 AND len(string_split(text,' ')) < 30),
       |tokrows AS (SELECT doc_id, unnest(range(len(t0))) AS pos,
       |  unnest(t0) AS tok FROM d0),
       |lemtok AS (SELECT tr.doc_id, tr.pos, l.lemma
       |  FROM tokrows tr JOIN lem l ON l.tok = tr.tok
       |  WHERE len(l.lemma) >= 4),
       |v0 AS (SELECT doc_id AS id, list(lemma ORDER BY pos) AS toks
       |  FROM lemtok GROUP BY doc_id),
       |v AS (SELECT id, toks, len(toks) AS n FROM v0 WHERE len(toks) > 0),
       |${rankSql(iterations, topK)}""".stripMargin

  override val all: Seq[Q] = Seq(

    // Full rank vector, oracle-checked against the unrolled recursion.
    Q(
      "tr01_ranks",
      (s, dir) => {
        import s.implicits._
        TextRank.rankDocuments(Tables.documents(s, dir), "doc_id", "text",
          TextRank.Config(lemma = false))
          .select($"id", round($"rnk", 6).as("rnk"))
          .orderBy(desc("rnk"), $"id")
      },
      Some(oracleSql(5, None))),

    // Top-5 summary with text recovered via equi-join (G7/J4).
    Q(
      "tr02_top5",
      (s, dir) => {
        TextRank.summarize(Tables.documents(s, dir), "doc_id", "text", 5,
          TextRank.Config(lemma = false))
      },
      Some(oracleSql(5, Some(5))),
      bench = true),

    // Reference-faithful configuration (lemmatizer ON), hash-checked
    // against the unrolled oracle with the morphy-in-SQL token mapping.
    Q(
      "tr03_ranks_lemma",
      (s, dir) => {
        import s.implicits._
        TextRank.rankDocuments(Tables.documents(s, dir), "doc_id", "text")
          .select($"id", round($"rnk", 6).as("rnk"))
          .orderBy(desc("rnk"), $"id")
      },
      Some(lemmaOracleSql(5, None))),

    // GraphX/Pregel backend against the SAME unrolled oracle: both
    // execution strategies must produce the identical rank vector.
    Q(
      "tr04_ranks_graphx",
      (s, dir) => {
        import s.implicits._
        val vertices = TextRank.vertices(Tables.documents(s, dir), $"doc_id",
          "text", lemma = false).persist()
        // nv² bounds the directed edge count, as in rankDocuments
        val nv = vertices.count()
        try graft.textrank.TextRankGraphX
          .ranks(TextRank.similarityEdges(vertices, nv), TextRank.satMul(nv, nv))
          .select($"id", round($"rnk", 6).as("rnk"))
          .orderBy(desc("rnk"), $"id")
        finally vertices.unpersist()
      },
      Some(oracleSql(5, None))),

    // The 100 TB edge-generation path: MinHash-LSH candidate prefilter,
    // taken at every scale, so the gate exercises it end-to-end. Full hash-for-hash oracle since the family
    // moved to FNV-1a: the banding (128 hashes, 64 bands of 2), bucket
    // cap, candidate join, exact re-weighting and the rank propagation
    // are all replayed in SQL. TextRankLshSpec additionally bounds the
    // divergence vs the oracle-checked exact tr01.
    Q(
      "tr06_lsh_ranks",
      (s, dir) => {
        import s.implicits._
        TextRank.rankDocuments(Tables.documents(s, dir), "doc_id", "text",
          TextRank.Config(lemma = false,
            edgeCandidates = TextRank.EdgeCandidates.Lsh()))
          .select($"id", round($"rnk", 6).as("rnk"))
          .orderBy(desc("rnk"), $"id")
      },
      Some(
        s"""WITH v0 AS (
           |SELECT doc_id AS id,
           |list_filter(regexp_extract_all(lower(text),'[a-zA-Z]+'),
           |  x -> len(x) >= 4 AND NOT (${TextSql.inWords(StopWords.nltkEnglishAlpha, "x")})) AS toks
           |FROM documents
           |WHERE len(string_split(text,' ')) > 10 AND len(string_split(text,' ')) < 30),
           |v AS (SELECT id, toks, len(toks) AS n FROM v0 WHERE len(toks) > 0),
           |$pairCtes,
           |voc AS (SELECT DISTINCT g FROM tok),
           |gh AS (SELECT g, ${FnvSql.ofString("g")} AS hu FROM voc),
           |hv AS (SELECT DISTINCT id, hu FROM tok JOIN gh USING (g)),
           |permh AS (SELECT hu, r.i, ${FnvSql.toSigned(FnvSql.perm("r.i", "hu"))} AS ps
           |  FROM (SELECT DISTINCT hu FROM hv) h
           |  CROSS JOIN (SELECT unnest(range(128)) AS i) r),
           |sig AS MATERIALIZED (SELECT id, i, min(ps) AS m
           |  FROM hv JOIN permh USING (hu) GROUP BY id, i),
           |bnd AS (SELECT id, i // 2 AS band,
           |    string_agg(m::VARCHAR, ',' ORDER BY i) AS key
           |  FROM sig GROUP BY id, i // 2),
           |sized AS MATERIALIZED (SELECT * FROM (SELECT id, band, key,
           |    count(*) OVER (PARTITION BY band, key) AS bn FROM bnd)
           |  WHERE bn <= 10000),
           |cand AS MATERIALIZED (SELECT DISTINCT l.id AS a, r.id AS b
           |  FROM sized l JOIN sized r ON l.band = r.band AND l.key = r.key AND l.id < r.id),
           |e0 AS MATERIALIZED (SELECT pw.src, pw.dst, pw.w
           |  FROM pw JOIN cand c ON pw.src = c.a AND pw.dst = c.b),
           |e AS (SELECT src, dst, w FROM e0
           |  UNION ALL SELECT dst AS src, src AS dst, w FROM e0),
           |${propagateSql(5, None)}""".stripMargin)),

    // Grouped (per-language) TextRank in ONE distributed job — the scale
    // formulation of the reference's per-file loop — with a full grouped
    // unrolled oracle. It ranks through TextRank.ranksShuffled, so this
    // oracle also hash-checks the distributed rank route at every scale.
    Q(
      "tr05_grouped_ranks",
      (s, dir) => {
        import s.implicits._
        graft.textrank.GroupedTextRank.rankDocuments(
          Tables.documents(s, dir), "lang", "doc_id", "text", lemma = false)
          .select($"grp", $"id", round($"rnk", 6).as("rnk"))
          .orderBy($"grp", desc("rnk"), $"id")
      },
      Some {
        val iters = (1 to 5).map { i =>
          s"""r$i AS MATERIALIZED (SELECT en.grp, en.dst AS id, 0.15 + 0.85 * sum(r${i - 1}.rnk * en.wn) AS rnk
             |FROM en JOIN r${i - 1} ON en.grp = r${i - 1}.grp AND en.src = r${i - 1}.id
             |GROUP BY en.grp, en.dst)""".stripMargin
        }.mkString(",\n")
        s"""WITH v0 AS (
           |SELECT lang AS grp, doc_id AS id,
           |list_filter(regexp_extract_all(lower(text),'[a-zA-Z]+'),
           |  x -> len(x) >= 4 AND NOT (${TextSql.inWords(StopWords.nltkEnglishAlpha, "x")})) AS toks
           |FROM documents
           |WHERE len(string_split(text,' ')) > 10 AND len(string_split(text,' ')) < 30),
           |v AS (SELECT grp, id, toks, len(toks) AS n FROM v0 WHERE len(toks) > 0),
           |vd AS MATERIALIZED (SELECT grp, id, list_distinct(toks) AS dt, n FROM v),
           |tok AS MATERIALIZED (SELECT grp, id, n, unnest(dt) AS g FROM vd),
           |pw AS MATERIALIZED (
           |SELECT grp, src, dst, iw * 1.0 / (log2(an) + log2(bn) + 1) AS w FROM (
           |  SELECT a.grp, a.id AS src, b.id AS dst, a.n AS an, b.n AS bn, count(*) AS iw
           |  FROM tok a JOIN tok b ON a.grp = b.grp AND a.g = b.g AND a.id < b.id
           |  GROUP BY a.grp, a.id, b.id, a.n, b.n)),
           |e AS (SELECT grp, src, dst, w FROM pw
           |UNION ALL SELECT grp, dst AS src, src AS dst, w FROM pw),
           |o AS MATERIALIZED (SELECT grp, src, sum(w) AS ow FROM e GROUP BY grp, src),
           |en AS MATERIALIZED (SELECT e.grp, e.src, e.dst, e.w / o.ow AS wn
           |  FROM e JOIN o ON e.grp = o.grp AND e.src = o.src),
           |r0 AS (SELECT DISTINCT grp, src AS id, 0.15 AS rnk FROM e),
           |$iters
           |SELECT grp, id, round(rnk,6) AS rnk FROM r5
           |ORDER BY grp, rnk DESC, id""".stripMargin
      }),

    // Word-level TextRank (Mihalcea & Tarau's keyword-extraction mode,
    // the sibling of the reference's sentence summarizer): vertices are
    // the filtered corpus vocabulary, edges connect words co-occurring
    // within a window of 2 in the token stream, weighted by corpus
    // co-occurrence count. The graph is vocabulary-sized (not corpus-
    // sized), so ranks() stays on its treeAggregate small-model path at
    // any corpus scale; pair generation is a narrow per-row map (two
    // shifted zips, no join). Full unrolled oracle via propagateCtes.
    Q(
      "tr07_keywords",
      (s, dir) => {
        import s.implicits._
        val toks = Tables.documents(s, dir)
          .select(graft.text.TextFunctions.textrankTokens($"text", lemma = false).as("t"))
          .where(size($"t") > 1)
        def pairsAt(k: Int) = zip_with(
          slice($"t", lit(1), size($"t") - k),
          slice($"t", lit(k + 1), size($"t") - k),
          (a, b) => struct(least(a, b).as("s"), greatest(a, b).as("d")))
        val pairs = toks
          .select(explode(concat(pairsAt(1), pairsAt(2))).as("p"))
          .where($"p.s" =!= $"p.d")
        val und = pairs.groupBy($"p.s".as("src"), $"p.d".as("dst"))
          .agg(count(lit(1)).cast("double").as("weight"))
        val edges = und.select(explode(array(
            struct($"src", $"dst", $"weight"),
            struct($"dst".as("src"), $"src".as("dst"), $"weight"))).as("e"))
          .select($"e.src", $"e.dst", $"e.weight")
        TextRank.ranks(edges, symmetricEdges = true) // mirrored above
          .select($"id", round($"rnk", 6).as("rnk"))
          .orderBy(desc("rnk"), $"id")
          .limit(100)
      },
      Some(
        s"""WITH tok AS (
           |SELECT list_filter(regexp_extract_all(lower(text),'[a-zA-Z]+'),
           |  x -> len(x) >= 4 AND NOT (${TextSql.inWords(StopWords.nltkEnglishAlpha, "x")})) AS t
           |FROM documents),
           |p1 AS (SELECT unnest(list_transform(range(len(t)-1),
           |    i -> [t[i+1], t[i+2]])) AS p FROM tok WHERE len(t) > 1),
           |p2 AS (SELECT unnest(list_transform(range(len(t)-2),
           |    i -> [t[i+1], t[i+3]])) AS p FROM tok WHERE len(t) > 2),
           |pp AS (SELECT least(p[1], p[2]) AS s, greatest(p[1], p[2]) AS d
           |  FROM (SELECT p FROM p1 UNION ALL SELECT p FROM p2) u
           |  WHERE p[1] <> p[2]),
           |c AS MATERIALIZED (SELECT s, d, count(*) AS c FROM pp GROUP BY s, d),
           |e AS (SELECT s AS src, d AS dst, c * 1.0 AS w FROM c
           |  UNION ALL SELECT d AS src, s AS dst, c * 1.0 AS w FROM c),
           |${propagateCtes(5)}
           |SELECT id, round(rnk,6) AS rnk FROM r5
           |ORDER BY round(rnk,6) DESC, id LIMIT 100""".stripMargin))
  )
}
