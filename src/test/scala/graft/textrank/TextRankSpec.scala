package graft.textrank

import org.apache.spark.sql.CacheAccess
import org.apache.spark.sql.functions._

import graft.SparkSpec

class TextRankSpec extends SparkSpec {
  import spark.implicits._

  private val log2 = (x: Double) => math.log(x) / math.log(2)

  // 3-vertex micro graph, hand-checkable (SURVEY §5.2: rank iterations
  // against hand-computed contributions).
  private val vertices = Seq(
    (0L, Seq("x", "x", "y")), // len 3 (duplicates count toward log2 length)
    (1L, Seq("x", "z")),
    (2L, Seq("y", "z"))).toDF("id", "tokens")

  private val simAB = 1.0 / (log2(3) + log2(2) + 1) // {x}
  private val simAC = 1.0 / (log2(3) + log2(2) + 1) // {y}
  private val simBC = 1.0 / (log2(2) + log2(2) + 1) // {z}

  test("similarity uses duplicate lengths but set intersection (G2)") {
    val e = TextRank.similarityEdges(vertices, 3L)
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(e.size == 6) // both directions, no self edges
    assert(math.abs(e((0L, 1L)) - simAB) < 1e-12)
    assert(math.abs(e((1L, 0L)) - simAB) < 1e-12)
    assert(math.abs(e((1L, 2L)) - simBC) < 1e-12)
  }

  test("five rank iterations match the hand-computed recurrence (G5/G6)") {
    val r = TextRank.ranks(TextRank.similarityEdges(vertices, 3L))
      .as[(Long, Double)].collect().toMap
    // the reference's update, unrolled: r' = 0.15 + 0.85 Σ_in r·w/ow(src)
    val w = Array(
      Array(0.0, simAB, simAC),
      Array(simAB, 0.0, simBC),
      Array(simAC, simBC, 0.0))
    val ow = w.map(_.sum)
    var exp = Array.fill(3)(0.15)
    for (_ <- 1 to 5) {
      val prev = exp
      exp = Array.tabulate(3) { d =>
        0.15 + 0.85 * (0 until 3).map(s => prev(s) * w(s)(d) / ow(s)).sum
      }
    }
    assert(r.size == 3)
    (0 until 3).foreach { i =>
      assert(math.abs(r(i.toLong) - exp(i)) < 1e-12, s"vertex $i")
    }
  }

  test("ranks stay >= initRank and converge over 5 iterations") {
    val r = TextRank.ranks(TextRank.similarityEdges(vertices, 3L))
      .as[(Long, Double)].collect().toMap
    assert(r.size == 3)
    assert(r.values.forall(_ >= 0.15))
  }

  test("shuffled fallback matches the broadcast path") {
    val broadcasted = TextRank.ranks(TextRank.similarityEdges(vertices, 3L))
      .as[(Long, Double)].collect().toMap
    val shuffled = TextRank.ranksShuffled(TextRank.similarityEdges(vertices, 3L))
      .as[(Long, Double)].collect().toMap
    assert(broadcasted.keySet == shuffled.keySet)
    broadcasted.foreach { case (id, v) =>
      assert(math.abs(v - shuffled(id)) < 1e-12, s"vertex $id")
    }
  }

  test("shuffled ranks release their caches when a job fails") {
    // a non-local input, so the error fires in the first job after both
    // caches were registered (a local relation would throw inside
    // persist())
    val failing = TextRank.similarityEdges(vertices, 3L).repartition(2)
      .withColumn("weight",
        when($"src" === 2L, raise_error(lit("shuffled-boom"))).otherwise($"weight"))
    val sc = spark.sparkContext
    val entries0 = CacheAccess.entries(spark)
    val rdds0 = sc.getPersistentRDDs.keySet
    val e = intercept[Exception](TextRank.ranksShuffled(failing, symmetricEdges = true))
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
    assert(chain.exists(t => String.valueOf(t.getMessage).contains("shuffled-boom")), e)
    assert((CacheAccess.entries(spark) - entries0,
      (sc.getPersistentRDDs.keySet -- rdds0).size) == ((0, 0)))
  }

  test("directed edge list: sink-only vertices ranked, both paths agree") {
    // 0→1→2 chain plus 0→2: vertex 2 never appears as src (pure sink),
    // vertex 0 never as dst (pure source). The public ranks() API must
    // neither NPE (old src-only index) nor drop vertices, and the
    // aggregated and shuffled strategies must produce identical output.
    val directed = Seq(
      (0L, 1L, 1.0),
      (1L, 2L, 2.0),
      (0L, 2L, 3.0)).toDF("src", "dst", "weight")
    val agg = TextRank.ranks(directed)
      .as[(Long, Double)].collect().toMap
    val shf = TextRank.ranksShuffled(directed)
      .as[(Long, Double)].collect().toMap
    assert(agg.keySet == Set(0L, 1L, 2L))
    assert(shf.keySet == Set(0L, 1L, 2L))
    // Source-only vertex holds initRank; hand-check the chain: r1 =
    // .15 + .85*(r0 * 1/4); r2 uses iteration-1 ranks. The chain reaches
    // its fixed point by iteration 2, so five iterations read the same.
    val r1i1 = 0.15 + 0.85 * (0.15 * 0.25)
    assert(math.abs(agg(0L) - 0.15) < 1e-12)
    assert(math.abs(agg(1L) - r1i1) < 1e-12) // r0 constant → r1 fixed point
    val r2i2 = 0.15 + 0.85 * (0.15 * 0.75 + r1i1 * 1.0)
    assert(math.abs(agg(2L) - r2i2) < 1e-12)
    agg.foreach { case (id, v) =>
      assert(math.abs(v - shf(id)) < 1e-12, s"vertex $id: $v vs ${shf(id)}")
    }
  }

  test("quadratic byte estimates saturate instead of wrapping (overflow guard)") {
    // nv ≳ 4.4e8: a plain nv²·48 wraps negative and would silently
    // disengage the DISK_ONLY flip at exactly the corpus scales it
    // protects (round-11 advice). The saturating helpers stay monotone.
    val nv = 500000000L // 5e8 vertices: nv²·48 ≫ Long.MaxValue
    assert(nv * nv * 48L < 0L) // the bug being guarded against is real
    assert(TextRank.quadEdgeBytes(nv) == Long.MaxValue)
    assert(TextRank.quadEdgeBytes(nv) > TextRank.DiskEdgeBytes)
    assert(TextRank.satMul(0L, 48L) == 0L)
    assert(TextRank.satMul(6700L, 6700L) == 6700L * 6700L) // exact below
    assert(TextRank.quadEdgeBytes(6700L) == 6700L * 6700L * 48L)
    // monotone across the old wrap point
    assert(TextRank.quadEdgeBytes(nv) >= TextRank.quadEdgeBytes(440000000L))
    // the edge-cache storage rule reads the same saturating product:
    // no bound keeps MEMORY_AND_DISK, and DISK_ONLY starts once
    // bound·48 B passes DiskEdgeBytes (6,689² edges, not 6,688²)
    import org.apache.spark.storage.StorageLevel.{DISK_ONLY, MEMORY_AND_DISK}
    assert(TextRank.edgeStorage(Long.MaxValue) == MEMORY_AND_DISK)
    assert(TextRank.edgeStorage(6688L * 6688L) == MEMORY_AND_DISK)
    assert(TextRank.edgeStorage(6689L * 6689L) == DISK_ONLY)
    assert(TextRank.edgeStorage(nv * nv) == DISK_ONLY) // nv²·48 saturates
  }

  test("ranks with a proven-small edge bound matches the counted path") {
    // maxDirectedEdges below both the edge budget and the DISK_ONLY
    // threshold skips the stateless pre-count (the tr02 bench reclaim);
    // the result must be identical to the counting path.
    val e = TextRank.similarityEdges(vertices, 3L)
    val counted = TextRank.ranks(e).as[(Long, Double)].collect().toMap
    val bounded = TextRank.ranks(e, maxDirectedEdges = 9L)
      .as[(Long, Double)].collect().toMap
    assert(counted.keySet == bounded.keySet)
    counted.foreach { case (id, v) =>
      assert(v == bounded(id), s"vertex $id") // bit-identical, same route
    }
  }

  test("rankDocuments applies the exclusive 10..30 word band (F2)") {
    val docs = Seq(
      (0L, ("alpha beta " * 8).trim), // 16 words, in band
      (1L, ("alpha beta " * 20).trim), // 40 words, out
      (2L, "alpha beta gamma"), // 3 words, out
      (3L, ("beta gamma " * 7).trim) // 14 words, in band
    ).toDF("doc_id", "text")
    val r = TextRank.rankDocuments(docs, "doc_id", "text",
      TextRank.Config(lemma = false))
      .select($"id").as[Long].collect().toSet
    assert(r == Set(0L, 3L))
  }
}
