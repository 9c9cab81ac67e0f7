package graft.lsa

import java.util.concurrent.{Callable, Executors}

import graft.SparkSpec
import graft.pipeline.{Pipelines, SyntheticReviews}

/** The one top-k solver (`Svd`) is deterministic and safe to call from
  * several threads: ARPACK starts from a fixed vector, and its F2j build's
  * static iteration state is guarded by one JVM-wide lock. Its Gramian
  * branch calls LAPACK `dsyev` as breeze's `eigSym` does.
  */
class SvdSpec extends SparkSpec {
  import spark.implicits._

  /** The tf·idf matrix of a product's tokenized sentences. */
  private def cells(docs: Seq[(Long, String)]): LocalLsa.Tfidf =
    LocalLsa.fromTokens(docs.map { case (id, t) => id -> LocalLsa.lsaTokens(t) })

  private def zipfCells(reviews: Int, vocab: Int, seed: Long): LocalLsa.Tfidf = {
    val path = SyntheticReviews.zipf(1, reviews, vocab, seed).resolve("product00.txt")
    val sents = Pipelines.sentencesWithSid(graft.io.ReviewSource.sentences(
      graft.io.ReviewSource.reviews(spark, path.toString)))
    cells(sents.select($"sid", $"sentence").as[(Long, String)].collect().toSeq)
  }

  /** `rank` distinct sentences of 140 / rank + 1 words each, sentence g
    * repeated g + 1 times: a rank-`rank` matrix over a vocabulary of more
    * than 140 tokens, so the Lanczos solve meets an invariant subspace
    * before it has filled its basis, and restarts.
    */
  private def lowRank(rank: Int): LocalLsa.Tfidf = {
    val len = 140 / rank + 1
    val s = (0 until rank).map(g =>
      (0 until len).map(i => SyntheticReviews.word(1000 + len * g + i)).mkString(" "))
    cells((0 until rank).flatMap(g => Seq.fill(g + 1)(s(g))).zipWithIndex
      .map { case (t, i) => (i.toLong, t) })
  }

  test("the Gramian branch returns breeze eigSym's bits, n = 1 and k = n included") {
    val rnd = new scala.util.Random(5)
    def random(docs: Int, n: Int, density: Double): Svd.Matrix = Svd.Local(
      for (d <- 0 until docs; j <- 0 until n if j == d % n || rnd.nextDouble() < density)
        yield (d.toLong, j, rnd.nextGaussian()), n)
    val small = zipfCells(10, 60, 3L)
    assert(small.vocab.length < 100)
    val inputs = Seq(
      "n = 1" -> (random(3, 1, 1.0), 1),
      "k = n = 7" -> (random(20, 7, 1.0), 7),
      "k < n = 40" -> (random(60, 40, 0.2), 5),
      "a product under 100 tokens" -> (small.matrix, 5),
      "k = n = 120" -> (random(150, 120, 0.1), 120))
    inputs.foreach { case (what, (a, k)) =>
      val n = a.cols
      val identity = new Array[Double](n * n)
      (0 until n).foreach(i => identity(i * n + i) = 1.0)
      val es = breeze.linalg.eigSym(new breeze.linalg.DenseMatrix(n, n, a.gramianTimes(identity, n)))
      val top = (n - 1 to math.max(0, n - k) by -1).toArray
      val (lambda, v) = Svd.eigs(a, k)
      def bits(xs: Array[Double]) = xs.toSeq.map(java.lang.Double.doubleToRawLongBits)
      assert(bits(lambda) == bits(top.map(es.eigenvalues(_))), what)
      assert(bits(v) == bits(top.flatMap(j => es.eigenvectors(::, j).toArray)), what)
    }
  }

  test("two calls on the same input return the same rows on the local route") {
    val inputs = Seq(zipfCells(10, 300, 1L), zipfCells(150, 1500, 2L), lowRank(3), lowRank(7))
    assert(inputs.forall(_.vocab.length >= 100), "every input should reach the Lanczos solve")
    val cfg = Lsa.Config()
    val first = inputs.map(LocalLsa.solve(_, cfg))
    assert(first.takeRight(2).map(_.length) == Seq(3, 5))
    // solved again in another order, so any state a solve leaves behind
    // meets a different next input
    inputs.zip(first).reverse.foreach { case (c, rows) =>
      assert(LocalLsa.solve(c, cfg) == rows)
    }
  }

  test("four threads solving distinct matrices get the sequential answers") {
    val inputs = (1 to 4).map(s => zipfCells(100, 800, s.toLong))
    val cfg = Lsa.Config()
    val sequential = inputs.map(LocalLsa.solve(_, cfg))
    val pool = Executors.newFixedThreadPool(4)
    try (1 to 10).foreach { round =>
      val futures = inputs.map(c => pool.submit(new Callable[Seq[Lsa.Concept]] {
        def call(): Seq[Lsa.Concept] = LocalLsa.solve(c, cfg)
      }))
      assert(futures.map(_.get) == sequential, s"round $round")
    } finally pool.shutdown()
  }

  test("EP3 over a glob of products equals each product run alone") {
    // 4 shuffle partitions: the products' solves run in concurrent tasks;
    // the second glob's vocabularies reach the Lanczos solve
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    for ((dir, n) <- Seq(SyntheticReviews.write(products = 65, reviews = 6) -> 65,
        SyntheticReviews.zipf(products = 8, reviews = 30, vocab = 400) -> 8)) {
      val all = Pipelines.evaluate(spark, s"$dir/*.txt")
        .as[(String, String, Double, Double, Double)].collect().toSeq
      assert(all.length == 3 * n)
      assert(all.map(r => (r._1, r._2)) == all.map(r => (r._1, r._2)).sorted,
        "rows ordered by (product_id, metric)")
      (0 until n by 7).map(p => f"product$p%02d").foreach { pid =>
        val one = Pipelines.evaluate(spark, s"$dir/$pid.txt")
          .as[(String, String, Double, Double, Double)].collect().toSeq
        assert(all.filter(_._1 == pid) == one, pid)
      }
    }
  }
}
