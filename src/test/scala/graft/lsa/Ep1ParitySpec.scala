package graft.lsa

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.io.ReviewSource
import graft.operators.LocalRoute
import graft.pipeline.{Pipelines, SyntheticReviews}
import graft.text.TextFunctions

/** EP1's driver route builds its CSR matrix from int-coded Spark token
  * arrays and ranks top documents with a primitive bounded top-k. Its
  * rows must be the raw bits of the boxed route it replaced, which this
  * spec keeps as spec-side copies: the composed token pipeline, the
  * tuple cell builder (`groupMapReduce` per document and over all of
  * them), the sorted-tuple CSR assembly (`Svd.Local.apply`) and the
  * sort-and-trim `Tops`.
  */
class Ep1ParitySpec extends SparkSpec {
  import spark.implicits._

  private def bits(x: Double): Long = java.lang.Double.doubleToRawLongBits(x)

  /** The boxed cell builder EP1 used: (cells, vocab, nDocs). */
  private def boxedCells(docs: Seq[(Long, Seq[String])]): (Seq[(Long, Int, Double)], Array[String], Int) = {
    val tok = docs.filter(_._2.nonEmpty)
    val tf = tok.map { case (id, ts) =>
      id -> ts.groupMapReduce(identity)(_ => 1L)(_ + _)
    }
    val df = tf.flatMap(_._2.keys).groupMapReduce(identity)(_ => 1L)(_ + _)
    val vocab = df.toArray.sortBy { case (t, d) => (-d, t) }.map(_._1)
    val idx = vocab.zipWithIndex.toMap
    val nDocs = tok.size
    val cells = tf.flatMap { case (id, counts) =>
      counts.map { case (t, n) =>
        (id, idx(t), n.toDouble * StrictMath.log10(nDocs.toDouble / df(t)))
      }
    }
    (cells, vocab, nDocs)
  }

  private val byLoading = Ordering.by[(Double, Long), (Double, Long)] { case (l, id) => (-l, id) }

  /** The boxed top-k `Svd.Matrix.topDocs` used. */
  private final class BoxedTops(m: Int, nTop: Int) {
    val kept = Array.fill(m)(ArrayBuffer.empty[(Double, Long)])
    private def trim(j: Int): Unit = {
      val best = kept(j).sorted(byLoading).take(nTop)
      kept(j).clear(); kept(j) ++= best
    }
    def add(id: Long, idx: Array[Int], vs: Array[Double], from: Int, until: Int,
        w: Array[Double], n: Int): Unit =
      (0 until m).foreach { j =>
        var u = 0.0
        var p = from
        while (p < until) { u += vs(p) * w(j * n + idx(p)); p += 1 }
        kept(j) += ((Loadings.snap(u), id))
        if (kept(j).size > 4 * nTop) trim(j)
      }
    def merge(o: BoxedTops): BoxedTops = { (0 until m).foreach { j => kept(j) ++= o.kept(j); trim(j) }; this }
    def result: Array[Seq[Long]] = kept.map(_.sorted(byLoading).take(nTop).map(_._2).toSeq)
  }

  private def f1(sents: DataFrame): DataFrame =
    sents.filter(TextFunctions.spaceWordCount($"sentence") >= 5).orderBy($"review_id", $"sent_idx")

  private def composedTokens(lemma: Boolean) = {
    val t = TextFunctions.minTokenLength(TextFunctions.removeStopwords(TextFunctions.tokenize($"sentence")), 3)
    if (lemma) TextFunctions.lemmatizeUdf(t) else t
  }

  /** EP1's rows as the boxed route computed them, σ as raw bits. */
  private def boxedRows(sents: DataFrame, cfg: Lsa.Config): Seq[(Int, Long, String, String, String)] = {
    val rows = f1(sents).select($"sentence_id", $"sentence", composedTokens(cfg.lemma)).collect()
    val (cells, vocab, nDocs) = boxedCells(rows.toSeq.zipWithIndex.map {
      case (r, i) => (i + 1L, r.getSeq[String](2))
    })
    val k = math.min(cfg.k, math.min(nDocs, vocab.length))
    if (k <= 0) return Seq.empty
    val n = vocab.length
    val (lambda, v) = Svd.eigs(Svd.Local(cells, n), k)
    val sigma = lambda.map(l => math.sqrt(math.max(l, 0.0)))
    // the emission step, with the boxed top-k
    val kEff = sigma.indices.takeWhile(j => sigma(j) >= Svd.SigmaFloor * sigma(0)).size
    val s = sigma.take(kEff)
    val vk = v.take(n * kEff)
    val signs = Array.tabulate(kEff)(j => Loadings.sign(n)(i => Loadings.snap(vk(j * n + i))))
    val keywords = Array.tabulate(kEff) { j =>
      (0 until n).map(i => (Loadings.snap(vk(j * n + i) * signs(j)), vocab(i)))
        .sortBy { case (l, t) => (-l, t) }.take(cfg.nKeywords).map(_._2)
    }
    val w = Array.tabulate(n * kEff) { p =>
      val j = p / n
      if (s(j) > 0.0) vk(p) * signs(j) / s(j) else 0.0
    }
    val tops = new BoxedTops(kEff, cfg.nDocs)
    cells.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (id, cs) =>
      val sorted = cs.sortBy(_._2)
      tops.add(id, sorted.map(_._2).toArray, sorted.map(_._3).toArray, 0, sorted.length, w, n)
    }
    val docs = tops.result
    def joined(ids: Seq[Long], field: Int, sep: String): String =
      ids.flatMap(sid => Option(rows((sid - 1).toInt).getString(field))).mkString(sep)
    (0 until kEff).map(j => (j, bits(s(j)), keywords(j).mkString(" "),
      joined(docs(j), 0, ","), joined(docs(j), 1, " | ")))
  }

  private def res(name: String): String = getClass.getResource(s"/reviews/$name").getPath

  /** The review fixtures, a 600-review product, and Zipf products of
    * about 600 to 4,600 sentences, the larger at the sizes of the
    * benchmark's big products, so the Lanczos solve runs too.
    */
  private lazy val products = Seq("tiny_product.txt", "small_product.txt", "edge_cases.txt",
    "repeated_ids.txt").map(res) ++
    Seq(s"${SyntheticReviews.write(products = 1, reviews = 600)}/product00.txt") ++
    Seq((150, 1500, 7L), (600, 2000, 1L), (1150, 200, 7L)).map { case (r, v, seed) =>
      SyntheticReviews.zipf(1, r, v, seed).resolve("product00.txt").toString
    }

  private def sentences(path: String): DataFrame =
    ReviewSource.sentences(ReviewSource.reviews(spark, path))

  test("EP1's rows are the raw bits of the boxed route's") {
    for (path <- products; cfg <- Seq(Lsa.Config(), Lsa.Config(lemma = false))) {
      val sents = sentences(path).persist()
      val got = Pipelines.lsaSummaryLocal(sents, cfg).get.collect().toSeq
        .map(r => (r.getInt(0), bits(r.getDouble(1)), r.getString(2), r.getString(3), r.getString(4)))
      val want = boxedRows(sents, cfg)
      sents.unpersist()
      assert(got.nonEmpty || path.endsWith("edge_cases.txt"), path)
      assert(got == want, s"$path lemma=${cfg.lemma}")
    }
  }

  test("the int-coded CSR matrix is the boxed builder's, array for array") {
    for (path <- products) {
      val rows = LocalRoute.collectRowsWithin(f1(sentences(path))
        .select(TextFunctions.lsaTokens($"sentence").as("tokens")), 1 << 20).get
      val coded = LocalLsa.fromTokenArrays(rows.map(_.getArray(0)))
      val (cells, vocab, nDocs) = boxedCells(rows.toSeq.zipWithIndex.map { case (r, i) =>
        val ts = r.getArray(0)
        (i + 1L, (0 until ts.numElements()).map(ts.getUTF8String(_).toString))
      })
      val boxed = Svd.Local(cells, vocab.length)
      val a = coded.matrix
      assert(coded.vocab.toSeq == vocab.toSeq && a.cols == boxed.cols && coded.nDocs == nDocs, path)
      assert(a.ids.toSeq == boxed.ids.toSeq && a.ptr.toSeq == boxed.ptr.toSeq, path)
      assert(a.idx.toSeq == boxed.idx.toSeq, path)
      assert(a.vs.map(bits).toSeq == boxed.vs.map(bits).toSeq, path)
    }
  }

  test("the primitive top-k keeps the boxed top-k's picks through ties, NaN, -0.0 and merges") {
    val rnd = new scala.util.Random(11)
    val values = Array(0.5, 0.25, 0.0, -0.0, -0.25, 1e-7, 4e-7, Double.NaN, 3.0)
    for (trial <- 0 until 200) {
      val m = 1 + rnd.nextInt(3)
      val nTop = rnd.nextInt(6)
      val parts = 1 + rnd.nextInt(3)
      val prim = Array.fill(parts)(new Svd.Tops(m, nTop))
      val boxed = Array.fill(parts)(new BoxedTops(m, nTop))
      // each row is one nonzero 1.0 in column 0; w puts a value per concept
      val ids = rnd.shuffle((0L until 40L).toList).take(1 + rnd.nextInt(40))
      ids.foreach { id =>
        val w = Array.fill(m)(values(rnd.nextInt(values.length)))
        val p = rnd.nextInt(parts)
        prim(p).add(id, Array(0), Array(1.0), 0, 1, w, 1)
        boxed(p).add(id, Array(0), Array(1.0), 0, 1, w, 1)
      }
      val got = prim.reduce(_ merge _).result.toSeq
      val want = boxed.reduce(_ merge _).result.toSeq
      assert(got == want, s"trial $trial: m=$m nTop=$nTop parts=$parts")
    }
  }
}
