package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** Seeded generator of review corpora in the reference input shape: one
  * tab-separated file per product, `<product_id>.txt`, with a header row
  * and the six columns `graft.io.ReviewSource` reads. Review bodies are
  * sentences joined by `.`, which is where the engine splits them.
  *
  * The caller fixes how many reviews each product has. From that, the
  * product's layout is fixed too: how many sentences each review has and
  * which length band each sentence falls in, so the same sentence ids
  * pass the engine's length filters whatever the seed. The seed decides
  * every word, the product ids, the ratings and flags, and each
  * sentence's exact length within its band. So every seed measures the
  * same amount of work on different text.
  */
object ReviewCorpus {

  val Header: String =
    "review_id\tproduct_title\tstar_rating\tvine\tverified_purchase\treview_body"

  // The corpus parameters. Each names where its value comes from: "probe"
  // marks a value calibrated against the sizing probe the README cites (a
  // 60-review product runs 80 Spark jobs for EP1+EP2+EP3, 70 of them while
  // the entry points build; ~1,500 reviews give ~4,000 sentences inside
  // TextRank's band, so ~2.7 per review); "assumption" marks a value
  // chosen without a source.

  /** Sentence counts, cycled over a product's reviews (shuffled per
    * product). Mean 4.5, right-skewed: assumption for the shape, probe for
    * the mean (4.5 × 60% in band = 2.7).
    */
  private val SentencesPerReview: Seq[Int] = Seq(1, 2, 2, 3, 3, 4, 4, 5, 6, 7, 8, 9)

  /** Word-count bands `(lo, hi, share %)`; the third is the one inside
    * TextRank's band. They straddle the engine's filters: LSA drops
    * sentences under 5 space-split words and TextRank keeps only the
    * exclusive 10..30 band (a sentence after the first in a review starts
    * with a space, which counts as one more word). The 60% share inside
    * TextRank's band is from the probe; the split of the other 40% is an
    * assumption.
    */
  private val LengthBands: Seq[(Int, Int, Int)] = Seq(
    (2, 4, 10),   // below LSA's 5-word floor
    (5, 9, 20),   // LSA keeps, below TextRank's band
    (11, 28, 60), // inside TextRank's band
    (31, 40, 10)) // above TextRank's band
  private val InBand = 2

  /** Each sentence is about one aspect of the product (say battery, or
    * screen), picked with these weights; each aspect has `AspectWords`
    * words. Both assumption.
    */
  private val AspectWeights: Seq[Int] = Seq(35, 25, 18, 12, 10)
  private val AspectWords = 8

  /** Shares of a sentence's words that are stopwords (assumption) and
    * words of its aspect; the rest come from a common vocabulary of
    * `CommonWords` words drawn Zipf(`ZipfS`).
    *
    * `AspectShare`, `CommonWords` and `ZipfS` set the product vocabulary
    * (at most 140 words) and are calibrated against the probe's job
    * count: a product of 40 to 60 reviews uses under 100 of them as LSA
    * terms, so MLlib's SVD builds the Gramian in one job and solves on the
    * driver, and `Lsa.concepts` runs 20 jobs per call, as the probe's 80
    * jobs per op imply. With a 1,500-word vocabulary the SVD runs one job
    * per Lanczos step instead, 38 to 76 jobs per call and 116 to 191 per
    * op (the README gives the comparison).
    */
  private val StopShare = 0.30
  private val AspectShare = 0.60
  private val CommonWords = 100
  private val ZipfS = 1.5

  private val Syllables: IndexedSeq[String] = for {
    c <- "bcdfghklmnprstvz".map(_.toString)
    v <- Seq("a", "e", "i", "o", "u", "ai", "ou")
  } yield c + v

  private val Stop: IndexedSeq[String] = IndexedSeq(
    "the", "and", "this", "that", "with", "for", "was", "but", "very",
    "it", "is", "of", "to", "a", "in", "my", "not", "all", "so", "they")

  /** Writes one file per product into `dir` and returns the paths, in
    * product order. `reviewCounts(i)` is the review count of product i.
    */
  def write(dir: Path, seed: Long, reviewCounts: Seq[Int]): Seq[Path] = {
    Files.createDirectories(dir)
    val rnd = new java.util.Random(seed)
    val common = vocabulary(rnd, CommonWords)
    val cdf = zipfCdf(common.length, ZipfS)
    reviewCounts.zipWithIndex.map { case (n, p) =>
      val pid = productId(rnd, p)
      val aspects = IndexedSeq.fill(AspectWeights.length)(vocabulary(rnd, AspectWords))
      val title = s"${aspects(0)(0).capitalize} ${aspects(1)(0).capitalize} model ${p + 1}"
      val counts = shuffled(new java.util.Random(n), sentenceCounts(n))
      val bands = shuffled(new java.util.Random(n), bandDeck(counts.sum)).iterator
      val sb = new StringBuilder(Header).append('\n')
      for ((k, r) <- counts.zipWithIndex) {
        val sentences = Seq.fill(k)(sentence(rnd, bands.next(), common, cdf, aspects))
        sb.append(f"R$p%03d$r%05d").append('\t').append(title)
          .append('\t').append(1 + rnd.nextInt(5))
          .append('\t').append(if (rnd.nextInt(10) == 0) "Y" else "N")
          .append('\t').append(if (rnd.nextInt(4) == 0) "N" else "Y")
          .append('\t').append(sentences.mkString(". ")).append(".\n")
      }
      val f = dir.resolve(s"$pid.txt")
      Files.write(f, sb.toString.getBytes(StandardCharsets.UTF_8))
      f
    }
  }

  /** Sentences a product of `reviews` reviews has inside TextRank's band:
    * the vertex count of its similarity graph, whatever the seed.
    */
  def bandSentences(reviews: Int): Int =
    bandDeck(sentenceCounts(reviews).sum).count(_ == InBand)

  private def sentenceCounts(reviews: Int): Seq[Int] =
    Seq.tabulate(reviews)(r => SentencesPerReview(r % SentencesPerReview.size))

  /** Band index of each of `n` sentences, in the bands' exact shares. */
  private def bandDeck(n: Int): Seq[Int] = {
    val deck = LengthBands.zipWithIndex.flatMap { case (b, i) => Seq.fill(n * b._3 / 100)(i) }
    deck ++ Seq.fill(n - deck.size)(InBand)
  }

  private def shuffled[T](rnd: java.util.Random, xs: Seq[T]): Seq[T] = {
    val l = new java.util.ArrayList[T](xs.asJava)
    java.util.Collections.shuffle(l, rnd)
    l.asScala.toSeq
  }

  private def productId(rnd: java.util.Random, p: Int): String = {
    val alnum = "0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    "B0" + f"$p%02d" + Seq.fill(6)(alnum.charAt(rnd.nextInt(alnum.length))).mkString
  }

  /** `n` distinct letters-only words of 2 to 4 syllables. */
  private def vocabulary(rnd: java.util.Random, n: Int): IndexedSeq[String] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < n)
      seen += Seq.fill(2 + rnd.nextInt(3))(Syllables(rnd.nextInt(Syllables.length))).mkString
    seen.toIndexedSeq
  }

  /** An index drawn with the given integer weights. */
  private def pick(rnd: java.util.Random, weights: Seq[Int]): Int = {
    var r = rnd.nextInt(weights.sum)
    weights.indexWhere { w => r -= w; r < 0 }
  }

  /** Cumulative Zipf(s) weights over ranks 1..n. */
  private def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }

  /** A sentence in the given length band: stopwords, words of one aspect
    * and Zipf-distributed common words.
    */
  private def sentence(rnd: java.util.Random, band: Int, common: IndexedSeq[String],
      cdf: Array[Double], aspects: IndexedSeq[IndexedSeq[String]]): String = {
    val (lo, hi, _) = LengthBands(band)
    val len = lo + rnd.nextInt(hi - lo + 1)
    val aspect = aspects(pick(rnd, AspectWeights))
    val words = Seq.fill(len) {
      val u = rnd.nextDouble()
      if (u < StopShare) Stop(rnd.nextInt(Stop.length))
      else if (u < StopShare + AspectShare) aspect(rnd.nextInt(aspect.length))
      else {
        val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
        common(math.min(if (i >= 0) i else -i - 1, common.length - 1))
      }
    }
    words.mkString(" ").capitalize
  }
}
