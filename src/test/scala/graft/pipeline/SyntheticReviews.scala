package graft.pipeline

import java.nio.file.{Files, Path}

/** Deterministic synthetic corpus in the reference dataset's shape: one
  * review TSV per product (`productNN.txt`), each review 3-5 sentences
  * of 12-24 words drawn from a shared vocabulary plus 12 words of the
  * product's own. The real review text is not redistributable.
  */
object SyntheticReviews {

  private val shared = Vector("battery", "screen", "quality", "price",
    "shipping", "sound", "camera", "button", "cable", "charger", "device",
    "product", "works", "great", "small", "light", "broken", "return",
    "amazon", "warranty", "month", "year", "daily", "travel", "office",
    "value", "setup", "manual", "plastic", "metal")

  private def productWords(p: Int): Vector[String] =
    Vector.tabulate(12)(i => s"feature$p" + ('a' + i % 4).toChar)

  /** Writes `products` files of `reviews` reviews each to a new temp
    * directory and returns it.
    */
  def write(products: Int, reviews: Int): Path = {
    val dir = Files.createTempDirectory("review_corpus")
    val rnd = new scala.util.Random(42)
    (0 until products).foreach { p =>
      val pool = shared ++ productWords(p)
      val sb = new StringBuilder
      sb.append("review_id\tproduct_title\tstar_rating\tvine\tverified_purchase\treview_body\n")
      (0 until reviews).foreach { r =>
        val nSents = 3 + rnd.nextInt(3)
        val body = (0 until nSents).map { _ =>
          // 12..24 words: inside the TextRank band (10 < w < 30) and
          // above the LSA minimum (>= 5)
          val n = 12 + rnd.nextInt(13)
          (0 until n).map(_ => pool(rnd.nextInt(pool.size))).mkString(" ")
        }.mkString(". ") + "."
        sb.append(s"R${p}_$r\tProduct $p\t${1 + rnd.nextInt(5)}\tN\tY\t$body\n")
      }
      Files.write(dir.resolve(f"product$p%02d.txt"),
        sb.toString.getBytes("UTF-8"))
    }
    dir
  }

  /** The `i`-th invented word: "q", `i` in base-26 letters, "x" — no
    * stopword, at least 3 letters, untouched by the lemmatizer.
    */
  def word(i: Int): String =
    "q" + Integer.toString(i, 26).map(c => ('a' + Character.digit(c, 26)).toChar) + "x"

  /** `products` files (`productNN.txt` in a new temp directory, which
    * is returned) of `reviews` reviews of 3-5 sentences of 8-16 words,
    * drawn by a Zipf law (weight 1/rank) from `vocab` invented words, so
    * the vocabulary grows with the product as English review text's
    * does; a review averages 4 sentences.
    */
  def zipf(products: Int, reviews: Int, vocab: Int, seed: Long = 7L): Path = {
    val rnd = new scala.util.Random(seed)
    val cum = (1 to vocab).scanLeft(0.0)(_ + 1.0 / _).tail.toArray
    def draw(): String = {
      val i = java.util.Arrays.binarySearch(cum, rnd.nextDouble() * cum.last)
      word(if (i < 0) -i - 1 else i)
    }
    val dir = Files.createTempDirectory("zipf_products")
    (0 until products).foreach { p =>
      val sb = new StringBuilder
      sb.append("review_id\tproduct_title\tstar_rating\tvine\tverified_purchase\treview_body\n")
      (0 until reviews).foreach { r =>
        val body = Seq.fill(3 + rnd.nextInt(3))(Seq.fill(8 + rnd.nextInt(9))(draw()).mkString(" "))
          .mkString(". ") + "."
        sb.append(s"R${p}_$r\tZipf $p\t5\tN\tY\t$body\n")
      }
      Files.write(dir.resolve(f"product$p%02d.txt"), sb.toString.getBytes("UTF-8"))
    }
    dir
  }
}
