package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

class ReviewCorpusSpec extends AnyFunSuite {

  private def corpus(seed: Long): Seq[(String, Seq[Byte])] = {
    val dir = Files.createTempDirectory("corpus")
    try ReviewCorpus.write(dir, seed, Seq(5, 40)).map(f =>
      f.getFileName.toString -> Files.readAllBytes(f).toSeq)
    finally Files.walk(dir).iterator().asScala.toSeq.reverse.foreach(Files.delete(_: Path))
  }

  test("the same seed gives identical bytes") {
    assert(corpus(7) == corpus(7))
  }

  test("a different seed gives a different corpus") {
    val (a, b) = (corpus(7), corpus(8))
    assert(a.map(_._1) != b.map(_._1))
    assert(a.map(_._2) != b.map(_._2))
  }

  /** Space-split word counts of every sentence, as the engine's length
    * filters count them (split on '.', then on ' ').
    */
  private def wordCounts(file: Seq[Byte]): Seq[Int] =
    new String(file.toArray, "UTF-8").split("\n").toSeq.tail
      .flatMap(_.split("\t", -1)(5).split("\\."))
      .map(_.split(" ", -1).length)

  test("seeds change the text but not which sentences TextRank keeps") {
    def kept(seed: Long) = corpus(seed).map { case (_, bytes) =>
      wordCounts(bytes).map(n => n > 10 && n < 30)
    }
    assert(kept(7) == kept(8))
  }

  test("files have the reference shape and sentences straddle the length filters") {
    val files = corpus(3)
    assert(files.size == 2)
    val lines = files.map(_._2.toArray).map(new String(_, "UTF-8").split("\n").toSeq)
    assert(lines.forall(_.head == ReviewCorpus.Header))
    assert(lines.map(_.size - 1) == Seq(5, 40))
    val rows = lines.flatMap(_.tail).map(_.split("\t", -1))
    assert(rows.forall(_.length == 6))
    val words = rows.flatMap(_(5).split("\\.")).map(_.trim.split(" ").count(_.nonEmpty))
    assert(words.exists(_ < 5), "no sentence below LSA's 5-word floor")
    assert(words.exists(w => w >= 5 && w <= 10), "no sentence between LSA's floor and TextRank's band")
    assert(words.exists(w => w > 10 && w < 30), "no sentence inside TextRank's band")
    assert(words.exists(_ >= 30), "no sentence above TextRank's band")
  }

  test("products have ~2.7 sentences per review inside TextRank's band, as in the probe") {
    assert(ReviewCorpus.bandSentences(1200) == 3240)
  }

  test("big_product's products sit on either side of the similarity join's first task step") {
    // TextRank.similarityEdges runs max(cores, V² · 48 / 64 MiB) tasks
    def tasks(v: Long) = math.max(4L, v * v * 48 / (64L << 20))
    val vs = Main.Workloads.find(_.name == "big_product").get.products
      .map(ReviewCorpus.bandSentences(_))
    assert(vs == Seq(1620, 2754))
    assert(vs.map(v => tasks(v)) == Seq(4, 5))
    assert(tasks(2643) == 4 && tasks(2644) == 5 && tasks(2896) == 5 && tasks(2897) == 6)
  }
}
