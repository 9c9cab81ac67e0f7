package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec
import graft.text.TextFunctions

/** The token kernel (`TokenPipeline`, behind `TextFunctions.lsaTokens`
  * and `textrankTokens`) is bit-equal to the composition it replaced —
  * `regexp_extract_all(lower(text), "[a-zA-Z]+", 0)`, `remove_stopwords`,
  * the length filter and the lemmatizer UDF — in both modes, with the
  * lemmatizer on and off, through codegen and the interpreter, with ICU
  * case mappings on and off, and with the same result type.
  */
class TokenKernelSpec extends SparkSpec {
  import spark.implicits._

  private def composedLsa(text: Column, lemma: Boolean): Column = {
    val t = TextFunctions.minTokenLength(TextFunctions.removeStopwords(TextFunctions.tokenize(text)), 3)
    if (lemma) TextFunctions.lemmatizeUdf(t) else t
  }

  private def composedTextRank(text: Column, lemma: Boolean): Column = {
    val t = TextFunctions.removeStopwords(TextFunctions.tokenize(text))
    TextFunctions.minTokenLength(if (lemma) TextFunctions.lemmatizeUdf(t) else t, 4)
  }

  private val modes: Seq[(String, (Column, Boolean) => Column, (Column, Boolean) => Column)] = Seq(
    ("lsa", (c, l) => TextFunctions.lsaTokens(c, l), composedLsa),
    ("textrank", (c, l) => TextFunctions.textrankTokens(c, l), composedTextRank))

  /** Characters whose lowercase is ASCII, or that look like it, or that
    * change length under lowercasing, in words and between them.
    */
  private val unicode = Seq(
    "\u212A", "\u212Aelvin \u212AELVIN", // KELVIN SIGN
    "\u0130stanbul D\u0130YARBAKIR \u0130I\u0131i", // dotted capital I
    "\u0131s\u0131k ISIK \u0131iI\u0130", // dotless i
    "stra\u00dfe STRASSE \u00dfuper", // sharp s
    "\uFF21\uFF22\uFF23 full-width \uFF21", // full-width A, B, C
    "\u0399\u03a3\u03a3\u039f\u03a3 greek \u03a3 Cyrillic \u041a\u0418\u0420 \u4e2d\u6587 Words",
    "Caf\u00e9 D\u00c9J\u00c0 vu BATTERIES", "\uD835\uDC00stral \uD83D\uDE00 Boxes",
    "\u0130K\u00df", "", "   ")

  private def randomAscii(n: Int): Seq[String] = {
    val words = Seq("The", "batteries", "BOXES", "working", "words", "I", "an", "was", "movies",
      "children", "data", "Mice", "cats", "so", "ok", "xy", "geese", "analyses")
    val piece = Gen.frequency(
      3 -> Gen.oneOf(words),
      2 -> Gen.choose(1, 8).flatMap(k => Gen.listOfN(k, Gen.choose(' ', '~')).map(_.mkString)))
    val text = Gen.choose(0, 12).flatMap(k => Gen.listOfN(k, piece).map(_.mkString(" ")))
    var seed = Seed(16L)
    (0 until n).map { _ =>
      val r = text.doPureApply(Gen.Parameters.default, seed)
      seed = r.seed
      r.retrieve.get
    }
  }

  private lazy val texts: DataFrame =
    (randomAscii(400) ++ unicode).toDF("text").withColumn("id", monotonically_increasing_id())

  private def withConf[T](kv: (String, String)*)(f: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val interpreted = Seq("spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  test("bit-equal to the composition in both modes, lemma on and off, codegen and interpreted") {
    for {
      icu <- Seq("true", "false")
      codegen <- Seq(true, false)
      (mode, kernel, composed) <- modes
      lemma <- Seq(true, false)
    } withConf((("spark.sql.icu.caseMappings.enabled" -> icu) +: (if (codegen) Nil else interpreted)): _*) {
      val what = s"$mode lemma=$lemma icu=$icu codegen=$codegen"
      val rows = texts.select($"id", $"text", kernel($"text", lemma).as("k"),
          composed($"text", lemma).as("c"))
        .collect()
      assert(rows.length == randomAscii(400).length + unicode.length)
      rows.foreach { r =>
        val (k, c) = (r.getSeq[String](2), r.getSeq[String](3))
        assert(k == c, s"$what on '${r.getString(1)}'")
        // the same UTF-8 bytes, not just equal strings
        assert(k.map(_.getBytes("UTF-8").toSeq) == c.map(_.getBytes("UTF-8").toSeq), what)
      }
      assert(rows.exists(_.getSeq[String](2).nonEmpty), what)
    }
  }

  test("the non-ASCII corners lower as Spark lowers them") {
    def lsa(s: String) = Seq(s).toDF("t").select(TextFunctions.lsaTokens($"t", lemma = false))
      .head().getSeq[String](0)
    def tr(s: String) = Seq(s).toDF("t").select(TextFunctions.textrankTokens($"t", lemma = false))
      .head().getSeq[String](0)
    assert(lsa("\u212Aelvin") == Seq("kelvin")) // KELVIN SIGN lowers to ASCII k
    assert(lsa("\u0130stanbul") == Seq("stanbul")) // U+0130 lowers to i + U+0307
    assert(tr("\uFF21bcd abcd") == Seq("abcd")) // full-width A stays out of [a-zA-Z]
    assert(lsa("stra\u00dfe") == Seq("stra")) // sharp s is one lowercase letter
  }

  test("the result type equals the composition's; a null text gives null") {
    val df = Seq(Some("Some text here"), None).toDF("t")
    for ((mode, kernel, composed) <- modes; lemma <- Seq(true, false)) {
      val k = df.select(kernel($"t", lemma).as("x"))
      val c = df.select(composed($"t", lemma).as("x"))
      assert(k.schema.head.dataType == c.schema.head.dataType, s"$mode lemma=$lemma")
      assert(k.collect().map(r => Option(r.getSeq[String](0))).toSeq ==
        Seq(Some(Seq("text")), None), s"$mode lemma=$lemma")
      // the lemmatizer UDF throws on a null token array; without it the
      // composition is null-in, null-out like the kernel
      if (lemma) intercept[Exception](c.collect())
      else assert(c.collect().map(r => Option(r.getSeq[String](0))).last.isEmpty)
    }
  }
}
