package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionDescription, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, CollationFactory, CollationSupport}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native single-pass forms of the text-analysis hot expressions.
  *
  * The composed-builtin forms are semantically right but operationally
  * O(tokens × lexicon) string comparisons — and the language-ID vote
  * comparison chain repeats the vote subexpression ~6× in the plan, so
  * the cost multiplies again. These expressions do one pass with hashed
  * set lookups and participate in whole-stage codegen (static call, no
  * boxing). Semantics are IDENTICAL to the built-in compositions the
  * DuckDB oracles replay (a02/t06/c01 stay green against unchanged SQL):
  *
  *  - `lang_id(text)`: any Han-script codepoint → "zh"; else tokens =
  *    maximal [a-zA-Z] runs of `lower(text)` (exactly
  *    `split(lower(text), "[^a-zA-Z]+")`), one vote per OCCURRENCE in a
  *    language's function-word lexicon, best vote wins with ties to
  *    lexicon order (en, fr, es, de), "und" when every vote is zero.
  *  - `nltk_stop_count(tokens)`: occurrences (duplicates counted) of
  *    NLTK English stopwords, = `size(filter(tokens, array_contains))`.
  *  - the LSA and TextRank token pipelines ([[TokenPipeline]], built by
  *    `TextFunctions.lsaTokens`/`textrankTokens`): [[tokens]] does in one
  *    pass what `regexp_extract_all(lower(text), "[a-zA-Z]+", 0)`, the
  *    stopword filter, the length filter and the lemmatizer UDF did.
  */
object TextNative {

  private val langs: Array[String] = Array("en", "fr", "es", "de")

  private lazy val lexSets: Array[java.util.HashSet[String]] =
    langs.map { l =>
      val s = new java.util.HashSet[String]()
      graft.operators.TextAnalysis.lexicons(l).foreach(s.add)
      s
    }

  private lazy val stopSet: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String]()
    graft.text.StopWords.nltkEnglishAlpha
      .foreach(w => s.add(UTF8String.fromString(w)))
    s
  }

  private val zh = UTF8String.fromString("zh")
  private val und = UTF8String.fromString("und")
  private val langU: Array[UTF8String] = langs.map(UTF8String.fromString)

  /** One-pass language-ID (see object doc for the exact semantics). */
  def langId(text: UTF8String): UTF8String = {
    val s = text.toString
    // Han presence check on the ORIGINAL text (matches the
    // `\p{IsHan}` regex probe: script=Han codepoints).
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if (Character.UnicodeScript.of(cp) == Character.UnicodeScript.HAN)
        return zh
      i += Character.charCount(cp)
    }
    // lower() first, THEN letter runs — identical token stream to
    // split(lower(text), "[^a-zA-Z]+").
    val lower = text.toLowerCase.toString
    val votes = new Array[Int](4)
    val sb = new java.lang.StringBuilder(16)
    def flush(): Unit = {
      if (sb.length > 0) {
        val tok = sb.toString
        var j = 0
        while (j < 4) {
          if (lexSets(j).contains(tok)) votes(j) += 1
          j += 1
        }
        sb.setLength(0)
      }
    }
    i = 0
    while (i < lower.length) {
      val c = lower.charAt(i)
      if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')) sb.append(c)
      else flush()
      i += 1
    }
    flush()
    var best = 0; var bestIdx = -1
    var j = 0
    while (j < 4) {
      if (votes(j) > best) { best = votes(j); bestIdx = j } // ties keep earlier
      j += 1
    }
    if (bestIdx < 0) und else langU(bestIdx)
  }

  /** One-pass "punct" count: chars outside [A-Za-z0-9] and Java's `\\s`
    * class ([ \t\n\x0B\f\r]) - exactly
    * `length(regexp_replace(text, "[A-Za-z0-9\\s]", ""))`. Counts are
    * CODEPOINTS: Spark's `length` is UTF8String.numChars (codepoints)
    * and Java regex treats a surrogate pair as one codepoint, so a
    * non-BMP char surviving the replace counts ONCE. A per-UTF-16-unit
    * loop counted it twice and silently diverged from both the builtin
    * composition and the DuckDB oracle on emoji/astral text — caught by
    * TextNativeSpec's adversarial rows.
    */
  def punctCount(text: UTF8String): Int = {
    val s = text.toString
    var punct = 0
    var i = 0
    while (i < s.length) {
      val c = s.codePointAt(i)
      val isDigit = c >= '0' && c <= '9'
      val isAlpha = (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
      val isWs = c == ' ' || c == '\t' || c == '\n' || c == '\u000B' ||
        c == '\f' || c == '\r'
      if (!isDigit && !isAlpha && !isWs) punct += 1
      i += Character.charCount(c)
    }
    punct
  }

  /** [0-9] count = `length(regexp_replace(text, "[^0-9]", ""))`. */
  def digitCount(text: UTF8String): Int = {
    val s = text.toString
    var digit = 0
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) >= '0' && s.charAt(i) <= '9') digit += 1
      i += 1
    }
    digit
  }

  /** Tokens with NLTK stopwords removed — duplicates and order
    * preserved (array_except would dedup, wrong for TextRank's
    * duplicate-length semantics). One hashed-set pass, =
    * `filter(tokens, t => !array_contains(<nltk list>, t))`.
    */
  def removeStops(tokens: ArrayData): ArrayData = {
    val n = tokens.numElements()
    val out = new java.util.ArrayList[AnyRef](n)
    var i = 0
    while (i < n) {
      // null elements are dropped, exactly like the filter form (its
      // !array_contains predicate is null-valued on null, not true)
      if (!tokens.isNullAt(i)) {
        val t = tokens.getUTF8String(i)
        if (!stopSet.contains(t)) out.add(t)
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      out.toArray(new Array[AnyRef](out.size)))
  }

  /** Stopword occurrences (duplicates counted; null elements ignored). */
  def stopCount(tokens: ArrayData): Int = {
    var c = 0
    var i = 0
    while (i < tokens.numElements()) {
      if (!tokens.isNullAt(i) && stopSet.contains(tokens.getUTF8String(i)))
        c += 1
      i += 1
    }
    c
  }

  /** One-pass insertion-ordered token→count map (the reference's
    * `DataParser.tf` shape). O(n) per row vs the composed
    * `map_from_entries(transform(array_distinct(...), filter-count))`
    * form's O(n·distinct).
    */
  def tokenCounts(tokens: ArrayData)
      : org.apache.spark.sql.catalyst.util.MapData = {
    val m = new java.util.LinkedHashMap[UTF8String, Integer]()
    var i = 0
    while (i < tokens.numElements()) {
      if (!tokens.isNullAt(i)) {
        val t = tokens.getUTF8String(i)
        val c = m.get(t)
        m.put(t, if (c == null) 1 else c + 1)
      }
      i += 1
    }
    val keys = new Array[Any](m.size)
    val vals = new Array[Any](m.size)
    val it = m.entrySet().iterator()
    var j = 0
    while (it.hasNext) {
      val e = it.next()
      keys(j) = e.getKey; vals(j) = e.getValue.intValue()
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(keys),
      new org.apache.spark.sql.catalyst.util.GenericArrayData(vals))
  }

  /** Spark's `lower` of a UTF8_BINARY string: ASCII by bytes, anything
    * else through the call `Lower` makes, with `useICU` read as `Lower`
    * reads `spark.sql.icu.caseMappings.enabled`. So ASCII text never
    * touches ICU, and other text is lowered exactly as Spark lowers it.
    */
  private def lower(text: UTF8String, useICU: Boolean): UTF8String =
    if (text.isFullAscii) text.toLowerCaseAscii
    else CollationSupport.Lower.exec(text, CollationFactory.UTF8_BINARY_COLLATION_ID, useICU)

  /** Per-JVM memo of the lemmatizer on Spark strings, so a repeated token
    * costs one hashed lookup and no `String` round trip; capped like
    * `Lemmatizer`'s own memo.
    */
  private val lemmaCacheLimit = 1 << 20
  private val lemmaCache =
    new java.util.concurrent.ConcurrentHashMap[UTF8String, UTF8String](1 << 12)

  private def lemmaOf(token: UTF8String): UTF8String = {
    val hit = lemmaCache.get(token)
    if (hit != null) return hit
    val out = UTF8String.fromString(graft.text.Lemmatizer.lemma(token.toString))
    // the key is a copy: `token` may be a view into a row buffer
    if (lemmaCache.size < lemmaCacheLimit) lemmaCache.put(UTF8String.fromBytes(token.getBytes), out)
    out
  }

  private def isAsciiLetter(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z')

  /** The token pipelines in one pass: the maximal `[a-zA-Z]` runs of
    * [[lower]]`(text)`, less the stopwords of `remove_stopwords`, then
    *  - LSA (`textrank = false`): length ≥ 3, then the lemmatizer;
    *  - TextRank: the lemmatizer, then Spark `length` ≥ 4;
    *
    * `lemma = false` skips the lemmatizer. Duplicates and order are kept.
    */
  def tokens(text: UTF8String, useICU: Boolean, textrank: Boolean,
      lemma: Boolean): ArrayData = {
    val low = lower(text, useICU)
    // the tokens are views into this array, so it must be one no row owns
    val bytes = if (low eq text) text.getBytes.clone() else low.getBytes
    val out = new java.util.ArrayList[AnyRef]()
    val n = bytes.length
    var i = 0
    while (i < n) {
      while (i < n && !isAsciiLetter(bytes(i))) i += 1
      val start = i
      while (i < n && isAsciiLetter(bytes(i))) i += 1
      if (i > start) {
        val t = UTF8String.fromBytes(bytes, start, i - start)
        if (!stopSet.contains(t)) {
          if (textrank) {
            val l = if (lemma) lemmaOf(t) else t
            if (l.numChars >= 4) out.add(l)
          } else if (i - start >= 3) out.add(if (lemma) lemmaOf(t) else t)
        }
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  /** The session's `spark.sql.icu.caseMappings.enabled`, as `Lower` reads it. */
  def icuCaseMappings: Boolean = SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  def lang_id(text: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(LangIdExpr(ColumnBridge.expression(text)))
  }

  def token_counts(tokens: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(TokenCountsExpr(ColumnBridge.expression(tokens)))
  }

  def nltk_stop_count(tokens: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(NltkStopCount(ColumnBridge.expression(tokens)))
  }

  def punct_count(text: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(PunctCount(ColumnBridge.expression(text)))
  }

  def remove_stopwords(tokens: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(RemoveStopwords(ColumnBridge.expression(tokens)))
  }

  def digit_count(text: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(DigitCount(ColumnBridge.expression(text)))
  }

  def token_pipeline(text: Column, textrank: Boolean, lemma: Boolean): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(TokenPipeline(ColumnBridge.expression(text), textrank, lemma))
  }
}

/** The LSA (`textrank = false`) or TextRank token pipeline of a string,
  * [[TextNative.tokens]]. `spark.sql.icu.caseMappings.enabled` is read
  * once per expression, when it is first evaluated or compiled, as
  * `Lower` reads it.
  */
@ExpressionDescription(
  usage = "token_pipeline(text) - the LSA or TextRank tokens of a string, one pass")
case class TokenPipeline(child: Expression, textrank: Boolean, lemma: Boolean)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = true)

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case st: StringType if st.collationId == CollationFactory.UTF8_BINARY_COLLATION_ID =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects a UTF8_BINARY string, got ${other.catalogString}")
    }

  private lazy val useICU: Boolean = TextNative.icuCaseMappings

  override def nullSafeEval(s: Any): Any =
    TextNative.tokens(s.asInstanceOf[UTF8String], useICU, textrank, lemma)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s =>
      s"graft.functions.TextNative.tokens($s, $useICU, $textrank, $lemma)")

  override protected def withNewChildInternal(newChild: Expression): TokenPipeline =
    copy(child = newChild)
}

/** Base for the one-pass string-counter expressions. */
abstract class StringCountExpr extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects a string argument, got ${other.catalogString}")
    }
}

@ExpressionDescription(
  usage = "remove_stopwords(tokens) - drop NLTK English stopwords, keeping duplicates and order")
case class RemoveStopwords(child: Expression) extends UnaryExpression {

  override def dataType: DataType = child.dataType

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"remove_stopwords expects array<string>, got ${other.catalogString}")
    }

  override def nullSafeEval(a: Any): Any =
    TextNative.removeStops(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.TextNative.removeStops($a)")

  override protected def withNewChildInternal(newChild: Expression): RemoveStopwords =
    copy(child = newChild)
}

@ExpressionDescription(
  usage = "punct_count(text) - chars outside [A-Za-z0-9] and \\s, one pass")
case class PunctCount(child: Expression) extends StringCountExpr {
  override def nullSafeEval(s: Any): Any =
    TextNative.punctCount(s.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.functions.TextNative.punctCount($s)")
  override protected def withNewChildInternal(newChild: Expression): PunctCount =
    copy(child = newChild)
}

@ExpressionDescription(
  usage = "digit_count(text) - [0-9] char count, one pass")
case class DigitCount(child: Expression) extends StringCountExpr {
  override def nullSafeEval(s: Any): Any =
    TextNative.digitCount(s.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.functions.TextNative.digitCount($s)")
  override protected def withNewChildInternal(newChild: Expression): DigitCount =
    copy(child = newChild)
}

@ExpressionDescription(
  usage = "lang_id(text) - heuristic language guess (zh/en/fr/es/de/und)")
case class LangIdExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"lang_id expects a string argument, got ${other.catalogString}")
    }

  override def nullSafeEval(s: Any): Any =
    TextNative.langId(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.functions.TextNative.langId($s)")

  override protected def withNewChildInternal(newChild: Expression): LangIdExpr =
    copy(child = newChild)
}

@ExpressionDescription(
  usage = "token_counts(tokens) - insertion-ordered token -> occurrence-count map")
case class TokenCountsExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType =
    org.apache.spark.sql.types.MapType(StringType, IntegerType,
      valueContainsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"token_counts expects array<string>, got ${other.catalogString}")
    }

  override def nullSafeEval(a: Any): Any =
    TextNative.tokenCounts(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.TextNative.tokenCounts($a)")

  override protected def withNewChildInternal(newChild: Expression): TokenCountsExpr =
    copy(child = newChild)
}

@ExpressionDescription(
  usage = "nltk_stop_count(tokens) - NLTK English stopword occurrences in a token array")
case class NltkStopCount(child: Expression) extends UnaryExpression {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"nltk_stop_count expects array<string>, got ${other.catalogString}")
    }

  override def nullSafeEval(a: Any): Any =
    TextNative.stopCount(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.TextNative.stopCount($a)")

  override protected def withNewChildInternal(newChild: Expression): NltkStopCount =
    copy(child = newChild)
}
