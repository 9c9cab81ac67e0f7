package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level building blocks for the reference's token pipeline
  * (SURVEY.md §2.2-2.3, P2-P5/F1-F5), expressed with codegen'd Catalyst
  * functions — no UDFs in the hot path. The LSA and TextRank pipelines
  * are one native expression each (`TextNative.TokenPipeline`), equal to
  * the composition of the pieces below (`TokenPipelineSpec` pins it);
  * the lemmatizer alone is still exposed as a UDF, `lemmatizeUdf`.
  *
  * Reference semantics reproduced exactly:
  *  - tokens = `re.findall('[a-zA-Z]+', s.lower())` (BigdataProjectCode.py:66)
  *  - stopword filter uses the NLTK list (quirk Q2), keeps duplicates;
  *  - LSA keeps token length >= 3 pre-lemma (:68, F4); TextRank keeps
  *    length > 3 post-lemma (:367, F5);
  *  - sentences = split on '.' with positional ids (:44-45, P2), LSA drops
  *    sentences under 5 space-split words (:61-63, F1), TextRank keeps the
  *    exclusive 10..30 word band (:377-379, F2).
  */
object TextFunctions {

  /** `[a-zA-Z]+` tokens of the lowercased text, duplicates preserved. */
  def tokenize(text: Column): Column =
    regexp_extract_all(lower(text), lit("[a-zA-Z]+"), lit(0))

  /** Drop NLTK stopwords, preserving duplicates + order (array_except
    * would dedup — wrong for TextRank's length semantics, SURVEY G2).
    */
  def removeStopwords(tokens: Column): Column =
    // native hashed-set pass; the filter/array_contains form scanned
    // the 120-word literal array once per token
    graft.functions.TextNative.remove_stopwords(tokens)

  def minTokenLength(tokens: Column, minLen: Int): Column =
    filter(tokens, t => length(t) >= minLen)

  private val lemmatize = udf((ts: Seq[String]) => Lemmatizer.lemmaAll(ts))
  private val stemU = udf((ts: Seq[String]) => PorterStemmer.stemAll(ts))

  def lemmatizeUdf(tokens: Column): Column = lemmatize(tokens)
  def stemUdf(tokens: Column): Column = stemU(tokens)

  /** LSA token pipeline (:68): lower/regex → stopword+len>=3 → lemma,
    * one native pass; = `lemmatizeUdf(minTokenLength(removeStopwords(
    * tokenize(text)), 3))` except that a null text gives null where the
    * UDF throws.
    */
  def lsaTokens(text: Column, lemma: Boolean = true): Column =
    graft.functions.TextNative.token_pipeline(text, textrank = false, lemma)

  /** TextRank token pipeline (:365-367): lower/regex → stopword → lemma →
    * len>3 (i.e. >=4, applied after lemmatization), one native pass; =
    * `minTokenLength(lemmatizeUdf(removeStopwords(tokenize(text))), 4)`
    * except that a null text gives null where the UDF throws.
    */
  def textrankTokens(text: Column, lemma: Boolean = true): Column =
    graft.functions.TextNative.token_pipeline(text, textrank = true, lemma)

  /** Space-split word count on raw text, as the reference's length
    * filters measure it (F1/F2 check `len(s.split(' '))` on the raw
    * sentence, not the token count).
    */
  def spaceWordCount(text: Column): Column = size(split(text, " "))

  /** Sentence table: one row per (id, idx, sentence) from splitting on
    * '.' (P2). No trimming/abbreviation handling — reference semantics.
    */
  def explodeSentences(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame =
    df.select(
      col(idCol),
      posexplode(split(col(textCol), "\\."))
        .as(Seq("sent_idx", "sentence")))
}
