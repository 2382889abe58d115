package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column builders for the training-data-pipeline tier:
  * tokenization, quality scoring, language-ID heuristic, fingerprinting.
  *
  * Everything is built from `org.apache.spark.sql.functions` (codegen'd,
  * runs inside WholeStageCodegen — no UDFs), with higher-order array
  * functions for per-token work so nothing leaves the executor row loop.
  * Regexes use only constructs with identical semantics in Java regex
  * (Spark) and RE2 (DuckDB oracle): simple classes, `+`, alternation.
  */
object TextFunctions {

  /** Small embedded stopword lists for the language-ID heuristic. */
  val enStopwords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")
  val esStopwords: Seq[String] =
    Seq("el", "la", "de", "los", "las", "un", "una", "y", "en", "que")

  /** Lowercase, strip non-alphanumerics, collapse whitespace — the
    * canonical form used for fingerprinting and exact dedup. */
  def normText(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", " "), " +", " "))

  /** The Java-regex \s character set, trimmed from both ends before
    * tokenization: Spark's one-arg trim() strips SPACES only while
    * split() KEEPS trailing empty strings, so "\n"-terminated text (i.e.
    * every real file) would otherwise grow a bogus empty token — caught
    * by RawSourcesSpec; [[WsSql]] is the same set for the oracles. */
  private val Ws = " \t\n\r\u000B\f"

  /** Whitespace tokens; empty/blank text → empty array (split would give
    * a single empty-string token). */
  def tokens(c: Column): Column =
    when(length(trim(c, Ws)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(c, Ws), "\\s+"))

  def tokenCount(c: Column): Column = size(tokens(c))

  /** BPE-ish subword count: runs of letters, runs of digits, or single
    * punctuation marks each count as one token. */
  def bpeTokenCount(c: Column): Column =
    size(regexp_extract_all(lower(c), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))

  /** Occurrences (not distinct) of `words` among the tokens. */
  def stopwordCount(toks: Column, words: Seq[String]): Column = {
    val lst = array(words.map(lit): _*)
    size(filter(toks, t => array_contains(lst, t)))
  }

  /** Share of the `nTokens` tokens that are in `words`; 0.0 for no tokens. */
  def stopwordRatio(toks: Column, nTokens: Column, words: Seq[String] = enStopwords): Column =
    when(nTokens > 0, stopwordCount(toks, words).cast("double") / nTokens)
      .otherwise(lit(0.0))

  /** Fraction of [a-z] characters after lowercasing; 0.0 for empty. */
  def alphaRatio(c: Column): Column =
    when(length(c) > 0,
      length(regexp_replace(lower(c), "[^a-z]", "")).cast("double") / length(c))
      .otherwise(lit(0.0))

  /** Content-quality heuristic in [0,1]: token volume, alphabetic purity,
    * stopword density (natural text has stopwords; keyword spam doesn't). */
  def qualityScore(nTokens: Column, alphaR: Column, stopR: Column): Column =
    lit(0.3) * least(lit(1.0), nTokens.cast("double") / 50.0) +
      lit(0.3) * alphaR +
      lit(0.4) * least(lit(1.0), stopR * 5.0)

  // ---- DuckDB mirrors, spliced into the oracle SQL -------------------------
  // Each fragment below is the one SQL spelling of a Spark definition
  // above; an oracle that tokenizes or scores text splices these instead
  // of writing its own copy.

  /** [[Ws]] as a DuckDB string expression. */
  private val WsSql = "' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)"

  /** [[tokens]] of the `text` column as a DuckDB VARCHAR[]. */
  val tokensSql: String =
    s"CASE WHEN length(trim(text, $WsSql)) = 0 THEN []::VARCHAR[] " +
      s"ELSE string_split_regex(trim(text, $WsSql), '\\s+') END"

  /** [[tokenCount]] of the `text` column. */
  val tokenCountSql: String = s"len($tokensSql)"

  /** A stopword list as a DuckDB list literal. */
  def wordsSql(words: Seq[String]): String = words.map(w => s"'$w'").mkString("[", ", ", "]")

  /** [[stopwordRatio]] over the VARCHAR[] expression `toks`. */
  def stopwordRatioSql(toks: String, words: Seq[String] = enStopwords): String =
    s"""CASE WHEN len($toks) > 0
       |THEN CAST(len(list_filter($toks, x -> list_contains(${wordsSql(words)}, x))) AS DOUBLE) / len($toks)
       |ELSE 0.0 END""".stripMargin

  /** [[alphaRatio]] of the VARCHAR expression `text`. */
  def alphaRatioSql(text: String = "text"): String =
    s"""CASE WHEN length($text) > 0
       |THEN CAST(length(regexp_replace(lower($text), '[^a-z]', '', 'g')) AS DOUBLE) / length($text)
       |ELSE 0.0 END""".stripMargin

  /** [[qualityScore]] over three SQL expressions (unrounded). */
  def qualityScoreSql(nTokens: String, alphaR: String, stopR: String): String =
    s"0.3 * least(1.0, CAST($nTokens AS DOUBLE) / 50.0) + 0.3 * $alphaR + 0.4 * least(1.0, $stopR * 5.0)"

  /** Exact-dedup document fingerprint: md5 of the canonical text. */
  def fingerprint(c: Column): Column = md5(normText(c))
}
