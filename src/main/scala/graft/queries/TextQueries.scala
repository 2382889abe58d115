package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.queries.QueryConventions.MaterializeSyntax

import graft.functions.TextFunctions._
import graft.operators.DedupOps
import graft.sources.Tables

/** Text-analysis tier over `documents` (training-data-pipeline operators):
  * token statistics, quality scoring, language ID, fingerprint dedup.
  * All per-document work is narrow (no shuffle except the dedup groupBy) —
  * at 100 TB these are embarrassingly parallel map stages over the scan.
  */
object TextQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Token statistics per document: whitespace tokens, distinct tokens,
    * BPE-ish subword count, total/average token length. */
  def tokenStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("toks", tokens(col("text")))
      .select(
        col("doc_id"),
        size(col("toks")).as("n_tokens"),
        size(array_distinct(col("toks"))).as("n_uniq_tokens"),
        bpeTokenCount(col("text")).as("n_bpe_tokens"),
        aggregate(col("toks"), lit(0), (acc, t) => acc + length(t))
          .cast("bigint").as("total_token_chars"))
      .withColumn("avg_token_len",
        when(col("n_tokens") > 0,
          round(col("total_token_chars").cast("double") / col("n_tokens"), 6)))
      .orderBy("doc_id")

  private val tokenStatsSql: String =
    s"""WITH t AS (
      |  SELECT doc_id,
      |         $tokensSql AS toks,
      |         text
      |  FROM documents)
      |SELECT doc_id,
      |       CAST(len(toks) AS INT) AS n_tokens,
      |       CAST(len(list_distinct(toks)) AS INT) AS n_uniq_tokens,
      |       CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS INT) AS n_bpe_tokens,
      |       CAST(coalesce(list_sum(list_transform(toks, x -> len(x))), 0) AS BIGINT) AS total_token_chars,
      |       CASE WHEN len(toks) > 0
      |            THEN round(CAST(coalesce(list_sum(list_transform(toks, x -> len(x))), 0) AS DOUBLE) / len(toks), 6)
      |       END AS avg_token_len
      |FROM t ORDER BY doc_id""".stripMargin

  /** Quality scoring: token volume, alphabetic purity, stopword density. */
  def quality(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("toks", tokens(col("text")))
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("alpha_ratio", alphaRatio(col("text")))
      .withColumn("stop_ratio",
        stopwordRatio(col("toks"), col("n_tokens")))
      .select(
        col("doc_id"), col("n_tokens"),
        round(col("alpha_ratio"), 6).as("alpha_ratio"),
        round(col("stop_ratio"), 6).as("stop_ratio"),
        round(qualityScore(col("n_tokens"), col("alpha_ratio"), col("stop_ratio")), 6)
          .as("quality_score"))
      .orderBy("doc_id")

  private val qualitySql: String =
    s"""WITH t AS (
       |  SELECT doc_id, text,
       |         $tokensSql AS toks
       |  FROM documents),
       |m AS (
       |  SELECT doc_id,
       |         CAST(len(toks) AS INT) AS n_tokens,
       |         ${alphaRatioSql()} AS alpha_ratio,
       |         ${stopwordRatioSql("toks")} AS stop_ratio
       |  FROM t)
       |SELECT doc_id, n_tokens,
       |       round(alpha_ratio, 6) AS alpha_ratio,
       |       round(stop_ratio, 6) AS stop_ratio,
       |       round(${qualityScoreSql("n_tokens", "alpha_ratio", "stop_ratio")}, 6) AS quality_score
       |FROM m ORDER BY doc_id""".stripMargin

  /** Language-ID heuristic: stopword-hit ratio per language, argmax with
    * a 0.05 floor. (The synthetic corpus is English-ish regardless of its
    * `lang` metadata column — the heuristic itself is the operator under
    * test, so the output carries both prediction and metadata.) */
  def langId(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("toks", tokens(col("text")))
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("r_en",
        stopwordRatio(col("toks"), col("n_tokens")))
      .withColumn("r_es",
        stopwordRatio(col("toks"), col("n_tokens"), esStopwords))
      .select(
        col("doc_id"), col("lang"),
        when(col("n_tokens") === 0, lit("unknown"))
          .when(col("r_en") >= col("r_es") && col("r_en") >= 0.05, lit("en"))
          .when(col("r_es") > col("r_en") && col("r_es") >= 0.05, lit("es"))
          .otherwise(lit("other")).as("lang_pred"))
      .orderBy("doc_id")

  private val langIdSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, lang,
       |         $tokensSql AS toks
       |  FROM documents),
       |m AS (
       |  SELECT doc_id, lang, CAST(len(toks) AS INT) AS n_tokens,
       |         ${stopwordRatioSql("toks")} AS r_en,
       |         ${stopwordRatioSql("toks", esStopwords)} AS r_es
       |  FROM t)
       |SELECT doc_id, lang,
       |       CASE WHEN n_tokens = 0 THEN 'unknown'
       |            WHEN r_en >= r_es AND r_en >= 0.05 THEN 'en'
       |            WHEN r_es > r_en AND r_es >= 0.05 THEN 'es'
       |            ELSE 'other' END AS lang_pred
       |FROM m ORDER BY doc_id""".stripMargin

  /** Language-ID confusion matrix: predicted language (the [[langId]]
    * n-gram heuristic) × metadata language, with per-cell share of the
    * metadata class — the evaluation view a lang-ID gate is tuned by.
    * Reuses the langId plan; one extra vocabulary-sized aggregate. */
  def langConfusion(spark: SparkSession, dir: String): DataFrame = {
    // per-metadata-class total = window sum over the aggregated cells —
    // the langId pipeline (tokenize + two stopword scans) runs ONCE
    val byMeta = org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
    langId(spark, dir)
      .groupBy(col("lang"), col("lang_pred"))
      .agg(count(lit(1)).as("n_docs"))
      .select(
        col("lang"), col("lang_pred"), col("n_docs"),
        round(col("n_docs").cast("double") / sum(col("n_docs")).over(byMeta), 6)
          .as("share_of_meta"))
      .orderBy("lang", "lang_pred")
  }

  private val langConfusionSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, lang,
       |         $tokensSql AS toks
       |  FROM documents),
       |m AS (
       |  SELECT doc_id, lang, CAST(len(toks) AS INT) AS n_tokens,
       |         ${stopwordRatioSql("toks")} AS r_en,
       |         ${stopwordRatioSql("toks", esStopwords)} AS r_es
       |  FROM t),
       |p AS (
       |  SELECT lang,
       |         CASE WHEN n_tokens = 0 THEN 'unknown'
       |              WHEN r_en >= r_es AND r_en >= 0.05 THEN 'en'
       |              WHEN r_es > r_en AND r_es >= 0.05 THEN 'es'
       |              ELSE 'other' END AS lang_pred
       |  FROM m),
       |cell AS (SELECT lang, lang_pred, count(*) AS n_docs FROM p GROUP BY 1, 2)
       |SELECT lang, lang_pred, CAST(n_docs AS BIGINT) AS n_docs,
       |       round(CAST(n_docs AS DOUBLE) / sum(n_docs) OVER (PARTITION BY lang), 6) AS share_of_meta
       |FROM cell
       |ORDER BY lang, lang_pred""".stripMargin

  /** Chi-square test of association between two categorical columns
    * (lang × source): observed vs expected cell counts and the χ²
    * statistic — the mixture-drift check run on corpus metadata. One
    * grouped count + two window-sum passes over the tiny cell frame
    * (marginals never rescan the corpus). χ² sums (o−e)²/e over cells
    * with raw-double arithmetic on both engines, rounded at the end. */
  def langSourceChi2(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val cells = Tables.documents(spark, dir)
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("o"))
    cells
      .withColumn("row_total", sum(col("o")).over(w.partitionBy(col("lang"))))
      .withColumn("col_total", sum(col("o")).over(w.partitionBy(col("source"))))
      .withColumn("n", sum(col("o")).over(w.partitionBy()))
      .withColumn("e",
        col("row_total").cast("double") * col("col_total") / col("n"))
      .agg(
        count(lit(1)).as("n_cells"),
        round(sum((col("o") - col("e")) * (col("o") - col("e")) / col("e")), 6)
          .as("chi2"))
  }

  private val langSourceChi2Sql: String =
    """WITH cells AS (
      |  SELECT lang, source, count(*) AS o FROM documents GROUP BY 1, 2),
      |m AS (
      |  SELECT o,
      |         CAST(sum(o) OVER (PARTITION BY lang) AS DOUBLE)
      |           * sum(o) OVER (PARTITION BY source)
      |           / sum(o) OVER () AS e
      |  FROM cells)
      |SELECT count(*) AS n_cells,
      |       round(sum((o - e) * (o - e) / e), 6) AS chi2
      |FROM m""".stripMargin

  /** Exact dedup by canonical-text fingerprint: one row per distinct
    * fingerprint with the surviving (minimum) doc_id and the group size.
    * Single hash-shuffle on the fingerprint — the exact-dedup plan that
    * scales: no pairwise comparison, state is one row per distinct doc. */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("fingerprint", fingerprint(col("text")))
      .groupBy(col("fingerprint"))
      .agg(
        min(col("doc_id")).as("keep_doc_id"),
        count(lit(1)).as("n_docs"))
      .orderBy("fingerprint")

  private val dedupExactSql: String =
    """SELECT md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS fingerprint,
      |       min(doc_id) AS keep_doc_id,
      |       count(*) AS n_docs
      |FROM documents
      |GROUP BY 1 ORDER BY fingerprint""".stripMargin

  // scrub patterns shared by Spark (Java regex) and DuckDB (RE2) — the
  // patterns stay inside the dialect intersection (explicit classes, no
  // lookaround). Replacement order matters and is identical on both
  // sides: URLs first (they contain digits), then emails, then numbers.
  private val urlPat = "https?://[^ \\t\\n]+"
  private val emailPat = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  private val numPat = "[0-9]+"

  /** PII/URL scrubbing — the redaction pass of a pretraining pipeline:
    * count URL/email/number occurrences and the post-scrub length.
    * Pure map stage (codegen'd regex), no shuffle. */
  def scrubCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        size(regexp_extract_all(col("text"), lit(urlPat), lit(0))).as("n_urls"),
        size(regexp_extract_all(col("text"), lit(emailPat), lit(0))).as("n_emails"),
        size(regexp_extract_all(col("text"), lit(numPat), lit(0))).as("n_nums"),
        length(
          regexp_replace(
            regexp_replace(
              regexp_replace(col("text"), urlPat, "<URL>"),
              emailPat, "<EMAIL>"),
            numPat, "<NUM>")).as("scrubbed_len"))
      .orderBy("doc_id")

  /** PII density rollup per source — [[scrubCounts]] aggregated to the
    * grain a compliance dashboard actually watches: URLs / emails /
    * number-runs per million tokens for every source, plus the share of
    * documents carrying any PII-shaped span. A source whose density
    * jumps is a scraping-config regression; one far above its peers
    * needs a stronger scrub before release. Map-side regex counting +
    * one |S|-key aggregate; exact integer per-Mtoken rates. (The
    * synthetic corpus is deliberately PII-free, so all-zero densities
    * ARE the correct output here — the oracle verifies the counting
    * machinery end to end, the langId-precedent convention for
    * operators whose fixture can't exhibit every regime.) */
  def piiDensityBySource(spark: SparkSession, dir: String): DataFrame =
    piiDensityFrom(Tables.documents(spark, dir))

  /** [[piiDensityBySource]] over an arbitrary (source, text) frame — the
    * fixture entry the non-vacuity canary drives with real PII spans. */
  def piiDensityFrom(docs: DataFrame): DataFrame =
    docs
      .select(col("source"),
        tokenCount(col("text")).cast("long").as("n_toks"),
        size(regexp_extract_all(col("text"), lit(urlPat), lit(0))).cast("long").as("u"),
        size(regexp_extract_all(col("text"), lit(emailPat), lit(0))).cast("long").as("e"),
        size(regexp_extract_all(col("text"), lit(numPat), lit(0))).cast("long").as("m"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("n_tokens"),
        sum(col("u")).as("n_urls"),
        sum(col("e")).as("n_emails"),
        sum(col("m")).as("n_nums"),
        sum(when(col("u") + col("e") + col("m") > 0, 1L).otherwise(0L)).as("n_docs_with_pii"))
      .withColumn("url_per_mtok",
        expr("CASE WHEN n_tokens > 0 THEN n_urls * 1000000 div n_tokens ELSE 0 END"))
      .withColumn("email_per_mtok",
        expr("CASE WHEN n_tokens > 0 THEN n_emails * 1000000 div n_tokens ELSE 0 END"))
      .withColumn("num_per_mtok",
        expr("CASE WHEN n_tokens > 0 THEN n_nums * 1000000 div n_tokens ELSE 0 END"))
      .withColumn("docs_with_pii_ppm", expr("n_docs_with_pii * 1000000 div n_docs"))
      .orderBy("source")

  private val piiDensityBySourceSql: String =
    s"""WITH d AS (
      |  SELECT source,
      |         $tokenCountSql AS n_toks,
      |         len(regexp_extract_all(text, 'https?://[^ \\t\\n]+')) AS u,
      |         len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}')) AS e,
      |         len(regexp_extract_all(text, '[0-9]+')) AS m
      |  FROM documents),
      |g AS (
      |  SELECT source, count(*) AS n_docs,
      |         sum(n_toks) AS n_tokens, sum(u) AS n_urls,
      |         sum(e) AS n_emails, sum(m) AS n_nums,
      |         sum(CASE WHEN u + e + m > 0 THEN 1 ELSE 0 END) AS n_docs_with_pii
      |  FROM d GROUP BY source)
      |SELECT source, n_docs,
      |       CAST(n_tokens AS BIGINT) AS n_tokens,
      |       CAST(n_urls AS BIGINT) AS n_urls,
      |       CAST(n_emails AS BIGINT) AS n_emails,
      |       CAST(n_nums AS BIGINT) AS n_nums,
      |       CAST(n_docs_with_pii AS BIGINT) AS n_docs_with_pii,
      |       CAST(CASE WHEN n_tokens > 0 THEN n_urls * 1000000 // n_tokens ELSE 0 END AS BIGINT) AS url_per_mtok,
      |       CAST(CASE WHEN n_tokens > 0 THEN n_emails * 1000000 // n_tokens ELSE 0 END AS BIGINT) AS email_per_mtok,
      |       CAST(CASE WHEN n_tokens > 0 THEN n_nums * 1000000 // n_tokens ELSE 0 END AS BIGINT) AS num_per_mtok,
      |       CAST(n_docs_with_pii * 1000000 // n_docs AS BIGINT) AS docs_with_pii_ppm
      |FROM g ORDER BY source""".stripMargin

  private val scrubCountsSql: String =
    """SELECT doc_id,
      |       CAST(len(regexp_extract_all(text, 'https?://[^ \t\n]+')) AS INT) AS n_urls,
      |       CAST(len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS INT) AS n_emails,
      |       CAST(len(regexp_extract_all(text, '[0-9]+')) AS INT) AS n_nums,
      |       CAST(length(
      |         regexp_replace(
      |           regexp_replace(
      |             regexp_replace(text, 'https?://[^ \t\n]+', '<URL>', 'g'),
      |             '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
      |           '[0-9]+', '<NUM>', 'g')) AS INT) AS scrubbed_len
      |FROM documents ORDER BY doc_id""".stripMargin

  /** C4/Gopher-style heuristic filter rules, per document: token-count
    * band, mean word length band, digit density, terminal punctuation —
    * and the combined keep flag. Ratios are exact integer divisions, so
    * the band comparisons are engine-stable. */
  def c4Rules(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("toks", tokens(col("text")))
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("mean_word_len",
        when(col("n_tokens") > 0,
          aggregate(col("toks"), lit(0), (a, t) => a + length(t)).cast("double") / col("n_tokens")))
      .withColumn("digit_ratio",
        when(length(col("text")) > 0,
          size(regexp_extract_all(col("text"), lit("[0-9]"), lit(0))).cast("double") / length(col("text")))
          .otherwise(lit(0.0)))
      .withColumn("ends_punct", col("text").rlike("[.!?\"]\\s*$"))
      .select(
        col("doc_id"), col("n_tokens"),
        round(col("mean_word_len"), 6).as("mean_word_len"),
        round(col("digit_ratio"), 6).as("digit_ratio"),
        col("ends_punct"),
        coalesce(
          col("n_tokens") >= 50 && col("n_tokens") <= 100000 &&
            col("mean_word_len") >= 3 && col("mean_word_len") <= 10 &&
            col("digit_ratio") < 0.15 && col("ends_punct"),
          lit(false)).as("keep"))
      .orderBy("doc_id")

  private val c4RulesSql: String =
    s"""WITH t AS (
      |  SELECT doc_id, text,
      |         $tokensSql AS toks
      |  FROM documents),
      |m AS (
      |  SELECT doc_id,
      |         CAST(len(toks) AS INT) AS n_tokens,
      |         CASE WHEN len(toks) > 0
      |              THEN CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE) / len(toks)
      |         END AS mean_word_len,
      |         CASE WHEN length(text) > 0
      |              THEN CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE) / length(text)
      |              ELSE 0.0 END AS digit_ratio,
      |         regexp_matches(text, '[.!?"]\\s*$$') AS ends_punct
      |  FROM t)
      |SELECT doc_id, n_tokens,
      |       round(mean_word_len, 6) AS mean_word_len,
      |       round(digit_ratio, 6) AS digit_ratio,
      |       ends_punct,
      |       coalesce(n_tokens >= 50 AND n_tokens <= 100000
      |                AND mean_word_len >= 3 AND mean_word_len <= 10
      |                AND digit_ratio < 0.15 AND ends_punct, FALSE) AS keep
      |FROM m ORDER BY doc_id""".stripMargin

  /** Within-document repetition (the Gopher repetition signal): sentence
    * count, distinct-sentence count, repetition ratio. High-ratio docs are
    * boilerplate/template pages a pretraining pipeline drops. Map-only. */
  def repetition(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("sents", split(col("text"), "\\. "))
      .select(
        col("doc_id"),
        size(col("sents")).as("n_sents"),
        size(array_distinct(col("sents"))).as("n_uniq_sents"))
      .withColumn("rep_ratio",
        when(col("n_sents") > 0,
          round(lit(1.0) - col("n_uniq_sents").cast("double") / col("n_sents"), 6))
          .otherwise(lit(0.0)))
      .orderBy("doc_id")

  private val repetitionSql: String =
    """WITH s AS (
      |  SELECT doc_id, string_split_regex(text, '\. ') AS sents FROM documents)
      |SELECT doc_id,
      |       CAST(len(sents) AS INT) AS n_sents,
      |       CAST(len(list_distinct(sents)) AS INT) AS n_uniq_sents,
      |       CASE WHEN len(sents) > 0
      |            THEN round(1.0 - CAST(len(list_distinct(sents)) AS DOUBLE) / len(sents), 6)
      |            ELSE 0.0 END AS rep_ratio
      |FROM s ORDER BY doc_id""".stripMargin

  /** explode_outer — the generator that KEEPS empty inputs (a plain
    * explode silently drops zero-token docs from downstream accounting):
    * corpus totals proving no document is lost. */
  /** Bigram language-model statistics: the 20 most frequent bigrams with
    * their conditional probability P(w2 | w1) = c(w1 w2) / c(w1·) — the
    * n-gram-LM counting pass of a corpus-analysis pipeline. Bigrams are
    * built by zipping the token array with its shifted self (the same
    * linear streamed pass as the shingle builder — no index-lambda trap).
    * c(w1·) counts w1's occurrences AS A BIGRAM HEAD (= c(w1) minus
    * document-final occurrences) — the denominator a bigram LM actually
    * normalizes by — and is derived as a window sum over the aggregated
    * bigram frame, so the corpus is exploded exactly once. Scale: one
    * explode → one partial-agg shuffle + a vocabulary-sized window. */
  def bigramLmTop(spark: SparkSession, dir: String): DataFrame = {
    val toks = col("toks")
    val pairs = Tables.documents(spark, dir)
      .select(tokens(col("text")).as("toks"))
      .select(explode(zip_with(
        slice(toks, lit(1), greatest(size(toks) - 1, lit(0))),
        slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    // c(w1·) = Σ_w2 c(w1,w2): the head count is a window sum over the
    // already-aggregated bigram frame — one corpus pass, no second
    // explode and no join
    val byHead = org.apache.spark.sql.expressions.Window.partitionBy(col("w1"))
    pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_bigram"))
      .select(
        col("w1"), col("w2"), col("n_bigram"),
        round(col("n_bigram").cast("double") / sum(col("n_bigram")).over(byHead), 6)
          .as("p_cond"))
      .orderBy(col("n_bigram").desc, col("w1"), col("w2"))
      .limit(20)
  }

  private val bigramLmTopSql: String =
    s"""WITH t AS (
      |  SELECT $tokensSql AS toks
      |  FROM documents),
      |e AS (
      |  SELECT toks[CAST(i AS INT)] AS w1, toks[CAST(i AS INT) + 1] AS w2
      |  FROM t, LATERAL (SELECT unnest(range(1, CAST(len(toks) AS BIGINT))) AS i) u),
      |b AS (SELECT w1, w2, count(*) AS n_bigram FROM e GROUP BY w1, w2)
      |SELECT w1, w2, CAST(n_bigram AS BIGINT) AS n_bigram,
      |       round(CAST(n_bigram AS DOUBLE) / sum(n_bigram) OVER (PARTITION BY w1), 6) AS p_cond
      |FROM b
      |ORDER BY n_bigram DESC, w1, w2
      |LIMIT 20""".stripMargin

  /** Top collocations by pointwise mutual information over a ±2-token
    * window — the collocation extractor ([[bigramLmTop]]'s conditional
    * probability ranks by raw frequency; PMI ranks by ASSOCIATION, which
    * is what "new york" / "machine learning" detection actually needs),
    * with the standard min-count floors (pair ≥ 5, unigram ≥ 10) that
    * keep rare-token PMI from exploding. PMI(x,y) =
    * ln(c_xy·T²/(P·c_x·c_y)) computed as a sum of per-term lns, each ln
    * taken over an exact integer count and rounded to 6 dp, combined in
    * DECIMAL — identical operands and fixed evaluation order, so both
    * engines produce the same ranking bit-for-bit.
    *
    * Shape: distance-1 and distance-2 pairs come from shifted-slice
    * zip_with (two map-side explodes, output ∝ 2·tokens — never a
    * positions self-join), unigram counts from one explode; the pair
    * frame hash-joins the unigram frame twice on the token key and the
    * two one-row totals broadcast. Everything is ∝ tokens at 100 TB. */
  def tokenPmiTop(spark: SparkSession, dir: String): DataFrame = {
    val corpus = Tables.documents(spark, dir)
    val docs = corpus
      .select(tokens(col("text")).as("toks"))
      .materializeOnce // feeds the unigram explode and both pair explodes
    val uni = docs.select(explode(col("toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .materializeOnce // joined twice (w1, w2) + summed for the total
    val tot = uni.agg(sum(col("c")).as("t_tokens"))
    def shiftPairs(d: Int): DataFrame = docs.select(
      explode(zip_with(
        slice(col("toks"), lit(1), greatest(size(col("toks")) - d, lit(0))),
        slice(col("toks"), lit(1 + d), greatest(size(col("toks")) - d, lit(0))),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("pr"))
      .select(col("pr.w1").as("w1"), col("pr.w2").as("w2"))
    val pairs = shiftPairs(1).unionAll(shiftPairs(2))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_xy"))
      .materializeOnce // feeds the pair total AND the scored frame
    val ptot = pairs.agg(sum(col("c_xy")).as("t_pairs"))
    def lnd(c: Column): Column =
      round(log(c.cast("double")), 6).cast("decimal(20,6)")
    pairs.filter(col("c_xy") >= 5)
      .join(uni.select(col("w").as("w1"), col("c").as("c_x")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c").as("c_y")), Seq("w2"))
      .filter(col("c_x") >= 10 && col("c_y") >= 10)
      .crossJoin(broadcast(tot)).crossJoin(broadcast(ptot))
      .withColumn("pmi",
        (lnd(col("c_xy")) + lnd(col("t_tokens")) * 2
          - lnd(col("t_pairs")) - lnd(col("c_x")) - lnd(col("c_y")))
          .cast("double"))
      .select(col("w1"), col("w2"), col("c_xy"), col("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(20)
  }

  private val tokenPmiTopSql: String =
    s"""WITH t AS (
      |  SELECT $tokensSql AS toks
      |  FROM documents),
      |u AS (SELECT unnest(toks) AS w FROM t),
      |uc AS (SELECT w, count(*) AS c FROM u GROUP BY w),
      |tt AS (SELECT sum(c) AS t_tokens FROM uc),
      |e AS (
      |  SELECT toks[CAST(i AS INT)] AS w1, toks[CAST(i AS INT) + 1] AS w2
      |  FROM t, LATERAL (SELECT unnest(range(1, CAST(len(toks) AS BIGINT))) AS i) x
      |  UNION ALL
      |  SELECT toks[CAST(i AS INT)] AS w1, toks[CAST(i AS INT) + 2] AS w2
      |  FROM t, LATERAL (SELECT unnest(range(1, CAST(len(toks) AS BIGINT) - 1)) AS i) y),
      |pc AS (SELECT w1, w2, count(*) AS c_xy FROM e GROUP BY w1, w2),
      |pt AS (SELECT sum(c_xy) AS t_pairs FROM pc)
      |SELECT pc.w1, pc.w2, pc.c_xy,
      |       CAST(CAST(round(ln(pc.c_xy), 6) AS DECIMAL(20,6))
      |            + CAST(round(ln(tt.t_tokens), 6) AS DECIMAL(20,6)) * 2
      |            - CAST(round(ln(pt.t_pairs), 6) AS DECIMAL(20,6))
      |            - CAST(round(ln(a.c), 6) AS DECIMAL(20,6))
      |            - CAST(round(ln(b.c), 6) AS DECIMAL(20,6)) AS DOUBLE) AS pmi
      |FROM pc
      |JOIN uc a ON a.w = pc.w1
      |JOIN uc b ON b.w = pc.w2
      |CROSS JOIN tt CROSS JOIN pt
      |WHERE pc.c_xy >= 5 AND a.c >= 10 AND b.c >= 10
      |ORDER BY pmi DESC, w1, w2
      |LIMIT 20""".stripMargin

  def tokenExplodeOuter(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode_outer(tokens(col("text"))).as("token"))
      .agg(
        countDistinct(col("doc_id")).as("n_docs"),
        sum(when(col("token").isNull, 1).otherwise(0)).as("n_empty_docs"),
        count(col("token")).as("n_tokens"))

  private val tokenExplodeOuterSql: String =
    s"""WITH t AS (
      |  SELECT doc_id,
      |         $tokensSql AS toks
      |  FROM documents)
      |SELECT count(DISTINCT doc_id) AS n_docs,
      |       CAST(sum(CASE WHEN len(toks) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_empty_docs,
      |       CAST(sum(len(toks)) AS BIGINT) AS n_tokens
      |FROM t""".stripMargin

  /** Per-document bigram-LM score — the perplexity-proxy quality signal
    * (KenLM-style filtering, self-scored against the corpus's own bigram
    * model): every document's average add-one-smoothed conditional
    * log-probability ln((c(w1,w2)+1)/(c(w1·)+V)), V = the head vocabulary.
    * Low scorers are the statistically-unlike-the-corpus outliers
    * (gibberish, boilerplate, wrong-language) that LM filtering removes.
    *
    * One explode of the corpus feeds BOTH the LM build and the per-doc
    * scoring (cached bigram frame); the score join is an equi-join on
    * (w1,w2) — LM-sized, zipf-skewed, AQE-handled. Per-bigram logprob is
    * rounded to 6 (ln is engine-divergent at the ulp; the rounding
    * absorbs it), the per-doc average goes through the DECIMAL sum so
    * partial-agg order cannot perturb it and is then fixed-point-floored
    * (the 6-decimal-sum ÷ integer ratio lands on exact .5 boundaries
    * where HALF_UP diverges), and perplexity is exp of the already-
    * quantized average. Docs with <2 tokens have no bigrams and
    * are not scored (inner join, documented). */
  def docLmScore(spark: SparkSession, dir: String): DataFrame = {
    val toks = col("toks")
    val bg = Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(zip_with(
        slice(toks, lit(1), greatest(size(toks) - 1, lit(0))),
        slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .materializeOnce
    val vocab = bg.agg(countDistinct(col("w1")).as("v"))
    val byHead = org.apache.spark.sql.expressions.Window.partitionBy(col("w1"))
    val lm = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("nb"))
      .withColumn("nh", sum(col("nb")).over(byHead))
      .crossJoin(broadcast(vocab))
      .withColumn("lp",
        round(log((col("nb") + 1).cast("double") / (col("nh") + col("v"))), 6))
      .select("w1", "w2", "lp")
    bg.groupBy(col("doc_id"), col("w1"), col("w2")).agg(count(lit(1)).as("m"))
      .join(lm, Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("m")).as("n_bigrams"),
        // fixed-point floor, not round: the 6-decimal sum divided by an
        // integer lands on EXACT .5 boundaries where HALF_UP diverges
        (floor(sum((col("m") * col("lp")).cast("decimal(28,10)")).cast("double")
          * 1e6 / sum(col("m"))) / lit(1e6)).as("avg_logprob"))
      .withColumn("perplexity", round(exp(-col("avg_logprob")), 4))
      .orderBy("doc_id")
  }

  private val docLmScoreSql: String =
    s"""WITH t AS (
      |  SELECT doc_id,
      |         $tokensSql AS toks
      |  FROM documents),
      |e AS (
      |  SELECT doc_id, toks[CAST(i AS INT)] AS w1, toks[CAST(i AS INT) + 1] AS w2
      |  FROM t, LATERAL (SELECT unnest(range(1, CAST(len(toks) AS BIGINT))) AS i) u),
      |vocab AS (SELECT count(DISTINCT w1) AS v FROM e),
      |b AS (SELECT w1, w2, count(*) AS nb FROM e GROUP BY w1, w2),
      |lm AS (
      |  SELECT w1, w2,
      |         round(ln(CAST(nb + 1 AS DOUBLE) /
      |                  (sum(nb) OVER (PARTITION BY w1) + (SELECT v FROM vocab))), 6) AS lp
      |  FROM b),
      |d AS (SELECT doc_id, w1, w2, count(*) AS m FROM e GROUP BY doc_id, w1, w2),
      |s AS (
      |  SELECT d.doc_id,
      |         CAST(sum(d.m) AS BIGINT) AS n_bigrams,
      |         floor(CAST(sum(CAST(d.m * lm.lp AS DECIMAL(28,10))) AS DOUBLE)
      |               * 1e6 / sum(d.m)) / 1e6 AS avg_logprob
      |  FROM d JOIN lm ON d.w1 = lm.w1 AND d.w2 = lm.w2
      |  GROUP BY d.doc_id)
      |SELECT doc_id, n_bigrams, avg_logprob,
      |       round(exp(-avg_logprob), 4) AS perplexity
      |FROM s
      |ORDER BY doc_id""".stripMargin

  private val HashDim = 256

  /** The hashed-linear classifier's per-doc scores, shared by
    * [[docClassifierScore]] and every report that evaluates it: each
    * token instance hashes into one of [[HashDim]] buckets, the bucket's
    * integer milli-weight in [-500, 500] is Knuth's multiplicative hash of
    * the bucket id (a deterministic stand-in for trained parameters), and
    * `score` is the floor fixed-point mean weight of the document's token
    * instances. Integer weights keep the sum EXACT on both engines;
    * floating point enters only at the final single division, and the
    * floor (not round) avoids the exact .5 boundaries where HALF_UP
    * differs across engines. `carry` columns ride along from `documents`;
    * all but `n_chars` (read by [[lengthLabel]]) are grouping keys, and
    * `aggs` precede `score` in the aggregate. */
  private def classifierScores(spark: SparkSession, dir: String, carry: Seq[String],
      aggs: Column*): DataFrame = {
    val bucket = pmod(DedupOps.h60(col("token")), lit(HashDim.toLong))
    val all = aggs :+ (floor(sum(col("w")).cast("double") * 1000.0 / count(lit(1)))
      / lit(1e6)).as("score")
    Tables.documents(spark, dir)
      .select(carry.map(col) :+ explode(tokens(col("text"))).as("token"): _*)
      .withColumn("w", (bucket * lit(2654435761L)) % 1001 - 500)
      .groupBy(carry.filter(_ != "n_chars").map(col): _*)
      .agg(all.head, all.tail: _*)
  }

  /** The evaluation label: the document is long (`n_chars >= 300`). */
  private def lengthLabel: Column = max((col("n_chars") >= 300).cast("long")).as("y")

  /** A score's probability, rounded to 6 BEFORE anything compares it (exp
    * is ulp-divergent across engines; only the rounded value is used). */
  private def sigmoid(score: Column): Column =
    round(lit(1.0) / (lit(1.0) + exp(score * -4)), 6)

  /** DuckDB mirror of [[classifierScores]]: CTEs t, e, f and
    * s(keys…, aggs, score). */
  private def classifierScoresCtes(carry: Seq[String], aggs: String): String = {
    val cols = carry.mkString(", ")
    val keys = carry.filter(_ != "n_chars").mkString(", ")
    s"""t AS (
       |  SELECT $cols,
       |         $tokensSql AS toks
       |  FROM documents),
       |e AS (SELECT $cols, unnest(toks) AS token FROM t),
       |f AS (
       |  SELECT $cols,
       |         (CAST('0x' || substring(md5(token), 1, 15) AS BIGINT) % $HashDim)
       |           * 2654435761 % 1001 - 500 AS w
       |  FROM e),
       |s AS (
       |  SELECT $keys,
       |         $aggs,
       |         floor(CAST(sum(w) AS DOUBLE) * 1000.0 / count(*)) / 1e6 AS score
       |  FROM f GROUP BY $keys)""".stripMargin
  }

  /** DuckDB mirrors of [[lengthLabel]] and [[sigmoid]] (of `score`). */
  private val lengthLabelSql = "max(CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END) AS y"
  private val sigmoidSql = "round(1.0 / (1.0 + exp(score * -4)), 6)"

  /** The (doc_id, y, pm) frame shared by the ranking metrics: the
    * classifier probability in exact micro-units plus the length label. */
  private def classifierScoredPm(spark: SparkSession, dir: String): DataFrame =
    classifierScores(spark, dir, Seq("doc_id", "n_chars"), lengthLabel)
      .withColumn("prob", sigmoid(col("score")))
      .withColumn("pm", (col("prob").cast("decimal(18,6)") * 1000000).cast("long"))

  /** The (doc_id, y, pm) CTE chain shared by the ranking-metric oracles
    * — mirrors [[classifierScoredPm]]. Splice as `WITH $..., <more>`. */
  private val classifierScoredPmCtes: String =
    s"""${classifierScoresCtes(Seq("doc_id", "n_chars"), lengthLabelSql)},
       |p AS (
       |  SELECT doc_id, y,
       |         CAST(CAST($sigmoidSql AS DECIMAL(18,6))
       |              * 1000000 AS BIGINT) AS pm
       |  FROM s)""".stripMargin

  /** Hashed-feature linear classifier scoring — the fastText-shaped
    * quality-classifier pass every curation pipeline runs at full-corpus
    * scale: tokens are hashed into [[HashDim]] buckets (the hashing
    * trick, vocabulary-free), each bucket carries a fixed weight (here a
    * deterministic pseudo-random table keyed by Knuth's multiplicative
    * constant, standing in for trained parameters — the ENGINE surface is
    * the featurize+score plumbing, not the training), and a document's
    * score is the mean bucket weight of its token instances, squashed
    * through a sigmoid. Pure map-side: tokenize → hash → lookup → one
    * per-doc aggregate; no shuffle but the doc_id partial-agg, no
    * vocabulary broadcast at any corpus size. Empty docs have no token
    * instances and are not scored. */
  def docClassifierScore(spark: SparkSession, dir: String): DataFrame =
    classifierScores(spark, dir, Seq("doc_id"), count(lit(1)).as("n_tokens"))
      .withColumn("prob", sigmoid(col("score")))
      .withColumn("keep", col("prob") >= 0.5)
      .orderBy("doc_id")

  private val docClassifierScoreSql: String =
    s"""WITH ${classifierScoresCtes(Seq("doc_id"), "count(*) AS n_tokens")}
       |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, score,
       |       $sigmoidSql AS prob,
       |       $sigmoidSql >= 0.5 AS keep
       |FROM s
       |ORDER BY doc_id""".stripMargin

  /** Reliability diagram for [[docClassifierScore]] — the calibration
    * check that decides whether a quality classifier's probabilities can
    * gate a corpus at a fixed threshold: docs are bucketed into ten
    * equal-width probability bins, and each bin reports its size, mean
    * predicted probability (confidence) and empirical positive rate
    * (accuracy against the deterministic length label `n_chars >= 300`),
    * plus |conf − acc| — the per-bin term of Expected Calibration Error
    * (ECE = Σ n_b·gap_b / N, recoverable from the output).
    *
    * Numeric discipline: prob is already rounded to 6 decimals, so its
    * DECIMAL(18,6) cast is EXACT and the bin sum is order-independent;
    * conf/acc are integer micro-units via truncating division of exact
    * integers (both engines truncate nonnegative values identically —
    * no float mean anywhere). Scale shape: the label rides the SAME
    * single corpus scan as the classifier (a `max` alongside the token
    * aggregate — no second scan, no join), and the bin aggregate has
    * ten keys. */
  def classifierCalibration(spark: SparkSession, dir: String): DataFrame =
    classifierScores(spark, dir, Seq("doc_id", "n_chars"),
        count(lit(1)).as("n_tokens"), lengthLabel)
      .withColumn("prob", sigmoid(col("score")))
      .withColumn("bin", least(floor(col("prob") * 10), lit(9.0)).cast("long"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("y")).as("n_pos"),
        sum(col("prob").cast("decimal(18,6)")).as("psum"))
      .withColumn("conf_micro", expr("CAST(psum * 1000000 AS BIGINT) div n_docs"))
      .withColumn("acc_micro", expr("n_pos * 1000000 div n_docs"))
      .withColumn("gap_micro", abs(col("conf_micro") - col("acc_micro")))
      .select("bin", "n_docs", "n_pos", "conf_micro", "acc_micro", "gap_micro")
      .orderBy("bin")

  private val classifierCalibrationSql: String =
    s"""WITH ${classifierScoresCtes(Seq("doc_id", "n_chars"), lengthLabelSql)},
       |p AS (
       |  SELECT y, $sigmoidSql AS prob FROM s),
       |g AS (
       |  SELECT CAST(least(floor(prob * 10), 9) AS BIGINT) AS bin,
       |         count(*) AS n_docs,
       |         CAST(sum(y) AS BIGINT) AS n_pos,
       |         sum(CAST(prob AS DECIMAL(18,6))) AS psum
       |  FROM p GROUP BY 1)
       |SELECT bin, CAST(n_docs AS BIGINT) AS n_docs, n_pos,
       |       CAST(CAST(psum * 1000000 AS BIGINT) // n_docs AS BIGINT) AS conf_micro,
       |       CAST(n_pos * 1000000 // n_docs AS BIGINT) AS acc_micro,
       |       CAST(abs(CAST(psum * 1000000 AS BIGINT) // n_docs
       |                - n_pos * 1000000 // n_docs) AS BIGINT) AS gap_micro
       |FROM g ORDER BY bin""".stripMargin

  /** Dyadic temperature grid — every value exactly representable in
    * binary, so the DECIMAL→DOUBLE literal cast is identical in both
    * engines and T never contributes a ulp of divergence. */
  private val TempGrid = Seq(0.25, 0.5, 0.75, 1.0, 1.25, 1.5, 2.0, 3.0, 4.0)

  /** Temperature scaling for [[docClassifierScore]] — the OTHER standard
    * recalibration beside [[calibrationIsotonic]]'s monotone fit (Guo et
    * al., ICML 2017): a single scalar T divides the logit, preserving
    * ranking (so PR/AUC are untouched) while fixing systematic over- or
    * under-confidence. Fit by grid search over the dyadic [[TempGrid]]
    * minimizing NLL against the `n_chars >= 300` label; per-T NLL, the
    * per-doc average, and the argmin flag come back as the report a
    * deployment reads its T from. T < 1 sharpening winning means the
    * classifier is UNDER-confident; T > 1 means overconfident.
    *
    * Exactness: per-doc terms are 6-dp-rounded before a DECIMAL sum (the
    * markov-entropy ln discipline), probabilities clamp to
    * [10⁻⁶, 1−10⁻⁶] so ln never sees a rounded 0 or 1, and the argmin
    * is an integer comparison against a broadcast one-row min frame.
    * Scale shape: the token explode is the classifier's one map-side
    * pass; the 9× grid explode happens AFTER per-doc aggregation
    * (9·docs narrow rows), the final aggregate has nine keys. */
  def scoreTemperatureFit(spark: SparkSession, dir: String): DataFrame = {
    val scored = classifierScores(spark, dir, Seq("doc_id", "n_chars"), lengthLabel)
    val perT = scored
      .withColumn("t", explode(array(TempGrid.map(lit): _*)))
      .withColumn("p",
        round(lit(1.0) / (lit(1.0) + exp(col("score") * lit(-4.0) / col("t"))), 6))
      .withColumn("pc",
        least(greatest(col("p"), lit(0.000001)), lit(0.999999)))
      .withColumn("term",
        round(when(col("y") === 1, -log(col("pc")))
          .otherwise(-log(lit(1.0) - col("pc"))), 6))
      .groupBy(col("t"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("term").cast("decimal(18,6)")).as("nll"))
      .withColumn("nll_micro", expr("CAST(nll * 1000000 AS BIGINT)"))
    val m = perT.agg(min(col("nll_micro")).as("min_nll"))
    perT.crossJoin(broadcast(m))
      .select(col("t").as("temperature"), col("n_docs"), col("nll_micro"),
        expr("nll_micro div n_docs").as("avg_nll_micro"),
        (col("nll_micro") === col("min_nll")).as("is_best"))
      .orderBy("temperature")
  }

  private val scoreTemperatureFitSql: String = {
    val grid = TempGrid.mkString("[", ", ", "]")
    s"""WITH ${classifierScoresCtes(Seq("doc_id", "n_chars"), lengthLabelSql)},
       |g AS (SELECT unnest($grid::DOUBLE[]) AS t),
       |x AS (
       |  SELECT g.t, s.y,
       |         round(1.0 / (1.0 + exp(s.score * CAST(-4.0 AS DOUBLE) / g.t)), 6) AS p
       |  FROM s CROSS JOIN g),
       |c AS (
       |  SELECT t, y,
       |         least(greatest(p, CAST(0.000001 AS DOUBLE)),
       |               CAST(0.999999 AS DOUBLE)) AS pc
       |  FROM x),
       |n AS (
       |  SELECT t, count(*) AS n_docs,
       |         sum(CAST(round(CASE WHEN y = 1 THEN -ln(pc)
       |                             ELSE -ln(1 - pc) END, 6) AS DECIMAL(18,6))) AS nll
       |  FROM c GROUP BY t),
       |n2 AS (SELECT t, n_docs, CAST(nll * 1000000 AS BIGINT) AS nll_micro FROM n),
       |m AS (SELECT min(nll_micro) AS min_nll FROM n2)
       |SELECT n2.t AS temperature, CAST(n2.n_docs AS BIGINT) AS n_docs,
       |       n2.nll_micro,
       |       CAST(n2.nll_micro // n2.n_docs AS BIGINT) AS avg_nll_micro,
       |       n2.nll_micro = m.min_nll AS is_best
       |FROM n2 CROSS JOIN m ORDER BY temperature""".stripMargin
  }

  /** Threshold sweep for [[docClassifierScore]] — the precision/recall/F1
    * curve that picks the operating point a corpus gate will run at
    * (calibration says whether probabilities are honest; this says where
    * to cut). Nine thresholds 0.1..0.9; per threshold: predicted
    * positives, true positives against the `n_chars >= 300` label, and
    * precision / recall / F1 in integer micro-units (F1 via the dice
    * identity 2TP/(2TP+FP+FN) = 2·tp/(pred_pos+pos) — one exact integer
    * division, no float ratio composition).
    *
    * prob is compared in exact DECIMAL micro-units, so threshold
    * equality cannot straddle a double ulp across engines. Scale shape:
    * the scored scan is the classifier's map-side pass; the 9× threshold
    * explode happens AFTER per-doc aggregation (9·docs tiny rows), and
    * the final aggregate has nine keys. */
  def classifierPrCurve(spark: SparkSession, dir: String): DataFrame =
    classifierScoredPm(spark, dir)
      .withColumn("thr_micro",
        explode(array((1 to 9).map(i => lit(i * 100000L)): _*)))
      .groupBy(col("thr_micro"))
      .agg(
        sum((col("pm") >= col("thr_micro")).cast("long")).as("n_pred_pos"),
        sum(col("y")).as("n_pos"),
        sum(((col("pm") >= col("thr_micro")).cast("long") * col("y"))).as("tp"))
      .withColumn("precision_micro",
        expr("CASE WHEN n_pred_pos > 0 THEN tp * 1000000 div n_pred_pos ELSE 0 END"))
      .withColumn("recall_micro",
        expr("CASE WHEN n_pos > 0 THEN tp * 1000000 div n_pos ELSE 0 END"))
      .withColumn("f1_micro",
        expr("CASE WHEN n_pred_pos + n_pos > 0 THEN 2 * tp * 1000000 div (n_pred_pos + n_pos) ELSE 0 END"))
      .select("thr_micro", "n_pred_pos", "n_pos", "tp",
        "precision_micro", "recall_micro", "f1_micro")
      .orderBy("thr_micro")

  private val classifierPrCurveSql: String =
    s"""WITH $classifierScoredPmCtes,
       |x AS (
       |  SELECT u.thr * 100000 AS thr_micro, p.pm, p.y
       |  FROM p, LATERAL (SELECT unnest(range(1, 10)) AS thr) u),
       |g AS (
       |  SELECT thr_micro,
       |         sum(CASE WHEN pm >= thr_micro THEN 1 ELSE 0 END) AS n_pred_pos,
       |         sum(y) AS n_pos,
       |         sum(CASE WHEN pm >= thr_micro THEN y ELSE 0 END) AS tp
       |  FROM x GROUP BY thr_micro)
       |SELECT CAST(thr_micro AS BIGINT) AS thr_micro,
       |       CAST(n_pred_pos AS BIGINT) AS n_pred_pos,
       |       CAST(n_pos AS BIGINT) AS n_pos,
       |       CAST(tp AS BIGINT) AS tp,
       |       CAST(CASE WHEN n_pred_pos > 0 THEN tp * 1000000 // n_pred_pos ELSE 0 END AS BIGINT) AS precision_micro,
       |       CAST(CASE WHEN n_pos > 0 THEN tp * 1000000 // n_pos ELSE 0 END AS BIGINT) AS recall_micro,
       |       CAST(CASE WHEN n_pred_pos + n_pos > 0 THEN 2 * tp * 1000000 // (n_pred_pos + n_pos) ELSE 0 END AS BIGINT) AS f1_micro
       |FROM g ORDER BY thr_micro""".stripMargin

  /** Exact ROC-AUC of [[docClassifierScore]] via the rank-sum identity —
    * the threshold-free ranking metric completing the eval family
    * ([[classifierPrCurve]] sweeps fixed cuts, [[classifierCalibration]]
    * asks if probabilities are honest; AUC asks whether positives
    * OUTRANK negatives at all, invariant to any monotone recalibration
    * — including [[scoreTemperatureFit]]'s, which is the point of
    * quoting them together). AUC = (2R₁ − n₁(n₁+1)) / (2n₁n₀) with R₁
    * the midrank sum of positives; everything runs ×2-scaled on the
    * DISTINCT-score group frame, so midrank halves never materialize
    * and ties are handled exactly — no float compare anywhere. Gini
    * (2·AUC − 1) rides along.
    *
    * Scale shape: one doc-keyed scoring aggregate, a distinct-score
    * collapse, then GlobalWindow's two-phase running sum over the score
    * groups (no single-task sort) and a one-row reduction. */
  def classifierAuc(spark: SparkSession, dir: String): DataFrame = {
    val scored = classifierScoredPm(spark, dir)
    val grp = scored.groupBy(col("pm"))
      .agg(count(lit(1)).as("cnt"), sum(col("y")).as("pos"))
    GlobalWindow.runningSum(grp, col("cnt"), "cum")(col("pm"))
      .withColumn("cum_before", col("cum") - col("cnt"))
      .agg(
        sum(col("pos")).as("n_pos"),
        sum(col("cnt")).as("n_total"),
        sum(col("pos") * (lit(2L) * col("cum_before") + col("cnt") + 1))
          .as("r1x2"))
      .withColumn("n_neg", col("n_total") - col("n_pos"))
      .withColumn("u1x2", col("r1x2") - col("n_pos") * (col("n_pos") + 1))
      .withColumn("auc_ppm",
        expr("CAST(u1x2 AS DECIMAL(38,0)) * 1000000" +
          " div (2 * CAST(n_pos AS DECIMAL(38,0)) * n_neg)"))
      .select(col("n_pos"), col("n_neg"), col("auc_ppm"),
        (col("auc_ppm") * 2 - 1000000L).as("gini_ppm"))
  }

  private val classifierAucSql: String =
    s"""WITH $classifierScoredPmCtes,
       |g AS (SELECT pm, count(*) AS cnt, sum(y) AS pos FROM p GROUP BY pm),
       |c AS (
       |  SELECT pos, cnt,
       |         sum(cnt) OVER (ORDER BY pm
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM g),
       |a AS (
       |  SELECT sum(pos) AS n_pos, sum(cnt) AS n_total,
       |         sum(pos * (2 * (cum - cnt) + cnt + 1)) AS r1x2
       |  FROM c),
       |b AS (
       |  SELECT n_pos, n_total - n_pos AS n_neg,
       |         r1x2 - n_pos * (n_pos + 1) AS u1x2
       |  FROM a)
       |SELECT CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg,
       |       CAST(CAST(u1x2 AS HUGEINT) * 1000000
       |            // (2 * CAST(n_pos AS HUGEINT) * n_neg) AS BIGINT) AS auc_ppm,
       |       CAST(CAST(u1x2 AS HUGEINT) * 1000000
       |            // (2 * CAST(n_pos AS HUGEINT) * n_neg) * 2 - 1000000 AS BIGINT)
       |         AS gini_ppm
       |FROM b""".stripMargin

  /** Decile gains/lift table of [[classifierScoredPm]] — the campaign-
    * targeting view of ranking quality that completes the eval family:
    * AUC summarizes the whole ranking in one number, the PR curve sweeps
    * score thresholds, but the operational question is "if I can only
    * act on the top 10/20/30% of docs, what fraction of positives do I
    * capture and at what concentration vs. random" — per score-descending
    * decile: size, positives, decile lift, cumulative gain and
    * cumulative lift (lift₁ > 1 and a concave gain curve = the ranking
    * works; decile 10's lift < 1 is the rejection region).
    *
    * Scale shape: one doc-keyed scoring aggregate, then the global
    * decile assignment through [[GlobalWindow.ntile]]'s two-phase range
    * numbering (never a single-task sort of the corpus); everything
    * after is a 10-row frame. Exactness: lifts and gains are
    * cross-multiplied truncating integer divisions over exact counts —
    * no rate is ever a float. Tiebreak (pm desc, doc_id) pins identical
    * decile boundaries on both engines. */
  def classifierLiftTable(spark: SparkSession, dir: String): DataFrame = {
    val dec = GlobalWindow.ntile(classifierScoredPm(spark, dir), 10, "decile")(
        col("pm").desc, col("doc_id"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"))
    val wCum = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
    dec
      .withColumn("cum_n", sum(col("n")).over(wCum))
      .withColumn("cum_pos", sum(col("n_pos")).over(wCum))
      .withColumn("n_total", sum(col("n")).over(wAll))
      .withColumn("pos_total", sum(col("n_pos")).over(wAll))
      .select(col("decile"), col("n"), col("n_pos"),
        expr("CAST(n_pos AS DECIMAL(38,0)) * n_total * 1000000" +
          " div (CAST(n AS DECIMAL(38,0)) * pos_total)").as("lift_ppm"),
        expr("CAST(cum_pos AS DECIMAL(38,0)) * 1000000" +
          " div CAST(pos_total AS DECIMAL(38,0))").as("cum_gain_ppm"),
        expr("CAST(cum_pos AS DECIMAL(38,0)) * n_total * 1000000" +
          " div (CAST(cum_n AS DECIMAL(38,0)) * pos_total)").as("cum_lift_ppm"))
      .orderBy("decile")
  }

  private val classifierLiftTableSql: String =
    s"""WITH $classifierScoredPmCtes,
       |d AS (SELECT y, ntile(10) OVER (ORDER BY pm DESC, doc_id) AS decile FROM p),
       |g AS (SELECT decile, count(*) AS n, sum(y) AS n_pos FROM d GROUP BY decile),
       |c AS (
       |  SELECT decile, n, n_pos,
       |         sum(n) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS cum_n,
       |         sum(n_pos) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS cum_pos,
       |         sum(n) OVER () AS n_total,
       |         sum(n_pos) OVER () AS pos_total
       |  FROM g)
       |SELECT CAST(decile AS INT) AS decile,
       |       CAST(n AS BIGINT) AS n, CAST(n_pos AS BIGINT) AS n_pos,
       |       CAST(CAST(n_pos AS HUGEINT) * n_total * 1000000
       |            // (CAST(n AS HUGEINT) * pos_total) AS BIGINT) AS lift_ppm,
       |       CAST(CAST(cum_pos AS HUGEINT) * 1000000 // pos_total AS BIGINT) AS cum_gain_ppm,
       |       CAST(CAST(cum_pos AS HUGEINT) * n_total * 1000000
       |            // (CAST(cum_n AS HUGEINT) * pos_total) AS BIGINT) AS cum_lift_ppm
       |FROM c ORDER BY decile""".stripMargin

  /** Isotonic (PAV) recalibration of [[classifierCalibration]]'s
    * reliability bins — the step a miscalibrated-but-monotone classifier
    * gets before its probabilities are trusted: the weighted isotonic
    * regression of observed accuracy on confidence bin, computed through
    * the minimax identity iso(k) = max_{i≤k} min_{j≥k} rate(i..j)
    * (pool-adjacent-violators' closed form), which turns the seemingly
    * sequential PAV loop into three joins over the TEN-row bin frame —
    * no iteration, no UDF, and the corpus is scanned exactly once (the
    * classifier pass); everything downstream is constant-sized (≤ 10³
    * interval triples). A bin whose iso_micro differs from raw_micro was
    * pooled with a neighbor — the calibration map to apply at inference.
    *
    * Interval rates divide exact integer sums in IEEE double (identical
    * operands both engines → identical ordering under min/max); the
    * emitted fit goes through floor micro fixed-point. */
  def calibrationIsotonic(spark: SparkSession, dir: String): DataFrame = {
    val bins = classifierScores(spark, dir, Seq("doc_id", "n_chars"), lengthLabel)
      .withColumn("prob", sigmoid(col("score")))
      .withColumn("bin", least(floor(col("prob") * 10), lit(9.0)).cast("long"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("y")).as("n_pos"))
      .materializeOnce // four legs of the PAV minimax over the 10-row frame
    val m = bins.select(col("bin").as("mb"), col("n_docs").as("md"), col("n_pos").as("mp"))
    val intervals = bins.select(col("bin").as("i"))
      .crossJoin(broadcast(bins.select(col("bin").as("j"))))
      .filter(col("i") <= col("j"))
      .join(broadcast(m), col("mb") >= col("i") && col("mb") <= col("j"))
      .groupBy(col("i"), col("j"))
      .agg(sum(col("mp")).as("ip"), sum(col("md")).as("id_"))
      .withColumn("iavg", col("ip").cast("double") / col("id_"))
    val iso = intervals
      .join(broadcast(bins.select(col("bin").as("k"))),
        col("i") <= col("k") && col("j") >= col("k"))
      .groupBy(col("k"), col("i")).agg(min(col("iavg")).as("mn"))
      .groupBy(col("k")).agg(max(col("mn")).as("iso"))
    bins.join(iso, col("bin") === col("k"))
      .select(col("bin"), col("n_docs"), col("n_pos"),
        expr("n_pos * 1000000 div n_docs").as("raw_micro"),
        floor(col("iso") * 1e6).cast("long").as("iso_micro"))
      .withColumn("pooled", col("raw_micro") =!= col("iso_micro"))
      .orderBy("bin")
  }

  private val calibrationIsotonicSql: String =
    s"""WITH ${classifierScoresCtes(Seq("doc_id", "n_chars"), lengthLabelSql)},
       |bins AS (
       |  SELECT CAST(least(floor($sigmoidSql * 10), 9) AS BIGINT) AS bin,
       |         count(*) AS n_docs, CAST(sum(y) AS BIGINT) AS n_pos
       |  FROM s GROUP BY 1),
       |intervals AS (
       |  SELECT a.bin AS i, b.bin AS j,
       |         CAST(sum(m.n_pos) AS DOUBLE) / sum(m.n_docs) AS iavg
       |  FROM bins a JOIN bins b ON b.bin >= a.bin
       |  JOIN bins m ON m.bin >= a.bin AND m.bin <= b.bin
       |  GROUP BY 1, 2),
       |iso AS (
       |  SELECT k, max(mn) AS iso FROM (
       |    SELECT kb.bin AS k, iv.i, min(iv.iavg) AS mn
       |    FROM intervals iv JOIN bins kb ON iv.i <= kb.bin AND iv.j >= kb.bin
       |    GROUP BY 1, 2)
       |  GROUP BY k)
       |SELECT b.bin, b.n_docs, b.n_pos,
       |       CAST(b.n_pos * 1000000 // b.n_docs AS BIGINT) AS raw_micro,
       |       CAST(floor(iso.iso * 1e6) AS BIGINT) AS iso_micro,
       |       b.n_pos * 1000000 // b.n_docs <> CAST(floor(iso.iso * 1e6) AS BIGINT) AS pooled
       |FROM bins b JOIN iso ON iso.k = b.bin
       |ORDER BY b.bin""".stripMargin

  /** Split-conformal prediction thresholds per source (Mondrian
    * conformal) — the distribution-free guarantee layer over the
    * [[classifierCalibration]] family: on a held-out calibration half
    * (even doc_id), the per-source nonconformity quantile q̂ at the
    * ⌈(n+1)(1−α)⌉-th smallest score (α = 0.1) such that predicting
    * {labels with nonconformity ≤ q̂} covers the true label with
    * probability ≥ 90% on exchangeable data — NO calibration of the
    * classifier required, which is why production filters wrap their
    * quality scorers in exactly this. The odd-doc_id half then audits
    * the claim: empirical coverage in ppm beside the guarantee.
    *
    * The rank-(k) order statistic never sorts docs: nonconformity is an
    * integer micro-unit, so q̂ = min{s : cum(s) ≥ k} off the per-source
    * VALUE HISTOGRAM (the sourceLengthKs trick applied to quantiles) —
    * one corpus scan to doc scores, histogram-sized everything after.
    * A source whose calibration half is smaller than k (n_cal < 9 at
    * α = 0.1) has no finite quantile — q̂ = 10⁶ (predict everything),
    * exactly the math's answer, not a silent drop. The cal/test split is
    * HASH-based, not doc_id-parity: a round-robin id scheme makes parity
    * a function of source, which silently puts whole sources on one side
    * of the split. */
  def scoreConformalThreshold(spark: SparkSession, dir: String): DataFrame = {
    val scored = classifierScores(spark, dir, Seq("doc_id", "source", "n_chars"), lengthLabel)
      .withColumn("pm", floor(sigmoid(col("score")) * 1e6).cast("long"))
      .withColumn("s_micro",
        when(col("y") === 1L, lit(1000000L) - col("pm")).otherwise(col("pm")))
      // the split MUST be hash-based: doc_id parity is confounded with
      // source in any id scheme that deals ids round-robin by source
      .withColumn("is_cal",
        pmod(graft.operators.DedupOps.h60(concat(lit("cal:"), col("doc_id").cast("string"))),
          lit(2L)) === 0)
      .materializeOnce // feeds the calibration histogram AND the test audit
    val calTot = scored.filter(col("is_cal")).groupBy(col("source"))
      .agg(count(lit(1)).as("n_cal"))
      .withColumn("k_rank", expr("((n_cal + 1) * 9 + 9) div 10"))
    val w = Window.partitionBy(col("source")).orderBy(col("s_micro"))
    val qhat = scored.filter(col("is_cal"))
      .groupBy(col("source"), col("s_micro")).agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(w))
      .join(broadcast(calTot), Seq("source"))
      .filter(col("cum") >= col("k_rank"))
      .groupBy(col("source")).agg(min(col("s_micro")).as("q_micro"))
    val thr = calTot.join(broadcast(qhat), Seq("source"), "left")
      .withColumn("q_micro", coalesce(col("q_micro"), lit(1000000L)))
    scored.filter(!col("is_cal"))
      .join(broadcast(thr), Seq("source"))
      .groupBy(col("source"), col("n_cal"), col("k_rank"), col("q_micro"))
      .agg(count(lit(1)).as("n_test"),
        sum((col("s_micro") <= col("q_micro")).cast("long")).as("n_covered"))
      .withColumn("coverage_ppm", expr("n_covered * 1000000 div n_test"))
      .orderBy("source")
  }

  private val scoreConformalThresholdSql: String =
    s"""WITH ${classifierScoresCtes(Seq("doc_id", "source", "n_chars"), lengthLabelSql)},
       |sc AS (
       |  SELECT doc_id, source, y,
       |         CAST(floor($sigmoidSql * 1e6) AS BIGINT) AS pm
       |  FROM s),
       |nc AS (
       |  SELECT doc_id, source,
       |         CASE WHEN y = 1 THEN 1000000 - pm ELSE pm END AS s_micro,
       |         CAST('0x' || substring(md5('cal:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 2 = 0 AS is_cal
       |  FROM sc),
       |ct AS (
       |  SELECT source, count(*) AS n_cal,
       |         ((count(*) + 1) * 9 + 9) // 10 AS k_rank
       |  FROM nc WHERE is_cal GROUP BY source),
       |h AS (
       |  SELECT source, s_micro, count(*) AS c
       |  FROM nc WHERE is_cal GROUP BY 1, 2),
       |cum AS (
       |  SELECT source, s_micro,
       |         sum(c) OVER (PARTITION BY source ORDER BY s_micro) AS cum
       |  FROM h),
       |q AS (
       |  SELECT cum.source, min(cum.s_micro) AS q_micro
       |  FROM cum JOIN ct ON ct.source = cum.source
       |  WHERE cum.cum >= ct.k_rank GROUP BY 1),
       |thr AS (
       |  SELECT ct.source, ct.n_cal, ct.k_rank,
       |         coalesce(q.q_micro, 1000000) AS q_micro
       |  FROM ct LEFT JOIN q ON q.source = ct.source)
       |SELECT nc.source, CAST(thr.n_cal AS BIGINT) AS n_cal,
       |       CAST(thr.k_rank AS BIGINT) AS k_rank,
       |       CAST(thr.q_micro AS BIGINT) AS q_micro,
       |       count(*) AS n_test,
       |       CAST(sum(CASE WHEN nc.s_micro <= thr.q_micro THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
       |       CAST(sum(CASE WHEN nc.s_micro <= thr.q_micro THEN 1 ELSE 0 END) * 1000000
       |            // count(*) AS BIGINT) AS coverage_ppm
       |FROM nc JOIN thr ON thr.source = nc.source
       |WHERE NOT nc.is_cal
       |GROUP BY 1, 2, 3, 4
       |ORDER BY nc.source""".stripMargin

  /** Murphy decomposition of the Brier score — the one-row scorecard over
    * the same classifier the calibration family audits bin-by-bin:
    * BRIER (mean squared error of the probability) split into
    * RELIABILITY (calibration error — what [[calibrationIsotonic]]
    * repairs), RESOLUTION (how much the bins separate outcomes — what no
    * recalibration can add) and UNCERTAINTY (the outcome's own variance —
    * the floor no classifier beats). REL − RES + UNC reconstructs the
    * binned Brier, so the three numbers say WHY the score is what it is.
    *
    * Everything is integer micro² fixed-point: probabilities enter as
    * floored micro ints, per-row squared errors and all three components
    * accumulate in DECIMAL(38,0), per-bin means are integral divisions —
    * the only rounding is the component definitions' own floors,
    * identical in both engines. One corpus scan; the decomposition runs
    * on the 10-row bin frame. */
  def brierDecomposition(spark: SparkSession, dir: String): DataFrame = {
    val scored = classifierScores(spark, dir, Seq("doc_id", "n_chars"), lengthLabel)
      .withColumn("pm", floor(sigmoid(col("score")) * 1e6).cast("long"))
      .withColumn("bin", least(expr("pm div 100000"), lit(9L)))
      .materializeOnce // feeds the global moments AND the bin frame
    val glob = scored.agg(
      count(lit(1)).as("n_docs"), sum(col("y")).as("n_pos"),
      sum(((col("pm") - col("y") * 1000000) * (col("pm") - col("y") * 1000000))
        .cast("decimal(38,0)")).as("sq"))
      .withColumn("o_bar", expr("n_pos * 1000000 div n_docs"))
    val bins = scored.groupBy(col("bin"))
      .agg(count(lit(1)).as("n_k"), sum(col("pm")).as("sum_pm"), sum(col("y")).as("sum_y"))
      .withColumn("pbar", expr("sum_pm div n_k"))
      .withColumn("obar_k", expr("sum_y * 1000000 div n_k"))
    bins.crossJoin(broadcast(glob))
      .groupBy(col("n_docs"), col("o_bar"), col("sq"))
      .agg(
        // n_k casts to DECIMAL BEFORE the squared-diff product: n_k·10¹²
        // outgrows a BIGINT past ~9M docs per bin (the MWU-cube lesson)
        sum(col("n_k").cast("decimal(38,0)")
          * (col("pbar") - col("obar_k")) * (col("pbar") - col("obar_k")))
          .cast("decimal(38,0)").as("rel_num"),
        sum(col("n_k").cast("decimal(38,0)")
          * (col("obar_k") - col("o_bar")) * (col("obar_k") - col("o_bar")))
          .cast("decimal(38,0)").as("res_num"))
      .select(col("n_docs"), col("o_bar").as("o_bar_micro"),
        expr("sq div n_docs").cast("long").as("brier_micro2"),
        expr("rel_num div n_docs").cast("long").as("rel_micro2"),
        expr("res_num div n_docs").cast("long").as("res_micro2"),
        expr("o_bar * (1000000 - o_bar)").as("unc_micro2"))
  }

  private val brierDecompositionSql: String =
    s"""WITH ${classifierScoresCtes(Seq("doc_id", "n_chars"), lengthLabelSql)},
       |sc AS (
       |  SELECT doc_id, y,
       |         CAST(floor($sigmoidSql * 1e6) AS BIGINT) AS pm
       |  FROM s),
       |g AS (
       |  SELECT count(*) AS n_docs, sum(y) AS n_pos,
       |         sum(CAST((pm - y * 1000000) * (pm - y * 1000000) AS HUGEINT)) AS sq,
       |         sum(y) * 1000000 // count(*) AS o_bar
       |  FROM sc),
       |b AS (
       |  SELECT least(pm // 100000, 9) AS bin, count(*) AS n_k,
       |         sum(pm) // count(*) AS pbar,
       |         sum(y) * 1000000 // count(*) AS obar_k
       |  FROM sc GROUP BY 1)
       |SELECT g.n_docs,
       |       CAST(g.o_bar AS BIGINT) AS o_bar_micro,
       |       CAST(g.sq // g.n_docs AS BIGINT) AS brier_micro2,
       |       CAST(sum(CAST(b.n_k AS HUGEINT) * (b.pbar - b.obar_k) * (b.pbar - b.obar_k))
       |            // g.n_docs AS BIGINT) AS rel_micro2,
       |       CAST(sum(CAST(b.n_k AS HUGEINT) * (b.obar_k - g.o_bar) * (b.obar_k - g.o_bar))
       |            // g.n_docs AS BIGINT) AS res_micro2,
       |       CAST(g.o_bar * (1000000 - g.o_bar) AS BIGINT) AS unc_micro2
       |FROM b CROSS JOIN g
       |GROUP BY g.n_docs, g.o_bar, g.sq""".stripMargin

  /** Good–Turing count-of-counts spectrum over trigram-shingle DOCUMENT
    * frequency — the table (r → how many distinct shingles appear in
    * exactly r documents) that tunes every fingerprint-dedup knob in this
    * repo: N₁ is the truly-novel shingle mass (the denominator of any
    * novelty score), the head's decay rate decides the df-cap for the
    * prefix/containment joins, and r* = (r+1)·N_{r+1}/N_r is the
    * Good–Turing adjusted count a smoothed novelty estimate substitutes
    * for small r. Emitted for r ≤ 20 — the informative head (unigram
    * counts are useless here: this corpus' closed vocabulary pushes every
    * unigram far beyond it, which is itself why dedup keys on shingles).
    *
    * Scale shape: per-doc shingling is narrow map work; the only
    * data-sized shuffle is groupBy(shingle) (the same key the dedup
    * pipeline shuffles on); the spectrum aggregate collapses to
    * |distinct r| rows and the r+1 shift is a self-join on that tiny
    * frame. The adjusted count is one exact integer multiply-divide —
    * no floats anywhere. */
  def ngramCountOfCounts(spark: SparkSession, dir: String): DataFrame = {
    val spectrum = graft.operators.DedupOps.docShingles(Tables.documents(spark, dir))
      .select(explode(col("shingles")).as("s"))
      .groupBy(col("s")).agg(count(lit(1)).as("r"))
      .groupBy(col("r")).agg(count(lit(1)).as("n_types"))
      .materializeOnce // both legs of the r+1 shift join
    val nxt = spectrum.select((col("r") - 1).as("r"), col("n_types").as("nt_next"))
    spectrum.join(nxt, Seq("r"), "left")
      .filter(col("r") <= 20)
      .select(col("r"), col("n_types"),
        (col("r") * col("n_types")).as("n_occurrences_at_r"),
        expr("CASE WHEN nt_next IS NOT NULL THEN (r + 1) * nt_next * 1000000 div n_types END")
          .as("gt_rstar_micro"))
      .orderBy("r")
  }

  private val ngramCountOfCountsSql: String =
    s"""WITH toks AS (
      |  SELECT doc_id,
      |         $tokensSql AS toks
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |         list_distinct(
      |           CASE WHEN len(toks) >= 3
      |                THEN list_transform(range(1, CAST(len(toks) - 1 AS BIGINT)),
      |                       i -> concat_ws(' ', toks[CAST(i AS INT)], toks[CAST(i AS INT)+1], toks[CAST(i AS INT)+2]))
      |                WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')]
      |                ELSE []::VARCHAR[] END) AS shingles
      |  FROM toks),
      |e AS (SELECT unnest(shingles) AS s FROM sh),
      |c AS (SELECT s, count(*) AS r FROM e GROUP BY 1),
      |sp AS (SELECT r, count(*) AS n_types FROM c GROUP BY 1)
      |SELECT sp.r, sp.n_types, sp.r * sp.n_types AS n_occurrences_at_r,
      |       CASE WHEN s2.n_types IS NOT NULL
      |            THEN (sp.r + 1) * s2.n_types * 1000000 // sp.n_types END AS gt_rstar_micro
      |FROM sp LEFT JOIN sp s2 ON s2.r = sp.r + 1
      |WHERE sp.r <= 20
      |ORDER BY sp.r""".stripMargin

  // ---- Count-Min sketch ---------------------------------------------------

  /** Count-Min sketch frequency estimation over corpus tokens, with the
    * exact counts alongside so the sketch's one-sided error is an ORACLED
    * observable. Companion to `token_heavy_hitters_cms` (PipelineQueries),
    * which exercises Spark's NATIVE count_min_sketch aggregate and is
    * oracled only by its eps BOUND: this entry is the engine-neutral twin
    * whose every cell and estimate is value-oracled in DuckDB. The 100 TB rationale: a d×w = 4×1024 integer grid is the
    * fixed-size state a streaming heavy-hitter monitor carries per
    * executor (map-side combinable, mergeable across partitions by cell
    * addition), where exact token counting shuffles the whole vocabulary.
    * The sketch is built from the per-token count frame — one corpus
    * explode + vocab-sized work, never a per-occurrence × per-row fanout
    * — which yields cell counts identical to per-occurrence insertion
    * (sketch[k][c] = Σ counts of tokens hashing to c).
    *
    * Hash family: the corpus-wide seeded universal family
    * (DedupOps.seeds, h_k(x) = (a_k·h31 + b_k) mod P, P = 2³¹−1) over
    * the md5-derived base hash, identical literals in the DuckDB mirror,
    * so every sketch cell — not just the final estimates — is
    * cross-engine deterministic. Output: the 20 most frequent tokens
    * (count-desc, token-asc tiebreak), exact count, CMS estimate
    * (min over the 4 rows), and the overestimate, which CMS guarantees
    * is >= 0 — all BIGINT integer arithmetic. */
  def tokenCmsFreqEst(spark: SparkSession, dir: String): DataFrame = {
    val documents = Tables.documents(spark, dir)
    val d = 4
    val w = 1024L
    val cnt = documents
      .select(explode(tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("exact_cnt"))
      .materializeOnce // feeds the sketch build AND the top-20 ranking
    val seedRows = array(DedupOps.seeds.take(d).map { case (k, a, b) =>
      struct(lit(k).as("k"), lit(a).as("a"), lit(b).as("b"))
    }: _*)
    def cells(df: DataFrame): DataFrame = df
      .withColumn("h31", pmod(DedupOps.h60(col("tok")), lit(DedupOps.P)))
      .withColumn("s", explode(seedRows))
      .select((df.columns.map(col) :+ col("s.k").as("k") :+
        pmod(pmod(col("s.a") * col("h31") + col("s.b"), lit(DedupOps.P)),
          lit(w)).as("cell")).toIndexedSeq: _*)
    val sketch = cells(cnt).groupBy("k", "cell")
      .agg(sum("exact_cnt").as("cnt"))
    val top = cnt.orderBy(col("exact_cnt").desc, col("tok")).limit(20)
    cells(top)
      .join(sketch, Seq("k", "cell"))
      .groupBy("tok", "exact_cnt").agg(min("cnt").as("est_cnt"))
      .select(col("tok"), col("exact_cnt"), col("est_cnt"),
        (col("est_cnt") - col("exact_cnt")).as("overest"))
      .orderBy(col("exact_cnt").desc, col("tok"))
  }

  private val tokenCmsFreqEstSql: String = {
    val seedVals = DedupOps.seeds.take(4)
      .map { case (k, a, b) => s"($k, $a, $b)" }.mkString(", ")
    val P = DedupOps.P
    s"""WITH t AS (
       |  SELECT $tokensSql AS toks
       |  FROM documents),
       |tok AS (SELECT unnest(toks) AS tok FROM t),
       |cnt AS (SELECT tok, count(*) AS exact_cnt FROM tok GROUP BY tok),
       |seeds(k, a, b) AS (VALUES $seedVals),
       |h AS (
       |  SELECT tok, exact_cnt,
       |         CAST('0x' || substring(md5(tok), 1, 15) AS BIGINT) % $P AS h31
       |  FROM cnt),
       |cells AS (
       |  SELECT h.tok, h.exact_cnt, s.k,
       |         ((s.a * h.h31 + s.b) % $P) % 1024 AS cell
       |  FROM h CROSS JOIN seeds s),
       |sk AS (
       |  SELECT k, cell, CAST(sum(exact_cnt) AS BIGINT) AS cnt
       |  FROM cells GROUP BY k, cell),
       |top AS (SELECT tok, exact_cnt FROM cnt
       |        ORDER BY exact_cnt DESC, tok LIMIT 20),
       |est AS (
       |  SELECT c.tok, c.exact_cnt, min(sk.cnt) AS est_cnt
       |  FROM cells c
       |  JOIN top USING (tok)
       |  JOIN sk ON sk.k = c.k AND sk.cell = c.cell
       |  GROUP BY c.tok, c.exact_cnt)
       |SELECT tok, exact_cnt, est_cnt, est_cnt - exact_cnt AS overest
       |FROM est ORDER BY exact_cnt DESC, tok""".stripMargin
  }

  /** Interpolated Kneser–Ney smoothed bigram probabilities for the top
    * frequent bigrams — the n-gram smoothing that actually ships in LM
    * toolkits (where [[bigramLmTop]]'s raw MLE assigns zero to every
    * unseen pair): P_KN(w₂|w₁) = (c(w₁w₂) − D)/c(w₁·) + D·N₁₊(w₁·)/c(w₁·)
    * · N₁₊(·w₂)/N₁₊(··), with the textbook discount D = 0.75 (exact in
    * binary, so no constant drift). The continuation count N₁₊(·w₂) —
    * "how many contexts has w₂ followed" — is the whole point: it ranks
    * 'francisco' (frequent but one-context) below a promiscuous token of
    * the same frequency.
    *
    * Scale shape: ONE bigram explode → one partial-agg shuffle; head
    * counts and both continuation counts are windows/aggregates over the
    * already-collapsed bigram-TYPE frame (vocab², saturating — never
    * corpus-sized); the single global type-total broadcasts back. The
    * probability is one fixed double expression over exact integer
    * counts, floor-fixed to 6 dp. */
  def bigramKneserNey(spark: SparkSession, dir: String): DataFrame = {
    import QueryConventions.MaterializeSyntax
    val toks = col("toks")
    val b = Tables.documents(spark, dir)
      .select(tokens(col("text")).as("toks"))
      .select(explode(zip_with(
        slice(toks, lit(1), greatest(size(toks) - 1, lit(0))),
        slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
        (a, bb) => struct(a.as("w1"), bb.as("w2")))).as("bg"))
      .groupBy(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .agg(count(lit(1)).as("c12"))
      .materializeOnce // head window + tail window + the type total
    val byHead = Window.partitionBy(col("w1"))
    val byTail = Window.partitionBy(col("w2"))
    val totalTypes = b.agg(count(lit(1)).as("n_bigram_types"))
    val scored = b
      .withColumn("c1", sum(col("c12")).over(byHead))
      .withColumn("n1f", count(lit(1)).over(byHead))
      .withColumn("n1r", count(lit(1)).over(byTail))
      .crossJoin(broadcast(totalTypes))
      .withColumn("p_kn",
        floor(((col("c12") - lit(0.75)) / col("c1")
          + lit(0.75) * col("n1f") / col("c1")
            * (col("n1r") / col("n_bigram_types"))) * 1e6) / 1e6)
    scored.filter(col("c12") >= 5)
      .select("w1", "w2", "c12", "c1", "n1f", "n1r", "p_kn")
      .orderBy(col("p_kn").desc, col("w1"), col("w2"))
      .limit(20)
  }

  private val bigramKneserNeySql: String =
    s"""WITH t AS (
      |  SELECT $tokensSql AS toks
      |  FROM documents),
      |e AS (
      |  SELECT toks[CAST(i AS INT)] AS w1, toks[CAST(i AS INT) + 1] AS w2
      |  FROM t, LATERAL (SELECT unnest(range(1, CAST(len(toks) AS BIGINT))) AS i) u),
      |b AS (SELECT w1, w2, count(*) AS c12 FROM e GROUP BY w1, w2),
      |tot AS (SELECT count(*) AS n_bigram_types FROM b),
      |s AS (
      |  SELECT w1, w2, c12,
      |         sum(c12) OVER (PARTITION BY w1) AS c1,
      |         count(*) OVER (PARTITION BY w1) AS n1f,
      |         count(*) OVER (PARTITION BY w2) AS n1r
      |  FROM b)
      |SELECT w1, w2, CAST(c12 AS BIGINT) AS c12, CAST(c1 AS BIGINT) AS c1,
      |       CAST(n1f AS BIGINT) AS n1f, CAST(n1r AS BIGINT) AS n1r,
      |       floor(((c12 - 0.75) / c1
      |              + 0.75 * n1f / c1 * (n1r / CAST(tot.n_bigram_types AS DOUBLE)))
      |             * 1e6) / 1e6 AS p_kn
      |FROM s, tot
      |WHERE c12 >= 5
      |ORDER BY p_kn DESC, w1, w2
      |LIMIT 20""".stripMargin

  /** Held-out perplexity under the Kneser–Ney bigram LM — the metric the
    * [[bigramKneserNey]] table exists to serve: the LM is fit on the EVEN
    * doc_ids and every ODD doc is scored against it, so the number is a
    * genuine out-of-sample fit (the quality signal perplexity-filtering
    * pipelines threshold on; [[docLmScore]] scores with a self-fit
    * unigram model — this is the bigram, train/test-split upgrade).
    *
    * Probability for a held-out bigram (w₁,w₂), D = 0.75:
    * pair seen     → (c₁₂−D)/c₁ + D·N₁₊(w₁·)/c₁ · pc(w₂)
    * head-only     → D·N₁₊(w₁·)/c₁ · pc(w₂)           (the λ backoff)
    * head unseen   → pc(w₂)
    * with the add-one continuation pc(w₂) = (N₁₊(·w₂)+1)/(N₁₊(··)+V₂+1),
    * which keeps every branch strictly positive (an unseen-everything
    * bigram costs ln(N+V₂+1) nats) — the deterministic OOV floor this
    * engine uses in place of a tuned backoff vocabulary. Per-token costs
    * are rounded to integer MICRO-NATS and summed as longs — exact and
    * partition-order-independent; only the final exp is floating.
    *
    * Scale shape: the LM frames are bigram-TYPE sized (vocab²-saturating,
    * never corpus-sized); scoring is three hash equi-joins from the
    * held-out bigram stream onto those frames plus one broadcast
    * one-row total, then a doc-keyed aggregate. */
  def docKnPerplexity(spark: SparkSession, dir: String): DataFrame = {
    import QueryConventions.MaterializeSyntax
    val toks = col("toks")
    def bigrams(df: DataFrame): DataFrame = df
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(zip_with(
        slice(toks, lit(1), greatest(size(toks) - 1, lit(0))),
        slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
        (a, bb) => struct(a.as("w1"), bb.as("w2")))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val docs = Tables.documents(spark, dir)
    val b = bigrams(docs.filter(col("doc_id") % 2 === 0))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      .materializeOnce // pair join + head agg + tail agg + totals
    val h = b.groupBy(col("w1"))
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1f"))
    val t = b.groupBy(col("w2")).agg(count(lit(1)).as("n1r"))
    val totals = b.agg(count(lit(1)).as("n_types"),
      countDistinct(col("w2")).as("v2"))
    val pc = (coalesce(col("n1r"), lit(0L)) + lit(1L)).cast("double") /
      (col("n_types") + col("v2") + lit(1L)).cast("double")
    val lambda = lit(0.75) * col("n1f").cast("double") /
      col("c1").cast("double") * col("p_cont")
    val scored = bigrams(docs.filter(col("doc_id") % 2 === 1))
      .join(b, Seq("w1", "w2"), "left")
      .join(h, Seq("w1"), "left")
      .join(t, Seq("w2"), "left")
      .crossJoin(broadcast(totals))
      .withColumn("p_cont", pc)
      .withColumn("p",
        when(col("c12").isNotNull,
          (col("c12").cast("double") - 0.75) / col("c1").cast("double") + lambda)
          .when(col("c1").isNotNull, lambda)
          .otherwise(col("p_cont")))
      .withColumn("nats_micro", round(-log(col("p")) * 1e6, 0).cast("long"))
    scored.groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_bg"),
        sum(when(col("c12").isNull, 1L).otherwise(0L)).as("n_unseen_pair"),
        sum(when(col("c1").isNull, 1L).otherwise(0L)).as("n_unseen_head"),
        sum(col("nats_micro")).as("nll_micro"))
      .withColumn("avg_nll_micro", expr("nll_micro div n_bg"))
      .withColumn("ppl",
        round(exp(col("avg_nll_micro").cast("double") / 1e6), 6))
      .select("doc_id", "n_bg", "n_unseen_pair", "n_unseen_head",
        "nll_micro", "avg_nll_micro", "ppl")
      .orderBy("doc_id")
  }

  private val docKnPerplexitySql: String =
    s"""WITH tr AS (
      |  SELECT doc_id,
      |         $tokensSql AS toks
      |  FROM documents),
      |etr AS (
      |  SELECT toks[CAST(i AS INT)] AS w1, toks[CAST(i AS INT) + 1] AS w2
      |  FROM tr, LATERAL (SELECT unnest(range(1, CAST(len(toks) AS BIGINT))) AS i) u
      |  WHERE doc_id % 2 = 0),
      |b AS (SELECT w1, w2, count(*) AS c12 FROM etr GROUP BY w1, w2),
      |h AS (SELECT w1, sum(c12) AS c1, count(*) AS n1f FROM b GROUP BY w1),
      |t2 AS (SELECT w2, count(*) AS n1r FROM b GROUP BY w2),
      |tot AS (SELECT count(*) AS n_types, count(DISTINCT w2) AS v2 FROM b),
      |ho AS (
      |  SELECT doc_id, toks[CAST(i AS INT)] AS w1, toks[CAST(i AS INT) + 1] AS w2
      |  FROM tr, LATERAL (SELECT unnest(range(1, CAST(len(toks) AS BIGINT))) AS i) u
      |  WHERE doc_id % 2 = 1),
      |s AS (
      |  SELECT ho.doc_id, b.c12, h.c1, h.n1f,
      |         CAST(COALESCE(t2.n1r, 0) + 1 AS DOUBLE)
      |           / CAST(tot.n_types + tot.v2 + 1 AS DOUBLE) AS p_cont
      |  FROM ho
      |  LEFT JOIN b  ON b.w1 = ho.w1 AND b.w2 = ho.w2
      |  LEFT JOIN h  ON h.w1 = ho.w1
      |  LEFT JOIN t2 ON t2.w2 = ho.w2
      |  CROSS JOIN tot),
      |p AS (
      |  SELECT doc_id, c12, c1,
      |         CASE WHEN c12 IS NOT NULL
      |              THEN (CAST(c12 AS DOUBLE) - 0.75) / CAST(c1 AS DOUBLE)
      |                   + 0.75 * CAST(n1f AS DOUBLE) / CAST(c1 AS DOUBLE) * p_cont
      |              WHEN c1 IS NOT NULL
      |              THEN 0.75 * CAST(n1f AS DOUBLE) / CAST(c1 AS DOUBLE) * p_cont
      |              ELSE p_cont END AS p
      |  FROM s),
      |g AS (
      |  SELECT doc_id, count(*) AS n_bg,
      |         sum(CASE WHEN c12 IS NULL THEN 1 ELSE 0 END) AS n_unseen_pair,
      |         sum(CASE WHEN c1 IS NULL THEN 1 ELSE 0 END) AS n_unseen_head,
      |         sum(CAST(round(-ln(p) * 1e6, 0) AS BIGINT)) AS nll_micro
      |  FROM p GROUP BY doc_id)
      |SELECT doc_id, CAST(n_bg AS BIGINT) AS n_bg,
      |       CAST(n_unseen_pair AS BIGINT) AS n_unseen_pair,
      |       CAST(n_unseen_head AS BIGINT) AS n_unseen_head,
      |       CAST(nll_micro AS BIGINT) AS nll_micro,
      |       CAST(nll_micro // n_bg AS BIGINT) AS avg_nll_micro,
      |       round(exp(CAST(nll_micro // n_bg AS DOUBLE) / 1e6), 6) AS ppl
      |FROM g ORDER BY doc_id""".stripMargin

  /** Church–Gale burstiness of the most frequent tokens: collection
    * frequency vs document frequency. A token whose cf/df ratio is high
    * CLUMPS (a few documents use it heavily — topical/markup tokens);
    * cf ≈ df means it sprinkles uniformly (function words). The classic
    * screen for "is this token content-bearing or glue" and a boilerplate
    * tell when a high-burst token is also high-df.
    *
    * Scale shape: the (token, doc) collapse is the df-standard two-level
    * aggregate (first shuffle keyed (token, doc) with map-side combine,
    * second vocab-sized); the doc total broadcasts. Ratios are truncated
    * ppm integers. */
  def tokenBurstiness(spark: SparkSession, dir: String): DataFrame = {
    val nDocs = Tables.documents(spark, dir)
      .agg(count(lit(1)).as("n_docs"))
    val perDoc = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("token"), col("doc_id"))
      .agg(count(lit(1)).as("c"))
    perDoc.groupBy(col("token"))
      .agg(sum(col("c")).as("cf"), count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .select(col("token"), col("cf"), col("df"), col("n_docs"),
        expr("cf * 1000000 div df").as("burst_ppm"),
        expr("df * 1000000 div n_docs").as("doc_rate_ppm"))
      .orderBy(col("cf").desc, col("token"))
      .limit(20)
  }

  private val tokenBurstinessSql: String =
    s"""WITH t AS (
      |  SELECT doc_id,
      |         $tokensSql AS toks
      |  FROM documents),
      |nd AS (SELECT count(*) AS n_docs FROM documents),
      |pd AS (
      |  SELECT u.token, doc_id, count(*) AS c
      |  FROM t, LATERAL (SELECT unnest(toks) AS token) u
      |  GROUP BY u.token, doc_id),
      |f AS (SELECT token, sum(c) AS cf, count(*) AS df FROM pd GROUP BY token)
      |SELECT token, CAST(cf AS BIGINT) AS cf, CAST(df AS BIGINT) AS df,
      |       CAST(nd.n_docs AS BIGINT) AS n_docs,
      |       CAST(cf * 1000000 // df AS BIGINT) AS burst_ppm,
      |       CAST(df * 1000000 // nd.n_docs AS BIGINT) AS doc_rate_ppm
      |FROM f, nd
      |ORDER BY cf DESC, token
      |LIMIT 20""".stripMargin

  /** Flesch reading-ease per document, with the standard grade buckets —
    * the readability member of the quality family ([[quality]] reads
    * surface composition; this reads SENTENCE/WORD structure, which is
    * what separates listy SEO sludge from prose at equal alphabetic
    * purity). Syllables are approximated by vowel-group runs (the
    * dictionary-free estimator every streaming readability scorer uses);
    * sentence boundaries by terminal-punctuation runs, floored at 1 so
    * unpunctuated fragments score as one sentence instead of dividing by
    * zero.
    *
    * Pure per-row map over the scan — embarrassingly parallel, no
    * shuffle at any scale. The score is one fixed double expression over
    * three exact integers, floor-fixed to 6 dp. */
  def docReadability(spark: SparkSession, dir: String): DataFrame = {
    val words = tokenCount(col("text")).cast("long")
    val sents = greatest(lit(1L),
      regexp_count(col("text"), lit("[.!?]+")).cast("long"))
    val sylls = regexp_count(lower(col("text")), lit("[aeiouy]+")).cast("long")
    val flesch = floor((lit(206.835)
      - lit(1.015) * (col("n_words").cast("double") / col("n_sents"))
      - lit(84.6) * (col("n_sylls").cast("double") / col("n_words"))) * 1e6) / 1e6
    Tables.documents(spark, dir)
      .select(col("doc_id"), words.as("n_words"), sents.as("n_sents"),
        sylls.as("n_sylls"))
      .filter(col("n_words") > 0)
      .withColumn("flesch", flesch)
      .withColumn("grade",
        when(col("flesch") >= 90, lit("easy"))
          .when(col("flesch") >= 60, lit("plain"))
          .when(col("flesch") >= 30, lit("difficult"))
          .otherwise(lit("very_difficult")))
      .orderBy("doc_id")
  }

  private val docReadabilitySql: String =
    s"""WITH base AS (
       |  SELECT doc_id,
       |         $tokenCountSql AS n_words,
       |         greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS n_sents,
       |         len(regexp_extract_all(lower(text), '[aeiouy]+')) AS n_sylls
       |  FROM documents),
       |s AS (
       |  SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
       |         CAST(n_sents AS BIGINT) AS n_sents,
       |         CAST(n_sylls AS BIGINT) AS n_sylls,
       |         floor((206.835
       |                - 1.015 * (CAST(n_words AS DOUBLE) / n_sents)
       |                - 84.6 * (CAST(n_sylls AS DOUBLE) / n_words)) * 1e6) / 1e6
       |           AS flesch
       |  FROM base WHERE n_words > 0)
       |SELECT doc_id, n_words, n_sents, n_sylls, flesch,
       |       CASE WHEN flesch >= 90 THEN 'easy'
       |            WHEN flesch >= 60 THEN 'plain'
       |            WHEN flesch >= 30 THEN 'difficult'
       |            ELSE 'very_difficult' END AS grade
       |FROM s ORDER BY doc_id""".stripMargin

  /** Lexical-diversity profile per document: type/token ratio, hapax
    * share, and Herdan's C (log-log TTR, the length-robust variant a
    * corpus curator actually thresholds on, since raw TTR collapses as
    * documents grow) — the vocabulary-side quality signal that catches
    * keyword-stuffed or template text whose [[repetition]] line-level
    * check looks clean.
    *
    * Scale shape: one explode into a (doc, token)-keyed partial-agg
    * shuffle, then a per-doc fold — output is one row per document, all
    * ratios truncated ppm integers; Herdan follows the log convention
    * (6-dp rounded lns, floor-fixed ratio). */
  def docLexicalDiversity(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum((col("c") === 1).cast("long")).as("n_hapax"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"), col("n_hapax"),
        expr("n_types * 1000000 div n_tokens").as("ttr_ppm"),
        expr("n_hapax * 1000000 div n_types").as("hapax_ppm"),
        when(col("n_tokens") > 1,
          floor(round(log(col("n_types").cast("double")), 6)
            / round(log(col("n_tokens").cast("double")), 6) * 1e6) / 1e6)
          .as("herdan_c"))
      .orderBy("doc_id")

  /** Character-level Shannon entropy per document over the alphanumeric
    * stream — the quality signal that catches what token-level rules
    * miss: keyboard mash, repeated-character padding, and base64-ish
    * blobs all have character distributions far from natural text
    * (English letters sit near 2.9 nats; a one-character doc scores 0).
    * Emits H in nats (H = ln n − Σc·ln c / n, the [[eventMarkovEntropy]]
    * decimal discipline), the dominant-character share as a second
    * degenerate-text signal, and a `low_entropy` flag at H < 2.0 nats.
    * Documents with no [a-z0-9] characters have no distribution to score
    * and are absent, identically in both dialects.
    *
    * Scale shape: explode → two grouped aggregates, all keyed by doc —
    * the same one-pass map/aggregate shape as every per-doc quality
    * scorer; per-doc state is the ≤36-symbol histogram. */
  def docCharEntropy(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(expr("regexp_extract_all(lower(text), '[a-z0-9]', 0)")).as("ch"))
      .groupBy(col("doc_id"), col("ch"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_chars"),
        count(lit(1)).as("n_distinct_chars"),
        sum((col("c") * round(log(col("c").cast("double")), 6))
          .cast("decimal(28,10)")).as("sum_clc"),
        max(col("c")).as("maxc"))
      .withColumn("h_nats",
        round(round(log(col("n_chars").cast("double")), 6)
          - col("sum_clc").cast("double") / col("n_chars"), 6))
      .select(col("doc_id"), col("n_chars"), col("n_distinct_chars"),
        col("h_nats"),
        expr("maxc * 1000000 div n_chars").as("max_char_share_ppm"),
        (col("h_nats") < 2.0).as("low_entropy"))
      .orderBy("doc_id")

  private val docCharEntropySql: String =
    """WITH ch AS (
      |  SELECT doc_id, u.ch, count(*) AS c
      |  FROM documents,
      |       LATERAL (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]')) AS ch) u
      |  GROUP BY doc_id, u.ch),
      |d AS (
      |  SELECT doc_id, sum(c) AS n_chars, count(*) AS n_distinct_chars,
      |         CAST(sum(CAST(c * round(ln(CAST(c AS DOUBLE)), 6) AS DECIMAL(28,10))) AS DOUBLE) AS sum_clc,
      |         max(c) AS maxc
      |  FROM ch GROUP BY doc_id),
      |f AS (
      |  SELECT doc_id, n_chars, n_distinct_chars,
      |         round(round(ln(CAST(n_chars AS DOUBLE)), 6) - sum_clc / n_chars, 6) AS h_nats,
      |         maxc * 1000000 // n_chars AS share
      |  FROM d)
      |SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
      |       CAST(n_distinct_chars AS BIGINT) AS n_distinct_chars,
      |       h_nats,
      |       CAST(share AS BIGINT) AS max_char_share_ppm,
      |       h_nats < 2.0 AS low_entropy
      |FROM f ORDER BY doc_id""".stripMargin

  private val docLexicalDiversitySql: String =
    s"""WITH t AS (
      |  SELECT doc_id,
      |         $tokensSql AS toks
      |  FROM documents),
      |pd AS (
      |  SELECT doc_id, u.token, count(*) AS c
      |  FROM t, LATERAL (SELECT unnest(toks) AS token) u
      |  GROUP BY doc_id, u.token),
      |d AS (
      |  SELECT doc_id, sum(c) AS n_tokens, count(*) AS n_types,
      |         sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS n_hapax
      |  FROM pd GROUP BY doc_id)
      |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
      |       CAST(n_types AS BIGINT) AS n_types,
      |       CAST(n_hapax AS BIGINT) AS n_hapax,
      |       CAST(n_types * 1000000 // n_tokens AS BIGINT) AS ttr_ppm,
      |       CAST(n_hapax * 1000000 // n_types AS BIGINT) AS hapax_ppm,
      |       CASE WHEN n_tokens > 1
      |            THEN floor(round(ln(CAST(n_types AS DOUBLE)), 6)
      |                       / round(ln(CAST(n_tokens AS DOUBLE)), 6) * 1e6) / 1e6
      |       END AS herdan_c
      |FROM d ORDER BY doc_id""".stripMargin

  /** RAKE keyphrase extraction (Rose et al. 2010) — the PHRASE-level
    * keyword extractor beside the token-level TextRank/TF-IDF entries:
    * candidate phrases are the maximal stopword-free token runs (length
    * ≤ 4) of the normalized text, each word scores deg/freq over the
    * whole corpus (deg = Σ length of every phrase occurrence containing
    * the word — co-occurrence degree including self; freq = its phrase
    * occurrences), and a phrase scores the sum of its words' scores —
    * rewarding words that keep longer company. Top 20 phrases
    * corpus-wide.
    *
    * Scale shape: one posexplode scan; the phrase-id assignment is a
    * per-DOC running sum (doc-partitioned window, never global); word
    * stats are one vocab-keyed aggregate; the scoring join explodes ≤ 4
    * rows per distinct phrase against the vocab frame; top-20 is
    * TakeOrdered. Exactness: word scores are deg·10⁶ div freq
    * truncating integer divisions, phrase scores exact sums of those —
    * ties broken by phrase text, and phrases are distinct, so the cut
    * is deterministic. */
  def docKeyphraseRake(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val phrases = docs
      .select(col("doc_id"),
        posexplode(tokens(normText(col("text")))).as(Seq("pos", "tok")))
      .withColumn("brk", col("tok").isInCollection(enStopwords).cast("int"))
      .withColumn("pid", sum(col("brk")).over(wDoc))
      .filter(col("brk") === 0)
      .groupBy(col("doc_id"), col("pid"))
      .agg(concat_ws(" ",
          transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
            x => x.getField("tok"))).as("phrase"),
        count(lit(1)).as("n_words"))
      .filter(col("n_words") <= 4)
      .materializeOnce // feeds the word stats AND the phrase scoring
    val wordScores = phrases
      .select(col("n_words"), explode(split(col("phrase"), " ")).as("w"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("freq"), sum(col("n_words")).as("deg"))
      .select(col("w"), expr("deg * 1000000 div freq").as("wscore"))
    phrases.groupBy(col("phrase"), col("n_words"))
      .agg(count(lit(1)).as("n_occurrences"))
      .select(col("phrase"), col("n_words"), col("n_occurrences"),
        explode(split(col("phrase"), " ")).as("w"))
      .join(wordScores, Seq("w"))
      .groupBy(col("phrase"), col("n_words"), col("n_occurrences"))
      .agg(sum(col("wscore")).as("score_micro"))
      .orderBy(col("score_micro").desc, col("phrase"))
      .limit(20)
      .orderBy(col("score_micro").desc, col("phrase"))
  }

  private val docKeyphraseRakeSql: String =
    s"""WITH n AS (
       |  SELECT doc_id,
       |         trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS t
       |  FROM documents),
       |tk AS (
       |  SELECT doc_id, u.pos, u.tok
       |  FROM n, LATERAL (SELECT unnest(string_split(t, ' ')) AS tok,
       |                          generate_subscripts(string_split(t, ' '), 1) AS pos) u
       |  WHERE length(t) > 0),
       |p AS (
       |  SELECT doc_id, pos, tok,
       |         CASE WHEN list_contains(${wordsSql(enStopwords)}, tok) THEN 1 ELSE 0 END AS brk
       |  FROM tk),
       |r AS (
       |  SELECT doc_id, pos, tok, brk,
       |         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
       |                        ROWS UNBOUNDED PRECEDING) AS pid
       |  FROM p),
       |ph AS (
       |  SELECT doc_id, pid,
       |         string_agg(tok, ' ' ORDER BY pos) AS phrase,
       |         count(*) AS n_words
       |  FROM r WHERE brk = 0 GROUP BY doc_id, pid
       |  HAVING count(*) <= 4),
       |pw AS (SELECT n_words, unnest(string_split(phrase, ' ')) AS w FROM ph),
       |ws AS (
       |  SELECT w, sum(n_words) * 1000000 // count(*) AS wscore
       |  FROM pw GROUP BY w),
       |dp AS (SELECT phrase, n_words, count(*) AS n_occurrences
       |       FROM ph GROUP BY 1, 2),
       |dw AS (SELECT phrase, n_words, n_occurrences,
       |              unnest(string_split(phrase, ' ')) AS w
       |       FROM dp),
       |sc AS (
       |  SELECT dw.phrase, dw.n_words, dw.n_occurrences,
       |         sum(ws.wscore) AS score_micro
       |  FROM dw JOIN ws USING (w)
       |  GROUP BY 1, 2, 3)
       |SELECT phrase, CAST(n_words AS BIGINT) AS n_words,
       |       CAST(n_occurrences AS BIGINT) AS n_occurrences,
       |       CAST(score_micro AS BIGINT) AS score_micro
       |FROM sc ORDER BY score_micro DESC, phrase LIMIT 20""".stripMargin

  val queries: Map[String, Q] = Map(
    "doc_keyphrase_rake"    -> (docKeyphraseRake _),
    "bigram_kneser_ney"     -> (bigramKneserNey _),
    "doc_kn_perplexity"     -> (docKnPerplexity _),
    "token_burstiness"      -> (tokenBurstiness _),
    "doc_readability"       -> (docReadability _),
    "doc_lexical_diversity" -> (docLexicalDiversity _),
    "doc_char_entropy"      -> (docCharEntropy _),
    "token_cms_freq_est" -> (tokenCmsFreqEst _),
    "doc_lm_score"    -> (docLmScore _),
    "doc_classifier_score" -> (docClassifierScore _),
    "classifier_calibration" -> (classifierCalibration _),
    "calibration_isotonic" -> (calibrationIsotonic _),
    "score_temperature_fit" -> (scoreTemperatureFit _),
    "classifier_auc" -> (classifierAuc _),
    "classifier_lift_table" -> (classifierLiftTable _),
    "score_conformal_threshold" -> (scoreConformalThreshold _),
    "brier_decomposition" -> (brierDecomposition _),
    "ngram_count_of_counts" -> (ngramCountOfCounts _),
    "classifier_pr_curve" -> (classifierPrCurve _),
    "bigram_lm_top"   -> (bigramLmTop _),
    "token_pmi_top"   -> (tokenPmiTop _),
    "doc_token_explode_outer" -> (tokenExplodeOuter _),
    "doc_repetition"  -> (repetition _),
    "doc_token_stats" -> (tokenStats _),
    "doc_quality"     -> (quality _),
    "doc_lang_id"     -> (langId _),
    "lang_confusion"  -> (langConfusion _),
    "lang_source_chi2" -> (langSourceChi2 _),
    "doc_scrub_counts" -> (scrubCounts _),
    "pii_density_by_source" -> (piiDensityBySource _),
    "doc_c4_rules"    -> (c4Rules _),
    "dedup_exact"     -> (dedupExact _))

  val oracle: Map[String, String] = Map(
    "doc_keyphrase_rake"    -> docKeyphraseRakeSql,
    "bigram_kneser_ney"     -> bigramKneserNeySql,
    "doc_kn_perplexity"     -> docKnPerplexitySql,
    "token_burstiness"      -> tokenBurstinessSql,
    "doc_readability"       -> docReadabilitySql,
    "doc_lexical_diversity" -> docLexicalDiversitySql,
    "doc_char_entropy"      -> docCharEntropySql,
    "token_cms_freq_est" -> tokenCmsFreqEstSql,
    "doc_lm_score"    -> docLmScoreSql,
    "doc_classifier_score" -> docClassifierScoreSql,
    "classifier_calibration" -> classifierCalibrationSql,
    "calibration_isotonic" -> calibrationIsotonicSql,
    "score_temperature_fit" -> scoreTemperatureFitSql,
    "classifier_auc" -> classifierAucSql,
    "classifier_lift_table" -> classifierLiftTableSql,
    "score_conformal_threshold" -> scoreConformalThresholdSql,
    "brier_decomposition" -> brierDecompositionSql,
    "ngram_count_of_counts" -> ngramCountOfCountsSql,
    "classifier_pr_curve" -> classifierPrCurveSql,
    "bigram_lm_top"   -> bigramLmTopSql,
    "token_pmi_top"   -> tokenPmiTopSql,
    "doc_token_explode_outer" -> tokenExplodeOuterSql,
    "doc_repetition"  -> repetitionSql,
    "doc_token_stats" -> tokenStatsSql,
    "doc_quality"     -> qualitySql,
    "doc_lang_id"     -> langIdSql,
    "lang_confusion"  -> langConfusionSql,
    "lang_source_chi2" -> langSourceChi2Sql,
    "doc_scrub_counts" -> scrubCountsSql,
    "pii_density_by_source" -> piiDensityBySourceSql,
    "doc_c4_rules"    -> c4RulesSql,
    "dedup_exact"     -> dedupExactSql)
}
