package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.sources.Tables

/** Corpus-level text tier: retrieval scoring (BM25), distribution
  * diagnostics (token entropy), and sequence packing — the operators that
  * look at the corpus as a token stream rather than at one document.
  *
  * Scale notes (the 100 TB story):
  *  - BM25 needs only corpus-constant statistics (N, avgdl, per-term df):
  *    N/avgdl are one broadcast row; df is a window over the posting rows
  *    of the QUERY terms only (|terms| × docs-hit, never the vocabulary).
  *  - entropy is one explode → one (source, token) partial-agg shuffle —
  *    the same shape as a word count; no global state.
  *  - packing is the concat-then-chunk layout used by pretraining data
  *    loaders: a per-source running token offset (window partitioned by
  *    source) maps every doc to its bin span. At 100 TB you pack within
  *    (source, shard) — the window key gains a shard component derived
  *    from the input split, keeping every partition's window independent —
  *    bins are shard-local so no global sort ever happens.
  */
object CorpusQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Whitespace-token CTE shared by the oracles (doc_id, source, toks). */
  private val toksCte =
    s"""t AS (
      |  SELECT doc_id, source,
      |         $tokensSql AS toks
      |  FROM documents)""".stripMargin

  // ---------------------------------------------------------------- entropy

  /** Shannon entropy of the token distribution per source — the corpus
    * diversity diagnostic (a source whose entropy collapses is template
    * spam; one far above its peers is noise). Uses the identity
    * H = ln(T) − (Σ c·ln c)/T over per-(source,token) counts c, so the
    * whole computation is one explode + one partial-agg shuffle.
    * Engine parity: ln is the only libm call and is rounded to 6 before
    * use; the Σ c·ln c sum runs through DECIMAL so partial-agg order
    * cannot perturb it (same discipline as doc_lm_score). */
  def sourceTokenEntropy(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .select(col("source"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("c"))
    counts
      .groupBy(col("source"))
      .agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("vocab_size"),
        sum((col("c") * round(log(col("c").cast("double")), 6))
          .cast("decimal(28,10)")).as("sum_clnc"))
      .withColumn("entropy",
        round(
          round(log(col("n_tokens").cast("double")), 6) -
            col("sum_clnc").cast("double") / col("n_tokens"), 6))
      // normalized by the max possible (uniform over the vocabulary):
      // the cross-source comparable number
      .withColumn("norm_entropy",
        when(col("vocab_size") > 1,
          round(col("entropy") / round(log(col("vocab_size").cast("double")), 6), 6))
          .otherwise(lit(0.0)))
      .select("source", "n_tokens", "vocab_size", "entropy", "norm_entropy")
      .orderBy("source")
  }

  private val sourceTokenEntropySql: String =
    s"""WITH $toksCte,
       |e AS (SELECT source, unnest(toks) AS token FROM t),
       |c AS (SELECT source, token, count(*) AS c FROM e GROUP BY 1, 2),
       |s AS (
       |  SELECT source,
       |         CAST(sum(c) AS BIGINT) AS n_tokens,
       |         count(*) AS vocab_size,
       |         CAST(sum(CAST(c * round(ln(CAST(c AS DOUBLE)), 6) AS DECIMAL(28,10))) AS DOUBLE) AS sum_clnc
       |  FROM c GROUP BY source),
       |f AS (
       |  SELECT source, n_tokens, CAST(vocab_size AS BIGINT) AS vocab_size,
       |         round(round(ln(CAST(n_tokens AS DOUBLE)), 6) - sum_clnc / n_tokens, 6) AS entropy
       |  FROM s)
       |SELECT source, n_tokens, vocab_size, entropy,
       |       CASE WHEN vocab_size > 1
       |            THEN round(entropy / round(ln(CAST(vocab_size AS DOUBLE)), 6), 6)
       |            ELSE 0.0 END AS norm_entropy
       |FROM f ORDER BY source""".stripMargin

  /** Tokenizer fertility per source — subword tokens emitted per
    * whitespace word (the metric that decides whether a tokenizer fits a
    * corpus: fertility ≫ 1 means the vocabulary shreds this source's
    * text). Uses the BPE-ish subword counter vs whitespace tokens, both
    * already oracle-mirrored; ratios are exact-integer totals with one
    * fixed-point division at the end. Pure map + one partial-agg shuffle
    * on source. */
  def sourceTokenizerFertility(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"),
        tokenCount(col("text")).cast("long").as("n_words"),
        bpeTokenCount(col("text")).cast("long").as("n_subwords"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_words"),
        sum(col("n_subwords")).as("n_subwords"))
      .withColumn("fertility",
        when(col("n_words") > 0,
          floor(col("n_subwords") * 1e6 / col("n_words")) / lit(1e6)))
      .orderBy("source")

  private val sourceTokenizerFertilitySql: String =
    s"""WITH $toksCte,
       |m AS (
       |  SELECT t.source,
       |         CAST(len(toks) AS BIGINT) AS n_words,
       |         CAST(len(regexp_extract_all(lower(d.text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS n_subwords
       |  FROM t JOIN documents d ON t.doc_id = d.doc_id),
       |s AS (
       |  SELECT source, count(*) AS n_docs,
       |         CAST(sum(n_words) AS BIGINT) AS n_words,
       |         CAST(sum(n_subwords) AS BIGINT) AS n_subwords
       |  FROM m GROUP BY source)
       |SELECT source, n_docs, n_words, n_subwords,
       |       CASE WHEN n_words > 0
       |            THEN floor(n_subwords * 1e6 / n_words) / 1e6 END AS fertility
       |FROM s ORDER BY source""".stripMargin

  // ------------------------------------------------------------------ BM25

  private val Bm25Terms = Seq("spark", "merge", "window")
  private val K1 = 1.2
  private val K1p1 = K1 + 1 // interpolated into the oracle so both engines
                            // parse the identical shortest-repr double
  private val B = 0.75

  /** BM25 top-20 documents for a fixed query-term set — the retrieval
    * scorer a corpus-search/quality pipeline runs next to TF-IDF. Term
    * frequencies come from three codegen'd array scans per doc (no corpus
    * explode: |terms| is tiny and fixed), melted with `stack`; df is a
    * count over the posting rows per term; N and avgdl are one broadcast
    * row. All double arithmetic uses identical operand order on both
    * engines and the only libm call (ln in idf) is rounded to 6; the
    * per-doc sum over term scores goes through DECIMAL. Docs hitting no
    * query term score 0 and are omitted (inner semantics, documented). */
  def docBm25Top(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("dl", size(col("toks")))
    val stats = base.agg(
      count(lit(1)).as("n_docs"),
      sum(col("dl").cast("long")).as("total_tokens"))
    val tfWide = base.select(
      col("doc_id") +: col("dl") +:
        Bm25Terms.map(t => size(filter(col("toks"), x => x === lit(t))).as(s"tf_$t")): _*)
    val stackExpr = Bm25Terms.map(t => s"'$t', tf_$t")
      .mkString(s"stack(${Bm25Terms.size}, ", ", ", ") AS (term, tf)")
    val tf = tfWide.selectExpr("doc_id", "dl", stackExpr).filter(col("tf") > 0)
    val byTerm = Window.partitionBy(col("term"))
    tf.withColumn("df", count(lit(1)).over(byTerm))
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", col("total_tokens").cast("double") / col("n_docs"))
      .withColumn("idf",
        round(log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0), 6))
      .withColumn("s",
        round(
          col("idf") * (col("tf") * lit(K1p1)) /
            (col("tf") + lit(K1) * (lit(1.0) - lit(B) + lit(B) * col("dl") / col("avgdl"))),
          6))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_terms_hit"),
        sum(col("s").cast("decimal(18,6)")).cast("double").as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(20)
  }

  /** The BM25 scoring CTE chain through per-(doc, term) scores `s` —
    * shared by [[docBm25Top]]'s oracle and the hybrid-fusion oracle. */
  private val bm25Ctes: String = {
    val tfArms = Bm25Terms.map { t =>
      s"""SELECT doc_id, dl, '$t' AS term,
         |       CAST(len(list_filter(toks, x -> x = '$t')) AS INT) AS tf
         |FROM base""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""$toksCte,
       |base AS (SELECT doc_id, toks, CAST(len(toks) AS INT) AS dl FROM t),
       |stats AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_tokens FROM base),
       |tf AS (
       |$tfArms),
       |nz AS (SELECT * FROM tf WHERE tf > 0),
       |w AS (SELECT doc_id, dl, term, tf,
       |             count(*) OVER (PARTITION BY term) AS df
       |      FROM nz),
       |st AS (SELECT n_docs, CAST(total_tokens AS DOUBLE) / n_docs AS avgdl FROM stats),
       |s AS (
       |  SELECT doc_id,
       |         round(round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0), 6)
       |               * (tf * $K1p1)
       |               / (tf + $K1 * (1.0 - $B + $B * dl / avgdl)), 6) AS s
       |  FROM w CROSS JOIN st)""".stripMargin
  }

  private val docBm25TopSql: String =
    s"""WITH $bm25Ctes
       |SELECT doc_id, count(*) AS n_terms_hit,
       |       CAST(sum(CAST(s AS DECIMAL(18,6))) AS DOUBLE) AS bm25
       |FROM s GROUP BY doc_id
       |ORDER BY bm25 DESC, doc_id
       |LIMIT 20""".stripMargin

  /** Hybrid retrieval by reciprocal-rank fusion — the modern search
    * stack's merge step: the BM25 text ranking and the cosine vector
    * ranking (query = vector 0, the embedding of doc 0) fused as
    * RRF(d) = Σ_legs 1/(60 + rank_leg(d)) over each leg's top-20, top-10
    * fused results. Ranks are small exact integers, so the fusion
    * arithmetic is two identical-operand double divisions and one
    * fixed-order add — engine-exact. Scale: each leg is its own
    * already-scale-shaped query (BM25: posting rows of query terms;
    * vector: broadcast query against the corpus scan — or the IVF path);
    * the fusion is a full-outer join on two k-row frames, constant-size
    * regardless of corpus. */
  def hybridRrf(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions
    val dotF = VectorFunctions.dotFast(spark) _
    // the BM25 leg is a ≤20-row frame (bounded by the upstream limit),
    // so it takes the plain-window path — two-phase numbering here costs
    // two shuffles + a materialization for 20 rows (r6 A/B, BASELINE.md)
    val text = GlobalWindow.boundedRowNumber(docBm25Top(spark, dir), "r_text")(
      col("bm25").desc, col("doc_id"))
      .select(col("doc_id"), col("r_text").cast("int").as("r_text"))
    val emb = Tables.embeddings(spark, dir)
      .withColumn("norm", sqrt(dotF(col("embedding"), col("embedding"))))
    val qv = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("q_emb"), col("norm").as("q_norm"))
    val scoredVec = emb.crossJoin(broadcast(qv))
      .filter(col("vec_id") =!= 0)
      .withColumn("cos_sim",
        round(dotF(col("q_emb"), col("embedding")) / (col("q_norm") * col("norm")), 6))
      .select(col("vec_id"), col("cos_sim"))
    val vec = GlobalWindow.rowNumber(scoredVec, "r_vec")(
      col("cos_sim").desc, col("vec_id"))
      .filter(col("r_vec") <= 20)
      .select(col("vec_id").as("doc_id"), col("r_vec").cast("int").as("r_vec"))
    text.join(vec, Seq("doc_id"), "full_outer")
      .withColumn("rrf",
        round(
          coalesce(lit(1.0) / (col("r_text") + 60), lit(0.0)) +
            coalesce(lit(1.0) / (col("r_vec") + 60), lit(0.0)), 6))
      .select("doc_id", "r_text", "r_vec", "rrf")
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(10)
  }

  private val hybridRrfSql: String =
    s"""WITH $bm25Ctes,
       |bm AS (
       |  SELECT doc_id, CAST(sum(CAST(s AS DECIMAL(18,6))) AS DOUBLE) AS bm25
       |  FROM s GROUP BY doc_id
       |  ORDER BY bm25 DESC, doc_id
       |  LIMIT 20),
       |tr AS (
       |  SELECT doc_id,
       |         CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INT) AS r_text
       |  FROM bm),
       |vq AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
       |vp AS (
       |  SELECT a.vec_id AS doc_id,
       |         round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
       |               (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
       |                sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6) AS cos_sim
       |  FROM embeddings a CROSS JOIN vq b
       |  WHERE a.vec_id <> 0),
       |vr AS (
       |  SELECT doc_id,
       |         CAST(row_number() OVER (ORDER BY cos_sim DESC, doc_id) AS INT) AS r_vec
       |  FROM vp),
       |vr2 AS (SELECT doc_id, r_vec FROM vr WHERE r_vec <= 20),
       |f AS (
       |  SELECT coalesce(tr.doc_id, vr2.doc_id) AS doc_id, tr.r_text, vr2.r_vec
       |  FROM tr FULL OUTER JOIN vr2 ON tr.doc_id = vr2.doc_id)
       |SELECT doc_id, r_text, r_vec,
       |       round(coalesce(CAST(1 AS DOUBLE) / (r_text + 60), 0.0)
       |             + coalesce(CAST(1 AS DOUBLE) / (r_vec + 60), 0.0), 6) AS rrf
       |FROM f
       |ORDER BY rrf DESC, doc_id
       |LIMIT 10""".stripMargin

  // --------------------------------------------------------------- packing

  private val BinTokens = 256L

  /** Sequence packing — the concat-then-chunk layout a pretraining data
    * loader materializes: documents are concatenated in (source, doc_id)
    * order and the token stream is cut into fixed [[BinTokens]]-token
    * bins; every doc maps to the bin span [first_bin, last_bin] its
    * tokens land in. Pure integer arithmetic end to end (a running token
    * offset via window sum), so the result is engine-exact. Empty docs
    * occupy zero tokens and report their insertion point as a 1-bin span. */
  def docPackBins(spark: SparkSession, dir: String): DataFrame = {
    val before = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        tokenCount(col("text")).cast("long").as("n_tokens"))
      .withColumn("start_offset",
        coalesce(sum(col("n_tokens")).over(before), lit(0L)))
      .withColumn("first_bin", expr(s"start_offset div $BinTokens"))
      .withColumn("last_bin",
        expr(s"(start_offset + greatest(n_tokens, 1L) - 1L) div $BinTokens"))
      .withColumn("bins_spanned", col("last_bin") - col("first_bin") + 1)
      .orderBy("doc_id")
  }

  private val docPackBinsSql: String =
    s"""WITH $toksCte,
       |b AS (SELECT doc_id, source, CAST(len(toks) AS BIGINT) AS n_tokens FROM t),
       |o AS (
       |  SELECT doc_id, source, n_tokens,
       |         coalesce(sum(n_tokens) OVER (
       |           PARTITION BY source ORDER BY doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_offset
       |  FROM b),
       |f AS (
       |  SELECT doc_id, source, n_tokens, CAST(start_offset AS BIGINT) AS start_offset,
       |         CAST(start_offset // $BinTokens AS BIGINT) AS first_bin,
       |         CAST((start_offset + greatest(n_tokens, 1) - 1) // $BinTokens AS BIGINT) AS last_bin
       |  FROM o)
       |SELECT doc_id, source, n_tokens, start_offset, first_bin, last_bin,
       |       last_bin - first_bin + 1 AS bins_spanned
       |FROM f ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------- BPE pair stats

  /** The counting pass of one BPE merge iteration — tokenizer training
    * prep: adjacent character-pair frequencies over the corpus, weighted
    * by word frequency. The corpus collapses to its WORD FREQUENCY TABLE
    * first (one shuffle; the vocabulary is tiny vs the token stream —
    * this is why BPE training over 100 TB is feasible at all), then each
    * distinct word explodes into its len−1 adjacent pairs exactly once,
    * weighted by its count. Top-20 pairs = the first merge candidates. */
  def bpeMergePairs(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .filter(length(col("w")) >= 2)
      .select(col("freq"),
        explode(transform(sequence(lit(1), length(col("w")) - 1),
          i => col("w").substr(i, lit(2)))).as("pair"))
      .groupBy(col("pair"))
      .agg(sum(col("freq")).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(20)

  private val bpeMergePairsSql: String =
    s"""WITH $toksCte,
       |words AS (SELECT unnest(toks) AS w FROM t),
       |f AS (SELECT w, count(*) AS freq FROM words GROUP BY w),
       |p AS (
       |  SELECT substring(w, CAST(i AS INT), 2) AS pair, freq
       |  FROM f, LATERAL (SELECT unnest(range(1, CAST(length(w) AS BIGINT))) AS i) u
       |  WHERE length(w) >= 2)
       |SELECT pair, CAST(sum(freq) AS BIGINT) AS n
       |FROM p GROUP BY pair
       |ORDER BY n DESC, pair
       |LIMIT 20""".stripMargin

  private val BpeMergeRounds = 10

  /** k UNROLLED BPE merges — completing [[bpeMergePairs]]'s counting pass
    * into actual tokenizer training: the corpus collapses ONCE to its
    * word-frequency table (lowercase-alpha word forms), each word becomes
    * a '|'-bounded symbol string (initially single characters), and each
    * of the [[BpeMergeRounds]] rounds
    *   (1) counts adjacent symbol pairs weighted by word frequency,
    *   (2) picks the most frequent pair (count desc, then lexicographic
    *       on both symbols — the deterministic tie-break both engines
    *       share on ASCII), and
    *   (3) rewrites every word by merging non-overlapping occurrences
    *       left-to-right via an ordered fold — canonical greedy BPE:
    *       'aaaa' + (a,a) → [aa, aa], and the freshly-built symbol is
    *       never itself re-merged in the same pass.
    * Emitted: the k merge rules in order with their support — exactly a
    * tokenizer's merges.txt prefix. The DuckDB mirror unrolls the same k
    * rounds as CTEs with the identical fold (list_reduce over a string
    * accumulator), so every rule and count is engine-exact.
    *
    * Scale shape: everything after the one corpus-collapse shuffle is
    * VOCABULARY-sized (why BPE training over 100 TB is feasible at all);
    * each round is one explode → partial-agg over the vocab plus a top-1
    * TakeOrdered (per-partition heap, no global sort) and a one-row
    * broadcast join carrying the merge rule into the rewrite map. */
  def bpeMergesK(spark: SparkSession, dir: String): DataFrame = {
    val v0 = bpeVocab(Tables.documents(spark, dir))
    var state = v0
    val rules = (1 to BpeMergeRounds).map { t =>
      val b = bpeBestPair(state, t)
      if (t < BpeMergeRounds) state = bpeRewrite(state, b)
      b
    }
    rules.reduce(_ union _)
      .select(col("step"), col("pa").as("pair_a"), col("pb").as("pair_b"), col("n"))
      .orderBy("step")
  }

  /** The '|'-bounded initial BPE state over the corpus-wide
    * lowercase-alpha word-frequency table. */
  private def bpeVocab(docs: DataFrame): DataFrame = {
    import QueryConventions.MaterializeSyntax
    docs
      .select(explode(tokens(col("text"))).as("w"))
      .filter(col("w").rlike("^[a-z]+$"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(concat(lit("|"), regexp_replace(col("w"), "(.)", "$1|")).as("s"),
        col("freq"))
      .materializeOnce // the evolving vocab state; re-materialized per round
  }

  /** One BPE round's winning pair: adjacent-symbol counts weighted by word
    * frequency, top-1 by (count desc, pa, pb) — a TakeOrdered heap. */
  private def bpeBestPair(v: DataFrame, step: Int): DataFrame = {
    import QueryConventions.MaterializeSyntax
    v.select(col("freq"), filter(split(col("s"), "\\|"), x => x =!= "").as("a"))
      .filter(size(col("a")) >= 2)
      .select(col("freq"),
        explode(transform(sequence(lit(1), size(col("a")) - 1),
          i => struct(element_at(col("a"), i).as("pa"),
            element_at(col("a"), i + 1).as("pb")))).as("p"))
      .groupBy(col("p.pa").as("pa"), col("p.pb").as("pb"))
      .agg(sum(col("freq")).as("n"))
      .orderBy(col("n").desc, col("pa"), col("pb"))
      .limit(1)
      .select(lit(step).as("step"), col("pa"), col("pb"), col("n"))
      .materializeOnce // consumed by the rewrite AND the output union
  }

  /** Apply one merge rule to every word: greedy left-to-right
    * non-overlapping fold over the symbol string. */
  private def bpeRewrite(v: DataFrame, best: DataFrame): DataFrame = {
    import QueryConventions.MaterializeSyntax
    v.crossJoin(broadcast(best.select("pa", "pb")))
      .select(
        aggregate(
          filter(split(col("s"), "\\|"), x => x =!= ""),
          lit("|"),
          (acc, x) =>
            when(acc.endsWith(concat(lit("|"), col("pa"), lit("|")))
                && (x === col("pb")),
              concat(acc.substr(lit(1), length(acc) - length(col("pa")) - 1),
                col("pa"), col("pb"), lit("|")))
              .otherwise(concat(acc, x, lit("|")))).as("s"),
        col("freq"))
      .materializeOnce
  }

  /** Tokenizer APPLICATION — the inference half [[bpeMergesK]] trains:
    * run all [[BpeMergeRounds]] learned merges to their final vocabulary
    * state, segment every (collapsed, lowercase-alpha) word with it, and
    * report per source how the learned tokenizer performs on that
    * source's word stream: total alpha words, distinct word forms, total
    * BPE tokens produced, and fertility (BPE tokens per word) in exact
    * integer micro-units. Fertility-per-source is the standard check that
    * a tokenizer trained on the corpus mix doesn't bloat one source's
    * token bill (the multilingual-tokenizer-fairness metric).
    *
    * Scale shape: ONE corpus collapse to (source, word, count) — the only
    * data-sized shuffle; the merge loop runs on the vocabulary exactly as
    * in [[bpeMergesK]]; segmentation joins back to per-source counts via
    * a BROADCAST of the vocab-sized segmentation map, and the final
    * aggregate has |sources| keys. The corpus is never re-scanned. */
  def bpeApply(spark: SparkSession, dir: String): DataFrame = {
    import QueryConventions.MaterializeSyntax
    val srcCnt = Tables.documents(spark, dir)
      .select(col("source"), explode(tokens(col("text"))).as("w"))
      .filter(col("w").rlike("^[a-z]+$"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
      .materializeOnce // feeds the global vocab AND the per-source join-back
    val v0 = srcCnt.groupBy(col("w")).agg(sum(col("c")).as("freq"))
      .select(concat(lit("|"), regexp_replace(col("w"), "(.)", "$1|")).as("s"),
        col("freq"))
      .materializeOnce
    var state = v0
    (1 to BpeMergeRounds).foreach { t =>
      state = bpeRewrite(state, bpeBestPair(state, t))
    }
    val seg = state.select(
      translate(col("s"), "|", "").as("w"),
      size(filter(split(col("s"), "\\|"), x => x =!= "")).cast("bigint").as("n_bpe"))
    srcCnt.join(broadcast(seg), Seq("w"))
      .groupBy(col("source"))
      .agg(sum(col("c")).as("alpha_words"),
        count(lit(1)).as("distinct_alpha_words"),
        sum(col("c") * col("n_bpe")).as("bpe_tokens"))
      .withColumn("fertility_micro", expr("bpe_tokens * 1000000 div alpha_words"))
      .orderBy("source")
  }

  private val bpeApplySql: String = {
    // the same unrolled chain as bpeMergesKSql, but the rewrite runs on
    // EVERY round (the final state is what segmentation needs)
    val rounds = (1 to BpeMergeRounds).map { t =>
      s"""p$t AS MATERIALIZED (
         |  SELECT a[i] AS pa, a[i+1] AS pb, CAST(sum(freq) AS BIGINT) AS n
         |  FROM (SELECT list_filter(string_split(s, '|'), x -> x <> '') AS a, freq FROM v${t - 1}) q,
         |       LATERAL (SELECT unnest(range(1, len(a))) AS i) u
         |  GROUP BY 1, 2),
         |b$t AS MATERIALIZED (SELECT $t AS step, pa, pb, n FROM p$t ORDER BY n DESC, pa, pb LIMIT 1),
         |v$t AS MATERIALIZED (
         |  SELECT list_reduce(list_prepend('|', list_filter(string_split(s, '|'), x -> x <> '')),
         |           (acc, x) -> CASE WHEN ends_with(acc, '|' || b.pa || '|') AND x = b.pb
         |                            THEN substring(acc, 1, length(acc) - length(b.pa) - 1) || b.pa || b.pb || '|'
         |                            ELSE acc || x || '|' END) AS s,
         |         freq
         |  FROM v${t - 1} CROSS JOIN b$t b),""".stripMargin
    }.mkString("\n")
    s"""WITH $toksCte,
       |sw AS (SELECT source, unnest(toks) AS w FROM t),
       |sc AS MATERIALIZED (
       |  SELECT source, w, count(*) AS c FROM sw
       |  WHERE regexp_matches(w, '^[a-z]+${"$"}') GROUP BY source, w),
       |fq AS MATERIALIZED (SELECT w, sum(c) AS freq FROM sc GROUP BY w),
       |v0 AS MATERIALIZED (
       |  SELECT '|' || regexp_replace(w, '(.)', '\\1|', 'g') AS s, freq FROM fq),
       |$rounds
       |seg AS (
       |  SELECT replace(s, '|', '') AS w,
       |         CAST(len(list_filter(string_split(s, '|'), x -> x <> '')) AS BIGINT) AS n_bpe
       |  FROM v$BpeMergeRounds)
       |SELECT source,
       |       CAST(sum(c) AS BIGINT) AS alpha_words,
       |       CAST(count(*) AS BIGINT) AS distinct_alpha_words,
       |       CAST(sum(c * n_bpe) AS BIGINT) AS bpe_tokens,
       |       CAST(sum(c * n_bpe) * 1000000 // sum(c) AS BIGINT) AS fertility_micro
       |FROM sc JOIN seg USING (w)
       |GROUP BY source
       |ORDER BY source""".stripMargin
  }

  private val bpeMergesKSql: String = {
    val rounds = (1 to BpeMergeRounds).map { t =>
      val rewriteCte =
        if (t == BpeMergeRounds) ""
        else
          s"""
             |v$t AS MATERIALIZED (
             |  SELECT list_reduce(list_prepend('|', list_filter(string_split(s, '|'), x -> x <> '')),
             |           (acc, x) -> CASE WHEN ends_with(acc, '|' || b.pa || '|') AND x = b.pb
             |                            THEN substring(acc, 1, length(acc) - length(b.pa) - 1) || b.pa || b.pb || '|'
             |                            ELSE acc || x || '|' END) AS s,
             |         freq
             |  FROM v${t - 1} CROSS JOIN b$t b),""".stripMargin
      s"""p$t AS MATERIALIZED (
         |  SELECT a[i] AS pa, a[i+1] AS pb, CAST(sum(freq) AS BIGINT) AS n
         |  FROM (SELECT list_filter(string_split(s, '|'), x -> x <> '') AS a, freq FROM v${t - 1}) q,
         |       LATERAL (SELECT unnest(range(1, len(a))) AS i) u
         |  GROUP BY 1, 2),
         |b$t AS MATERIALIZED (SELECT $t AS step, pa, pb, n FROM p$t ORDER BY n DESC, pa, pb LIMIT 1),$rewriteCte""".stripMargin
    }.mkString("\n")
    val unions = (1 to BpeMergeRounds).map(t => s"SELECT * FROM b$t")
      .mkString("\nUNION ALL\n")
    s"""WITH $toksCte,
       |words AS (SELECT unnest(toks) AS w FROM t),
       |fq AS MATERIALIZED (
       |  SELECT w, count(*) AS freq FROM words
       |  WHERE regexp_matches(w, '^[a-z]+${"$"}') GROUP BY w),
       |v0 AS MATERIALIZED (
       |  SELECT '|' || regexp_replace(w, '(.)', '\\1|', 'g') AS s, freq FROM fq),
       |$rounds
       |u AS ($unions)
       |SELECT step, pa AS pair_a, pb AS pair_b, n
       |FROM u ORDER BY step""".stripMargin
  }

  private val TextrankIters = 4

  /** TextRank keyword scores over the token co-occurrence graph — the
    * graph-centrality member of the keyword family beside raw frequency
    * (`top_tokens`) and TF-IDF: a token ranks high when it co-occurs with
    * tokens that themselves rank high, which separates connective
    * vocabulary from load-bearing terms that frequency alone conflates.
    * Edges are ADJACENT-token pairs (window 1, both directions — the
    * undirected TextRank form), weighted by corpus count; then the
    * damped power iteration, [[TextrankIters]] rounds unrolled
    * identically in both dialects (the event_type_pagerank conventions:
    * per-term round(·,9) before a DECIMAL(28,12) sum, so libm-free
    * arithmetic order cannot diverge).
    *
    * Scale shape: ONE corpus scan builds the (src,dst,count) frame; the
    * graph is vocabulary-sized, so every iteration is a join over a
    * broadcast-scale frame regardless of corpus size. */
  def tokenTextrank(spark: SparkSession, dir: String): DataFrame = {
    import QueryConventions.MaterializeSyntax
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val adj = Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
      .withColumn("nxt", lead(col("tok"), 1).over(w))
      .filter(col("nxt").isNotNull && col("nxt") =!= col("tok"))
    val trans = adj.select(col("tok").as("src"), col("nxt").as("dst"))
      .unionAll(adj.select(col("nxt").as("src"), col("tok").as("dst")))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("cnt"))
      .materializeOnce // feeds nodes, outdeg, and every iteration
    val nodes = trans.select(col("src").as("node")).distinct().materializeOnce
    val n = nodes.count() // vocabulary-sized by construction
    val outdeg = trans.groupBy(col("src")).agg(sum(col("cnt")).as("od"))
    val edges = trans.join(outdeg, "src")
      .select(col("src"), col("dst"), (col("cnt") / col("od")).as("wgt"))
      .materializeOnce
    val base = 0.15 / n
    var pr = nodes.select(col("node"), (lit(1.0) / n).as("pr"))
    (1 to TextrankIters).foreach { _ =>
      val contrib = edges.join(pr, col("src") === col("node"))
        .select(col("dst"), round(col("pr") * col("wgt"), 9).as("t"))
      pr = nodes.join(contrib, col("node") === col("dst"), "left")
        .groupBy(col("node"))
        .agg((lit(base) + lit(0.85) *
          coalesce(sum(col("t").cast("decimal(28,12)")).cast("double"), lit(0.0)))
          .as("pr"))
    }
    pr.select(col("node").as("token"), round(col("pr"), 6).as("textrank"))
      .orderBy("token")
  }

  private val tokenTextrankSql: String = {
    def step(i: Int): String =
      s"""pr$i AS (
         |  SELECT n.node,
         |         (CAST(0.15 AS DOUBLE) / (SELECT cnt FROM nn)) + CAST(0.85 AS DOUBLE) *
         |         coalesce(CAST(sum(CAST(round(p.pr * e.wgt, 9) AS DECIMAL(28,12))) AS DOUBLE), 0.0) AS pr
         |  FROM nodes n
         |  LEFT JOIN edges e ON e.dst = n.node
         |  LEFT JOIN pr${i - 1} p ON p.node = e.src
         |  GROUP BY n.node)""".stripMargin
    s"""WITH $toksCte,
       |tok AS (
       |  SELECT doc_id, CAST(u.pos AS INT) AS pos, u.tk AS tok
       |  FROM t,
       |       LATERAL (SELECT unnest(toks) AS tk, generate_subscripts(toks, 1) AS pos) u),
       |adj AS (
       |  SELECT tok, lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
       |  FROM tok),
       |trans AS (
       |  SELECT src, dst, count(*) AS cnt FROM (
       |    SELECT tok AS src, nxt AS dst FROM adj WHERE nxt IS NOT NULL AND nxt <> tok
       |    UNION ALL
       |    SELECT nxt, tok FROM adj WHERE nxt IS NOT NULL AND nxt <> tok)
       |  GROUP BY 1, 2),
       |nodes AS (SELECT DISTINCT src AS node FROM trans),
       |nn AS (SELECT count(*) AS cnt FROM nodes),
       |outdeg AS (SELECT src, sum(cnt) AS od FROM trans GROUP BY src),
       |edges AS (
       |  SELECT t.src, t.dst, t.cnt / o.od AS wgt
       |  FROM trans t JOIN outdeg o ON t.src = o.src),
       |pr0 AS (SELECT node, CAST(1.0 AS DOUBLE) / (SELECT cnt FROM nn) AS pr FROM nodes),
       |${(1 to TextrankIters).map(step).mkString(",\n")}
       |SELECT node AS token, round(pr, 6) AS textrank FROM pr$TextrankIters
       |ORDER BY token""".stripMargin
  }

  private val UniMaxLen = 8     // corpus word types are ≤8 chars at every SF
  private val UniMaxPiece = 4
  private val UniTopPieces = 40
  private val UniKeyOffset = 500000000L

  /** The unigram-LM tokenizer build + Viterbi segmentation shared by
    * [[unigramLmSegment]] and [[unigramEmCounts]] — the SentencePiece
    * counterpart that completes the tokenizer-training story next to the
    * BPE family (merge counting, k merges, apply): seed a piece
    * vocabulary from frequency-weighted substring counts (top
    * [[UniTopPieces]] + all single chars for coverage), score pieces by
    * log unigram probability, then segment every WORD TYPE (never the
    * corpus — the type frame is vocabulary-sized) by exact Viterbi DP,
    * unrolled to [[UniMaxLen]] positions.
    *
    * Exactness: piece scores are micro-unit integers (one 6-dp-rounded
    * ln per VOCAB PIECE — identical input doubles in both engines, the
    * markov-entropy discipline), so the DP total is an integer SUM and
    * the argmax is exact; ties break by fewest pieces then lexicographic
    * segmentation, all encoded in one sortable string key (zero-padded
    * score ‖ inverted piece count ‖ segmentation) whose max() both
    * engines order identically. Each DP step joins the previous states
    * with the broadcast vocab and is lineage-truncated (a step is read
    * by up to [[UniMaxPiece]] later steps — the k-core lesson: the PLAN,
    * not the data, explodes without it). */
  private def unigramViterbi(spark: SparkSession, dir: String): DataFrame = {
    import QueryConventions.MaterializeSyntax
    val fq = Tables.documents(spark, dir)
      .select(explode(tokens(col("text"))).as("w"))
      .filter(col("w").rlike(s"^[a-z]{1,$UniMaxLen}$$"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .withColumn("len", length(col("w")).cast("int"))
      .materializeOnce // word-TYPE frame: feeds piece candidates and the DP
    val cand = fq
      .select(col("w"), col("freq"), col("len"),
        explode(expr(s"sequence(1, $UniMaxPiece)")).as("k"))
      .filter(col("k") <= col("len"))
      .select(col("w"), col("freq"), col("k"),
        explode(expr("sequence(1, len - k + 1)")).as("i"))
      .select(expr("substring(w, i, k)").as("piece"), col("freq"))
      .groupBy(col("piece")).agg(sum(col("freq")).as("sub_freq"))
      .materializeOnce // feeds the top-N rank and the single-char union
    val ranked = cand.withColumn("rk",
      row_number().over(Window.orderBy(col("sub_freq").desc, col("piece"))))
    val vocab0 = ranked.filter(col("rk") <= UniTopPieces).select("piece", "sub_freq")
      .unionAll(cand.filter(length(col("piece")) === 1).select("piece", "sub_freq"))
      .distinct()
    val tot = vocab0.agg(sum(col("sub_freq")).as("tot"))
    val vocab = vocab0.crossJoin(broadcast(tot))
      .select(col("piece"),
        round(log(col("sub_freq").cast("double") / col("tot")) * 1e6)
          .cast("long").as("score_micro"))
    // ONE-PASS DP (r16, guide §1.2/§5 materialization discipline): the
    // previous form unrolled the 8 Viterbi steps as 8 vocab-joined,
    // localCheckpoint-ed frames — 8+ strictly sequential driver jobs
    // whose per-job scheduler latency dominated the query at every SF
    // (each step was ~90 ms CPU / ~270 ms wall). The word-TYPE frame is
    // vocabulary-sized and every word is ≤ UniMaxLen chars, so the whole
    // DP folds into ONE row-local `aggregate` over the piece-score MAP
    // (vocab is tiny by construction: top UniTopPieces + single chars).
    // State j is encoded in exactly the step form's sortable key string
    // (zero-padded enc-score ‖ inverted piece count ‖ segmentation);
    // `greatest` over the k=1..UniMaxPiece extensions IS the step form's
    // max(key) over the unioned candidate legs (both skip absent states:
    // null key / missing vocab piece there, a dropped join row here), so
    // the kept state — and therefore every emitted row — is identical.
    val vmap = vocab.agg(
      map_from_entries(collect_list(struct(col("piece"), col("score_micro"))))
        .as("vmap"))
    // key_0: enc-score = 0 + UniKeyOffset (9 digits), np = 0 → "99", seg ""
    val key0 = f"$UniKeyOffset%09d" + "99"
    // one extension of a kept state's key by `piece`: enc-score grows by
    // the piece score, the inverted piece count drops by 1, the piece is
    // appended to the segmentation — null when the state is absent or
    // the piece is out of vocabulary (the step form's inner join drop)
    def ext(prev: Column, piece: Column): Column = {
      val sc = element_at(col("vmap"), piece)
      when(prev.isNotNull && sc.isNotNull,
        concat(
          lpad((substring(prev, 1, 9).cast("bigint") + sc).cast("string"), 9, "0"),
          lpad((substring(prev, 10, 2).cast("int") - 1).cast("string"), 2, "0"),
          prev.substr(lit(12), length(prev)),
          lit("|"), piece))
    }
    val keys = aggregate(
      sequence(lit(1), col("len")),
      array(lit(key0)),
      (acc, j) => concat(acc, array(
        greatest((1 to UniMaxPiece).map { k =>
          // acc(i) holds key_{i-1}; position j extends key_{j-k} by the
          // k-char piece ending at j (guard j ≥ k keeps indexes valid —
          // the step form's bs(j-k) bound)
          when(j >= k, ext(element_at(acc, (j - k + lit(1)).cast("int")),
            col("w").substr((j - k + lit(1)).cast("int"), lit(k))))
        }: _*))))
    fq.crossJoin(broadcast(vmap))
      .withColumn("key", element_at(keys, col("len") + 1))
      .filter(col("key").isNotNull)
      .select(col("w"), col("len"), col("freq"),
        (expr("CAST(substring(key, 1, 9) AS BIGINT)") - UniKeyOffset).as("best"),
        (lit(99) - expr("CAST(substring(key, 10, 2) AS INT)")).as("np"),
        expr("substring(key, 12)").as("seg"))
  }

  /** Shared SQL prefix: word types, piece vocabulary with micro scores,
    * and the unrolled Viterbi CTEs b1..b[[UniMaxLen]] (b_len rows carry
    * each word's optimal segmentation). */
  private val unigramCtes: String = {
    val steps = (1 to UniMaxLen).map { j =>
      val ks = (1 to math.min(UniMaxPiece, j)).map { k =>
        s"""SELECT b.w, b.len, b.freq,
           |       b.best + v.score_micro AS nb, b.np + 1 AS nnp,
           |       b.seg || '|' || v.piece AS nseg
           |FROM b${j - k} b JOIN vocab v ON v.piece = substring(b.w, ${j - k + 1}, $k)
           |WHERE b.len >= $j""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""b$j AS MATERIALIZED (
         |  SELECT w, len, freq,
         |         CAST(substring(key, 1, 9) AS BIGINT) - $UniKeyOffset AS best,
         |         99 - CAST(substring(key, 10, 2) AS INT) AS np,
         |         substring(key, 12) AS seg
         |  FROM (
         |    SELECT w, len, freq,
         |           max(concat(lpad(CAST(nb + $UniKeyOffset AS VARCHAR), 9, '0'),
         |                      lpad(CAST(99 - nnp AS VARCHAR), 2, '0'), nseg)) AS key
         |    FROM ($ks)
         |    GROUP BY w, len, freq))""".stripMargin
    }.mkString(",\n")
    val finals = (1 to UniMaxLen).map(j => s"SELECT * FROM b$j WHERE len = $j")
      .mkString("\nUNION ALL\n")
    s"""$toksCte,
       |fq AS MATERIALIZED (
       |  SELECT w, count(*) AS freq, CAST(len(w) AS INT) AS len FROM (
       |    SELECT unnest(toks) AS w FROM t)
       |  WHERE regexp_matches(w, '^[a-z]{1,$UniMaxLen}$$') GROUP BY w),
       |cand AS MATERIALIZED (
       |  SELECT substring(w, CAST(u.i AS INT), CAST(u.k AS INT)) AS piece,
       |         sum(freq) AS sub_freq
       |  FROM fq,
       |       LATERAL (SELECT k, unnest(range(1, len - CAST(k AS INT) + 2)) AS i
       |                FROM (SELECT unnest(range(1, $UniMaxPiece + 1)) AS k)
       |                WHERE k <= len) u
       |  GROUP BY 1),
       |vocab0 AS (
       |  SELECT DISTINCT piece, sub_freq FROM (
       |    SELECT piece, sub_freq,
       |           row_number() OVER (ORDER BY sub_freq DESC, piece) AS rk
       |    FROM cand)
       |  WHERE rk <= $UniTopPieces OR len(piece) = 1),
       |tt AS (SELECT sum(sub_freq) AS tot FROM vocab0),
       |vocab AS MATERIALIZED (
       |  SELECT piece,
       |         CAST(round(ln(CAST(sub_freq AS DOUBLE) / tt.tot) * 1e6) AS BIGINT) AS score_micro
       |  FROM vocab0 CROSS JOIN tt),
       |b0 AS (SELECT w, len, freq, CAST(0 AS BIGINT) AS best, 0 AS np, '' AS seg FROM fq),
       |$steps,
       |finals AS ($finals)""".stripMargin
  }

  /** Per-word-type Viterbi segmentation under the seeded unigram LM —
    * see [[unigramViterbi]]. Emits the optimal piece split, piece count
    * and the exact integer log-probability. */
  def unigramLmSegment(spark: SparkSession, dir: String): DataFrame =
    unigramViterbi(spark, dir)
      .select(col("w").as("word"), col("freq"), col("np").as("n_pieces"),
        expr("substring(seg, 2)").as("segmentation"),
        col("best").as("logp_micro"))
      .orderBy("word")

  private val unigramLmSegmentSql: String =
    s"""WITH $unigramCtes
       |SELECT w AS word, freq, np AS n_pieces,
       |       substring(seg, 2) AS segmentation,
       |       best AS logp_micro
       |FROM finals
       |ORDER BY word""".stripMargin

  /** The EM E-step count table over [[unigramLmSegment]]'s Viterbi
    * segmentations: expected (here: hard-EM) piece usage weighted by
    * word-type frequency — exactly the statistics the next unigram-LM
    * M-step renormalizes, and the table a vocabulary-pruning pass reads
    * (a piece with a near-zero count is the next deletion candidate). */
  def unigramEmCounts(spark: SparkSession, dir: String): DataFrame =
    unigramViterbi(spark, dir)
      .select(col("freq"), explode(split(expr("substring(seg, 2)"), "\\|")).as("piece"))
      .groupBy(col("piece"))
      .agg(sum(col("freq")).as("em_count"), count(lit(1)).as("n_word_types"))
      .orderBy("piece")

  private val unigramEmCountsSql: String =
    s"""WITH $unigramCtes
       |SELECT u.piece, CAST(sum(freq) AS BIGINT) AS em_count,
       |       count(*) AS n_word_types
       |FROM finals, LATERAL (SELECT unnest(string_split(substring(seg, 2), '|')) AS piece) u
       |GROUP BY u.piece
       |ORDER BY u.piece""".stripMargin

  /** Heaps'-law fit V(n) ≈ K·n^β of vocabulary growth along the corpus
    * ingestion order — the companion diagnostic to the Zipf fit (Zipf
    * reads the frequency DISTRIIBUTION, Heaps reads vocabulary GROWTH):
    * natural text sits at β ≈ 0.4–0.6, and a β drifting toward 1 means
    * near-unbounded novel tokens (OCR noise, serial numbers, markup
    * churn) while β → 0 means the crawl is re-reading itself. The fit is
    * an OLS of ln V against ln n over the 10 decile checkpoints of the
    * doc_id order.
    *
    * Scale shape: ONE token explode feeds both sides — cumulative token
    * counts come from a per-decile aggregate (each doc maps to its
    * decile by pure arithmetic on doc_id), and cumulative vocabulary
    * from the per-type FIRST-decile aggregate (min doc_id per token,
    * vocab-sized) — then everything downstream lives on the 10-row
    * checkpoint frame (the bounded cumulative windows and the
    * regression fold). No corpus-sized window anywhere. Log terms follow
    * the Zipf convention: each ln rounded to 6 (ulp-divergent otherwise),
    * products rounded to 9, DECIMAL sums, floor fixed-point outputs. */
  def heapsLawFit(spark: SparkSession, dir: String): DataFrame = {
    import QueryConventions.MaterializeSyntax
    val docs = Tables.documents(spark, dir)
    val maxId = docs.agg(max(col("doc_id")).as("max_id"))
    val toks = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .materializeOnce // token totals + first-occurrence both read it
    def decile(idCol: String): Column =
      least(lit(9L), expr(s"$idCol * 10 div (max_id + 1)"))
    val tokTotals = toks.crossJoin(broadcast(maxId))
      .groupBy(decile("doc_id").as("decile"))
      .agg(count(lit(1)).as("toks_in_decile"))
    val vocabFirsts = toks.groupBy(col("token"))
      .agg(min(col("doc_id")).as("first_doc"))
      .crossJoin(broadcast(maxId))
      .groupBy(decile("first_doc").as("decile"))
      .agg(count(lit(1)).as("new_types_in_decile"))
    val cum = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pts = tokTotals.join(vocabFirsts, Seq("decile"), "full_outer")
      .na.fill(0L, Seq("toks_in_decile", "new_types_in_decile"))
      .withColumn("n_cum", sum(col("toks_in_decile")).over(cum))
      .withColumn("v_cum", sum(col("new_types_in_decile")).over(cum))
      .withColumn("x", round(log(col("n_cum").cast("double")), 6))
      .withColumn("y", round(log(col("v_cum").cast("double")), 6))
      .withColumn("xy", round(col("x") * col("y"), 9))
      .withColumn("xx", round(col("x") * col("x"), 9))
    def dsum(c: Column): Column = sum(c.cast("decimal(28,12)")).cast("double")
    pts.agg(
      count(lit(1)).as("n_checkpoints"),
      max(col("n_cum")).as("total_tokens"),
      max(col("v_cum")).as("total_vocab"),
      dsum(col("x")).as("sx"), dsum(col("y")).as("sy"),
      dsum(col("xy")).as("sxy"), dsum(col("xx")).as("sxx"))
      .select(
        col("n_checkpoints"), col("total_tokens"), col("total_vocab"),
        (floor((col("n_checkpoints") * col("sxy") - col("sx") * col("sy")) * 1e6
          / (col("n_checkpoints") * col("sxx") - col("sx") * col("sx"))) / lit(1e6))
          .as("beta"),
        (floor((col("sy") - (col("n_checkpoints") * col("sxy") - col("sx") * col("sy"))
          / (col("n_checkpoints") * col("sxx") - col("sx") * col("sx")) * col("sx")) * 1e6
          / col("n_checkpoints")) / lit(1e6)).as("intercept"))
  }

  private val heapsLawFitSql: String =
    s"""WITH $toksCte,
       |mx AS (SELECT max(doc_id) AS max_id FROM documents),
       |tok AS (
       |  SELECT doc_id, u.token
       |  FROM t, LATERAL (SELECT unnest(toks) AS token) u),
       |tt AS (
       |  SELECT least(9, doc_id * 10 // (mx.max_id + 1)) AS decile,
       |         count(*) AS toks_in_decile
       |  FROM tok, mx GROUP BY 1),
       |vf AS (
       |  SELECT least(9, first_doc * 10 // (mx.max_id + 1)) AS decile,
       |         count(*) AS new_types_in_decile
       |  FROM (SELECT token, min(doc_id) AS first_doc FROM tok GROUP BY token), mx
       |  GROUP BY 1),
       |pts AS (
       |  SELECT coalesce(tt.decile, vf.decile) AS decile,
       |         sum(coalesce(tt.toks_in_decile, 0))
       |           OVER (ORDER BY coalesce(tt.decile, vf.decile)) AS n_cum,
       |         sum(coalesce(vf.new_types_in_decile, 0))
       |           OVER (ORDER BY coalesce(tt.decile, vf.decile)) AS v_cum
       |  FROM tt FULL OUTER JOIN vf ON vf.decile = tt.decile),
       |p2 AS (
       |  SELECT n_cum, v_cum,
       |         round(ln(CAST(n_cum AS DOUBLE)), 6) AS x,
       |         round(ln(CAST(v_cum AS DOUBLE)), 6) AS y
       |  FROM pts),
       |p3 AS (
       |  SELECT n_cum, v_cum, x, y,
       |         round(x * y, 9) AS xy, round(x * x, 9) AS xx FROM p2),
       |m AS (
       |  SELECT count(*) AS n,
       |         max(n_cum) AS total_tokens, max(v_cum) AS total_vocab,
       |         CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE) AS sx,
       |         CAST(sum(CAST(y AS DECIMAL(28,12))) AS DOUBLE) AS sy,
       |         CAST(sum(CAST(xy AS DECIMAL(28,12))) AS DOUBLE) AS sxy,
       |         CAST(sum(CAST(xx AS DECIMAL(28,12))) AS DOUBLE) AS sxx
       |  FROM p3)
       |SELECT CAST(n AS BIGINT) AS n_checkpoints,
       |       CAST(total_tokens AS BIGINT) AS total_tokens,
       |       CAST(total_vocab AS BIGINT) AS total_vocab,
       |       floor((n * sxy - sx * sy) * 1e6 / (n * sxx - sx * sx)) / 1e6 AS beta,
       |       floor((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) * 1e6 / n) / 1e6
       |         AS intercept
       |FROM m""".stripMargin

  val queries: Map[String, Q] = Map(
    "heaps_law_fit"        -> (heapsLawFit _),
    "unigram_lm_segment"   -> (unigramLmSegment _),
    "unigram_em_counts"    -> (unigramEmCounts _),
    "token_textrank"       -> (tokenTextrank _),
    "bpe_merge_pairs"      -> (bpeMergePairs _),
    "bpe_merges_k"         -> (bpeMergesK _),
    "bpe_apply"            -> (bpeApply _),
    "source_tokenizer_fertility" -> (sourceTokenizerFertility _),
    "source_token_entropy" -> (sourceTokenEntropy _),
    "doc_bm25_top"         -> (docBm25Top _),
    "hybrid_rrf"           -> (hybridRrf _),
    "doc_pack_bins"        -> (docPackBins _))

  val oracle: Map[String, String] = Map(
    "heaps_law_fit"        -> heapsLawFitSql,
    "unigram_lm_segment"   -> unigramLmSegmentSql,
    "unigram_em_counts"    -> unigramEmCountsSql,
    "token_textrank"       -> tokenTextrankSql,
    "bpe_merge_pairs"      -> bpeMergePairsSql,
    "bpe_merges_k"         -> bpeMergesKSql,
    "bpe_apply"            -> bpeApplySql,
    "source_tokenizer_fertility" -> sourceTokenizerFertilitySql,
    "source_token_entropy" -> sourceTokenEntropySql,
    "doc_bm25_top"         -> docBm25TopSql,
    "hybrid_rrf"           -> hybridRrfSql,
    "doc_pack_bins"        -> docPackBinsSql)
}
