package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.queries.QueryConventions.MaterializeSyntax

import graft.functions.TextFunctions
import graft.operators.DedupOps
import graft.sources.Tables

/** Training-data-pipeline plumbing: deterministic sampling and dataset
  * splits (hash-based, so they are reproducible, cluster-size-independent
  * and oracle-verifiable — Spark's `sample`/`sampleBy` RNG is none of
  * those), vocabulary statistics, and TF-IDF.
  */
object PipelineQueries {

  type Q = (SparkSession, String) => DataFrame

  private val hexpr = "CAST('0x' || substring(md5(%s), 1, 15) AS BIGINT)"

  /** Max epochs a source may be repeated in [[sourceUnimaxAlloc]]'s
    * waterfill — the UniMax over-repetition guard. */
  private val UnimaxEpochCap = 4L

  /** Deterministic 10% document sample: hash(text) mod 100 < 10. */
  def docSample(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(pmod(DedupOps.h60(col("text")), lit(100L)) < 10)
      .select("doc_id", "lang", "n_chars")
      .orderBy("doc_id")

  private val docSampleSql: String =
    s"""SELECT doc_id, lang, n_chars FROM documents
       |WHERE ${hexpr.format("text")} % 100 < 10
       |ORDER BY doc_id""".stripMargin

  /** Per-source document cap (the "domain cap" of web-corpus curation:
    * no single domain/source may dominate the mixture). Keeps at most
    * [[SourceCap]] docs per source, chosen by the deterministic
    * content-hash order (so the kept subset is a uniform sample within
    * the source, reproducible across runs and cluster sizes), doc_id as
    * tie-break. Emits the kept roster.
    *
    * Scale: one shuffle on `source` + a per-partition top-K. At 100 TB
    * skewed sources (one domain = half the corpus) make full sorts
    * unbalanced, but the rank-then-filter form lets AQE split the skewed
    * partition, and a two-phase per-partition pre-top-K (TopKAggregator)
    * is the drop-in if a single source outgrows an executor. */
  private val SourceCap = 15

  def sourceCaps(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("rnd"), col("doc_id"))
    Tables.documents(spark, dir)
      .withColumn("rnd", pmod(DedupOps.h60(col("text")), lit(10000L)))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= SourceCap)
      .select(col("source"), col("rk"), col("doc_id"))
      .orderBy("source", "rk")
  }

  private val sourceCapsSql: String =
    s"""WITH r AS (
       |  SELECT source, doc_id,
       |         row_number() OVER (PARTITION BY source
       |           ORDER BY ${hexpr.format("text")} % 10000, doc_id) AS rk
       |  FROM documents)
       |SELECT source, rk, doc_id FROM r WHERE rk <= $SourceCap
       |ORDER BY source, rk""".stripMargin

  /** Length-outlier filter: docs outside the corpus [p5, p95] char-length
    * band (truncation artifacts and boilerplate walls live in the tails).
    * The percentile bounds are one global aggregate (a broadcastable
    * 1-row frame — no per-row subquery), so the corpus streams once
    * against broadcast bounds; emits the flagged tail docs. */
  def docLengthOutliers(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // bounds are ROUNDED before the comparison (not just for display):
    // interpolated percentiles are ulp-divergent across engines, and a
    // threshold compared against an unrounded value is exactly the
    // convention violation that flips row sets on one engine only
    val bounds = docs.agg(
      round(expr("percentile(n_chars, 0.05)"), 6).as("p5"),
      round(expr("percentile(n_chars, 0.95)"), 6).as("p95"))
    docs.crossJoin(broadcast(bounds))
      .filter(col("n_chars") < col("p5") || col("n_chars") > col("p95"))
      .withColumn("side",
        when(col("n_chars") < col("p5"), lit("short")).otherwise(lit("long")))
      .select(col("doc_id"), col("n_chars"), col("side"), col("p5"), col("p95"))
      .orderBy("doc_id")
  }

  private val docLengthOutliersSql: String =
    """WITH b AS (
      |  SELECT round(quantile_cont(n_chars, 0.05), 6) AS p5,
      |         round(quantile_cont(n_chars, 0.95), 6) AS p95
      |  FROM documents)
      |SELECT d.doc_id, d.n_chars,
      |       CASE WHEN d.n_chars < b.p5 THEN 'short' ELSE 'long' END AS side,
      |       b.p5 AS p5, b.p95 AS p95
      |FROM documents d CROSS JOIN b
      |WHERE d.n_chars < b.p5 OR d.n_chars > b.p95
      |ORDER BY d.doc_id""".stripMargin

  /** Temperature-scaled source mixing weights (T = 2): the data-mixing
    * move that upweights small sources — sampling weight ∝ share^(1/T),
    * renormalized. T = 2 makes the exponent a SQUARE ROOT, which is
    * IEEE-correctly-rounded on every engine (a pow()-based temperature
    * would be ulp-divergent); shares and the final weights go through
    * fixed-point floors since they are integer-count ratios. One
    * aggregate over the corpus + a broadcast-sized (|sources|) frame —
    * the weights table a sampler would then broadcast-join against the
    * corpus at any scale. */
  def sourceTemperatureWeights(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val tot = counts.agg(sum(col("n_docs")).as("total"))
    val u = counts.crossJoin(broadcast(tot))
      .withColumn("share", floor(col("n_docs") * 1e6 / col("total")) / lit(1e6))
      .withColumn("uw", round(sqrt(col("n_docs").cast("double") / col("total")), 9))
    val z = u.agg(sum(col("uw").cast("decimal(28,12)")).cast("double").as("z"))
    u.crossJoin(broadcast(z))
      .withColumn("weight", floor(col("uw") * 1e6 / col("z")) / lit(1e6))
      .select("source", "n_docs", "share", "weight")
      .orderBy("source")
  }

  private val sourceTemperatureWeightsSql: String =
    """WITH c AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
      |t AS (SELECT sum(n_docs) AS total FROM c),
      |u AS (
      |  SELECT source, n_docs,
      |         floor(n_docs * 1e6 / t.total) / 1e6 AS share,
      |         round(sqrt(CAST(n_docs AS DOUBLE) / t.total), 9) AS uw
      |  FROM c CROSS JOIN t),
      |z AS (SELECT CAST(sum(CAST(uw AS DECIMAL(28,12))) AS DOUBLE) AS z FROM u)
      |SELECT source, CAST(n_docs AS BIGINT) AS n_docs, share,
      |       floor(uw * 1e6 / z.z) / 1e6 AS weight
      |FROM u CROSS JOIN z
      |ORDER BY source""".stripMargin

  private val SampleTarget = 100

  /** Materialized temperature-weighted sample — the draw the
    * [[sourceTemperatureWeights]] plan PLANS: a deterministic Bernoulli
    * thinning whose per-source keep-rate is the T=2 mixture weight scaled
    * to a [[SampleTarget]]-doc expected total, so small sources survive at
    * a higher rate than their raw share (the whole point of temperature
    * mixing). keep ⇔ h60(text) mod 1e6 < rate_micro — content-hash
    * Bernoulli, so the draw is reproducible across runs, engines and
    * cluster sizes, and NO per-source sort or top-k is paid (contrast
    * [[sourceCaps]]: rank-based capping needs a window sort; rate-based
    * thinning is a stateless map-side filter — at 100 TB that difference
    * is a full shuffle of the corpus).
    *
    * Exactness: weight is 6-dp fixed-point, so rate_micro =
    * floor(target · weight · 1e6 / n_docs) is integer arithmetic on both
    * engines (the double products stay ≤ 1e12, far under 2^53). */
  def sourceWeightedSample(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val tot = counts.agg(sum(col("n_docs")).as("total"))
    val u = counts.crossJoin(broadcast(tot))
      .withColumn("uw", round(sqrt(col("n_docs").cast("double") / col("total")), 9))
    val z = u.agg(sum(col("uw").cast("decimal(28,12)")).cast("double").as("z"))
    val rates = u.crossJoin(broadcast(z))
      .withColumn("weight", floor(col("uw") * 1e6 / col("z")) / lit(1e6))
      .withColumn("rate_micro",
        least(lit(1000000L),
          floor(lit(SampleTarget) * col("weight") * 1e6 / col("n_docs")).cast("long")))
      .select("source", "rate_micro")
    docs.join(broadcast(rates), Seq("source"))
      .filter(pmod(DedupOps.h60(col("text")), lit(1000000L)) < col("rate_micro"))
      .select(col("doc_id"), col("source"), col("rate_micro"))
      .orderBy("doc_id")
  }

  private val sourceWeightedSampleSql: String =
    s"""WITH c AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
       |t AS (SELECT sum(n_docs) AS total FROM c),
       |u AS (
       |  SELECT source, n_docs,
       |         round(sqrt(CAST(n_docs AS DOUBLE) / t.total), 9) AS uw
       |  FROM c CROSS JOIN t),
       |z AS (SELECT CAST(sum(CAST(uw AS DECIMAL(28,12))) AS DOUBLE) AS z FROM u),
       |r AS (
       |  SELECT source,
       |         least(1000000, CAST(floor($SampleTarget * (floor(uw * 1e6 / z.z) / 1e6) * 1e6 / n_docs) AS BIGINT)) AS rate_micro
       |  FROM u CROSS JOIN z)
       |SELECT d.doc_id, d.source, r.rate_micro
       |FROM documents d JOIN r ON r.source = d.source
       |WHERE ${hexpr.format("d.text")} % 1000000 < r.rate_micro
       |ORDER BY d.doc_id""".stripMargin

  /** Two-sample Kolmogorov–Smirnov drift matrix over document length —
    * the distribution-shift alarm that [[labelPsi]]'s binned PSI can't
    * give you for a CONTINUOUS metric (PSI needs a bin choice; KS is
    * bin-free): for every source pair, D = max over x of
    * |F_a(x) − F_b(x)| on the n_chars ECDFs, plus the √(n_a·n_b/(n_a+n_b))
    * scaling that turns D into the test statistic. The max is attained at
    * a jump point, so evaluating on the pooled distinct-value grid is
    * exact, and the integer cross-multiplied form
    * D = max|cum_a·n_b − cum_b·n_a| / (n_a·n_b) never compares doubles —
    * the max is taken over exact BIGINTs, so Spark and any other engine
    * agree bit-for-bit.
    *
    * The OUTPUT is integer-exact too — no float op anywhere, so no two
    * engines (and no result-hash canonicalization of a result file) can
    * ever disagree on a bit: `d_int` is the exact BIGINT numerator,
    * `ks_stat_micro` = ⌊10⁶·D⌋ via integral division, and
    * `ks_scaled_sq_micro` = ⌊10⁶·D²·n_a·n_b/(n_a+n_b)⌋ — the SQUARE of
    * the scaled statistic in micro-units (critical-value tables compare
    * equally well against c(α)², and the square keeps the whole pipeline
    * in integral division: Spark's `div` on DECIMAL(38,0) and DuckDB's
    * `//` on HUGEINT are both exact integral quotients).
    *
    * Shape: ONE corpus scan to (source, v) counts; the ECDF grid is
    * |sources|×|distinct v| (tiny — sources is a 20-row broadcast, the
    * one sanctioned cross join); the pair stage joins the grid to itself
    * on v (equi-join, |S|²·|V| rows of integers) and max-aggregates.
    * Nothing downstream of the first groupBy ever rescans the corpus. */
  def sourceLengthKs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("source"), col("n_chars").as("v"))
    val cnt = docs.groupBy(col("source"), col("v")).agg(count(lit(1)).as("c"))
      .materializeOnce // feeds the value grid, the per-source totals and the ECDF
    val vals = cnt.select("v").distinct()
    val srcs = cnt.select("source").distinct()
    val tot = cnt.groupBy(col("source")).agg(sum(col("c")).as("n"))
    val w = Window.partitionBy(col("source")).orderBy(col("v"))
    val ecdf = vals.crossJoin(broadcast(srcs))
      .join(cnt, Seq("source", "v"), "left")
      .withColumn("cum", sum(coalesce(col("c"), lit(0L))).over(w))
      .join(broadcast(tot), Seq("source"))
    val a = ecdf.select(col("source").as("source_a"), col("v"),
      col("cum").as("cum_a"), col("n").as("n_a"))
    val b = ecdf.select(col("source").as("source_b"), col("v"),
      col("cum").as("cum_b"), col("n").as("n_b"))
    a.join(b, Seq("v")).filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"), col("n_a"), col("n_b"))
      .agg(max(abs(col("cum_a") * col("n_b") - col("cum_b") * col("n_a"))).as("d_int"))
      .select(
        col("source_a"), col("source_b"), col("n_a"), col("n_b"), col("d_int"),
        expr("CAST(d_int AS DECIMAL(38,0)) * 1000000 div " +
          "(CAST(n_a AS DECIMAL(38,0)) * n_b)").as("ks_stat_micro"),
        expr("CAST(d_int AS DECIMAL(38,0)) * d_int * 1000000 div " +
          "(CAST(n_a AS DECIMAL(38,0)) * n_b * (n_a + n_b))").as("ks_scaled_sq_micro"))
      .orderBy("source_a", "source_b")
  }

  private val sourceLengthKsSql: String =
    """WITH cnt AS (
      |  SELECT source, n_chars AS v, count(*) AS c
      |  FROM documents GROUP BY 1, 2),
      |vals AS (SELECT DISTINCT v FROM cnt),
      |srcs AS (SELECT DISTINCT source FROM cnt),
      |tot AS (SELECT source, sum(c) AS n FROM cnt GROUP BY source),
      |ecdf AS (
      |  SELECT s.source, g.v,
      |         sum(coalesce(c.c, 0)) OVER (PARTITION BY s.source ORDER BY g.v) AS cum,
      |         t.n
      |  FROM vals g
      |  CROSS JOIN srcs s
      |  LEFT JOIN cnt c ON c.source = s.source AND c.v = g.v
      |  JOIN tot t ON t.source = s.source),
      |pairs AS (
      |  SELECT a.source AS source_a, b.source AS source_b,
      |         CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
      |         CAST(max(abs(a.cum * b.n - b.cum * a.n)) AS BIGINT) AS d_int
      |  FROM ecdf a
      |  JOIN ecdf b ON b.v = a.v AND a.source < b.source
      |  GROUP BY 1, 2, 3, 4)
      |SELECT source_a, source_b, n_a, n_b, d_int,
      |       CAST((CAST(d_int AS HUGEINT) * 1000000)
      |            // (CAST(n_a AS HUGEINT) * n_b) AS BIGINT) AS ks_stat_micro,
      |       CAST((CAST(d_int AS HUGEINT) * d_int * 1000000)
      |            // (CAST(n_a AS HUGEINT) * n_b * (n_a + n_b)) AS BIGINT) AS ks_scaled_sq_micro
      |FROM pairs
      |ORDER BY source_a, source_b""".stripMargin

  /** Two-sample Mann–Whitney U drift matrix over document length — the
    * RANK-based member of the drift family beside [[sourceLengthKs]]'s
    * ECDF-distance form: KS is sensitive to any distribution difference,
    * MWU specifically to a LOCATION shift (one source's docs stochastically
    * longer than another's), and U/(n_a·n_b) is the common-language effect
    * size — P(random a-doc > random b-doc), i.e. exactly the AUC — which a
    * mixture dashboard can read without a p-value table.
    *
    * Never ranks the pooled sample: U_ab = Σ_{x∈a,y∈b}([x>y] + ½[x=y])
    * depends only on the two VALUE HISTOGRAMS, so 2·U (accumulated in
    * DECIMAL(38,0), emitted BIGINT — the ½ never materializes as a float,
    * and the final ANSI cast is a loud range assert: it throws once
    * n_a·n_b > 2⁶², i.e. >2·10⁹ docs per source, instead of silently
    * wrapping) comes off the same
    * (source, value, count) grid the KS query uses:
    * 2U = Σ_v c_a(v)·(2·cum_b(v) − c_b(v)). One corpus scan to counts, the
    * |S|×|V| grid, a pair equi-join on v — nothing downstream rescans the
    * corpus, and there is no global sort anywhere (the textbook pooled-rank
    * formulation would need one per pair).
    *
    * The normal-approximation z uses the tie-corrected variance
    * Var(U) = n_a·n_b·((n³−n) − Σ_t(t³−t)) / (12·n·(n−1)) with tie counts
    * t taken over the POOLED pair histogram — t is cast to DECIMAL(38,0)
    * BEFORE cubing (HUGEINT in the DuckDB mirror), because t³ outgrows a
    * BIGINT once a value bucket holds >2M docs, which a 100 TB length
    * histogram will; cubing in BIGINT and casting the result would
    * overflow exactly there. z and auc go through the
    * repo's floor fixed-point (never round(double,6) — the
    * [[sourceLengthKs]] lesson); all-tied pairs (zero variance) emit NULL
    * rather than an engine-specific ±inf. */
  def sourceLengthMwu(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("source"), col("n_chars").as("v"))
    val cnt = docs.groupBy(col("source"), col("v")).agg(count(lit(1)).as("c"))
      .materializeOnce // feeds the value grid, per-source totals and both pair legs
    val vals = cnt.select("v").distinct()
    val srcs = cnt.select("source").distinct()
    val tot = cnt.groupBy(col("source")).agg(sum(col("c")).as("n"))
    val w = Window.partitionBy(col("source")).orderBy(col("v"))
    val ecdf = vals.crossJoin(broadcast(srcs))
      .join(cnt, Seq("source", "v"), "left")
      .withColumn("cv", coalesce(col("c"), lit(0L)))
      .withColumn("cum", sum(col("cv")).over(w))
      .join(broadcast(tot), Seq("source"))
    val a = ecdf.select(col("source").as("source_a"), col("v"),
      col("cv").as("cv_a"), col("cum").as("cum_a"), col("n").as("n_a"))
    val b = ecdf.select(col("source").as("source_b"), col("v"),
      col("cv").as("cv_b"), col("cum").as("cum_b"), col("n").as("n_b"))
    // the cubes go DECIMAL-FIRST: t³ outgrows a BIGINT once a pooled value
    // bucket holds >2M docs — cubing in LongType and casting after would
    // overflow exactly where the decimal sum is supposed to save us
    val td = (col("cv_a") + col("cv_b")).cast("decimal(38,0)")
    val pairs = a.join(b, Seq("v")).filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"), col("n_a"), col("n_b"))
      .agg(
        // accumulate 2U in DECIMAL(38,0) (overflow-safe ordering of the
        // partials), but EMIT it BIGINT: n_a·n_b > 2⁶² needs >2·10⁹ docs
        // per source, and the cast is the loud range assert — ANSI cast
        // overflow throws in both engines rather than corrupting (the r6
        // lesson: a DECIMAL(38,0) output column hash-diverges between the
        // driver's canonicalizer and the DuckDB rendering even when the
        // values are equal; RegistryAuditSpec now bans decimal outputs)
        sum((col("cv_a") * (lit(2L) * col("cum_b") - col("cv_b"))).cast("decimal(38,0)"))
          .cast("long").as("u2"),
        sum(td * td * td - td).as("ties"))
    // (n³−n) − Σ(t³−t): exact in DECIMAL (nn cast BEFORE the cube);
    // 0 iff every pooled value is tied
    val nn = col("n_a") + col("n_b")
    val nnd = nn.cast("decimal(38,0)")
    val aTerm = nnd * nnd * nnd - nnd - col("ties")
    pairs.select(
      col("source_a"), col("source_b"), col("n_a"), col("n_b"), col("u2"),
      (floor(col("u2").cast("double") / (lit(2.0) * col("n_a") * col("n_b")) * 1e6) / 1e6)
        .as("auc"),
      when(aTerm === lit(0).cast("decimal(38,0)"), lit(null).cast("double"))
        .otherwise(
          floor((col("u2") - col("n_a") * col("n_b")).cast("double") /
            (lit(2.0) * sqrt(
              col("n_a").cast("double") * col("n_b").cast("double") * aTerm.cast("double") /
                (lit(12.0) * nn.cast("double") * (nn - lit(1L)).cast("double")))) * 1e6) / 1e6)
        .as("z"))
      .orderBy("source_a", "source_b")
  }

  private val sourceLengthMwuSql: String =
    """WITH cnt AS (
      |  SELECT source, n_chars AS v, count(*) AS c
      |  FROM documents GROUP BY 1, 2),
      |vals AS (SELECT DISTINCT v FROM cnt),
      |srcs AS (SELECT DISTINCT source FROM cnt),
      |tot AS (SELECT source, sum(c) AS n FROM cnt GROUP BY source),
      |ecdf AS (
      |  SELECT s.source, g.v,
      |         coalesce(c.c, 0) AS cv,
      |         sum(coalesce(c.c, 0)) OVER (PARTITION BY s.source ORDER BY g.v) AS cum,
      |         t.n
      |  FROM vals g
      |  CROSS JOIN srcs s
      |  LEFT JOIN cnt c ON c.source = s.source AND c.v = g.v
      |  JOIN tot t ON t.source = s.source),
      |pairs AS (
      |  SELECT a.source AS source_a, b.source AS source_b,
      |         CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
      |         CAST(sum(CAST(a.cv * (2 * b.cum - b.cv) AS HUGEINT)) AS BIGINT) AS u2,
      |         sum(CAST(a.cv + b.cv AS HUGEINT) * (a.cv + b.cv) * (a.cv + b.cv)
      |             - (a.cv + b.cv)) AS ties
      |  FROM ecdf a
      |  JOIN ecdf b ON b.v = a.v AND a.source < b.source
      |  GROUP BY 1, 2, 3, 4)
      |SELECT source_a, source_b, n_a, n_b, u2,
      |       floor(CAST(u2 AS DOUBLE) / (2.0 * n_a * n_b) * 1e6) / 1e6 AS auc,
      |       CASE WHEN CAST(n_a + n_b AS HUGEINT) * (n_a + n_b) * (n_a + n_b)
      |                 - (n_a + n_b) - ties = 0 THEN NULL
      |            ELSE floor(CAST(u2 - n_a * n_b AS DOUBLE) /
      |                 (2.0 * sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
      |                   * CAST(CAST(n_a + n_b AS HUGEINT) * (n_a + n_b) * (n_a + n_b)
      |                          - (n_a + n_b) - ties AS DOUBLE)
      |                   / (12.0 * (n_a + n_b) * (n_a + n_b - 1)))) * 1e6) / 1e6
      |       END AS z
      |FROM pairs
      |ORDER BY source_a, source_b""".stripMargin

  /** Two-sample 1-D Wasserstein (earth-mover) drift matrix over document
    * length — the third member of the drift family: [[sourceLengthKs]]
    * reports the WORST pointwise ECDF gap (sup-norm, jump-sensitive) and
    * [[sourceLengthMwu]] a rank-based location shift; EMD is the L1 AREA
    * between the ECDFs, W₁ = ∫|F_a − F_b|dx — the only one of the three
    * that says HOW FAR the mass moved in value units (chars), which is
    * what a mixture rebalancer actually budgets against. Two sources can
    * share a KS statistic while one needs 10× the transport.
    *
    * Exactly the KS grid, exactly integer: both ECDFs are step functions
    * constant between pooled jump points, so W₁ = Σ_v |F_a(v) − F_b(v)| ·
    * gap(v) over the pooled distinct-value grid is EXACT (extra grid
    * points only split intervals carrying the same |ΔF|), and the
    * cross-multiplied form Σ|cum_a·n_b − cum_b·n_a|·gap accumulates in
    * DECIMAL(38,0) with the division deferred to one integral `div` —
    * no float op anywhere (the source_length_ks lesson). gap = lead(v)
    * INSIDE the per-source partition (every source carries the full
    * grid, so the per-source lead IS the global lead) — no unpartitioned
    * window over anything.
    *
    * Shape: identical to KS — one corpus scan to (source, v) counts, the
    * |S|×|V| broadcast-grid ECDF, a pair equi-join on v, one aggregate. */
  def sourceLengthEmd(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("source"), col("n_chars").as("v"))
    val cnt = docs.groupBy(col("source"), col("v")).agg(count(lit(1)).as("c"))
      .materializeOnce // feeds the value grid, per-source totals and both pair legs
    val vals = cnt.select("v").distinct()
    val srcs = cnt.select("source").distinct()
    val tot = cnt.groupBy(col("source")).agg(sum(col("c")).as("n"))
    val w = Window.partitionBy(col("source")).orderBy(col("v"))
    val ecdf = vals.crossJoin(broadcast(srcs))
      .join(cnt, Seq("source", "v"), "left")
      .withColumn("cum", sum(coalesce(col("c"), lit(0L))).over(w))
      .withColumn("gap", coalesce(lead(col("v"), 1).over(w) - col("v"), lit(0L)))
      .join(broadcast(tot), Seq("source"))
    val a = ecdf.select(col("source").as("source_a"), col("v"), col("gap"),
      col("cum").as("cum_a"), col("n").as("n_a"))
    val b = ecdf.select(col("source").as("source_b"), col("v"),
      col("cum").as("cum_b"), col("n").as("n_b"))
    a.join(b, Seq("v")).filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"), col("n_a"), col("n_b"))
      .agg(sum((abs(col("cum_a") * col("n_b") - col("cum_b") * col("n_a")) * col("gap"))
        .cast("decimal(38,0)")).cast("decimal(38,0)").as("emd_int"))
      // emd_int stays INTERNAL (decimal accumulator); the output carries
      // only the micro-scaled BIGINT — a DECIMAL(38,0) output column
      // hash-diverges between the driver's canonicalizer and the DuckDB
      // rendering even at equal values (the r6 lesson, now banned by
      // RegistryAuditSpec)
      .select(
        col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        expr("emd_int * 1000000 div (CAST(n_a AS DECIMAL(38,0)) * n_b)")
          .cast("long").as("emd_micro"))
      .orderBy("source_a", "source_b")
  }

  private val sourceLengthEmdSql: String =
    """WITH cnt AS (
      |  SELECT source, n_chars AS v, count(*) AS c
      |  FROM documents GROUP BY 1, 2),
      |vals AS (SELECT DISTINCT v FROM cnt),
      |srcs AS (SELECT DISTINCT source FROM cnt),
      |tot AS (SELECT source, sum(c) AS n FROM cnt GROUP BY source),
      |ecdf AS (
      |  SELECT s.source, g.v,
      |         sum(coalesce(c.c, 0)) OVER (PARTITION BY s.source ORDER BY g.v) AS cum,
      |         coalesce(lead(g.v) OVER (PARTITION BY s.source ORDER BY g.v) - g.v, 0) AS gap,
      |         t.n
      |  FROM vals g
      |  CROSS JOIN srcs s
      |  LEFT JOIN cnt c ON c.source = s.source AND c.v = g.v
      |  JOIN tot t ON t.source = s.source),
      |pairs AS (
      |  SELECT a.source AS source_a, b.source AS source_b,
      |         CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
      |         CAST(sum(CAST(abs(a.cum * b.n - b.cum * a.n) AS HUGEINT) * a.gap)
      |              AS DECIMAL(38,0)) AS emd_int
      |  FROM ecdf a
      |  JOIN ecdf b ON b.v = a.v AND a.source < b.source
      |  GROUP BY 1, 2, 3, 4)
      |SELECT source_a, source_b, n_a, n_b,
      |       CAST(CAST(emd_int AS HUGEINT) * 1000000
      |            // (CAST(n_a AS HUGEINT) * n_b) AS BIGINT) AS emd_micro
      |FROM pairs
      |ORDER BY source_a, source_b""".stripMargin

  /** Per-source Spearman vs Pearson correlation between character length
    * and whitespace-token count — the markup/formatting drift diagnostic:
    * chars-per-token is a near-constant of clean prose, so Spearman ρ sits
    * near 1 for every healthy source, and a source where ρ holds but
    * Pearson r sags has heavy-tailed outliers (huge unbroken blobs —
    * minified JS, base64) while BOTH sagging means the chars↔tokens
    * relation itself broke (binary junk, wide markup). Reading the pair is
    * the point of emitting both.
    *
    * Spearman never sorts the corpus: the average rank of a value v within
    * its source is a function of v alone — rank₂(v) = 2·cum(v) − c(v) + 1,
    * an exact odd integer off the per-source VALUE HISTOGRAM (doubling
    * dodges the ½ on even tie groups; Pearson is scale-invariant so ρ is
    * unchanged). Two histogram builds (shuffles ∝ distinct values, not
    * docs), equi-joins back, then ONE moment aggregate per source; the
    * textbook per-source row_number would be a data-sized sort per source.
    * Moment sums are DECIMAL(38,0)-exact (ranks ≤ 2n keep n·Σr² inside 38
    * digits up to n ≈ 10⁹ rows per source); only the final ratio is IEEE
    * double, identically associated in both dialects, floor fixed-point,
    * NULL on a constant column (zero variance) rather than ±inf. */
  def sourceRankSpearman(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .select(col("source"), col("n_chars").as("v"),
        TextFunctions.tokenCount(col("text")).cast("long").as("w"))
      .materializeOnce // feeds both histograms and the moment join
    def rank2(col0: String): DataFrame = {
      val win = Window.partitionBy(col("source")).orderBy(col(col0))
      base.groupBy(col("source"), col(col0))
        .agg(count(lit(1)).as("c"))
        .withColumn("r2",
          lit(2L) * sum(col("c")).over(win) - col("c") + lit(1L))
        .drop("c")
    }
    val dec = "decimal(38,0)"
    val m = base
      .join(rank2("v").withColumnRenamed("r2", "rx2"), Seq("source", "v"))
      .join(rank2("w").withColumnRenamed("r2", "ry2"), Seq("source", "w"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("rx2").cast(dec)).as("sx"), sum(col("ry2").cast(dec)).as("sy"),
        sum((col("rx2") * col("rx2")).cast(dec)).as("sxx"),
        sum((col("ry2") * col("ry2")).cast(dec)).as("syy"),
        sum((col("rx2") * col("ry2")).cast(dec)).as("sxy"),
        sum(col("v").cast(dec)).as("tx"), sum(col("w").cast(dec)).as("ty"),
        sum((col("v") * col("v")).cast(dec)).as("txx"),
        sum((col("w") * col("w")).cast(dec)).as("tyy"),
        sum((col("v") * col("w")).cast(dec)).as("txy"))
    def corr6(s1: Column, s2: Column, s11: Column, s22: Column, s12: Column): Column = {
      val n = col("n_docs").cast(dec)
      val num = (n * s12 - s1 * s2).cast("double")
      val d1 = (n * s11 - s1 * s1).cast("double")
      val d2 = (n * s22 - s2 * s2).cast("double")
      when(d1 * d2 === 0.0, lit(null).cast("double"))
        .otherwise(floor(num / sqrt(d1 * d2) * 1e6) / 1e6)
    }
    m.select(
      col("source"), col("n_docs"),
      corr6(col("sx"), col("sy"), col("sxx"), col("syy"), col("sxy"))
        .as("spearman_rho"),
      corr6(col("tx"), col("ty"), col("txx"), col("tyy"), col("txy"))
        .as("pearson_r"))
      .orderBy("source")
  }

  private val sourceRankSpearmanSql: String =
    s"""WITH base AS (
       |  SELECT source, n_chars AS v,
       |         ${TextFunctions.tokenCountSql} AS w
       |  FROM documents),
       |hx AS (
       |  SELECT source, v,
       |         2 * sum(count(*)) OVER (PARTITION BY source ORDER BY v)
       |           - count(*) + 1 AS rx2
       |  FROM base GROUP BY source, v),
       |hy AS (
       |  SELECT source, w,
       |         2 * sum(count(*)) OVER (PARTITION BY source ORDER BY w)
       |           - count(*) + 1 AS ry2
       |  FROM base GROUP BY source, w),
       |m AS (
       |  SELECT b.source, count(*) AS n_docs,
       |         sum(rx2) AS sx, sum(ry2) AS sy,
       |         sum(rx2 * rx2) AS sxx, sum(ry2 * ry2) AS syy,
       |         sum(rx2 * ry2) AS sxy,
       |         sum(b.v) AS tx, sum(b.w) AS ty,
       |         sum(CAST(b.v AS HUGEINT) * b.v) AS txx,
       |         sum(CAST(b.w AS HUGEINT) * b.w) AS tyy,
       |         sum(CAST(b.v AS HUGEINT) * b.w) AS txy
       |  FROM base b
       |  JOIN hx ON hx.source = b.source AND hx.v = b.v
       |  JOIN hy ON hy.source = b.source AND hy.w = b.w
       |  GROUP BY b.source)
       |SELECT source, n_docs,
       |       CASE WHEN CAST(n_docs * sxx - sx * sx AS DOUBLE)
       |                 * CAST(n_docs * syy - sy * sy AS DOUBLE) = 0 THEN NULL
       |            ELSE floor(CAST(n_docs * sxy - sx * sy AS DOUBLE)
       |                 / sqrt(CAST(n_docs * sxx - sx * sx AS DOUBLE)
       |                        * CAST(n_docs * syy - sy * sy AS DOUBLE)) * 1e6) / 1e6
       |       END AS spearman_rho,
       |       CASE WHEN CAST(n_docs * txx - tx * tx AS DOUBLE)
       |                 * CAST(n_docs * tyy - ty * ty AS DOUBLE) = 0 THEN NULL
       |            ELSE floor(CAST(n_docs * txy - tx * ty AS DOUBLE)
       |                 / sqrt(CAST(n_docs * txx - tx * tx AS DOUBLE)
       |                        * CAST(n_docs * tyy - ty * ty AS DOUBLE)) * 1e6) / 1e6
       |       END AS pearson_r
       |FROM m
       |ORDER BY source""".stripMargin

  /** Epoch/repeat schedule — the data-repetition plan a training run is
    * actually configured with: given a token budget (2× the corpus here)
    * split by temperature-flattened (T=2) per-source TOKEN weights, how
    * many epochs of each source to take, capped at 4 (the
    * repetition-hurts threshold), and the tokens that plan actually
    * delivers. Epochs are exact integer millis (floor(target·1000/have),
    * capped), planned tokens exact BIGINT floor-div — no float crosses an
    * engine boundary unrounded, so the plan a 100 TB run would execute is
    * byte-identical on both engines. One token-count aggregate (the only
    * data-sized stage) + source-sized arithmetic. */
  def sourceEpochSchedule(spark: SparkSession, dir: String): DataFrame = {
    val perSource = Tables.documents(spark, dir)
      .select(col("source"), size(TextFunctions.tokens(col("text"))).as("n_toks"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).cast("long").as("src_tokens"))
    val tot = perSource.agg(sum(col("src_tokens")).cast("long").as("total"))
    val u = perSource.crossJoin(broadcast(tot))
      .withColumn("uw", round(sqrt(col("src_tokens").cast("double") / col("total")), 9))
    val z = u.agg(sum(col("uw").cast("decimal(28,12)")).cast("double").as("z"))
    u.crossJoin(broadcast(z))
      .withColumn("weight", floor(col("uw") * 1e6 / col("z")) / lit(1e6))
      .withColumn("budget", col("total") * 2)
      .withColumn("target_tokens", floor(col("budget") * col("weight")).cast("long"))
      .withColumn("epochs_millis",
        least(floor(col("target_tokens") * 1000.0 / col("src_tokens")).cast("long"), lit(4000L)))
      .withColumn("planned_tokens",
        expr("src_tokens * epochs_millis div 1000").cast("long"))
      .select("source", "n_docs", "src_tokens", "weight",
        "target_tokens", "epochs_millis", "planned_tokens")
      .orderBy("source")
  }

  private val sourceEpochScheduleSql: String =
    s"""WITH c AS (
      |  SELECT source, count(*) AS n_docs,
      |         sum(${TextFunctions.tokenCountSql}) AS src_tokens
      |  FROM documents GROUP BY source),
      |t AS (SELECT CAST(sum(src_tokens) AS BIGINT) AS total FROM c),
      |u AS (
      |  SELECT source, n_docs, src_tokens,
      |         round(sqrt(CAST(src_tokens AS DOUBLE) / t.total), 9) AS uw, t.total
      |  FROM c CROSS JOIN t),
      |z AS (SELECT CAST(sum(CAST(uw AS DECIMAL(28,12))) AS DOUBLE) AS z FROM u),
      |p AS (
      |  SELECT source, n_docs, src_tokens,
      |         floor(uw * 1e6 / z.z) / 1e6 AS weight,
      |         total * 2 AS budget
      |  FROM u CROSS JOIN z),
      |q AS (
      |  SELECT source, n_docs, src_tokens, weight,
      |         CAST(floor(budget * weight) AS BIGINT) AS target_tokens
      |  FROM p)
      |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
      |       CAST(src_tokens AS BIGINT) AS src_tokens, weight, target_tokens,
      |       least(CAST(floor(target_tokens * 1000.0 / src_tokens) AS BIGINT), 4000) AS epochs_millis,
      |       CAST(CAST(src_tokens AS BIGINT) * least(CAST(floor(target_tokens * 1000.0 / src_tokens) AS BIGINT), 4000) // 1000 AS BIGINT) AS planned_tokens
      |FROM q
      |ORDER BY source""".stripMargin

  /** UniMax-style token-budget allocation — the waterfilling answer to
    * "how many epochs of each source for a fixed training budget":
    * spread the budget (2× the corpus) as UNIFORMLY as possible across
    * sources, capping every source at [[UnimaxEpochCap]] epochs of its
    * own tokens so small sources cannot be over-repeated into
    * memorization. Contrast [[sourceEpochSchedule]]'s temperature
    * weighting, which allocates proportionally to size^α — UniMax
    * instead equalizes absolute token draws until a source's repeat cap
    * binds (the allocation MuNet/UniMax uses for multilingual mixes).
    *
    * The waterfill is closed-form and integer-exact: rank sources by
    * cap; a source saturates iff granting ITS cap to itself and every
    * larger source still fits the budget net of smaller caps
    * (cap·(n−rk+1) + prefix_before ≤ B); the rest share the remainder
    * level = (B − Σsat caps) div (n − S). No iteration, no floats.
    *
    * Scale shape: one token-count scan to the ~20-row source frame;
    * rank + prefix sums run single-partition over that fixed frame
    * (bounded-frame allowlist) — the corpus is never sorted. */
  def sourceUnimaxAlloc(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy()
    val ord = Window.orderBy(col("rk"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val perSource = Tables.documents(spark, dir)
      .select(col("source"), size(TextFunctions.tokens(col("text"))).as("n_toks"))
      .groupBy(col("source"))
      .agg(sum(col("n_toks")).cast("long").as("src_tokens"))
      .withColumn("cap_tokens", col("src_tokens") * UnimaxEpochCap)
    GlobalWindow.boundedRowNumber(perSource, "rk")(col("cap_tokens"), col("source"))
      .withColumn("n_src", count(lit(1)).over(w))
      .withColumn("budget_tokens", sum(col("src_tokens")).over(w) * 2)
      .withColumn("prefix_before",
        sum(col("cap_tokens")).over(ord) - col("cap_tokens"))
      .withColumn("saturated",
        expr("CAST(cap_tokens AS DECIMAL(38,0)) * (n_src - rk + 1) + prefix_before") <=
          col("budget_tokens"))
      .withColumn("n_sat", sum(col("saturated").cast("long")).over(w))
      .withColumn("sat_tokens",
        sum(when(col("saturated"), col("cap_tokens")).otherwise(lit(0L))).over(w))
      .withColumn("level",
        when(col("n_sat") === col("n_src"), lit(null).cast("long"))
          .otherwise(expr("(budget_tokens - sat_tokens) div (n_src - n_sat)")))
      .withColumn("alloc_tokens",
        when(col("saturated"), col("cap_tokens")).otherwise(col("level")))
      .withColumn("epochs_ppm",
        when(col("src_tokens") === 0, lit(null).cast("long"))
          .otherwise(expr("CAST(alloc_tokens AS DECIMAL(38,0)) * 1000000 div src_tokens")))
      .select(col("source"), col("src_tokens"), col("cap_tokens"),
        col("budget_tokens"), col("saturated"), col("alloc_tokens"),
        col("epochs_ppm"))
      .orderBy("source")
  }

  private val sourceUnimaxAllocSql: String =
    s"""WITH c AS (
       |  SELECT source,
       |         sum(${TextFunctions.tokenCountSql}) AS src_tokens
       |  FROM documents GROUP BY source),
       |k AS (SELECT source, CAST(src_tokens AS BIGINT) AS src_tokens,
       |             CAST(src_tokens * $UnimaxEpochCap AS BIGINT) AS cap_tokens FROM c),
       |r AS (
       |  SELECT *, row_number() OVER (ORDER BY cap_tokens, source) AS rk,
       |         count(*) OVER () AS n_src,
       |         sum(src_tokens) OVER () * 2 AS budget_tokens
       |  FROM k),
       |p AS (
       |  SELECT *, sum(cap_tokens) OVER (ORDER BY rk
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cap_tokens
       |           AS prefix_before
       |  FROM r),
       |f AS (
       |  SELECT *, CAST(cap_tokens AS HUGEINT) * (n_src - rk + 1) + prefix_before
       |              <= budget_tokens AS saturated
       |  FROM p),
       |g AS (
       |  SELECT *, sum(CASE WHEN saturated THEN 1 ELSE 0 END) OVER () AS n_sat,
       |         sum(CASE WHEN saturated THEN cap_tokens ELSE 0 END) OVER () AS sat_tokens
       |  FROM f),
       |h AS (
       |  SELECT *, CASE WHEN n_sat = n_src THEN NULL
       |            ELSE (budget_tokens - sat_tokens) // (n_src - n_sat) END AS lvl
       |  FROM g)
       |SELECT source, src_tokens, cap_tokens,
       |       CAST(budget_tokens AS BIGINT) AS budget_tokens, saturated,
       |       CAST(CASE WHEN saturated THEN cap_tokens ELSE lvl END AS BIGINT)
       |         AS alloc_tokens,
       |       CAST(CASE WHEN src_tokens = 0 THEN NULL
       |            ELSE CAST(CASE WHEN saturated THEN cap_tokens ELSE lvl END AS HUGEINT)
       |                 * 1000000 // src_tokens END AS BIGINT) AS epochs_ppm
       |FROM h ORDER BY source""".stripMargin

  /** Cross-source quantile normalization of the quality score — the
    * batch-effect correction a mixed-source curation run needs before any
    * GLOBAL quality threshold: each doc's within-source quantile position
    * is mapped onto the global score distribution, so "top 30% of its
    * source" means the same thing for a source whose raw scores run high
    * and one whose scores run low (a global cutoff alone would gut the
    * latter). The centile index is the exact integer ceil(rank·100/count)
    * (surjective onto 1..100 for any source size — ntile would misalign
    * sources of different sizes), and the normalized value is the global
    * centile's upper-boundary score.
    *
    * Shape: one scoring scan; a per-source window (shuffle on source) for
    * the ranks; the global boundary frame is 100 rows, broadcast into the
    * final join. The global ranks come from [[GlobalWindow]]'s two-phase
    * range-partitioned numbering, so no single-task sort exists at any
    * scale. */
  def qualityQuantileNorm(spark: SparkSession, dir: String): DataFrame = {
    val score = TextFunctions.qualityScore(
      col("n_tokens"), col("alpha_ratio"), col("stop_ratio"))
    val scored = Tables.documents(spark, dir)
      .withColumn("toks", TextFunctions.tokens(col("text")))
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("alpha_ratio", TextFunctions.alphaRatio(col("text")))
      .withColumn("stop_ratio",
        TextFunctions.stopwordRatio(col("toks"), col("n_tokens")))
      .withColumn("q", round(score, 6))
      .select(col("doc_id"), col("source"), col("q"))
      .materializeOnce // feeds the per-source ranks AND the global boundary frame
    val srcW = Window.partitionBy(col("source")).orderBy(col("q"), col("doc_id"))
    def centile(rn: Column, cnt: Column): Column =
      floor((rn * 100 + cnt - 1).cast("double") / cnt).cast("int")
    val tiled = scored
      .withColumn("rn", row_number().over(srcW))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("source"))))
      .withColumn("tile", centile(col("rn"), col("cnt")))
    val bounds = GlobalWindow.rowNumberWithCount(scored, "grn", "gcnt")(
      col("q"), col("doc_id"))
      .withColumn("tile", centile(col("grn"), col("gcnt")))
      .groupBy(col("tile")).agg(max(col("q")).as("q_norm"))
    tiled.join(broadcast(bounds), Seq("tile"))
      .select(col("doc_id"), col("source"), col("q"), col("tile"), col("q_norm"))
      .orderBy("doc_id")
  }

  private val qualityQuantileNormSql: String = {
    s"""WITH t AS (
       |  SELECT doc_id, source, text,
       |         ${TextFunctions.tokensSql} AS toks
       |  FROM documents),
       |m AS (
       |  SELECT doc_id, source,
       |         CAST(len(toks) AS INT) AS n_tokens,
       |         ${TextFunctions.alphaRatioSql()} AS alpha_ratio,
       |         ${TextFunctions.stopwordRatioSql("toks")} AS stop_ratio
       |  FROM t),
       |q AS (
       |  SELECT doc_id, source,
       |         round(${TextFunctions.qualityScoreSql("n_tokens", "alpha_ratio", "stop_ratio")}, 6) AS q
       |  FROM m),
       |tiled AS (
       |  SELECT doc_id, source, q,
       |         CAST(floor(CAST(row_number() OVER (PARTITION BY source ORDER BY q, doc_id) * 100
       |                         + count(*) OVER (PARTITION BY source) - 1 AS DOUBLE)
       |                    / count(*) OVER (PARTITION BY source)) AS INT) AS tile
       |  FROM q),
       |bounds AS (
       |  SELECT tile, max(q) AS q_norm FROM (
       |    SELECT q,
       |           CAST(floor(CAST(row_number() OVER (ORDER BY q, doc_id) * 100
       |                           + count(*) OVER () - 1 AS DOUBLE)
       |                      / count(*) OVER ()) AS INT) AS tile
       |    FROM q) g
       |  GROUP BY tile)
       |SELECT tiled.doc_id, tiled.source, tiled.q, tiled.tile, bounds.q_norm
       |FROM tiled JOIN bounds ON bounds.tile = tiled.tile
       |ORDER BY tiled.doc_id""".stripMargin
  }

  /** Quality deciles: ntile(10) over the composite quality score (ties
    * broken by doc_id so the tiling is total-ordered on both engines),
    * with per-decile population stats — the quality-tiered view a curator
    * mixes from ("top-3-decile corpus"). The tiling runs through
    * [[GlobalWindow.ntile]] (two-phase range-partitioned numbering +
    * the exact SQL bucket rule) + one aggregate — no single-task sort. */
  def docQualityDeciles(spark: SparkSession, dir: String): DataFrame = {
    val toks = TextFunctions.tokens(col("text"))
    val score = TextFunctions.qualityScore(
      col("n_tokens"), col("alpha_ratio"), col("stop_ratio"))
    val scored = Tables.documents(spark, dir)
      .withColumn("toks", toks)
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("alpha_ratio", TextFunctions.alphaRatio(col("text")))
      .withColumn("stop_ratio",
        TextFunctions.stopwordRatio(col("toks"), col("n_tokens")))
      .withColumn("quality_score", round(score, 6))
    GlobalWindow.ntile(scored, 10, "decile")(
      col("quality_score"), col("doc_id"))
      .groupBy(col("decile"))
      .agg(
        count(lit(1)).as("n_docs"),
        min(col("quality_score")).as("min_score"),
        max(col("quality_score")).as("max_score"),
        sum(col("n_chars")).as("total_chars"))
      .orderBy("decile")
  }

  private val docQualityDecilesSql: String = {
    s"""WITH t AS (
       |  SELECT doc_id, text, n_chars,
       |         ${TextFunctions.tokensSql} AS toks
       |  FROM documents),
       |m AS (
       |  SELECT doc_id, n_chars,
       |         CAST(len(toks) AS INT) AS n_tokens,
       |         ${TextFunctions.alphaRatioSql()} AS alpha_ratio,
       |         ${TextFunctions.stopwordRatioSql("toks")} AS stop_ratio
       |  FROM t),
       |q AS (
       |  SELECT doc_id, n_chars,
       |         round(${TextFunctions.qualityScoreSql("n_tokens", "alpha_ratio", "stop_ratio")}, 6) AS quality_score
       |  FROM m),
       |d AS (
       |  SELECT n_chars, quality_score,
       |         ntile(10) OVER (ORDER BY quality_score, doc_id) AS decile
       |  FROM q)
       |SELECT decile, count(*) AS n_docs,
       |       min(quality_score) AS min_score,
       |       max(quality_score) AS max_score,
       |       CAST(sum(n_chars) AS BIGINT) AS total_chars
       |FROM d GROUP BY decile ORDER BY decile""".stripMargin
  }

  /** Jensen–Shannon divergence between every pair of per-source unigram
    * distributions — the symmetric, bounded (≤ ln 2) drift statistic a
    * mixture dashboard actually plots (KS/MWU compare LENGTH
    * distributions; χ² is unbounded and sample-size-inflated; JS is the
    * standard for comparing token distributions across sources or
    * snapshots). Identity used: with u = c_a·n_b and v = c_b·n_a
    * (exact integers), p/m = 2u/(u+v), so each token's contribution is
    * c_a·(ln 2u − ln(u+v))/n_a + c_b·(ln 2v − ln(u+v))/n_b — zero-count
    * sides contribute nothing and no probability is ever formed in
    * floating point before the final divisions. Each ln is rounded to 6
    * (the sourceTokenEntropy discipline), products are summed through
    * DECIMAL(28,10) so partial-agg order cannot perturb them, and the
    * result is emitted as floor-fixed-point micro-units.
    *
    * Scale shape: one corpus scan → (source, token) counts; the pair
    * stage runs on the |S|×|V| grid (the same bounded frame as the
    * KS/MWU matrix — |S| is a dimension, |V| the vocabulary, never the
    * corpus); the final aggregate has |S|² keys. */
  def sourceJsDivergence(spark: SparkSession, dir: String): DataFrame = {
    val cnt = Tables.documents(spark, dir)
      .select(col("source"), explode(TextFunctions.tokens(col("text"))).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
      .materializeOnce // feeds the vocab grid, totals, and both pair legs
    val vocab = cnt.select("w").distinct()
    val srcs = cnt.select("source").distinct()
    val tot = cnt.groupBy(col("source")).agg(sum(col("c")).as("n"))
    val grid = vocab.crossJoin(broadcast(srcs))
      .join(cnt, Seq("source", "w"), "left")
      .withColumn("cv", coalesce(col("c"), lit(0L)))
      .join(broadcast(tot), Seq("source"))
    val a = grid.select(col("source").as("source_a"), col("w"),
      col("cv").as("ca"), col("n").as("n_a"))
    val b = grid.select(col("source").as("source_b"), col("w"),
      col("cv").as("cb"), col("n").as("n_b"))
    val u = col("ca") * col("n_b")
    val v = col("cb") * col("n_a")
    val luv = round(log((u + v).cast("double")), 6)
    val zero = lit(0).cast("decimal(28,10)")
    a.join(b, Seq("w")).filter(col("source_a") < col("source_b"))
      .filter(col("ca") + col("cb") > 0)
      .groupBy(col("source_a"), col("source_b"), col("n_a"), col("n_b"))
      .agg(
        sum(when(col("ca") > 0,
          (col("ca") * (round(log(lit(2.0) * u.cast("double")), 6) - luv))
            .cast("decimal(28,10)")).otherwise(zero)).as("ta"),
        sum(when(col("cb") > 0,
          (col("cb") * (round(log(lit(2.0) * v.cast("double")), 6) - luv))
            .cast("decimal(28,10)")).otherwise(zero)).as("tb"),
        sum(when(col("ca") > 0 && col("cb") > 0, 1L).otherwise(0L)).as("shared_vocab"))
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        col("shared_vocab"),
        floor((col("ta").cast("double") / col("n_a")
          + col("tb").cast("double") / col("n_b")) * 500000).cast("long")
          .as("js_micro"))
      .orderBy("source_a", "source_b")
  }

  private val sourceJsDivergenceSql: String =
    s"""WITH t AS (
       |  SELECT source,
       |         ${TextFunctions.tokensSql} AS toks
       |  FROM documents),
       |wc AS (SELECT source, unnest(toks) AS w FROM t),
       |cnt AS MATERIALIZED (SELECT source, w, count(*) AS c FROM wc GROUP BY 1, 2),
       |vocab AS (SELECT DISTINCT w FROM cnt),
       |srcs AS (SELECT DISTINCT source FROM cnt),
       |tot AS (SELECT source, sum(c) AS n FROM cnt GROUP BY source),
       |grid AS (
       |  SELECT s.source, vv.w, coalesce(c.c, 0) AS cv, tt.n
       |  FROM vocab vv CROSS JOIN srcs s
       |  LEFT JOIN cnt c ON c.source = s.source AND c.w = vv.w
       |  JOIN tot tt ON tt.source = s.source),
       |p AS (
       |  SELECT a.source AS source_a, b.source AS source_b,
       |         a.n AS n_a, b.n AS n_b, a.cv AS ca, b.cv AS cb,
       |         a.cv * b.n AS u, b.cv * a.n AS v
       |  FROM grid a JOIN grid b ON a.w = b.w AND a.source < b.source
       |  WHERE a.cv + b.cv > 0),
       |g AS (
       |  SELECT source_a, source_b, n_a, n_b,
       |         sum(CASE WHEN ca > 0
       |                  THEN CAST(ca * (round(ln(2.0 * u), 6) - round(ln(CAST(u + v AS DOUBLE)), 6)) AS DECIMAL(28,10))
       |                  ELSE CAST(0 AS DECIMAL(28,10)) END) AS ta,
       |         sum(CASE WHEN cb > 0
       |                  THEN CAST(cb * (round(ln(2.0 * v), 6) - round(ln(CAST(u + v AS DOUBLE)), 6)) AS DECIMAL(28,10))
       |                  ELSE CAST(0 AS DECIMAL(28,10)) END) AS tb,
       |         sum(CASE WHEN ca > 0 AND cb > 0 THEN 1 ELSE 0 END) AS shared_vocab
       |  FROM p GROUP BY 1, 2, 3, 4)
       |SELECT source_a, source_b,
       |       CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       |       CAST(shared_vocab AS BIGINT) AS shared_vocab,
       |       CAST(floor((CAST(ta AS DOUBLE) / n_a + CAST(tb AS DOUBLE) / n_b) * 500000) AS BIGINT) AS js_micro
       |FROM g ORDER BY source_a, source_b""".stripMargin

  /** Duplication × quality cross-diagnostic — the curation question the
    * per-signal reports can't answer alone: IS duplicated text
    * concentrated in low-quality content (template spam repeating
    * itself), or spread evenly (organic syndication)? The duplication
    * signal is the span-level one ([[DedupQueries.docDupSpans]]: tokens
    * covered by a corpus-repeated 8-gram — the signal that fires on
    * near-dup and boilerplate content, not just byte-identical copies).
    * Per quality decile (same score and ntile as doc_quality_deciles):
    * document count, documents containing any duplicated span, and the
    * duplicated-token fraction of the decile's token mass in ppm.
    *
    * Scale shape: the quality scan is map-side; the span profile is the
    * docDupSpans pipeline (gram-hash aggregate + semi-join, ∝ corpus);
    * the two per-doc frames meet in a doc_id equi-join; the decile
    * numbering is the two-phase GlobalWindow; the final aggregate has
    * ten keys. */
  def dupRateByQuality(spark: SparkSession, dir: String): DataFrame = {
    val toks = TextFunctions.tokens(col("text"))
    val score = TextFunctions.qualityScore(
      col("n_tokens"), col("alpha_ratio"), col("stop_ratio"))
    val scored = Tables.documents(spark, dir)
      .withColumn("toks", toks)
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("alpha_ratio", TextFunctions.alphaRatio(col("text")))
      .withColumn("stop_ratio",
        TextFunctions.stopwordRatio(col("toks"), col("n_tokens")))
      .withColumn("quality_score", round(score, 6))
      .select("doc_id", "quality_score")
    val spans = DedupQueries.docDupSpans(spark, dir)
      .select(col("doc_id"), col("n_tokens"), col("dup_tokens"))
    val marked = scored.join(spans, Seq("doc_id"))
      .withColumn("has_dup", (col("dup_tokens") > 0).cast("long"))
    GlobalWindow.ntile(marked, 10, "decile")(col("quality_score"), col("doc_id"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("has_dup")).as("n_dup_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(col("dup_tokens")).as("dup_tokens"))
      .withColumn("dup_token_ppm",
        expr("CASE WHEN total_tokens > 0 THEN dup_tokens * 1000000 div total_tokens ELSE 0 END"))
      .orderBy("decile")
  }

  private val dupRateByQualitySql: String = {
    val k = 8 // DedupQueries.DupSpanK — the span gram width, mirrored
    val leadDefs = (1 until k).map(i => s"lead(tk, $i) OVER w AS t$i").mkString(", ")
    val gramArgs = ("tk" +: (1 until k).map(i => s"t$i")).mkString(", ")
    s"""WITH t AS (
       |  SELECT doc_id, text,
       |         ${TextFunctions.tokensSql} AS toks
       |  FROM documents),
       |m AS (
       |  SELECT doc_id,
       |         CAST(len(toks) AS INT) AS n_tokens,
       |         ${TextFunctions.alphaRatioSql()} AS alpha_ratio,
       |         ${TextFunctions.stopwordRatioSql("toks")} AS stop_ratio
       |  FROM t),
       |q AS (
       |  SELECT doc_id,
       |         round(${TextFunctions.qualityScoreSql("n_tokens", "alpha_ratio", "stop_ratio")}, 6) AS quality_score
       |  FROM m),
       |tok AS (
       |  SELECT doc_id, CAST(u.pos - 1 AS INT) AS pos, u.tk AS tk
       |  FROM t,
       |       LATERAL (SELECT unnest(toks) AS tk, generate_subscripts(toks, 1) AS pos) u),
       |g0 AS (
       |  SELECT doc_id, pos, tk, $leadDefs
       |  FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
       |grams AS (
       |  SELECT doc_id, pos,
       |         CAST('0x' || substring(md5(concat_ws(' ', $gramArgs)), 1, 15) AS BIGINT) AS h
       |  FROM g0 WHERE t${k - 1} IS NOT NULL),
       |dup AS (SELECT h FROM grams GROUP BY h HAVING count(*) >= 2),
       |isl AS (
       |  SELECT doc_id, pos,
       |         sum(CASE WHEN prev IS NULL OR pos - prev > $k THEN 1 ELSE 0 END)
       |           OVER (PARTITION BY doc_id ORDER BY pos) AS island
       |  FROM (SELECT g.doc_id, g.pos,
       |               lag(g.pos) OVER (PARTITION BY g.doc_id ORDER BY g.pos) AS prev
       |        FROM grams g JOIN dup USING (h))),
       |spans AS (
       |  SELECT doc_id, island, max(pos) - min(pos) + $k AS span_len
       |  FROM isl GROUP BY doc_id, island),
       |perdoc AS (
       |  SELECT doc_id, sum(span_len) AS dup_tokens FROM spans GROUP BY doc_id),
       |j AS (
       |  SELECT q.doc_id, q.quality_score,
       |         CAST(len(t.toks) AS BIGINT) AS n_tokens,
       |         CAST(coalesce(p.dup_tokens, 0) AS BIGINT) AS dup_tokens
       |  FROM q JOIN t USING (doc_id) LEFT JOIN perdoc p USING (doc_id)),
       |d AS (
       |  SELECT n_tokens, dup_tokens,
       |         CASE WHEN dup_tokens > 0 THEN 1 ELSE 0 END AS has_dup,
       |         ntile(10) OVER (ORDER BY quality_score, doc_id) AS decile
       |  FROM j)
       |SELECT decile, count(*) AS n_docs,
       |       CAST(sum(has_dup) AS BIGINT) AS n_dup_docs,
       |       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       |       CAST(sum(dup_tokens) AS BIGINT) AS dup_tokens,
       |       CAST(CASE WHEN sum(n_tokens) > 0
       |                 THEN sum(dup_tokens) * 1000000 // sum(n_tokens)
       |                 ELSE 0 END AS BIGINT) AS dup_token_ppm
       |FROM d GROUP BY decile ORDER BY decile""".stripMargin
  }

  private val ZipfTopN = 200

  /** Zipf fit of the token frequency distribution: OLS slope/intercept of
    * ln(freq) against ln(rank) over the top [[ZipfTopN]] tokens — the
    * corpus-health number (natural text ≈ −1; pathological corpora
    * deviate). The regression moments are computed relationally from
    * per-rank terms (each ln rounded to 6 — ulp-divergent otherwise —
    * products rounded to 9, DECIMAL sums), then slope = fixed-point
    * ratio. One token aggregate + a two-phase [[GlobalWindow]] ranking
    * of the vocabulary frame (vocab is sublinear in the corpus but
    * unbounded — no single-task sort even there). */
  def vocabZipfFit(spark: SparkSession, dir: String): DataFrame = {
    val freqs = Tables.documents(spark, dir)
      .select(explode(TextFunctions.tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
    val ranked = GlobalWindow.rowNumber(freqs, "rank")(
      col("freq").desc, col("token"))
      .filter(col("rank") <= ZipfTopN)
      .withColumn("x", round(log(col("rank").cast("double")), 6))
      .withColumn("y", round(log(col("freq").cast("double")), 6))
      .withColumn("xy", round(col("x") * col("y"), 9))
      .withColumn("xx", round(col("x") * col("x"), 9))
    def dsum(c: Column): Column = sum(c.cast("decimal(28,12)")).cast("double")
    ranked.agg(
      count(lit(1)).as("n"),
      dsum(col("x")).as("sx"), dsum(col("y")).as("sy"),
      dsum(col("xy")).as("sxy"), dsum(col("xx")).as("sxx"))
      .select(
        col("n"),
        (floor((col("n") * col("sxy") - col("sx") * col("sy")) * 1e6
          / (col("n") * col("sxx") - col("sx") * col("sx"))) / lit(1e6)).as("slope"),
        (floor((col("sy") - (col("n") * col("sxy") - col("sx") * col("sy"))
          / (col("n") * col("sxx") - col("sx") * col("sx")) * col("sx")) * 1e6
          / col("n")) / lit(1e6)).as("intercept"))
  }

  private val vocabZipfFitSql: String =
    s"""WITH tok AS (
       |  SELECT unnest(${TextFunctions.tokensSql}) AS token
       |  FROM documents),
       |f AS (SELECT token, count(*) AS freq FROM tok GROUP BY token),
       |r AS (
       |  SELECT freq, row_number() OVER (ORDER BY freq DESC, token) AS rank
       |  FROM f QUALIFY rank <= $ZipfTopN),
       |p AS (
       |  SELECT round(ln(CAST(rank AS DOUBLE)), 6) AS x,
       |         round(ln(CAST(freq AS DOUBLE)), 6) AS y
       |  FROM r),
       |p2 AS (
       |  SELECT x, y, round(x * y, 9) AS xy, round(x * x, 9) AS xx FROM p),
       |m AS (
       |  SELECT count(*) AS n,
       |         CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE) AS sx,
       |         CAST(sum(CAST(y AS DECIMAL(28,12))) AS DOUBLE) AS sy,
       |         CAST(sum(CAST(xy AS DECIMAL(28,12))) AS DOUBLE) AS sxy,
       |         CAST(sum(CAST(xx AS DECIMAL(28,12))) AS DOUBLE) AS sxx
       |  FROM p2)
       |SELECT CAST(n AS BIGINT) AS n,
       |       floor((n * sxy - sx * sy) * 1e6 / (n * sxx - sx * sx)) / 1e6 AS slope,
       |       floor((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) * 1e6 / n) / 1e6 AS intercept
       |FROM m""".stripMargin

  private val ChunkSize = 64
  private val ChunkStep = 48 // 16-token overlap between consecutive chunks

  /** Document chunking — the context-window prep step of a RAG/training
    * pipeline: each document becomes overlapping [[ChunkSize]]-token
    * windows every [[ChunkStep]] tokens (16-token overlap so no boundary
    * sentence is lost). Emits per chunk its token count and content hash
    * (the dedup/lineage key chunk stores index on). Pure map + explode —
    * embarrassingly parallel; chunk row count ≈ corpus tokens /
    * [[ChunkStep]], so output scales with data, not pairs. */
  def docChunks(spark: SparkSession, dir: String): DataFrame = {
    val toks = TextFunctions.tokens(col("text"))
    Tables.documents(spark, dir)
      .withColumn("toks", toks)
      .withColumn("n", size(col("toks")))
      .filter(col("n") > 0)
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), col("n") - 1, lit(ChunkStep))).as("start"))
      .withColumn("chunk", slice(col("toks"), col("start") + 1, lit(ChunkSize)))
      .select(
        col("doc_id"),
        (col("start") / ChunkStep).cast("int").as("chunk_idx"),
        size(col("chunk")).as("n_chunk_tokens"),
        DedupOps.h60(concat_ws(" ", col("chunk"))).as("chunk_hash"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** Tokenization CTE `t(doc_id, toks)` over the
    * [[TextFunctions.tokensSql]] mirror, shared by the chunking oracles. */
  private val toksCteSql: String =
    s"""t AS (
      |  SELECT doc_id,
      |         ${TextFunctions.tokensSql} AS toks
      |  FROM documents)""".stripMargin

  /** Shared chunking CTEs ending in `ch(doc_id, chunk_idx, n_chunk_tokens,
    * chunk_hash)` — consumed by doc_chunks and chunk_dedup_stats. */
  private val chunksCtes: String =
    s"""$toksCteSql,
       |c AS (
       |  SELECT doc_id, toks, CAST(u.start AS INT) AS start
       |  FROM t, LATERAL (SELECT unnest(range(0, CAST(len(toks) AS BIGINT), $ChunkStep)) AS start) u
       |  WHERE len(toks) > 0),
       |s AS (
       |  SELECT doc_id, start / $ChunkStep AS chunk_idx,
       |         toks[start + 1 : start + $ChunkSize] AS chunk
       |  FROM c),
       |ch AS (
       |  SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
       |         CAST(len(chunk) AS INT) AS n_chunk_tokens,
       |         ${hexpr.format("array_to_string(chunk, ' ')")} AS chunk_hash
       |  FROM s)""".stripMargin

  private val docChunksSql: String =
    s"""WITH $chunksCtes
       |SELECT doc_id, chunk_idx, n_chunk_tokens, chunk_hash
       |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin

  /** Chunk-granularity dedup statistics: repeated chunk hashes across the
    * corpus (boilerplate shared by different documents that document-level
    * dedup cannot see). One hash-shuffle on the chunk hash — the same
    * scale shape as dedup_exact, at chunk grain. */
  def chunkDedupStats(spark: SparkSession, dir: String): DataFrame =
    docChunks(spark, dir)
      .groupBy(col("chunk_hash"))
      .agg(
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"))
      .filter(col("n_occurrences") > 1)
      .orderBy(col("n_occurrences").desc, col("chunk_hash"))

  private val chunkDedupStatsSql: String =
    s"""WITH $chunksCtes
       |SELECT chunk_hash,
       |       count(DISTINCT doc_id) AS n_docs,
       |       count(*) AS n_occurrences
       |FROM ch GROUP BY chunk_hash
       |HAVING count(*) > 1
       |ORDER BY n_occurrences DESC, chunk_hash""".stripMargin

  /** Train/test split LEAKAGE detection: hash-based splits prevent exact
    * duplicates from crossing folds (same text ⇒ same fold — the reason
    * to split by content hash at all), but SHARED CHUNKS between
    * different documents still leak: a boilerplate paragraph in a train
    * doc and a test doc inflates eval. Assigns each doc its 5-fold
    * content-hash fold, then finds chunk-hash collisions across docs in
    * DIFFERENT folds — emitted as a per-fold-pair leakage matrix.
    *
    * Scale shape: the collision join is an equi-join on chunk_hash (the
    * same bucketed-join bound as every dedup path: candidates ∝ shared-
    * chunk groups, not corpus²); fold assignment is map-side. */
  def splitLeakage(spark: SparkSession, dir: String): DataFrame = {
    val folds = Tables.documents(spark, dir)
      .select(col("doc_id"),
        pmod(DedupOps.h60(col("text")), lit(5L)).cast("int").as("fold"))
    val cf = docChunks(spark, dir).select(col("doc_id"), col("chunk_hash"))
      .join(folds, "doc_id")
      .materializeOnce // self-joined below
    val a = cf.select(col("chunk_hash"), col("doc_id").as("a_doc"), col("fold").as("fold_a"))
    val b = cf.select(col("chunk_hash"), col("doc_id").as("b_doc"), col("fold").as("fold_b"))
    a.join(b, "chunk_hash")
      .filter(col("a_doc") < col("b_doc") && col("fold_a") =!= col("fold_b"))
      .groupBy(
        least(col("fold_a"), col("fold_b")).as("f1"),
        greatest(col("fold_a"), col("fold_b")).as("f2"))
      .agg(
        countDistinct(struct(col("a_doc"), col("b_doc"))).as("n_pairs"),
        count(lit(1)).as("n_chunk_collisions"))
      .orderBy("f1", "f2")
  }

  private val splitLeakageSql: String =
    s"""WITH $chunksCtes,
       |folds AS (
       |  SELECT doc_id, CAST(${hexpr.format("text")} % 5 AS INT) AS fold
       |  FROM documents),
       |cf AS (
       |  SELECT ch.doc_id, ch.chunk_hash, f.fold
       |  FROM ch JOIN folds f ON ch.doc_id = f.doc_id),
       |p AS (
       |  SELECT a.chunk_hash, a.doc_id AS a_doc, b.doc_id AS b_doc,
       |         a.fold AS fold_a, b.fold AS fold_b
       |  FROM cf a JOIN cf b ON a.chunk_hash = b.chunk_hash AND a.doc_id < b.doc_id
       |  WHERE a.fold <> b.fold)
       |SELECT least(fold_a, fold_b) AS f1, greatest(fold_a, fold_b) AS f2,
       |       count(DISTINCT (a_doc, b_doc)) AS n_pairs,
       |       count(*) AS n_chunk_collisions
       |FROM p GROUP BY least(fold_a, fold_b), greatest(fold_a, fold_b)
       |ORDER BY f1, f2""".stripMargin

  /** Vocabulary coverage: share of each document's tokens inside the
    * corpus top-100 vocabulary — the tokenizer-fit metric (high coverage
    * = few OOV/rare tokens). The vocabulary is a 100-row frame joined
    * broadcast against the exploded corpus; per-doc coverage is one
    * partial-agg shuffle keyed by doc. */
  def vocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    // cached: the exploded corpus feeds both the vocab build and the
    // coverage join — uncached it would re-tokenize the corpus twice
    val ex = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("tok"))
      .materializeOnce
    val vocab = ex.groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok")).limit(100)
      .select(col("tok"), lit(1).as("in_vocab"))
    ex.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(coalesce(col("in_vocab"), lit(0))).cast("bigint").as("n_in_vocab"))
      .select(
        col("doc_id"), col("n_tokens"), col("n_in_vocab"),
        round(col("n_in_vocab").cast("double") / col("n_tokens"), 6).as("coverage"))
      .orderBy("doc_id")
  }

  /** Corpus-level vocabulary coverage CURVE — [[vocabCoverage]]'s fixed
    * top-100 generalized to the vocab-size decision sweep: what share of
    * the corpus token mass does a top-k vocabulary cover, for
    * k ∈ {10, 20, 50, 100}? The marginal coverage per added vocab entry
    * is exactly the tokenizer/feature-hashing budget curve. Ranking uses
    * the two-phase GlobalWindow (vocabulary-sized frame, no single-task
    * sort); all four coverages come from ONE conditional aggregate over
    * the ranked counts (no cumulative window, no per-k re-scan), and
    * the stack unpivot emits the 4-row curve in exact integer ppm. */
  def vocabCoverageCurve(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val ranked = GlobalWindow.rowNumber(counts, "rnk")(col("c").desc, col("tok"))
    val ks = Seq(10, 20, 50, 100)
    val aggs = ks.map(k =>
      sum(when(col("rnk") <= k, col("c")).otherwise(lit(0L))).as(s"cov$k")) :+
      sum(col("c")).as("total")
    ranked.agg(aggs.head, aggs.tail: _*)
      .select(
        expr(s"stack(4, ${ks.map(k => s"${k}L, cov$k").mkString(", ")}) AS (k, covered_tokens)"),
        col("total").as("total_tokens"))
      .withColumn("coverage_ppm", expr("covered_tokens * 1000000 div total_tokens"))
      .orderBy("k")
  }

  private val vocabCoverageCurveSql: String =
    s"""WITH $toksCteSql,
       |e AS (SELECT unnest(toks) AS tok FROM t),
       |v AS (
       |  SELECT count(*) AS c,
       |         row_number() OVER (ORDER BY count(*) DESC, tok) AS rnk
       |  FROM e GROUP BY tok),
       |agg AS (
       |  SELECT sum(CASE WHEN rnk <= 10 THEN c ELSE 0 END) AS cov10,
       |         sum(CASE WHEN rnk <= 20 THEN c ELSE 0 END) AS cov20,
       |         sum(CASE WHEN rnk <= 50 THEN c ELSE 0 END) AS cov50,
       |         sum(CASE WHEN rnk <= 100 THEN c ELSE 0 END) AS cov100,
       |         sum(c) AS total
       |  FROM v),
       |u AS (
       |  SELECT 10 AS k, cov10 AS covered_tokens, total FROM agg
       |  UNION ALL SELECT 20, cov20, total FROM agg
       |  UNION ALL SELECT 50, cov50, total FROM agg
       |  UNION ALL SELECT 100, cov100, total FROM agg)
       |SELECT CAST(k AS BIGINT) AS k,
       |       CAST(covered_tokens AS BIGINT) AS covered_tokens,
       |       CAST(total AS BIGINT) AS total_tokens,
       |       CAST(covered_tokens * 1000000 // total AS BIGINT) AS coverage_ppm
       |FROM u ORDER BY k""".stripMargin

  private val vocabCoverageSql: String =
    s"""WITH $toksCteSql,
      |e AS (SELECT doc_id, unnest(toks) AS tok FROM t),
      |v AS (
      |  SELECT tok FROM (
      |    SELECT tok, count(*) AS c,
      |           row_number() OVER (ORDER BY count(*) DESC, tok) AS rn
      |    FROM e GROUP BY tok)
      |  WHERE rn <= 100)
      |SELECT e.doc_id,
      |       count(*) AS n_tokens,
      |       CAST(sum(CASE WHEN v.tok IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_in_vocab,
      |       round(CAST(sum(CASE WHEN v.tok IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
      |             / count(*), 6) AS coverage
      |FROM e LEFT JOIN v ON e.tok = v.tok
      |GROUP BY e.doc_id
      |ORDER BY e.doc_id""".stripMargin

  /** Quality-WEIGHTED deterministic sampling: each document's keep
    * probability is its quality score (the data-mixing move behind
    * quality-pruned training corpora — keep good docs with high
    * probability, bad docs rarely, rather than a hard threshold).
    * Acceptance is `hash(text) mod 10⁴ < floor(score·10⁴)` — the same
    * content-hash uniform as doc_sample_10pct, so the draw is
    * reproducible, cluster-size-independent and oracle-verifiable; the
    * score is rounded to 6 BEFORE the threshold arithmetic so both
    * engines floor the same double. Map-only at scale. */
  def docQualitySample(spark: SparkSession, dir: String): DataFrame = {
    val toks = TextFunctions.tokens(col("text"))
    val score = TextFunctions.qualityScore(
      col("n_tokens"), col("alpha_ratio"), col("stop_ratio"))
    Tables.documents(spark, dir)
      .withColumn("toks", toks)
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("alpha_ratio", TextFunctions.alphaRatio(col("text")))
      .withColumn("stop_ratio",
        TextFunctions.stopwordRatio(col("toks"), col("n_tokens")))
      .withColumn("quality_score", round(score, 6))
      .filter(pmod(DedupOps.h60(col("text")), lit(10000L)).cast("double")
        < floor(col("quality_score") * 10000.0))
      .select(col("doc_id"), col("quality_score"), col("n_chars"))
      .orderBy("doc_id")
  }

  private val docQualitySampleSql: String = {
    s"""WITH t AS (
       |  SELECT doc_id, text, n_chars,
       |         ${TextFunctions.tokensSql} AS toks
       |  FROM documents),
       |m AS (
       |  SELECT doc_id, text, n_chars,
       |         CAST(len(toks) AS INT) AS n_tokens,
       |         ${TextFunctions.alphaRatioSql()} AS alpha_ratio,
       |         ${TextFunctions.stopwordRatioSql("toks")} AS stop_ratio
       |  FROM t),
       |q AS (
       |  SELECT doc_id, n_chars, text,
       |         round(${TextFunctions.qualityScoreSql("n_tokens", "alpha_ratio", "stop_ratio")}, 6) AS quality_score
       |  FROM m)
       |SELECT doc_id, quality_score, n_chars FROM q
       |WHERE CAST(${hexpr.format("text")} % 10000 AS DOUBLE) < floor(quality_score * 10000.0)
       |ORDER BY doc_id""".stripMargin
  }

  /** Stratified sampling with per-stratum rates (the data-mixing knob:
    * downsample the dominant language, keep the rest) — `sampleBy` done
    * deterministically via the content-hash uniform so the draw is
    * reproducible and oracle-verifiable. Emits per-stratum accounting:
    * population, sample size, realized fraction. */
  def stratifiedSampleCounts(spark: SparkSession, dir: String): DataFrame = {
    val rate = when(col("lang") === "en", lit(10L)).otherwise(lit(40L))
    Tables.documents(spark, dir)
      .withColumn("sampled",
        pmod(DedupOps.h60(col("text")), lit(100L)) < rate)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("sampled"), 1L).otherwise(0L)).as("n_sampled"))
      .select(
        col("lang"), col("n_docs"), col("n_sampled"),
        round(col("n_sampled").cast("double") / col("n_docs"), 6).as("realized_frac"))
      .orderBy("lang")
  }

  private val stratifiedSampleCountsSql: String =
    s"""SELECT lang,
       |       count(*) AS n_docs,
       |       CAST(sum(CASE WHEN ${hexpr.format("text")} % 100 <
       |                          CASE WHEN lang = 'en' THEN 10 ELSE 40 END
       |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
       |       round(CAST(sum(CASE WHEN ${hexpr.format("text")} % 100 <
       |                               CASE WHEN lang = 'en' THEN 10 ELSE 40 END
       |                          THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS realized_frac
       |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** Data-mixture profile per source: the composition dashboard of a
    * training corpus (doc count, corpus share, volume, language spread).
    * One grouped aggregate + a window share over the tiny profile frame. */
  def sourceMixtureProfile(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    Tables.documents(spark, dir)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        round(avg(col("n_chars")), 6).as("avg_chars"),
        countDistinct(col("lang")).as("n_langs"))
      .select(
        col("source"), col("n_docs"),
        round(col("n_docs").cast("double") / sum(col("n_docs")).over(w), 6)
          .as("corpus_share"),
        col("total_chars"), col("avg_chars"), col("n_langs"))
      .orderBy("source")
  }

  private val sourceMixtureProfileSql: String =
    """WITH p AS (
      |  SELECT source, count(*) AS n_docs,
      |         CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |         round(avg(n_chars), 6) AS avg_chars,
      |         count(DISTINCT lang) AS n_langs
      |  FROM documents GROUP BY source)
      |SELECT source, n_docs,
      |       round(CAST(n_docs AS DOUBLE) / sum(n_docs) OVER (), 6) AS corpus_share,
      |       total_chars, avg_chars, n_langs
      |FROM p ORDER BY source""".stripMargin

  /** Deterministic train/val/test split (80/10/10) with per-split counts
    * and size accounting. Split identity rides the content hash, so
    * re-runs and re-partitions cannot reshuffle examples between splits.
    */
  def docSplitCounts(spark: SparkSession, dir: String): DataFrame = {
    val bucket = pmod(DedupOps.h60(col("text")), lit(100L))
    Tables.documents(spark, dir)
      .withColumn("split",
        when(bucket < 80, lit("train"))
          .when(bucket < 90, lit("val"))
          .otherwise(lit("test")))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .orderBy("split")
  }

  private val docSplitCountsSql: String =
    s"""SELECT CASE WHEN ${hexpr.format("text")} % 100 < 80 THEN 'train'
       |            WHEN ${hexpr.format("text")} % 100 < 90 THEN 'val'
       |            ELSE 'test' END AS split,
       |       count(*) AS n_docs,
       |       CAST(sum(n_chars) AS BIGINT) AS total_chars
       |FROM documents
       |GROUP BY 1 ORDER BY split""".stripMargin

  /** Corpus vocabulary: top-20 tokens by document frequency (ties by
    * token). The full explode→groupBy→TakeOrdered pipeline — at scale the
    * token aggregate partial-combines map-side. */
  def topTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(array_distinct(TextFunctions.tokens(col("text")))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("token"))
      .limit(20)

  private val topTokensSql: String =
    s"""SELECT token, count(*) AS df FROM (
      |  SELECT doc_id, unnest(list_distinct(
      |    ${TextFunctions.tokensSql})) AS token
      |  FROM documents)
      |GROUP BY token
      |ORDER BY df DESC, token
      |LIMIT 20""".stripMargin

  /** Count-min-sketch error envelope: a CMS query over-counts by at most
    * eps × stream length with probability ≥ confidence. */
  private val CmsEps = 0.001

  /** Heavy hitters by COUNT-MIN SKETCH — the frequency member of the
    * sketch triad (HLL = cardinality, GK = quantiles, CMS = per-item
    * counts). At 100 TB this is how "how often does token X appear"
    * is answered without materializing the full token→count shuffle:
    * each partition folds its tokens into a fixed-size (depth × width)
    * table, partials merge associatively to ONE sketch, and any item can
    * be point-queried after the fact. Oracled by BOUND like the other
    * sketch entries: the query emits the exact top-20 term frequencies
    * (ties by token) plus an in-query check that each CMS estimate lands
    * in [tf, tf + ceil(eps × total)] — the one-sided CMS guarantee — and
    * the oracle asserts TRUE. The estimate UDF deserializes the sketch
    * for the 20 anchor rows only (driver-scale, not a hot path);
    * SketchAccuracySpec pins the raw estimates. */
  def tokenHeavyHittersCms(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(explode(TextFunctions.tokens(col("text"))).as("token"))
    val sketch = toks.agg(
      expr(s"count_min_sketch(token, ${CmsEps}d, 0.99d, 42)").as("cms"),
      count(lit(1)).as("n_total"))
    val top = toks.groupBy(col("token")).agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("token")).limit(20)
    val est = udf { (bytes: Array[Byte], token: String) =>
      org.apache.spark.util.sketch.CountMinSketch
        .readFrom(new java.io.ByteArrayInputStream(bytes))
        .estimateCount(token)
    }
    top.crossJoin(broadcast(sketch))
      .withColumn("cms_est", est(col("cms"), col("token")))
      .select(
        col("token"), col("tf"),
        (col("cms_est") >= col("tf") &&
          col("cms_est") <= col("tf") + ceil(col("n_total") * lit(CmsEps)))
          .as("cms_within_eps"))
      .orderBy(col("tf").desc, col("token"))
  }

  private val tokenHeavyHittersCmsSql: String =
    s"""WITH $toksCteSql,
       |e AS (SELECT unnest(toks) AS token FROM t)
       |SELECT token, count(*) AS tf, TRUE AS cms_within_eps
       |FROM e GROUP BY token
       |ORDER BY tf DESC, token
       |LIMIT 20""".stripMargin

  /** TF-IDF: each document's highest-scoring token.
    * tf = in-doc term count, idf = ln(N / df); score rounded to 4 (ln is
    * the one libm call — both engines are correctly-rounded for these
    * magnitudes, rounding absorbs any last-ulp divergence). */
  def tfidfTop(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val n = docs.count() // corpus size: one job, scalar — not a collect of rows
    val terms = docs
      .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val df = terms.groupBy(col("token"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("token"))
    terms.join(df, "token")
      .withColumn("tfidf",
        round(col("tf") * log(lit(n.toDouble) / col("df")), 4))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("token").as("top_token"), col("tfidf"))
      .orderBy("doc_id")
  }

  private val tfidfTopSql: String =
    s"""WITH toks AS (
      |  SELECT doc_id, unnest(
      |    ${TextFunctions.tokensSql}) AS token
      |  FROM documents),
      |terms AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY doc_id, token),
      |dfreq AS (SELECT token, count(DISTINCT doc_id) AS df FROM terms GROUP BY token),
      |n AS (SELECT count(*) AS n FROM documents),
      |scored AS (
      |  SELECT t.doc_id, t.token,
      |         round(t.tf * ln(CAST(n.n AS DOUBLE) / d.df), 4) AS tfidf
      |  FROM terms t JOIN dfreq d ON t.token = d.token CROSS JOIN n)
      |SELECT doc_id, token AS top_token, tfidf FROM (
      |  SELECT doc_id, token, tfidf,
      |         row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rn
      |  FROM scored)
      |WHERE rn = 1 ORDER BY doc_id""".stripMargin

  /** Per-vector statistics via higher-order array functions: L1 norm,
    * positive-component count, max component. */
  def embeddingStats(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(
        col("vec_id"),
        round(aggregate(col("embedding"), lit(0.0),
          (acc, x) => acc + abs(x.cast("double"))), 6).as("l1"),
        size(filter(col("embedding"), x => x > 0f)).as("n_pos"),
        round(array_max(col("embedding")).cast("double"), 6).as("vmax"))
      .orderBy("vec_id")

  private val embeddingStatsSql: String =
    """SELECT vec_id,
      |       round(list_sum(list_transform(embedding::DOUBLE[], x -> abs(x))), 6) AS l1,
      |       CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_pos,
      |       round(CAST(list_max(embedding) AS DOUBLE), 6) AS vmax
      |FROM embeddings ORDER BY vec_id""".stripMargin

  /** Capstone: the cleaned training corpus. Composes the pipeline tiers —
    * quality floor, language ID, and near-dup removal (LSH candidates
    * verified by Jaccard; the lower doc_id of a dup pair survives). The
    * composition is one Catalyst plan: quality/lang are map-side, dedup
    * is the banded equi-join, and the final anti-join removes the losers.
    */
  def cleanCorpus(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // one checkpoint of the per-doc shingle arrays feeds the signature
    // pipeline AND both Jaccard-verify join sides — the corpus is
    // tokenized exactly once (same fusion as corpusYieldReport)
    val sh = DedupOps.docShingles(docs).materializeOnce
    // candidate PAIRS are tiny (ids only) — checkpoint them too so the
    // id-union and the verify join share one pipeline run
    val cand = DedupOps.candidatesFromShingles(spark, sh).materializeOnce
    val candIds = cand.select(col("a_id").as("doc_id"))
      .union(cand.select(col("b_id").as("doc_id"))).distinct()
    val shCand = sh.join(candIds, Seq("doc_id"), "left_semi")
    val dupLosers = cand
      .join(shCand.select(col("doc_id").as("a_id"), col("shingles").as("sa")), "a_id")
      .join(shCand.select(col("doc_id").as("b_id"), col("shingles").as("sb")), "b_id")
      .filter(round(DedupOps.jaccard(col("sa"), col("sb")), 6) >= 0.8)
      .select(col("b_id").as("doc_id")) // keep the lower id of each pair
      .distinct()
    val toks = TextFunctions.tokens(col("text"))
    val scored = docs
      .withColumn("n_tokens", size(toks))
      .withColumn("stop_ratio",
        TextFunctions.stopwordRatio(toks, col("n_tokens")))
      .withColumn("quality",
        TextFunctions.qualityScore(col("n_tokens"), TextFunctions.alphaRatio(col("text")), col("stop_ratio")))
      .filter(col("quality") >= 0.5 && col("n_tokens") >= 20)
    scored.join(dupLosers, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("n_tokens"), round(col("quality"), 6).as("quality"))
      .orderBy("doc_id")
  }

  /** Corpus yield report — the stage-by-stage funnel a curation run is
    * judged by: how many documents survive each cumulative gate
    * (non-empty → length floor → quality floor → LSH dedup → eval
    * decontamination, the same gates [[cleanCorpus]] applies plus the
    * contamination scrub). Emitted as ONE wide row (counts + fixed-point
    * retained shares) — the dashboard number, not a roster.
    *
    * One corpus pass computes the per-doc flags; the dedup-loser and
    * contaminated sets arrive as two left-semi-style joins. Stage
    * semantics: the eval subset (doc_id % 97 = 0) is held out at the
    * last stage and corpus docs sharing any shingle with it are
    * scrubbed.
    *
    * Materialization shape: ONE checkpoint of the per-doc shingle ARRAY
    * serves every downstream consumer — the MinHash/LSH candidate
    * pipeline, both Jaccard-verify join sides, and the contamination
    * explode. The earlier form checkpointed the (much larger) exploded
    * (doc_id, shingle) frame AND re-tokenized the corpus three more
    * times; fusing onto the array frame cut the query from 3.2 s to
    * ~2 s at sf0.1 (r9 A/B) while keeping the eager-checkpoint deadlock
    * fix intact. */
  def corpusYieldReport(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // the ONE materialization point: per-doc distinct shingle arrays
    val sh = DedupOps.docShingles(docs).materializeOnce
    // LSH dup losers — identical derivation to cleanCorpus, but fed
    // from the shared shingle frame (candidate pairs are tiny; the
    // checkpoint lets both the id-union and the verify join reuse them)
    val cand = DedupOps.candidatesFromShingles(spark, sh).materializeOnce
    val candIds = cand.select(col("a_id").as("doc_id"))
      .union(cand.select(col("b_id").as("doc_id"))).distinct()
    val shCand = sh.join(candIds, Seq("doc_id"), "left_semi")
    val losers = cand
      .join(shCand.select(col("doc_id").as("a_id"), col("shingles").as("sa")), "a_id")
      .join(shCand.select(col("doc_id").as("b_id"), col("shingles").as("sb")), "b_id")
      .filter(round(DedupOps.jaccard(col("sa"), col("sb")), 6) >= 0.8)
      .select(col("b_id").as("doc_id")).distinct()
      .withColumn("is_loser", lit(1))
    // corpus docs sharing any shingle with the eval subset — the eval
    // side (1/97 of docs) is distinct-shrunk before the equi-join, so
    // AQE can broadcast it when the held-out set is benchmark-sized
    val exploded = sh.select(col("doc_id"), explode(col("shingles")).as("s"))
    val evalSh = exploded.filter(pmod(col("doc_id"), lit(97)) === 0)
      .select(col("s")).distinct()
    val contam = exploded.filter(pmod(col("doc_id"), lit(97)) =!= 0)
      .join(evalSh, Seq("s"), "left_semi")
      .select(col("doc_id")).distinct()
      .withColumn("is_contam", lit(1))
    val toks = TextFunctions.tokens(col("text"))
    val flags = docs
      .withColumn("n_tokens", size(toks))
      .withColumn("stop_ratio",
        TextFunctions.stopwordRatio(toks, col("n_tokens")))
      .withColumn("quality",
        TextFunctions.qualityScore(col("n_tokens"),
          TextFunctions.alphaRatio(col("text")), col("stop_ratio")))
      .join(losers, Seq("doc_id"), "left")
      .join(contam, Seq("doc_id"), "left")
      .withColumn("s2", (col("n_tokens") >= 1).cast("int"))
      .withColumn("s3", (col("n_tokens") >= 20).cast("int"))
      .withColumn("s4", (col("n_tokens") >= 20 && col("quality") >= 0.5).cast("int"))
      .withColumn("s5", (col("s4") === 1 && col("is_loser").isNull).cast("int"))
      .withColumn("s6", (col("s5") === 1 && col("is_contam").isNull
        && pmod(col("doc_id"), lit(97)) =!= 0).cast("int"))
    def pct(c: Column, total: Column): Column =
      floor(c.cast("double") * 1e4 / total) / lit(1e4)
    val n = count(lit(1))
    flags.agg(
      n.as("n_total"),
      sum(col("s2")).as("n_nonempty"),
      sum(col("s3")).as("n_length_pass"),
      sum(col("s4")).as("n_quality_pass"),
      sum(col("s5")).as("n_dedup_pass"),
      sum(col("s6")).as("n_decontaminated"))
      .select(
        col("n_total"), col("n_nonempty"), col("n_length_pass"),
        col("n_quality_pass"), col("n_dedup_pass"), col("n_decontaminated"),
        pct(col("n_quality_pass"), col("n_total")).as("quality_yield"),
        pct(col("n_decontaminated"), col("n_total")).as("final_yield"))
  }

  private val corpusYieldReportSql: String = {
    import graft.operators.DedupOps.{BandRows, P, seeds}
    val seedsValues = seeds.map { case (k, a, b) => s"($k, $a, $b)" }.mkString(", ")
    s"""WITH toks AS (
       |  SELECT doc_id, text,
       |         ${TextFunctions.tokensSql} AS toks
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
       |e AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
       |h AS (SELECT doc_id, CAST('0x' || substring(md5(s), 1, 15) AS BIGINT) % $P AS h31 FROM e),
       |mh AS (SELECT doc_id, k, min((a * h31 + b) % $P) AS minhash
       |       FROM h JOIN (VALUES $seedsValues) seeds(k, a, b) ON TRUE GROUP BY doc_id, k),
       |bands AS (SELECT doc_id, k // $BandRows AS band,
       |                 md5(string_agg(CAST(minhash AS VARCHAR), '_' ORDER BY k)) AS band_key
       |          FROM mh GROUP BY doc_id, k // $BandRows),
       |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |         FROM bands a JOIN bands b
       |           ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
       |losers AS (
       |  SELECT DISTINCT b_id AS doc_id
       |  FROM cand JOIN sh sa ON sa.doc_id = a_id JOIN sh sb ON sb.doc_id = b_id
       |  WHERE round(CAST(len(list_filter(sa.shingles, x -> list_contains(sb.shingles, x))) AS DOUBLE)
       |              / (len(sa.shingles) + len(sb.shingles)
       |                 - len(list_filter(sa.shingles, x -> list_contains(sb.shingles, x)))), 6) >= 0.8),
       |contam AS (
       |  SELECT DISTINCT c.doc_id
       |  FROM e c JOIN e b ON c.s = b.s
       |  WHERE c.doc_id % 97 <> 0 AND b.doc_id % 97 = 0),
       |flags AS (
       |  SELECT t.doc_id,
       |         CAST(len(t.toks) AS INT) AS n_tokens,
       |         ${TextFunctions.qualityScoreSql("len(t.toks)",
                 s"(${TextFunctions.alphaRatioSql("t.text")})",
                 s"(${TextFunctions.stopwordRatioSql("t.toks")})")} AS quality,
       |         CASE WHEN l.doc_id IS NULL THEN 0 ELSE 1 END AS is_loser,
       |         CASE WHEN c.doc_id IS NULL THEN 0 ELSE 1 END AS is_contam
       |  FROM toks t
       |  LEFT JOIN losers l ON l.doc_id = t.doc_id
       |  LEFT JOIN contam c ON c.doc_id = t.doc_id),
       |st AS (
       |  SELECT doc_id, n_tokens, quality, is_loser, is_contam,
       |         CASE WHEN n_tokens >= 1 THEN 1 ELSE 0 END AS s2,
       |         CASE WHEN n_tokens >= 20 THEN 1 ELSE 0 END AS s3,
       |         CASE WHEN n_tokens >= 20 AND quality >= 0.5 THEN 1 ELSE 0 END AS s4
       |  FROM flags),
       |st2 AS (
       |  SELECT *,
       |         CASE WHEN s4 = 1 AND is_loser = 0 THEN 1 ELSE 0 END AS s5
       |  FROM st),
       |st3 AS (
       |  SELECT *,
       |         CASE WHEN s5 = 1 AND is_contam = 0 AND doc_id % 97 <> 0 THEN 1 ELSE 0 END AS s6
       |  FROM st2)
       |SELECT count(*) AS n_total,
       |       CAST(sum(s2) AS BIGINT) AS n_nonempty,
       |       CAST(sum(s3) AS BIGINT) AS n_length_pass,
       |       CAST(sum(s4) AS BIGINT) AS n_quality_pass,
       |       CAST(sum(s5) AS BIGINT) AS n_dedup_pass,
       |       CAST(sum(s6) AS BIGINT) AS n_decontaminated,
       |       floor(CAST(sum(s4) AS DOUBLE) * 1e4 / count(*)) / 1e4 AS quality_yield,
       |       floor(CAST(sum(s6) AS DOUBLE) * 1e4 / count(*)) / 1e4 AS final_yield
       |FROM st3""".stripMargin
  }

  /** The shared curation-CTE chain (tokenize → shingle → MinHash → LSH →
    * dup losers → quality scores), reused by [[cleanCorpus]]'s oracle and
    * the packing capstone built on its survivors. */
  private val cleanCorpusCtes: String = {
    import graft.operators.DedupOps.{BandRows, P, seeds}
    val seedsValues = seeds.map { case (k, a, b) => s"($k, $a, $b)" }.mkString(", ")
    s"""toks AS (
       |  SELECT doc_id, text,
       |         ${TextFunctions.tokensSql} AS toks
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
       |e AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
       |h AS (SELECT doc_id, CAST('0x' || substring(md5(s), 1, 15) AS BIGINT) % $P AS h31 FROM e),
       |mh AS (SELECT doc_id, k, min((a * h31 + b) % $P) AS minhash
       |       FROM h JOIN (VALUES $seedsValues) seeds(k, a, b) ON TRUE GROUP BY doc_id, k),
       |bands AS (SELECT doc_id, k // $BandRows AS band,
       |                 md5(string_agg(CAST(minhash AS VARCHAR), '_' ORDER BY k)) AS band_key
       |          FROM mh GROUP BY doc_id, k // $BandRows),
       |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |         FROM bands a JOIN bands b
       |           ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
       |losers AS (
       |  SELECT DISTINCT b_id AS doc_id
       |  FROM cand JOIN sh sa ON sa.doc_id = a_id JOIN sh sb ON sb.doc_id = b_id
       |  WHERE round(CAST(len(list_filter(sa.shingles, x -> list_contains(sb.shingles, x))) AS DOUBLE)
       |              / (len(sa.shingles) + len(sb.shingles)
       |                 - len(list_filter(sa.shingles, x -> list_contains(sb.shingles, x)))), 6) >= 0.8),
       |scored AS (
       |  SELECT doc_id,
       |         CAST(len(toks) AS INT) AS n_tokens,
       |         ${TextFunctions.alphaRatioSql()} AS alpha_ratio,
       |         ${TextFunctions.stopwordRatioSql("toks")} AS stop_ratio
       |  FROM toks),
       |q AS (
       |  SELECT doc_id, n_tokens,
       |         ${TextFunctions.qualityScoreSql("n_tokens", "alpha_ratio", "stop_ratio")} AS quality
       |  FROM scored)""".stripMargin
  }

  private val cleanCorpusSql: String =
    s"""WITH $cleanCorpusCtes
       |SELECT q.doc_id, q.n_tokens, round(q.quality, 6) AS quality
       |FROM q
       |WHERE q.quality >= 0.5 AND q.n_tokens >= 20
       |  AND q.doc_id NOT IN (SELECT doc_id FROM losers)
       |ORDER BY q.doc_id""".stripMargin

  /** Capstone #2 — the loader-ready corpus: [[cleanCorpus]]'s survivors
    * packed into 256-token training bins per source (the concat-then-
    * chunk layout of doc_pack_bins applied AFTER curation), summarized
    * as the numbers a training-data delivery is judged by: docs, tokens,
    * bins, and fill ratio per source. The whole curation→packing chain
    * is ONE Catalyst plan; the oracle rebuilds it on the shared
    * curation-CTE chain. Pure integer window arithmetic after the
    * survivor set, so the summary is engine-exact. */
  def cleanCorpusPacking(spark: SparkSession, dir: String): DataFrame = {
    val survivors = cleanCorpus(spark, dir)
      .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"))
      .join(Tables.documents(spark, dir).select("doc_id", "source"), "doc_id")
    val before = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    survivors
      .withColumn("off", coalesce(sum(col("n_tokens")).over(before), lit(0L)))
      .withColumn("last_bin", expr("(off + greatest(n_tokens, 1L) - 1L) div 256"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        (max(col("last_bin")) + 1).as("n_bins"))
      .withColumn("fill_pct",
        floor(col("n_tokens") * 1e4 / (col("n_bins") * 256)) / lit(1e4))
      .orderBy("source")
  }

  private val cleanCorpusPackingSql: String =
    s"""WITH $cleanCorpusCtes,
       |surv AS (
       |  SELECT q.doc_id, CAST(q.n_tokens AS BIGINT) AS n_tokens
       |  FROM q
       |  WHERE q.quality >= 0.5 AND q.n_tokens >= 20
       |    AND q.doc_id NOT IN (SELECT doc_id FROM losers)),
       |ws AS (
       |  SELECT surv.doc_id, surv.n_tokens, d.source
       |  FROM surv JOIN documents d ON surv.doc_id = d.doc_id),
       |o AS (
       |  SELECT source, doc_id, n_tokens,
       |         coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
       |  FROM ws),
       |lb AS (
       |  SELECT source, n_tokens,
       |         (off + greatest(n_tokens, 1) - 1) // 256 AS last_bin
       |  FROM o),
       |s AS (
       |  SELECT source, count(*) AS n_docs,
       |         CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |         CAST(max(last_bin) + 1 AS BIGINT) AS n_bins
       |  FROM lb GROUP BY source)
       |SELECT source, n_docs, n_tokens, n_bins,
       |       floor(n_tokens * 1e4 / (n_bins * 256)) / 1e4 AS fill_pct
       |FROM s ORDER BY source""".stripMargin

  /** Int8 symmetric quantization of embeddings (the ANN memory-footprint
    * op: 4 bytes/dim → 1): per-vector scale = 127/max|x|, q = round(x·s),
    * with reconstruction-error accounting. 64-dim float → 64 int8 cuts
    * the index 4× — the knob that decides whether an IVF partition fits
    * executor memory at 100 TB. */
  def embeddingQuantize(spark: SparkSession, dir: String): DataFrame = {
    val xd = transform(col("embedding"), _.cast("double"))
    val maxAbs = array_max(transform(xd, x => abs(x)))
    Tables.embeddings(spark, dir)
      .withColumn("scale", lit(127.0) / maxAbs)
      .select(
        col("vec_id"),
        round(col("scale"), 6).as("scale_r"),
        // max reconstruction error |x - round(x*s)/s| over the vector
        round(aggregate(xd, lit(0.0),
          (acc, x) => greatest(acc, abs(x - round(x * col("scale"), 0) / col("scale")))), 6)
          .as("max_err"),
        // quantized extrema for sanity (must live in [-127, 127])
        aggregate(xd, lit(0L), (acc, x) =>
          greatest(acc, round(x * col("scale"), 0).cast("long"))).as("q_max"),
        aggregate(xd, lit(0L), (acc, x) =>
          least(acc, round(x * col("scale"), 0).cast("long"))).as("q_min"))
      .orderBy("vec_id")
  }

  /** Quantization bit-width sweep — [[embeddingQuantize]] generalized to
    * the int4/int6/int8 trade-off table a vector store reads before
    * committing storage format: per bit width (symmetric, levels =
    * 2^(b−1)−1), the corpus mean and worst per-vector max reconstruction
    * error. Per-vector errors are rounded to 6 before the DECIMAL mean
    * (order-independent); everything is one scan with a 3× per-vector
    * explode and a 3-key aggregate. */
  def embeddingQuantizeSweep(spark: SparkSession, dir: String): DataFrame = {
    val xd = transform(col("embedding"), _.cast("double"))
    val maxAbs = array_max(transform(xd, x => abs(x)))
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), xd.as("x"), maxAbs.as("ma"))
      .withColumn("bits", explode(array(lit(4), lit(6), lit(8))))
      .withColumn("levels", expr("cast(shiftleft(1, bits - 1) - 1 as bigint)"))
      .withColumn("scale", col("levels").cast("double") / col("ma"))
      .withColumn("vmax", round(aggregate(col("x"), lit(0.0),
        (acc, x) => greatest(acc, abs(x - round(x * col("scale"), 0) / col("scale")))), 6))
      .groupBy(col("bits").cast("long").as("bits"), col("levels"))
      .agg(count(lit(1)).as("n_vecs"),
        (floor(sum(col("vmax").cast("decimal(18,6)")).cast("double") * 1e6
          / count(lit(1))) / 1e6).as("mean_max_err"),
        max(col("vmax")).as("worst_err"))
      .orderBy("bits")
  }

  private val embeddingQuantizeSweepSql: String =
    """WITH e AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS x,
      |         list_max(list_transform(embedding::DOUBLE[], v -> abs(v))) AS ma
      |  FROM embeddings),
      |b AS (
      |  SELECT e.x, u.bits,
      |         CAST((1 << (u.bits - 1)) - 1 AS BIGINT) AS levels,
      |         CAST((1 << (u.bits - 1)) - 1 AS DOUBLE) / e.ma AS scale
      |  FROM e, LATERAL (SELECT unnest([4, 6, 8]) AS bits) u),
      |v AS (
      |  SELECT bits, levels,
      |         round(list_max(list_transform(x, vv -> abs(vv - round(vv * scale, 0) / scale))), 6) AS vmax
      |  FROM b)
      |SELECT CAST(bits AS BIGINT) AS bits, levels,
      |       count(*) AS n_vecs,
      |       floor(CAST(sum(CAST(vmax AS DECIMAL(18,6))) AS DOUBLE) * 1e6 / count(*)) / 1e6 AS mean_max_err,
      |       max(vmax) AS worst_err
      |FROM v GROUP BY bits, levels
      |ORDER BY bits""".stripMargin

  /** Per-source log-length moments — the lognormal parameter fit (μ, σ
    * of ln chars) a mixture designer records next to the nonparametric
    * KS/MWU drift tests: document lengths are classically lognormal, so
    * these two numbers characterize each source's length profile
    * compactly. ln is rounded to 6 (libm parity), the first moment sums
    * EXACT DECIMAL(12,6) values, the second moment is the exact decimal
    * square (scale 12 — no double product is ever cast), and the final
    * μ/σ derivations use identical double operand order in both
    * dialects (the winsorized-moments recipe). One scan, |S| keys. */
  def sourceLoglengthMoments(spark: SparkSession, dir: String): DataFrame = {
    val ld = round(log(col("n_chars").cast("double")), 6).cast("decimal(12,6)")
    Tables.documents(spark, dir)
      .filter(col("n_chars") > 0)
      .select(col("source"), ld.as("l"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("l")).as("s1"),
        sum(col("l") * col("l")).as("s2"))
      .select(col("source"), col("n_docs"),
        (floor(col("s1").cast("double") * 1e6 / col("n_docs")) / 1e6).as("mu_ln"),
        round(sqrt((col("s2").cast("double")
          - col("s1").cast("double") * col("s1").cast("double") / col("n_docs"))
          / (col("n_docs") - 1)), 6).as("sigma_ln"))
      .orderBy("source")
  }

  private val sourceLoglengthMomentsSql: String =
    """WITH l AS (
      |  SELECT source,
      |         CAST(round(ln(CAST(n_chars AS DOUBLE)), 6) AS DECIMAL(12,6)) AS l
      |  FROM documents WHERE n_chars > 0),
      |s AS (
      |  SELECT source, count(*) AS n_docs, sum(l) AS s1, sum(l * l) AS s2
      |  FROM l GROUP BY source)
      |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
      |       floor(CAST(s1 AS DOUBLE) * 1e6 / n_docs) / 1e6 AS mu_ln,
      |       round(sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n_docs)
      |             / (n_docs - 1)), 6) AS sigma_ln
      |FROM s ORDER BY source""".stripMargin

  private val embeddingQuantizeSql: String =
    """WITH e AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS x,
      |         127.0 / list_max(list_transform(embedding::DOUBLE[], v -> abs(v))) AS scale
      |  FROM embeddings)
      |SELECT vec_id,
      |       round(scale, 6) AS scale_r,
      |       round(list_max(list_transform(x, v -> abs(v - round(v * scale, 0) / scale))), 6) AS max_err,
      |       CAST(greatest(0, list_max(list_transform(x, v -> round(v * scale, 0)))) AS BIGINT) AS q_max,
      |       CAST(least(0, list_min(list_transform(x, v -> round(v * scale, 0)))) AS BIGINT) AS q_min
      |FROM e ORDER BY vec_id""".stripMargin

  /** Data profiling: per-column null and distinct cardinality over the
    * events table in one scan. Formulated as stack(col_name, value) →
    * two-level aggregate (count per (col, value), then per col) rather
    * than N parallel countDistinct aggregates: multi-distinct planning
    * Expands every input row N_cols+1 times at full row width, while the
    * stack ships N_cols narrow (name, value) pairs with map-side partial
    * aggregation on the first level — measurably faster here and the
    * shape that scales (the distinct shuffle carries partials, not
    * rows). Values compare as strings: every column's cast to string is
    * injective (shortest-repr doubles, µs timestamps, identity for
    * strings), so cardinalities are unchanged. */
  def eventsProfile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    // `value + 0.0` merges -0.0 into +0.0 before the string cast: SQL
    // DISTINCT treats the two zeros as one value, their strings are two —
    // injectivity alone isn't enough, the cast must also merge SQL-equals
    val stackExpr = cols
      .map(c => if (c == "value") s"'$c', CAST(value + 0.0 AS STRING)"
                else s"'$c', CAST($c AS STRING)")
      .mkString(", ")
    val counts = Tables.events(spark, dir)
      .select(expr(s"stack(${cols.size}, $stackExpr) AS (column_name, v)"))
      .groupBy(col("column_name"), col("v"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("column_name"))
      .agg(
        sum(when(col("v").isNull, col("cnt")).otherwise(0L)).as("n_nulls"),
        sum(when(col("v").isNotNull, 1).otherwise(0)).as("n_distinct"))
    // left join from the static column list so an empty table still
    // profiles every column (as the oracle's UNION ALL branches do)
    cols.toDF("column_name")
      .join(counts, Seq("column_name"), "left")
      .select(
        col("column_name"),
        coalesce(col("n_nulls"), lit(0L)).as("n_nulls"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"))
      .orderBy("column_name")
  }

  private val eventsProfileSql: String = {
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    // ts: profile at the same precision Spark sees — Tables.events truncates
    // the parquet TIMESTAMP(NANOS) to microseconds (ts div 1000), so the
    // oracle must too or distinct counts diverge on sub-µs-only differences.
    def e(c: String) = if (c == "ts") "CAST(ts AS TIMESTAMP)" else c
    cols.map { c =>
      s"""SELECT '$c' AS column_name,
         |       CAST(sum(CASE WHEN ${e(c)} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
         |       count(DISTINCT ${e(c)}) AS n_distinct
         |FROM events""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
  }

  /** Seeded corpus shuffle — how a training order is materialized at
    * 100 TB: a deterministic keyed hash (seed folded into the key) maps
    * every doc to a shard, and each shard is ordered independently by the
    * hash. No global sort: shard assignment is map-side, the within-shard
    * order is a per-shard sort (`repartition(shard) +
    * sortWithinPartitions` when writing), and changing the seed re-deals
    * the entire permutation reproducibly. The md5-derived integer keeps
    * the permutation engine-exact ([[DedupOps.h60]]'s convention). */
  def corpusShuffle(spark: SparkSession, dir: String, seed: Int = 42,
      nShards: Int = 8): DataFrame = {
    val h = DedupOps.h60(concat_ws(":", lit(s"shuf$seed"), col("doc_id")))
    val w = Window.partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), h.as("h"))
      .withColumn("shard", pmod(col("h"), lit(nShards.toLong)).cast("int"))
      .withColumn("pos", row_number().over(w))
      .select("shard", "pos", "doc_id")
      .orderBy("shard", "pos")
  }

  /** Source-stratified ROUND-ROBIN training order — the mixing complement
    * of [[corpusShuffle]]: instead of dealing documents into independent
    * shards, it alternates sources (doc 1 of src0, doc 1 of src1, …, then
    * doc 2 of each) so no long same-source run ever reaches the trainer —
    * the data-order regularizer a multi-source pretraining mix wants.
    * Within each source the order is the seeded content-hash shuffle.
    *
    * `interleave_key` = (rank_within_source − 1)·|S| + source_index is a
    * deterministic TOTAL order (keys are distinct by construction), not a
    * dense position: once a small source exhausts, its residue-class
    * positions go unused — by design; consumers sort by the key.
    *
    * Scale shape — per-GROUP numbering WITHOUT a data-sized partition
    * window: one two-phase [[GlobalWindow.rowNumber]] under
    * (source, h, doc_id) gives the global rank; rank-within-source falls
    * out by subtracting the per-source exclusive offset, computed on the
    * |S|-row count frame via a |S|²-row triangle join (the same
    * no-collect prefix-sum trick GlobalWindow itself uses). A plain
    * `Window.partitionBy(source)` would sort corpus/|S| rows in ONE task
    * per source — the exact wall the two-phase form removes. */
  def corpusInterleave(spark: SparkSession, dir: String, seed: Int = 42): DataFrame = {
    val h = DedupOps.h60(concat_ws(":", lit(s"il$seed"), col("doc_id")))
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), h.as("h"))
    val g = GlobalWindow.rowNumber(base, "grn")(col("source"), col("h"), col("doc_id"))
    val cnt = g.groupBy(col("source")).agg(count(lit(1)).as("c")).materializeOnce
    val cb = cnt.select(col("source").as("src_b"), col("c").as("c_b"))
    val dims = cnt.join(cb, col("src_b") < col("source"), "left")
      .groupBy(col("source"))
      .agg(coalesce(sum(col("c_b")), lit(0L)).as("off"),
        count(col("src_b")).as("idx0"))
    val nsrc = cnt.agg(count(lit(1)).as("nsrc"))
    g.join(broadcast(dims), Seq("source"))
      .crossJoin(broadcast(nsrc))
      .withColumn("src_rank", col("grn") - col("off"))
      .withColumn("interleave_key", (col("src_rank") - 1) * col("nsrc") + col("idx0"))
      .select("doc_id", "source", "src_rank", "interleave_key")
      .orderBy("interleave_key")
  }

  private val corpusInterleaveSql: String =
    """WITH h AS (
      |  SELECT doc_id, source,
      |         CAST('0x' || substring(md5('il42:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, source,
      |         row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS src_rank
      |  FROM h),
      |d AS (
      |  SELECT source, row_number() OVER (ORDER BY source) - 1 AS idx0
      |  FROM (SELECT DISTINCT source FROM h)),
      |n AS (SELECT count(*) AS nsrc FROM d)
      |SELECT r.doc_id, r.source, CAST(r.src_rank AS BIGINT) AS src_rank,
      |       CAST((r.src_rank - 1) * n.nsrc + d.idx0 AS BIGINT) AS interleave_key
      |FROM r JOIN d USING (source) CROSS JOIN n
      |ORDER BY interleave_key""".stripMargin

  private val corpusShuffleSql: String =
    """WITH h AS (
      |  SELECT doc_id,
      |         CAST('0x' || substring(md5('shuf42:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
      |  FROM documents)
      |SELECT CAST(h % 8 AS INT) AS shard,
      |       CAST(row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS INT) AS pos,
      |       doc_id
      |FROM h
      |ORDER BY shard, pos""".stripMargin

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every document by
    * how much more likely its hashed-bigram bag is under a TARGET
    * distribution (here the `lang = 'en'` slice) than under the RAW
    * corpus distribution — the importance-resampling gate that upsamples
    * target-like data without training a classifier.
    *
    * log w(x) = Σ_bigrams [ln p_t(b) − ln p_raw(b)] over hashed feature
    * buckets b, add-one smoothed: p(b) = (c(b)+1)/(T+B) with B = 512
    * buckets ([[DedupOps.h60]] of the bigram text, mod B — the same
    * engine-exact md5 hash every deterministic sampler here uses).
    *
    * Shape at 100 TB: ONE bigram explode (shifted-slice zip_with — the
    * linear pass, no index lambdas) feeds both the bucket histogram
    * (groupBy(bucket), 512 groups, map-side partials) and the per-doc
    * scoring (groupBy(doc, bucket) then a 512-row broadcast-able hash
    * join onto the bucket terms) — corpus scanned once, everything else
    * ∝ docs. Numerics: each ln over exact integers rounded to 6dp
    * (the [[AnalyticsQueries.labelPsi]] convention), combined and
    * occurrence-weighted in DECIMAL, one final cast — engine-exact.
    * Zero-bigram docs emit n_bigrams = 0 with NULL log_w (undefined, not
    * silently zero). */
  private val DsirBuckets = 512L

  def docDsirWeights(spark: SparkSession, dir: String): DataFrame = {
    val toks = col("toks")
    // materialized PRE-explode (r8): the checkpoint stores the compact
    // per-doc bucket ARRAY — one row per doc — instead of one row per
    // bigram; the explode is a cheap in-memory fanout each leg re-runs.
    // (The r8 eager-checkpoint adjudication: storing the exploded form
    // made this query a 4× bench outlier.)
    val tf = Tables.documents(spark, dir)
      .select(col("doc_id"), (col("lang") === "en").as("is_t"),
        TextFunctions.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("is_t"), transform(zip_with(
          slice(toks, lit(1), greatest(size(toks) - 1, lit(0))),
          slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
          (a, b) => concat_ws(" ", a, b)),
        g => pmod(DedupOps.h60(g), lit(DsirBuckets))).as("bs"))
      .materializeOnce // feeds the bucket histogram AND the per-doc scoring
    val bg = tf.select(col("doc_id"), col("is_t"), explode(col("bs")).as("b"))
    val counts = bg.groupBy(col("b")).agg(
      count(lit(1)).as("c_raw"),
      sum(when(col("is_t"), 1L).otherwise(0L)).as("c_t"))
    val tot = counts.agg(
      sum(col("c_raw")).as("t_raw"), sum(col("c_t")).as("t_t"))
    def rln(c: Column): Column =
      round(log(c.cast("double")), 6).cast("decimal(20,6)")
    val terms = counts.crossJoin(broadcast(tot))
      .select(col("b"),
        (rln(col("c_t") + 1) - rln(col("c_raw") + 1)
          - rln(col("t_t") + DsirBuckets) + rln(col("t_raw") + DsirBuckets))
          .as("term"))
    val perDoc = bg.groupBy(col("doc_id"), col("b"))
      .agg(count(lit(1)).as("k"))
      .join(terms, Seq("b"))
      .groupBy(col("doc_id"))
      .agg(sum(col("k")).as("n_bigrams"),
        round(sum(col("k") * col("term")).cast("double"), 6).as("log_w"))
    Tables.documents(spark, dir).select(col("doc_id"), col("lang"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"), col("log_w"))
      .orderBy("doc_id")
  }

  private val docDsirWeightsSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, lang, lang = 'en' AS is_t,
       |         ${TextFunctions.tokensSql} AS toks
       |  FROM documents),
       |e AS (
       |  SELECT doc_id, is_t,
       |         ${hexpr.format("toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT) + 1]")} % $DsirBuckets AS b
       |  FROM t, LATERAL (SELECT unnest(range(1, CAST(len(toks) AS BIGINT))) AS i) u),
       |c AS (SELECT b, count(*) AS c_raw,
       |             sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS c_t
       |      FROM e GROUP BY b),
       |tt AS (SELECT sum(c_raw) AS t_raw, sum(c_t) AS t_t FROM c),
       |term AS (
       |  SELECT b,
       |         CAST(round(ln(c_t + 1), 6) AS DECIMAL(20,6))
       |       - CAST(round(ln(c_raw + 1), 6) AS DECIMAL(20,6))
       |       - CAST(round(ln(t_t + $DsirBuckets), 6) AS DECIMAL(20,6))
       |       + CAST(round(ln(t_raw + $DsirBuckets), 6) AS DECIMAL(20,6)) AS term
       |  FROM c CROSS JOIN tt),
       |pd AS (SELECT doc_id, b, count(*) AS k FROM e GROUP BY doc_id, b),
       |s AS (
       |  SELECT pd.doc_id, sum(pd.k) AS n_bigrams,
       |         round(CAST(sum(pd.k * term.term) AS DOUBLE), 6) AS log_w
       |  FROM pd JOIN term ON term.b = pd.b GROUP BY pd.doc_id)
       |SELECT d.doc_id, d.lang,
       |       CAST(coalesce(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       |       s.log_w
       |FROM documents d LEFT JOIN s ON s.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** Right-to-be-forgotten deletion cascade — the governance pass a
    * training-data platform must run before every snapshot: given a
    * tombstone list of user keys (deterministic stand-in:
    * `c_custkey % 97 = 0`), report per table how many rows the deletion
    * reaches transitively — customers themselves, their orders, the
    * lineitems OF those orders (two hops), and their behavioral events —
    * with surviving counts and the deleted fraction in ppm. This is the
    * audit artifact (scope + blast radius) that precedes the physical
    * delete; the delete itself is these joins with the filters flipped.
    *
    * Scale shape: the tombstone list is broadcast into every
    * customer-keyed leg (map-side, no shuffle of the big tables); the
    * two-hop lineitem leg joins on the deleted-ORDER key set, which is
    * data-sized (∝ deleted fraction) and therefore a plain hash join —
    * never broadcast-forced — materialized once from the orders leg's
    * frame so orders is scanned a single time. Four one-row aggregates
    * union at the end. */
  def deletionPropagation(spark: SparkSession, dir: String): DataFrame = {
    val del = Tables.customer(spark, dir)
      .filter(col("c_custkey") % 97 === 0)
      .select(col("c_custkey").as("dk"))
      .materializeOnce // three probe legs share the tombstone list
    def leg(name: String, df: DataFrame, key: String): DataFrame = df
      .join(broadcast(del), col(key) === col("dk"), "left")
      .agg(count(lit(1)).as("n_rows"), count(col("dk")).as("n_deleted"))
      .select(lit(name).as("tbl"), col("n_rows"), col("n_deleted"))
    val om = Tables.orders(spark, dir)
      .join(broadcast(del), col("o_custkey") === col("dk"), "left")
      .select(col("o_orderkey"), col("dk"))
      .materializeOnce // feeds the orders count AND the two-hop key set
    val ordersLeg = om
      .agg(count(lit(1)).as("n_rows"), count(col("dk")).as("n_deleted"))
      .select(lit("orders").as("tbl"), col("n_rows"), col("n_deleted"))
    val delOrders = om.filter(col("dk").isNotNull).select(col("o_orderkey").as("ok"))
    val lineitemLeg = Tables.lineitem(spark, dir)
      .join(delOrders, col("l_orderkey") === col("ok"), "left")
      .agg(count(lit(1)).as("n_rows"), count(col("ok")).as("n_deleted"))
      .select(lit("lineitem").as("tbl"), col("n_rows"), col("n_deleted"))
    leg("customer", Tables.customer(spark, dir), "c_custkey")
      .union(ordersLeg)
      .union(lineitemLeg)
      .union(leg("events", Tables.events(spark, dir), "user_id"))
      .withColumn("n_surviving", col("n_rows") - col("n_deleted"))
      .withColumn("deleted_ppm", expr("n_deleted * 1000000 div n_rows"))
      .orderBy("tbl")
  }

  private val deletionPropagationSql: String =
    """WITH del AS (SELECT c_custkey AS dk FROM customer WHERE c_custkey % 97 = 0),
      |c AS (
      |  SELECT 'customer' AS tbl, count(*) AS n_rows, count(d.dk) AS n_deleted
      |  FROM customer LEFT JOIN del d ON c_custkey = d.dk),
      |o AS (
      |  SELECT 'orders' AS tbl, count(*) AS n_rows, count(d.dk) AS n_deleted
      |  FROM orders LEFT JOIN del d ON o_custkey = d.dk),
      |delord AS (
      |  SELECT o_orderkey AS ok FROM orders JOIN del d ON o_custkey = d.dk),
      |l AS (
      |  SELECT 'lineitem' AS tbl, count(*) AS n_rows, count(d.ok) AS n_deleted
      |  FROM lineitem LEFT JOIN delord d ON l_orderkey = d.ok),
      |ev AS (
      |  SELECT 'events' AS tbl, count(*) AS n_rows, count(d.dk) AS n_deleted
      |  FROM events LEFT JOIN del d ON user_id = d.dk),
      |u AS (
      |  SELECT * FROM c UNION ALL SELECT * FROM o
      |  UNION ALL SELECT * FROM l UNION ALL SELECT * FROM ev)
      |SELECT tbl, CAST(n_rows AS BIGINT) AS n_rows,
      |       CAST(n_deleted AS BIGINT) AS n_deleted,
      |       CAST(n_rows - n_deleted AS BIGINT) AS n_surviving,
      |       CAST(n_deleted * 1000000 // n_rows AS BIGINT) AS deleted_ppm
      |FROM u ORDER BY tbl""".stripMargin

  /** k-anonymity over the generalization lattice — the privacy audit
    * beside [[deletionPropagation]] in the governance tier: for each
    * rollup level of the quasi-identifier chain (nation, market segment,
    * account-balance bucket) — level 0 = all three attributes, each
    * further level generalizes one away — report equivalence-class
    * counts, the smallest class, classes below k = 5, records at risk
    * (members of sub-k classes: the re-identifiable population), and the
    * at-risk fraction in ppm. The table IS the anonymization decision:
    * the first level whose risk hits zero is the release granularity.
    *
    * One pass: ROLLUP computes every level's class sizes in a single
    * aggregate (no per-level re-scan), then a 4-key re-aggregate. */
  def customerKanonymity(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.customer(spark, dir)
      .select(col("c_nationkey").as("nat"), col("c_mktsegment").as("seg"),
        floor(col("c_acctbal").cast("double") / 1000).cast("long").as("bal_bucket"))
    base.rollup(col("nat"), col("seg"), col("bal_bucket"))
      .agg(count(lit(1)).as("g"),
        (grouping(col("nat")) + grouping(col("seg")) + grouping(col("bal_bucket")))
          .cast("long").as("level"))
      .groupBy(col("level"))
      .agg(count(lit(1)).as("n_groups"),
        min(col("g")).as("min_group"),
        sum(when(col("g") < 5, 1L).otherwise(0L)).as("n_violating_groups"),
        sum(when(col("g") < 5, col("g")).otherwise(0L)).as("n_records_at_risk"),
        sum(col("g")).as("n_rows"))
      .withColumn("risk_ppm", expr("n_records_at_risk * 1000000 div n_rows"))
      .orderBy("level")
  }

  private val customerKanonymitySql: String =
    """WITH base AS (
      |  SELECT c_nationkey AS nat, c_mktsegment AS seg,
      |         CAST(floor(CAST(c_acctbal AS DOUBLE) / 1000) AS BIGINT) AS bal_bucket
      |  FROM customer),
      |sizes AS (
      |  SELECT CAST(GROUPING(nat) + GROUPING(seg) + GROUPING(bal_bucket) AS BIGINT) AS level,
      |         count(*) AS g
      |  FROM base GROUP BY ROLLUP (nat, seg, bal_bucket))
      |SELECT level, count(*) AS n_groups,
      |       CAST(min(g) AS BIGINT) AS min_group,
      |       CAST(sum(CASE WHEN g < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_groups,
      |       CAST(sum(CASE WHEN g < 5 THEN g ELSE 0 END) AS BIGINT) AS n_records_at_risk,
      |       CAST(sum(g) AS BIGINT) AS n_rows,
      |       CAST(sum(CASE WHEN g < 5 THEN g ELSE 0 END) * 1000000 // sum(g) AS BIGINT) AS risk_ppm
      |FROM sizes GROUP BY level
      |ORDER BY level""".stripMargin

  /** l-diversity audit — the homogeneity-attack check [[customerKanonymity]]
    * cannot make: a k-anonymous equivalence class is still fully
    * re-identifying if every member shares the same SENSITIVE value (the
    * attacker learns the attribute without picking the individual). Over
    * the quasi-identifier classes (nation, account-balance bucket) with
    * market segment as the sensitive attribute, report per-diversity-level
    * class counts, the records in classes below l = 3 distinct sensitive
    * values, and the worst single-value share in ppm (1,000,000 = a fully
    * homogeneous class — the attack succeeds with certainty).
    *
    * Two cheap aggregates: (class, sensitive) counts, then per-class
    * diversity/size/max-share, then the one-row-per-diversity report —
    * every stage after the first groupBy is classes-sized. All integer. */
  def customerLdiversity(spark: SparkSession, dir: String): DataFrame = {
    val cls = Tables.customer(spark, dir)
      .select(col("c_nationkey").as("nat"),
        floor(col("c_acctbal").cast("double") / 1000).cast("long").as("bal_bucket"),
        col("c_mktsegment").as("seg"))
      .groupBy(col("nat"), col("bal_bucket"), col("seg"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("nat"), col("bal_bucket"))
      .agg(count(lit(1)).as("diversity"), sum(col("c")).as("g"), max(col("c")).as("maxc"))
      .withColumn("max_share_ppm", expr("maxc * 1000000 div g"))
    cls.groupBy(col("diversity"))
      .agg(count(lit(1)).as("n_classes"),
        sum(col("g")).as("n_records"),
        min(col("g")).as("min_class"),
        max(col("max_share_ppm")).as("worst_share_ppm"),
        sum(when(col("diversity") < 3, col("g")).otherwise(0L)).as("n_records_at_risk"))
      .orderBy("diversity")
  }

  private val customerLdiversitySql: String =
    """WITH sc AS (
      |  SELECT c_nationkey AS nat,
      |         CAST(floor(CAST(c_acctbal AS DOUBLE) / 1000) AS BIGINT) AS bal_bucket,
      |         c_mktsegment AS seg, count(*) AS c
      |  FROM customer GROUP BY 1, 2, 3),
      |cls AS (
      |  SELECT nat, bal_bucket, count(*) AS diversity, sum(c) AS g, max(c) AS maxc
      |  FROM sc GROUP BY 1, 2)
      |SELECT CAST(diversity AS BIGINT) AS diversity,
      |       count(*) AS n_classes,
      |       CAST(sum(g) AS BIGINT) AS n_records,
      |       CAST(min(g) AS BIGINT) AS min_class,
      |       CAST(max(maxc * 1000000 // g) AS BIGINT) AS worst_share_ppm,
      |       CAST(sum(CASE WHEN diversity < 3 THEN g ELSE 0 END) AS BIGINT) AS n_records_at_risk
      |FROM cls GROUP BY 1
      |ORDER BY diversity""".stripMargin

  /** t-closeness audit — the skewness-attack check that completes the
    * privacy triad (Li, Li & Venkatasubramanian, ICDE 2007):
    * [[customerKanonymity]] bounds class SIZE, [[customerLdiversity]]
    * bounds sensitive-value VARIETY, but a class can pass both while its
    * sensitive distribution differs wildly from the table's (an attacker
    * learns "this class is mostly BUILDING customers" — a probabilistic
    * disclosure). Over the same (nation, balance-bucket) classes with
    * market segment sensitive, t is the total-variation distance
    * ½·Σ_s \|p_class(s) − p_global(s)\| — the categorical EMD under unit
    * ground distance — reported per class in exact ppm with a breach
    * flag at the paper's working threshold t = 0.2. Absent-segment terms
    * fold in CLOSED FORM ((N − Σ_present C_s)·g), so no seg×class fill
    * join ever materializes.
    *
    * Scale shape: one (class, seg) aggregate is the only data-sized
    * shuffle; the per-class fold reuses its partitioning (one window +
    * one groupBy on the same key), the global segment frame broadcasts
    * at enum size. Exactness: every term is the cross-multiplied integer
    * \|c_s·N − C_s·g\|; the single ppm division runs in DECIMAL/HUGEINT
    * and truncates identically. */
  def customerTcloseness(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.customer(spark, dir)
      .select(col("c_nationkey").as("nat"),
        floor(col("c_acctbal").cast("double") / 1000).cast("long").as("bal_bucket"),
        col("c_mktsegment").as("seg"))
    val sc = base.groupBy(col("nat"), col("bal_bucket"), col("seg"))
      .agg(count(lit(1)).as("c"))
    val glob = base.groupBy(col("seg")).agg(count(lit(1)).as("cs"))
    val tot = base.agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("nat"), col("bal_bucket"))
    sc.join(broadcast(glob), Seq("seg"))
      .withColumn("g", sum(col("c")).over(w))
      .withColumn("cov", sum(col("cs")).over(w))
      .crossJoin(broadcast(tot))
      .withColumn("term", abs(col("c") * col("n") - col("cs") * col("g")))
      .groupBy(col("nat"), col("bal_bucket"), col("g"), col("cov"), col("n"))
      .agg(sum(col("term")).as("sum_abs"),
        count(lit(1)).as("n_seg_present"))
      .withColumn("t_num", col("sum_abs") + (col("n") - col("cov")) * col("g"))
      .select(col("nat"), col("bal_bucket"), col("g").as("class_size"),
        col("n_seg_present"),
        expr("CAST(t_num AS DECIMAL(38,0)) * 1000000" +
          " div (2 * CAST(g AS DECIMAL(38,0)) * n)").as("t_ppm"))
      .withColumn("breach", col("t_ppm") > 200000L)
      .orderBy("nat", "bal_bucket")
  }

  private val customerTclosenessSql: String =
    """WITH base AS (
      |  SELECT c_nationkey AS nat,
      |         CAST(floor(CAST(c_acctbal AS DOUBLE) / 1000) AS BIGINT) AS bal_bucket,
      |         c_mktsegment AS seg
      |  FROM customer),
      |sc AS (
      |  SELECT nat, bal_bucket, seg, count(*) AS c
      |  FROM base GROUP BY 1, 2, 3),
      |gseg AS (SELECT seg, count(*) AS cs FROM base GROUP BY seg),
      |tot AS (SELECT count(*) AS n FROM base),
      |wcls AS (
      |  SELECT sc.nat, sc.bal_bucket, sc.c, gseg.cs,
      |         sum(sc.c) OVER (PARTITION BY sc.nat, sc.bal_bucket) AS g,
      |         sum(gseg.cs) OVER (PARTITION BY sc.nat, sc.bal_bucket) AS cov
      |  FROM sc JOIN gseg USING (seg)),
      |per AS (
      |  SELECT w.nat, w.bal_bucket, w.g, w.cov, tot.n,
      |         sum(abs(w.c * tot.n - w.cs * w.g)) AS sum_abs,
      |         count(*) AS n_seg_present
      |  FROM wcls w CROSS JOIN tot
      |  GROUP BY 1, 2, 3, 4, 5),
      |f AS (
      |  SELECT nat, bal_bucket, g, n_seg_present,
      |         sum_abs + (n - cov) * g AS t_num, n
      |  FROM per)
      |SELECT nat, bal_bucket, CAST(g AS BIGINT) AS class_size,
      |       CAST(n_seg_present AS BIGINT) AS n_seg_present,
      |       CAST(CAST(t_num AS HUGEINT) * 1000000
      |            // (2 * CAST(g AS HUGEINT) * n) AS BIGINT) AS t_ppm,
      |       CAST(t_num AS HUGEINT) * 1000000
      |         // (2 * CAST(g AS HUGEINT) * n) > 200000 AS breach
      |FROM f ORDER BY nat, bal_bucket""".stripMargin

  /** Local differential privacy via randomized response (Warner 1965 —
    * the mechanism RAPPOR built on): each customer reports their market
    * segment TRUTHFULLY with probability p = 1/2, otherwise reports a
    * segment drawn uniformly from the K = 5 known values — so any
    * individual report is plausibly deniable (ε = ln(1 + K·p/(1−p)) =
    * ln 6 here) — and the aggregator DEBIASES the observed histogram in
    * closed form: E[obs_s] = p·n_s + (1−p)·n/K, so n̂_s =
    * (obs_s − (1−p)·n/K)/p = 2·obs_s − n/5. This completes the privacy
    * tier: k-anonymity / l-diversity / t-closeness audit what a
    * RELEASED table leaks; randomized response is the COLLECTION-side
    * mechanism that never stores the true value at all — the estimator
    * emitted beside the true counts shows exactly what utility the
    * noise costs.
    *
    * Determinism: the coin and the uniform draw are hash
    * probability-integral transforms over the customer key (the same
    * no-RNG discipline as the k-means‖ draws and the permutation
    * test's relabelings), so both engines replay identical noise.
    * Exactness: the debias is pure integer arithmetic in micro-units
    * (n is a multiple of 5 or not — no matter: 200000·n is exact).
    * Scale shape: the union-tag form makes the histogram ONE
    * segment-keyed aggregate over 2N tagged rows with map-side
    * partials; the one-row total broadcasts. */
  def customerRrHistogram(spark: SparkSession, dir: String): DataFrame = {
    val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    val coin = pmod(DedupOps.h60(
      concat(lit("rrcoin:"), col("c_custkey").cast("string"))), lit(10L))
    val pick = pmod(DedupOps.h60(
      concat(lit("rrpick:"), col("c_custkey").cast("string"))), lit(5L))
    val r = Tables.customer(spark, dir)
      .select(col("c_mktsegment").as("true_seg"),
        when(coin < 5, col("c_mktsegment"))
          .otherwise(element_at(array(segs.map(lit): _*),
            (pick + 1).cast("int"))).as("reported"))
      .materializeOnce // one scan feeds both tag legs
    val tagged = r.select(col("true_seg").as("segment"),
        lit(1L).as("is_true"), lit(0L).as("is_rep"))
      .unionByName(r.select(col("reported").as("segment"),
        lit(0L).as("is_true"), lit(1L).as("is_rep")))
    val tot = r.agg(count(lit(1)).as("n"))
    tagged.groupBy(col("segment"))
      .agg(sum(col("is_true")).as("true_count"),
        sum(col("is_rep")).as("reported_count"))
      .crossJoin(broadcast(tot))
      .select(col("segment"), col("true_count"), col("reported_count"),
        (lit(2000000L) * col("reported_count") - lit(200000L) * col("n"))
          .as("est_micro"),
        (lit(2000000L) * col("reported_count") - lit(200000L) * col("n")
          - lit(1000000L) * col("true_count")).as("err_micro"))
      .orderBy("segment")
  }

  private val customerRrHistogramSql: String =
    """WITH r AS (
      |  SELECT c_mktsegment AS true_seg,
      |         CASE WHEN CAST('0x' || substring(md5('rrcoin:' || CAST(c_custkey AS VARCHAR)), 1, 15) AS BIGINT) % 10 < 5
      |              THEN c_mktsegment
      |              ELSE ['AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY']
      |                   [CAST(CAST('0x' || substring(md5('rrpick:' || CAST(c_custkey AS VARCHAR)), 1, 15) AS BIGINT) % 5 AS INT) + 1]
      |              END AS reported
      |  FROM customer),
      |tot AS (SELECT count(*) AS n FROM r),
      |u AS (
      |  SELECT true_seg AS segment, 1 AS is_true, 0 AS is_rep FROM r
      |  UNION ALL
      |  SELECT reported, 0, 1 FROM r),
      |g AS (
      |  SELECT segment, sum(is_true) AS true_count, sum(is_rep) AS reported_count
      |  FROM u GROUP BY segment)
      |SELECT segment, CAST(true_count AS BIGINT) AS true_count,
      |       CAST(reported_count AS BIGINT) AS reported_count,
      |       CAST(2000000 * reported_count - 200000 * n AS BIGINT) AS est_micro,
      |       CAST(2000000 * reported_count - 200000 * n
      |            - 1000000 * true_count AS BIGINT) AS err_micro
      |FROM g CROSS JOIN tot ORDER BY segment""".stripMargin

  /** Referential-integrity audit over every foreign-key edge of the star
    * schema — the structural health check that runs BEFORE any semantic
    * query is trusted: per edge, child rows, null keys (allowed but
    * counted — they silently vanish from inner joins), orphans (keys with
    * no parent — they vanish from inner joins AND inflate left-join
    * nulls), and orphan ppm. A nonzero orphan row is an ingestion bug
    * found at the schema level, not after a revenue number looks wrong.
    *
    * Each edge is one left join + one aggregate; dimension parents
    * broadcast, fact-sized parents hash-join on the key they're already
    * often bucketed by. The parent side collapses to DISTINCT keys first
    * — the join carries no payload. */
  def referentialIntegrityAudit(spark: SparkSession, dir: String): DataFrame = {
    def edge(name: String, child: DataFrame, key: String,
        parent: DataFrame, pkey: String, small: Boolean): DataFrame = {
      val pk = parent.select(col(pkey).cast("long").as("pk")).distinct()
      child.select(col(key).cast("long").as("k"))
        .join(if (small) broadcast(pk) else pk, col("k") === col("pk"), "left")
        .agg(count(lit(1)).as("n_child"),
          sum(when(col("k").isNull, 1L).otherwise(0L)).as("n_null_keys"),
          sum(when(col("k").isNotNull && col("pk").isNull, 1L).otherwise(0L))
            .as("n_orphans"))
        .select(lit(name).as("edge"), col("n_child"), col("n_null_keys"),
          col("n_orphans"))
    }
    val c = Tables.customer(spark, dir); val o = Tables.orders(spark, dir)
    val l = Tables.lineitem(spark, dir)
    edge("customer.nation", c, "c_nationkey", Tables.nation(spark, dir), "n_nationkey", small = true)
      .unionAll(edge("events.user", Tables.events(spark, dir), "user_id", c, "c_custkey", small = false))
      .unionAll(edge("lineitem.order", l, "l_orderkey", o, "o_orderkey", small = false))
      .unionAll(edge("lineitem.part", l, "l_partkey", Tables.part(spark, dir), "p_partkey", small = true))
      .unionAll(edge("lineitem.supplier", l, "l_suppkey", Tables.supplier(spark, dir), "s_suppkey", small = true))
      .unionAll(edge("orders.customer", o, "o_custkey", c, "c_custkey", small = false))
      .withColumn("orphan_ppm", expr("n_orphans * 1000000 div n_child"))
      .orderBy("edge")
  }

  private val referentialIntegrityAuditSql: String =
    """WITH
      |e1 AS (
      |  SELECT 'customer.nation' AS edge, count(*) AS n_child,
      |         sum(CASE WHEN c_nationkey IS NULL THEN 1 ELSE 0 END) AS n_null_keys,
      |         sum(CASE WHEN c_nationkey IS NOT NULL AND p.pk IS NULL THEN 1 ELSE 0 END) AS n_orphans
      |  FROM customer LEFT JOIN (SELECT DISTINCT CAST(n_nationkey AS BIGINT) AS pk FROM nation) p
      |    ON CAST(c_nationkey AS BIGINT) = p.pk),
      |e2 AS (
      |  SELECT 'events.user', count(*),
      |         sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END),
      |         sum(CASE WHEN user_id IS NOT NULL AND p.pk IS NULL THEN 1 ELSE 0 END)
      |  FROM events LEFT JOIN (SELECT DISTINCT c_custkey AS pk FROM customer) p
      |    ON user_id = p.pk),
      |e3 AS (
      |  SELECT 'lineitem.order', count(*),
      |         sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END),
      |         sum(CASE WHEN l_orderkey IS NOT NULL AND p.pk IS NULL THEN 1 ELSE 0 END)
      |  FROM lineitem LEFT JOIN (SELECT DISTINCT o_orderkey AS pk FROM orders) p
      |    ON l_orderkey = p.pk),
      |e4 AS (
      |  SELECT 'lineitem.part', count(*),
      |         sum(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0 END),
      |         sum(CASE WHEN l_partkey IS NOT NULL AND p.pk IS NULL THEN 1 ELSE 0 END)
      |  FROM lineitem LEFT JOIN (SELECT DISTINCT p_partkey AS pk FROM part) p
      |    ON l_partkey = p.pk),
      |e5 AS (
      |  SELECT 'lineitem.supplier', count(*),
      |         sum(CASE WHEN l_suppkey IS NULL THEN 1 ELSE 0 END),
      |         sum(CASE WHEN l_suppkey IS NOT NULL AND p.pk IS NULL THEN 1 ELSE 0 END)
      |  FROM lineitem LEFT JOIN (SELECT DISTINCT s_suppkey AS pk FROM supplier) p
      |    ON l_suppkey = p.pk),
      |e6 AS (
      |  SELECT 'orders.customer', count(*),
      |         sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END),
      |         sum(CASE WHEN o_custkey IS NOT NULL AND p.pk IS NULL THEN 1 ELSE 0 END)
      |  FROM orders LEFT JOIN (SELECT DISTINCT c_custkey AS pk FROM customer) p
      |    ON o_custkey = p.pk),
      |u AS (
      |  SELECT * FROM e1 UNION ALL SELECT * FROM e2 UNION ALL SELECT * FROM e3
      |  UNION ALL SELECT * FROM e4 UNION ALL SELECT * FROM e5 UNION ALL SELECT * FROM e6)
      |SELECT edge, CAST(n_child AS BIGINT) AS n_child,
      |       CAST(n_null_keys AS BIGINT) AS n_null_keys,
      |       CAST(n_orphans AS BIGINT) AS n_orphans,
      |       CAST(n_orphans * 1000000 // n_child AS BIGINT) AS orphan_ppm
      |FROM u ORDER BY edge""".stripMargin

  /** Wald–Wolfowitz-style runs audit of [[corpusShuffle]]'s training
    * order — the check that the shuffle actually MIXED sources instead of
    * leaving same-source runs for the trainer to overfit on: per shard,
    * the observed count of adjacent same-source pairs against its exact
    * permutation expectation E = Σᵢ nᵢ(nᵢ−1)/n (each of the n−1 adjacent
    * slots is a same-source pair with probability Σ nᵢ(nᵢ−1)/(n(n−1))).
    * A ratio ≫ 10⁶ means clumping (bad shuffle / correlated ids); ≪ 10⁶
    * means anti-correlation (an interleaver, not a shuffle). This audits
    * the engine's own operator with its own math.
    *
    * One pass over the shuffle output: a per-shard lag for the observed
    * count, a (shard, source) aggregate for the expectation — both
    * shard-partitioned, all integer (ratio via cross-multiplied integral
    * division, NULL when a shard is single-source). */
  def shuffleRunsTest(spark: SparkSession, dir: String): DataFrame = {
    import QueryConventions.MaterializeSyntax
    val order = corpusShuffle(spark, dir)
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("source")), "doc_id")
      .materializeOnce // observed leg + expectation leg
    val w = Window.partitionBy(col("shard")).orderBy(col("pos"))
    val obs = order
      .withColumn("prev", lag(col("source"), 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_adjacent"),
        sum((col("source") === col("prev")).cast("long")).as("same_adjacent"))
    val exp = order.groupBy(col("shard"), col("source")).agg(count(lit(1)).as("ni"))
      .groupBy(col("shard"))
      .agg(sum(col("ni")).as("n"), sum(col("ni") * (col("ni") - 1)).as("pairs2"))
    obs.join(exp, "shard")
      .select(col("shard"), col("n"), col("n_adjacent"), col("same_adjacent"),
        expr("pairs2 * 1000000 div n").as("expected_micro"),
        expr("CASE WHEN pairs2 > 0 THEN same_adjacent * n * 1000000 div pairs2 END")
          .as("ratio_micro"))
      .orderBy("shard")
  }

  private val shuffleRunsTestSql: String =
    s"""WITH sh AS (
       |  SELECT doc_id,
       |         CAST(${hexpr.format("'shuf42:' || CAST(doc_id AS VARCHAR)")} % 8 AS INT) AS shard,
       |         ${hexpr.format("'shuf42:' || CAST(doc_id AS VARCHAR)")} AS h
       |  FROM documents),
       |ord AS (
       |  SELECT s.shard, d.source,
       |         row_number() OVER (PARTITION BY s.shard ORDER BY s.h, s.doc_id) AS pos
       |  FROM sh s JOIN documents d USING (doc_id)),
       |obs AS (
       |  SELECT shard, count(*) AS n_adjacent,
       |         sum(CASE WHEN source = prev THEN 1 ELSE 0 END) AS same_adjacent
       |  FROM (SELECT shard, source,
       |               lag(source) OVER (PARTITION BY shard ORDER BY pos) AS prev
       |        FROM ord)
       |  WHERE prev IS NOT NULL GROUP BY shard),
       |ex AS (
       |  SELECT shard, sum(ni) AS n, sum(ni * (ni - 1)) AS pairs2 FROM (
       |    SELECT shard, source, count(*) AS ni FROM ord GROUP BY 1, 2)
       |  GROUP BY shard)
       |SELECT o.shard, CAST(e.n AS BIGINT) AS n,
       |       CAST(o.n_adjacent AS BIGINT) AS n_adjacent,
       |       CAST(o.same_adjacent AS BIGINT) AS same_adjacent,
       |       CAST(e.pairs2 * 1000000 // e.n AS BIGINT) AS expected_micro,
       |       CASE WHEN e.pairs2 > 0
       |            THEN CAST(o.same_adjacent * e.n * 1000000 // e.pairs2 AS BIGINT) END AS ratio_micro
       |FROM obs o JOIN ex e USING (shard)
       |ORDER BY o.shard""".stripMargin

  // ---- temperature-scaled mixture weights ---------------------------------

  /** Temperature-scaled language mixture weights — the sampling schedule a
    * multilingual training run uses to keep low-resource languages from
    * drowning (p_i ∝ c_i^(1/T); the multilingual-LM upsampling rule). Emits the
    * T=2 schedule (∝ sqrt of the doc count) next to the natural T=1
    * (proportional) shares so the flattening is the oracled observable.
    * One source-sized aggregate — a SMALL frame joined to a 1-row total
    * (broadcast), nothing corpus-scale after the first count.
    *
    * sqrt(c) is carried EXACTLY in micro units: w = isqrt(c·10¹²) where
    * isqrt is floor-sqrt made engine-independent by seeding with the
    * DOUBLE sqrt and applying a ±1 integer correction — any float seed
    * within 1 of the true root (guaranteed: ulp(sqrt(1e18)) ≪ 1) lands
    * on exactly floor(√x) in BOTH engines, so no float rounding ever
    * reaches the output. Shares are floor fixed-point ppm via integral
    * div. */
  def langTemperatureMix(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.documents(spark, dir)
      .groupBy("lang").agg(count(lit(1)).as("n_docs"))
    val x = col("n_docs") * lit(1000000000000L)
    val s0 = floor(sqrt(x.cast("double"))).cast("long")
    val w = c.withColumn("w_micro",
      s0 - when(s0 * s0 > x, lit(1L)).otherwise(lit(0L))
         + when((s0 + lit(1L)) * (s0 + lit(1L)) <= x, lit(1L)).otherwise(lit(0L)))
    val tot = w.agg(sum("n_docs").as("tot_docs"), sum("w_micro").as("tot_w"))
    w.crossJoin(tot)
      .select(col("lang"), col("n_docs"), col("w_micro"),
        expr("(w_micro * 1000000L) div tot_w").as("share_ppm_t2"),
        expr("(n_docs * 1000000L) div tot_docs").as("share_ppm_t1"))
      .orderBy("lang")
  }

  private val langTemperatureMixSql: String =
    """WITH c AS (
      |  SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
      |i AS (
      |  SELECT lang, n_docs, n_docs * 1000000000000 AS x,
      |         CAST(floor(sqrt(CAST(n_docs * 1000000000000 AS DOUBLE)))
      |              AS BIGINT) AS s0
      |  FROM c),
      |w AS (
      |  SELECT lang, n_docs,
      |         s0 - (CASE WHEN s0 * s0 > x THEN 1 ELSE 0 END)
      |            + (CASE WHEN (s0 + 1) * (s0 + 1) <= x THEN 1 ELSE 0 END)
      |           AS w_micro
      |  FROM i),
      |t AS (SELECT sum(n_docs) AS tot_docs, sum(w_micro) AS tot_w FROM w)
      |SELECT w.lang, w.n_docs, CAST(w.w_micro AS BIGINT) AS w_micro,
      |       CAST(w.w_micro * 1000000 // t.tot_w AS BIGINT) AS share_ppm_t2,
      |       CAST(w.n_docs * 1000000 // t.tot_docs AS BIGINT) AS share_ppm_t1
      |FROM w, t ORDER BY lang""".stripMargin

  /** One-way ANOVA F over per-source token counts — the k-group member of
    * the drift-testing family (KS/MWU/EMD are two-sample; this asks the
    * omnibus question "do the sources differ in length AT ALL" in one
    * test instead of k²/2 pairwise ones, which is exactly how a mixture
    * monitor should gate before drilling into pairs). Emits the between/
    * within decomposition, F, and η² (the effect size — F without it is
    * uninterpretable at corpus n).
    *
    * Scale shape: one corpus scan into a per-source moment aggregate
    * (k rows), then a k-row fold — no second data pass. Exactness: token
    * counts are integers, so every moment sum is exact; the per-source
    * s_i²/n_i terms are truncated micro-unit integral divisions (DECIMAL
    * internal, BIGINT out — both engines floor the same quotient), making
    * SSB/SSW deterministic integers; F and η² are single fixed
    * double expressions over those integers, floor-fixed to 6 dp. */
  def sourceAnovaF(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.documents(spark, dir)
      .select(col("source"),
        TextFunctions.tokenCount(col("text")).cast("long").as("w"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_i"), sum(col("w")).as("s_i"),
        sum((col("w") * col("w")).cast("decimal(38,0)")).as("q_i"))
      .withColumn("s2n_micro",
        expr("CAST(s_i AS DECIMAL(38,0)) * s_i * 1000000 div n_i"))
    val m = per.agg(
      count(lit(1)).as("k"), sum(col("n_i")).as("n_docs"),
      sum(col("s_i")).as("s"), sum(col("q_i")).as("q"),
      sum(col("s2n_micro")).as("b"))
      .withColumn("ssb_micro",
        col("b") - expr("CAST(s AS DECIMAL(38,0)) * s * 1000000 div n_docs"))
      .withColumn("ssw_micro",
        expr("CAST(q * 1000000 AS DECIMAL(38,0)) div 1") - col("b"))
    m.select(
      col("k"), col("n_docs"), col("ssb_micro"), col("ssw_micro"),
      (floor((col("ssb_micro").cast("double") / (col("k") - 1))
        / (col("ssw_micro").cast("double") / (col("n_docs") - col("k")))
        * 1e6) / 1e6).as("f_stat"),
      expr("ssb_micro * 1000000 div (ssb_micro + ssw_micro)").as("eta_sq_ppm"))
  }

  private val sourceAnovaFSql: String =
    s"""WITH base AS (
       |  SELECT source,
       |         ${TextFunctions.tokenCountSql} AS w
       |  FROM documents),
       |per AS (
       |  SELECT source, count(*) AS n_i, sum(w) AS s_i,
       |         sum(CAST(w AS HUGEINT) * w) AS q_i
       |  FROM base GROUP BY source),
       |per2 AS (
       |  SELECT *, CAST(s_i AS HUGEINT) * s_i * 1000000 // n_i AS s2n_micro
       |  FROM per),
       |m AS (
       |  SELECT count(*) AS k, sum(n_i) AS n_docs, sum(s_i) AS s,
       |         sum(q_i) AS q, sum(s2n_micro) AS b
       |  FROM per2),
       |d AS (
       |  SELECT k, n_docs,
       |         CAST(b - CAST(s AS HUGEINT) * s * 1000000 // n_docs AS BIGINT)
       |           AS ssb_micro,
       |         CAST(q * 1000000 - b AS BIGINT) AS ssw_micro
       |  FROM m)
       |SELECT CAST(k AS BIGINT) AS k, CAST(n_docs AS BIGINT) AS n_docs,
       |       ssb_micro, ssw_micro,
       |       floor((CAST(ssb_micro AS DOUBLE) / (k - 1))
       |             / (CAST(ssw_micro AS DOUBLE) / (n_docs - k)) * 1e6) / 1e6
       |         AS f_stat,
       |       CAST(ssb_micro * 1000000 // (ssb_micro + ssw_micro) AS BIGINT)
       |         AS eta_sq_ppm
       |FROM d""".stripMargin

  private val PermSeeds = 200

  /** Randomization (permutation) test on the mean token-count difference
    * between sources src0 and src1 — the assumption-free member of the
    * two-sample family: where MWU asks about stochastic ordering and the
    * t-test assumes normality, this asks directly "how often would a
    * random relabeling produce a gap this large?". [[PermSeeds]]
    * deterministic hash relabelings (seeded md5 over (seed, doc_id) — the
    * corpus-wide hash family, so the test is reproducible and
    * cluster-size-independent, unlike any RNG shuffle), two-sided, with
    * the add-one estimator p = (1+#extreme)/(1+#valid).
    *
    * Scale shape: the seed explode is MAP-SIDE (each doc row emits its
    * [[PermSeeds]] relabelings with partial aggregation before the
    * shuffle), so the shuffle carries seed×2 partial sums, not
    * seed×docs rows; everything downstream is a [[PermSeeds]]-row frame.
    * On a 100 TB corpus this runs on a documented hash-sample of the two
    * sources, like every resampling tool in the registry. Exactness:
    * counts and sums are integers, per-side means are truncated
    * micro-unit divisions, and the extremeness test is pure integer
    * comparison — no float anywhere. */
  def sourcePermutationTest(spark: SparkSession, dir: String): DataFrame = {
    val documents = Tables.documents(spark, dir)
    import QueryConventions.MaterializeSyntax
    val base = documents
      .filter(col("source").isin("src0", "src1"))
      .select(col("doc_id"),
        (col("source") === "src0").cast("long").as("grp"),
        TextFunctions.tokenCount(col("text")).cast("long").as("w"))
      .materializeOnce // observed stat + the seed explode
    val obs = base.agg(
      sum(when(col("grp") === 1, 1L).otherwise(0L)).as("n0"),
      sum(when(col("grp") === 1, col("w")).otherwise(0L)).as("s0"),
      sum(when(col("grp") === 0, 1L).otherwise(0L)).as("n1"),
      sum(when(col("grp") === 0, col("w")).otherwise(0L)).as("s1"))
      // degenerate-corpus guard: with either source absent the observed
      // stat is undefined — emit zero rows (matching the oracle's empty
      // valid×obs join) instead of one NULL-field row, and keep the
      // division out of the taken branch so ANSI never sees div-by-zero
      .withColumn("delta_obs_micro",
        when(col("n0") > 0 && col("n1") > 0,
          expr("s0 * 1000000 div n0 - s1 * 1000000 div n1")))
      .filter(col("delta_obs_micro").isNotNull)
    val perms = base
      .withColumn("seed", explode(expr(s"sequence(0, ${PermSeeds - 1})")))
      .withColumn("g", pmod(DedupOps.h60(
        concat(col("seed").cast("string"), lit(":"),
          col("doc_id").cast("string"))), lit(2L)))
      .groupBy(col("seed"))
      .agg(
        sum(when(col("g") === 0, 1L).otherwise(0L)).as("pn0"),
        sum(when(col("g") === 0, col("w")).otherwise(0L)).as("ps0"),
        sum(when(col("g") === 1, 1L).otherwise(0L)).as("pn1"),
        sum(when(col("g") === 1, col("w")).otherwise(0L)).as("ps1"))
      .filter(col("pn0") > 0 && col("pn1") > 0)
      .withColumn("delta_micro",
        expr("ps0 * 1000000 div pn0 - ps1 * 1000000 div pn1"))
    perms.crossJoin(broadcast(obs))
      .agg(
        first(col("n0")).as("n_src0"), first(col("n1")).as("n_src1"),
        first(col("delta_obs_micro")).as("delta_obs_micro"),
        count(lit(1)).as("n_valid_perms"),
        sum((abs(col("delta_micro")) >= abs(col("delta_obs_micro")))
          .cast("long")).as("n_extreme"))
      .withColumn("p_ppm",
        expr("(n_extreme + 1) * 1000000 div (n_valid_perms + 1)"))
      // second half of the degenerate-corpus guard: the global agg above
      // emits one NULL-field row over empty input where the oracle's
      // GROUP BY emits none
      .filter(col("delta_obs_micro").isNotNull)
  }

  private val sourcePermutationTestSql: String = {
    val h = hexpr.format("CAST(u.seed AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)")
    s"""WITH base AS (
       |  SELECT doc_id,
       |         CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS grp,
       |         ${TextFunctions.tokenCountSql} AS w
       |  FROM documents WHERE source IN ('src0', 'src1')),
       |obs AS (
       |  SELECT sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS n0,
       |         sum(CASE WHEN grp = 1 THEN w ELSE 0 END) AS s0,
       |         sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS n1,
       |         sum(CASE WHEN grp = 0 THEN w ELSE 0 END) AS s1
       |  FROM base),
       |obs2 AS (
       |  SELECT n0, n1, s0 * 1000000 // n0 - s1 * 1000000 // n1
       |           AS delta_obs_micro
       |  FROM obs WHERE n0 > 0 AND n1 > 0),
       |perms AS (
       |  SELECT u.seed,
       |         sum(CASE WHEN $h % 2 = 0 THEN 1 ELSE 0 END) AS pn0,
       |         sum(CASE WHEN $h % 2 = 0 THEN w ELSE 0 END) AS ps0,
       |         sum(CASE WHEN $h % 2 = 1 THEN 1 ELSE 0 END) AS pn1,
       |         sum(CASE WHEN $h % 2 = 1 THEN w ELSE 0 END) AS ps1
       |  FROM base, (SELECT unnest(generate_series(0, ${PermSeeds - 1})) AS seed) u
       |  GROUP BY u.seed),
       |valid AS (
       |  SELECT seed, ps0 * 1000000 // pn0 - ps1 * 1000000 // pn1 AS delta_micro
       |  FROM perms WHERE pn0 > 0 AND pn1 > 0)
       |SELECT CAST(o.n0 AS BIGINT) AS n_src0, CAST(o.n1 AS BIGINT) AS n_src1,
       |       CAST(o.delta_obs_micro AS BIGINT) AS delta_obs_micro,
       |       CAST(count(*) AS BIGINT) AS n_valid_perms,
       |       CAST(sum(CASE WHEN abs(v.delta_micro) >= abs(o.delta_obs_micro)
       |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme,
       |       CAST((sum(CASE WHEN abs(v.delta_micro) >= abs(o.delta_obs_micro)
       |                      THEN 1 ELSE 0 END) + 1) * 1000000
       |            // (count(*) + 1) AS BIGINT) AS p_ppm
       |FROM valid v CROSS JOIN obs2 o
       |GROUP BY o.n0, o.n1, o.delta_obs_micro""".stripMargin
  }

  /** Leave-one-source-out influence — first-order data valuation by
    * ablation: for each source, what the corpus mean document length
    * becomes if that source is REMOVED, and how far it moves
    * (`delta_micro`). The influence of a component on an average is a
    * closed form over its aggregate and the corpus totals — no 20-way
    * recompute, no per-ablation scan; the same identity is how
    * source-ablation sweeps are costed at 100 TB (one scan, arithmetic
    * per candidate). A source whose removal moves the mean most is the
    * one whose length profile is most atypical — the triage signal for
    * mixture rebalancing (compare [[sourceMixtureProfile]], which
    * reports shares without the counterfactual).
    *
    * Exact arithmetic: totals through DECIMAL(38,0), truncating ppm/micro
    * divisions; the all-docs-in-one-source degenerate corpus yields NULL
    * (not a division error) in both engines.
    *
    * Scale shape: ONE aggregate to the ~20-row source frame, then
    * sort-free windows over that frame (empty partition, no order —
    * no global sort). */
  def looSourceInfluence(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy()
    Tables.documents(spark, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
      .withColumn("n_tot", sum(col("n_docs")).over(w))
      .withColumn("c_tot", sum(col("chars")).over(w))
      .withColumn("share_ppm",
        expr("CAST(chars AS DECIMAL(38,0)) * 1000000 div c_tot"))
      .withColumn("mean_micro",
        expr("CAST(c_tot AS DECIMAL(38,0)) * 1000000 div n_tot"))
      .withColumn("loo_mean_micro",
        when(col("n_tot") === col("n_docs"), lit(null).cast("long"))
          .otherwise(expr("CAST(c_tot - chars AS DECIMAL(38,0)) * 1000000" +
            " div (n_tot - n_docs)")))
      .withColumn("delta_micro", col("loo_mean_micro") - col("mean_micro"))
      .select(col("source"), col("n_docs"), col("chars"), col("share_ppm"),
        col("mean_micro"), col("loo_mean_micro"), col("delta_micro"))
      .orderBy("source")
  }

  private val looSourceInfluenceSql: String =
    """WITH p AS (
      |  SELECT source, count(*) AS n_docs, sum(n_chars) AS chars
      |  FROM documents GROUP BY source),
      |t AS (
      |  SELECT *, sum(n_docs) OVER () AS n_tot, sum(chars) OVER () AS c_tot
      |  FROM p)
      |SELECT source,
      |       CAST(n_docs AS BIGINT) AS n_docs,
      |       CAST(chars AS BIGINT) AS chars,
      |       CAST(CAST(chars AS HUGEINT) * 1000000 // c_tot AS BIGINT) AS share_ppm,
      |       CAST(CAST(c_tot AS HUGEINT) * 1000000 // n_tot AS BIGINT) AS mean_micro,
      |       CAST(CASE WHEN n_tot = n_docs THEN NULL
      |            ELSE CAST(c_tot - chars AS HUGEINT) * 1000000 // (n_tot - n_docs)
      |            END AS BIGINT) AS loo_mean_micro,
      |       CAST(CASE WHEN n_tot = n_docs THEN NULL
      |            ELSE CAST(c_tot - chars AS HUGEINT) * 1000000 // (n_tot - n_docs)
      |                 - CAST(c_tot AS HUGEINT) * 1000000 // n_tot
      |            END AS BIGINT) AS delta_micro
      |FROM t ORDER BY source""".stripMargin

  val queries: Map[String, Q] = Map(
    "loo_source_influence"    -> (looSourceInfluence _),
    "source_unimax_alloc"     -> (sourceUnimaxAlloc _),
    "source_anova_f"          -> (sourceAnovaF _),
    "source_permutation_test" -> (sourcePermutationTest _),
    "lang_temperature_mix" -> (langTemperatureMix _),
    "shuffle_runs_test" -> (shuffleRunsTest _),
    "referential_integrity_audit" -> (referentialIntegrityAudit _),
    "customer_ldiversity" -> (customerLdiversity _),
    "customer_tcloseness" -> (customerTcloseness _),
    "customer_rr_histogram" -> (customerRrHistogram _),
    "source_length_emd"   -> (sourceLengthEmd _),
    "customer_kanonymity" -> (customerKanonymity _),
    "deletion_propagation" -> (deletionPropagation _),
    "doc_dsir_weights"   -> (docDsirWeights _),
    "corpus_shuffle"     -> ((s: SparkSession, d: String) => corpusShuffle(s, d)),
    "corpus_interleave"  -> ((s: SparkSession, d: String) => corpusInterleave(s, d)),
    "events_profile"     -> (eventsProfile _),
    "embedding_quantize" -> (embeddingQuantize _),
    "embedding_quantize_sweep" -> (embeddingQuantizeSweep _),
    "source_loglength_moments" -> (sourceLoglengthMoments _),
    "clean_corpus"     -> (cleanCorpus _),
    "clean_corpus_packing" -> (cleanCorpusPacking _),
    "corpus_yield_report" -> (corpusYieldReport _),
    "doc_sample_10pct" -> (docSample _),
    "doc_quality_sample" -> (docQualitySample _),
    "source_caps"        -> (sourceCaps _),
    "doc_length_outliers" -> (docLengthOutliers _),
    "source_temperature_weights" -> (sourceTemperatureWeights _),
    "source_weighted_sample"     -> (sourceWeightedSample _),
    "source_length_ks"           -> (sourceLengthKs _),
    "source_length_mwu"          -> (sourceLengthMwu _),
    "source_js_divergence"       -> (sourceJsDivergence _),
    "source_rank_spearman"       -> (sourceRankSpearman _),
    "source_epoch_schedule" -> (sourceEpochSchedule _),
    "doc_quality_deciles" -> (docQualityDeciles _),
    "dup_rate_by_quality" -> (dupRateByQuality _),
    "quality_quantile_norm" -> (qualityQuantileNorm _),
    "vocab_zipf_fit"     -> (vocabZipfFit _),
    "doc_chunks"         -> (docChunks _),
    "chunk_dedup_stats"  -> (chunkDedupStats _),
    "split_leakage"      -> (splitLeakage _),
    "stratified_sample_counts" -> (stratifiedSampleCounts _),
    "source_mixture_profile"   -> (sourceMixtureProfile _),
    "vocab_coverage"     -> (vocabCoverage _),
    "vocab_coverage_curve" -> (vocabCoverageCurve _),
    "doc_split_counts" -> (docSplitCounts _),
    "top_tokens"       -> (topTokens _),
    "token_heavy_hitters_cms" -> (tokenHeavyHittersCms _),
    "doc_tfidf_top"    -> (tfidfTop _),
    "embedding_stats"  -> (embeddingStats _))

  val oracle: Map[String, String] = Map(
    "loo_source_influence"    -> looSourceInfluenceSql,
    "source_unimax_alloc"     -> sourceUnimaxAllocSql,
    "source_anova_f"          -> sourceAnovaFSql,
    "source_permutation_test" -> sourcePermutationTestSql,
    "lang_temperature_mix" -> langTemperatureMixSql,
    "doc_dsir_weights"   -> docDsirWeightsSql,
    "corpus_shuffle"     -> corpusShuffleSql,
    "corpus_interleave"  -> corpusInterleaveSql,
    "events_profile"     -> eventsProfileSql,
    "embedding_quantize" -> embeddingQuantizeSql,
    "embedding_quantize_sweep" -> embeddingQuantizeSweepSql,
    "source_loglength_moments" -> sourceLoglengthMomentsSql,
    "clean_corpus"     -> cleanCorpusSql,
    "clean_corpus_packing" -> cleanCorpusPackingSql,
    "corpus_yield_report" -> corpusYieldReportSql,
    "doc_sample_10pct" -> docSampleSql,
    "doc_quality_sample" -> docQualitySampleSql,
    "source_caps"        -> sourceCapsSql,
    "doc_length_outliers" -> docLengthOutliersSql,
    "source_temperature_weights" -> sourceTemperatureWeightsSql,
    "source_weighted_sample"     -> sourceWeightedSampleSql,
    "source_length_ks"           -> sourceLengthKsSql,
    "source_length_mwu"          -> sourceLengthMwuSql,
    "source_js_divergence"       -> sourceJsDivergenceSql,
    "source_rank_spearman"       -> sourceRankSpearmanSql,
    "source_epoch_schedule" -> sourceEpochScheduleSql,
    "doc_quality_deciles" -> docQualityDecilesSql,
    "dup_rate_by_quality" -> dupRateByQualitySql,
    "quality_quantile_norm" -> qualityQuantileNormSql,
    "vocab_zipf_fit"     -> vocabZipfFitSql,
    "doc_chunks"         -> docChunksSql,
    "chunk_dedup_stats"  -> chunkDedupStatsSql,
    "split_leakage"      -> splitLeakageSql,
    "deletion_propagation" -> deletionPropagationSql,
    "shuffle_runs_test" -> shuffleRunsTestSql,
    "referential_integrity_audit" -> referentialIntegrityAuditSql,
    "customer_ldiversity" -> customerLdiversitySql,
    "customer_tcloseness" -> customerTclosenessSql,
    "customer_rr_histogram" -> customerRrHistogramSql,
    "source_length_emd"   -> sourceLengthEmdSql,
    "customer_kanonymity" -> customerKanonymitySql,
    "stratified_sample_counts" -> stratifiedSampleCountsSql,
    "source_mixture_profile"   -> sourceMixtureProfileSql,
    "vocab_coverage"     -> vocabCoverageSql,
    "vocab_coverage_curve" -> vocabCoverageCurveSql,
    "doc_split_counts" -> docSplitCountsSql,
    "top_tokens"       -> topTokensSql,
    "token_heavy_hitters_cms" -> tokenHeavyHittersCmsSql,
    "doc_tfidf_top"    -> tfidfTopSql,
    "embedding_stats"  -> embeddingStatsSql)
}
