package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Time-series diagnostics over the sensor feed (round 4 closing tier):
  * seasonality extraction and autocorrelation — the two checks a telemetry
  * or training-data freshness pipeline runs before trusting a series
  * (is there a daily cycle? how sticky is the signal hour-to-hour?).
  *
  * Numeric discipline follows the module-wide rules: every fractional SUM
  * goes through DECIMAL so partial-aggregation order cannot perturb it;
  * ratios divide DOUBLE-cast decimal sums (correctly-rounded IEEE division,
  * engine-deterministic) and round to 6 before any further arithmetic.
  */
object TimeSeriesQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Valid sensor readings: the parity wire-format shape with the
    * reference's malformed rows ('error' events) dropped. */
  private def validReadings(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(col("event_type") =!= "error" && col("value").isNotNull)
      .select(
        col("ts"),
        col("event_type").as("sensor_id"),
        col("value").as("value_numeric"))

  /** Hour-of-day seasonality profile per sensor: for each (sensor, 0..23)
    * cell, observation count, mean reading, and the deviation from the
    * sensor's overall mean — the additive seasonal component a
    * deseasonalization pass would subtract. One shuffle (the groupBy);
    * the per-sensor totals come from a window over the ALREADY-GROUPED
    * 24-row frames (sum of exact decimal partials, not a second scan) —
    * at 100 TB the output stays sensors × 24 no matter the row count. */
  def sensorSeasonalProfile(spark: SparkSession, dir: String): DataFrame = {
    val cells = validReadings(spark, dir)
      .groupBy(col("sensor_id"), hour(col("ts")).as("hod"))
      .agg(
        count(lit(1)).as("n_obs"),
        sum(col("value_numeric").cast("decimal(18,6)")).as("s1d"))
    val bySensor = Window.partitionBy(col("sensor_id"))
    cells
      .withColumn("avg_v",
        round(col("s1d").cast("double") / col("n_obs"), 6))
      .withColumn("avg_all",
        round(sum(col("s1d")).over(bySensor).cast("double") /
          sum(col("n_obs")).over(bySensor), 6))
      .select(
        col("sensor_id"), col("hod"), col("n_obs"),
        col("avg_v"),
        round(col("avg_v") - col("avg_all"), 6).as("seasonal_dev"))
      .orderBy("sensor_id", "hod")
  }

  private val sensorSeasonalProfileSql: String =
    """WITH cells AS (
      |  SELECT event_type AS sensor_id,
      |         CAST(EXTRACT(hour FROM CAST(ts AS TIMESTAMP)) AS INT) AS hod,
      |         count(*) AS n_obs,
      |         sum(CAST(value AS DECIMAL(18,6))) AS s1d
      |  FROM events
      |  WHERE event_type <> 'error' AND value IS NOT NULL
      |  GROUP BY 1, 2)
      |SELECT sensor_id, hod, n_obs,
      |       round(CAST(s1d AS DOUBLE) / n_obs, 6) AS avg_v,
      |       round(round(CAST(s1d AS DOUBLE) / n_obs, 6)
      |             - round(CAST(sum(s1d) OVER (PARTITION BY sensor_id) AS DOUBLE)
      |                     / sum(n_obs) OVER (PARTITION BY sensor_id), 6),
      |             6) AS seasonal_dev
      |FROM cells
      |ORDER BY sensor_id, hod""".stripMargin

  /** Lag-k autocorrelation (k = 1..6) of each sensor's HOURLY mean series:
    * r_k = Σ (x_t − x̄)(x_{t−k} − x̄) / Σ (x_t − x̄)², positions taken over
    * the observed hourly sequence (row_number, so a missing hour does not
    * break the lag structure — the standard gap-tolerant formulation).
    *
    * Shape: the raw feed collapses to one row per (sensor, hour) FIRST —
    * the only data-sized shuffle — then every subsequent stage (centering,
    * the 6-lag self-join keyed on (sensor, pos − k), the per-(sensor, lag)
    * products) runs on the hours-sized frame, which is ~5 orders of
    * magnitude smaller than the feed at any scale. Numerator products are
    * exact-decimal-summed; the shared denominator is computed once per
    * sensor and broadcast back. */
  def sensorAcf(spark: SparkSession, dir: String): DataFrame = {
    val (centered, den) = hourlyCentered(spark, dir)
    lagProducts(spark, centered)
      .groupBy(col("sensor_id"), col("lag"))
      .agg(
        count(lit(1)).as("n_terms"),
        sum((col("cx") * col("cx_b")).cast("decimal(28,10)"))
          .cast("double").as("num"))
      .join(broadcast(den), Seq("sensor_id"))
      .select(col("sensor_id"), col("lag"), col("n_terms"),
        when(col("den") > 0, round(col("num") / col("den"), 6)).as("acf"))
      .orderBy("sensor_id", "lag")
  }

  /** Shared centering stage for the autocorrelation family ([[sensorAcf]],
    * [[sensorLjungBox]]): per sensor the 6-dp hourly-mean series as
    * (position, x − x̄), materialized once, plus its squared-deviation
    * denominator Σ(x−x̄)². */
  private def hourlyCentered(
      spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import QueryConventions.MaterializeSyntax
    val byHour = hourlySeries(spark, dir)
    val pos = Window.partitionBy(col("sensor_id")).orderBy(col("h"))
    val mean = Window.partitionBy(col("sensor_id"))
    val centered = byHour
      .withColumn("p", row_number().over(pos))
      .withColumn("xbar",
        round(sum(col("x").cast("decimal(18,6)")).over(mean).cast("double") /
          count(lit(1)).over(mean), 6))
      .select(col("sensor_id"), col("p"),
        (col("x") - col("xbar")).as("cx"))
      .materializeOnce // feeds the denominator, and both sides of the lag join
    val den = centered.groupBy(col("sensor_id"))
      .agg(sum((col("cx") * col("cx")).cast("decimal(28,10)"))
        .cast("double").as("den"))
    (centered, den)
  }

  /** The 6-lag (t, t−k) pairing of a centered series — the hours-sized
    * self-join both autocorrelation entries aggregate over. */
  private def lagProducts(spark: SparkSession, centered: DataFrame): DataFrame = {
    val lags = spark.range(1, 7).select(col("id").cast("int").as("lag"))
    val a = centered.select(col("sensor_id"), col("p"), col("cx"))
    val b = centered.select(
      col("sensor_id").as("sensor_id_b"), col("p").as("p_b"), col("cx").as("cx_b"))
    a.crossJoin(broadcast(lags))
      .join(b,
        col("sensor_id") === col("sensor_id_b") && col("p_b") === col("p") - col("lag"))
  }

  private val sensorAcfSql: String =
    s"""WITH byhour AS (
      |  $hourlySeriesSql),
      |centered AS (
      |  SELECT sensor_id,
      |         row_number() OVER (PARTITION BY sensor_id ORDER BY h) AS p,
      |         x - round(CAST(sum(CAST(x AS DECIMAL(18,6))) OVER (PARTITION BY sensor_id) AS DOUBLE)
      |                   / count(*) OVER (PARTITION BY sensor_id), 6) AS cx
      |  FROM byhour),
      |den AS (
      |  SELECT sensor_id,
      |         CAST(sum(CAST(cx * cx AS DECIMAL(28,10))) AS DOUBLE) AS den
      |  FROM centered GROUP BY 1),
      |num AS (
      |  SELECT a.sensor_id, k.lag,
      |         count(*) AS n_terms,
      |         CAST(sum(CAST(a.cx * b.cx AS DECIMAL(28,10))) AS DOUBLE) AS num
      |  FROM centered a
      |  CROSS JOIN (SELECT unnest(range(1, 7)) AS lag) k
      |  JOIN centered b
      |    ON b.sensor_id = a.sensor_id AND b.p = a.p - k.lag
      |  GROUP BY 1, 2)
      |SELECT num.sensor_id, CAST(num.lag AS INT) AS lag, num.n_terms,
      |       CASE WHEN den.den > 0 THEN round(num.num / den.den, 6) END AS acf
      |FROM num JOIN den ON den.sensor_id = num.sensor_id
      |ORDER BY num.sensor_id, lag""".stripMargin

  /** Ljung–Box portmanteau test over [[sensorAcf]]'s first 6 lags: Q =
    * n(n+2)·Σ_k r_k²/(n−k), the one-number answer to "is this sensor's
    * hourly series white noise, or does it carry structure?" — the
    * standard residual diagnostic to run AFTER detrending/deseasonalizing
    * (`sensor_seasonal_residuals`): a Q above the χ²₆ 95% critical value
    * (12.591587) rejects independence. Expressed off the same centered
    * frame as the ACF, with r_k kept in its exact c_k/c₀ form so the
    * statistic never passes through the rounded per-lag output.
    *
    * Shape: identical to [[sensorAcf]] — one data-sized collapse to the
    * hourly frame, then the 6-lag self-join and per-sensor 6-term
    * reduction, all hours-sized. Exactness: lag products and the
    * c_k²/(n−k) terms are decimal-summed (order-independent); the single
    * n(n+2)·Σ/c₀² division happens once in double and rounds to 6 dp. */
  def sensorLjungBox(spark: SparkSession, dir: String): DataFrame = {
    val (centered, den) = hourlyCentered(spark, dir)
    val nObs = centered.groupBy(col("sensor_id"))
      .agg(count(lit(1)).as("n_obs"))
    val ck = lagProducts(spark, centered)
      .groupBy(col("sensor_id"), col("lag"))
      .agg(sum((col("cx") * col("cx_b")).cast("decimal(28,10)"))
        .cast("double").as("ck"))
    ck.join(broadcast(nObs), Seq("sensor_id"))
      .withColumn("term",
        (col("ck") * col("ck") / (col("n_obs") - col("lag")))
          .cast("decimal(28,10)"))
      .groupBy(col("sensor_id"), col("n_obs"))
      .agg(count(lit(1)).as("lags"), sum(col("term")).as("sterm"))
      .join(broadcast(den), Seq("sensor_id"))
      .withColumn("q_stat",
        when(col("den") > 0,
          round(col("n_obs") * (col("n_obs") + 2) * col("sterm").cast("double")
            / (col("den") * col("den")), 6)))
      .select(col("sensor_id"), col("n_obs"), col("lags"), col("q_stat"),
        lit(12.591587).as("chi2_crit_950"),
        (col("q_stat") > 12.591587).as("white_noise_rejected"))
      .orderBy("sensor_id")
  }

  private val sensorLjungBoxSql: String =
    s"""WITH byhour AS (
      |  $hourlySeriesSql),
      |centered AS (
      |  SELECT sensor_id,
      |         row_number() OVER (PARTITION BY sensor_id ORDER BY h) AS p,
      |         x - round(CAST(sum(CAST(x AS DECIMAL(18,6))) OVER (PARTITION BY sensor_id) AS DOUBLE)
      |                   / count(*) OVER (PARTITION BY sensor_id), 6) AS cx
      |  FROM byhour),
      |den AS (
      |  SELECT sensor_id,
      |         CAST(sum(CAST(cx * cx AS DECIMAL(28,10))) AS DOUBLE) AS den
      |  FROM centered GROUP BY 1),
      |nobs AS (SELECT sensor_id, count(*) AS n_obs FROM centered GROUP BY 1),
      |ck AS (
      |  SELECT a.sensor_id, k.lag,
      |         CAST(sum(CAST(a.cx * b.cx AS DECIMAL(28,10))) AS DOUBLE) AS ck
      |  FROM centered a
      |  CROSS JOIN (SELECT unnest(range(1, 7)) AS lag) k
      |  JOIN centered b
      |    ON b.sensor_id = a.sensor_id AND b.p = a.p - k.lag
      |  GROUP BY 1, 2),
      |t AS (
      |  SELECT ck.sensor_id, n.n_obs,
      |         count(*) AS lags,
      |         sum(CAST(ck.ck * ck.ck / (n.n_obs - ck.lag) AS DECIMAL(28,10))) AS sterm
      |  FROM ck JOIN nobs n ON n.sensor_id = ck.sensor_id
      |  GROUP BY 1, 2),
      |q AS (
      |  SELECT t.sensor_id, t.n_obs, t.lags,
      |         CASE WHEN d.den > 0 THEN
      |           round(t.n_obs * (t.n_obs + 2) * CAST(t.sterm AS DOUBLE)
      |                 / (d.den * d.den), 6) END AS q_stat
      |  FROM t JOIN den d ON d.sensor_id = t.sensor_id)
      |SELECT sensor_id, CAST(n_obs AS BIGINT) AS n_obs,
      |       CAST(lags AS BIGINT) AS lags, q_stat,
      |       CAST(12.591587 AS DOUBLE) AS chi2_crit_950,
      |       q_stat > 12.591587 AS white_noise_rejected
      |FROM q ORDER BY sensor_id""".stripMargin

  private val TrendWindow = 6

  /** Rolling OLS trend: the least-squares slope of each sensor's hourly
    * mean over its last [[TrendWindow]] observed hours — the "is this
    * signal drifting, and how fast" detector that a threshold alert can't
    * express (a level threshold fires on noise; a slope threshold fires
    * on sustained movement). slope = (nΣpx − ΣpΣx) / (nΣp² − (Σp)²) with
    * p the per-sensor hourly position.
    *
    * Engine-exactness: positions are integers and the hourly mean is a
    * rounded 6-dp value, so every product is formed in DECIMAL (exact),
    * the numerator is a difference of exact decimals, and the integer
    * denominator divides once in correctly-rounded double — the same
    * discipline as [[sensorAcf]]. Shape: the raw feed collapses to the
    * hours-sized frame first; the five window sums share ONE frame
    * specification (one shuffle + one sort per sensor), so the rolling
    * regression costs the same as a moving average at any scale. */
  def sensorRollingTrend(spark: SparkSession, dir: String): DataFrame = {
    val byHour = hourlySeries(spark, dir)
    val seq = Window.partitionBy(col("sensor_id")).orderBy(col("h"))
    val frame = seq.rowsBetween(-(TrendWindow - 1), 0)
    val pd = col("p").cast("decimal(10,0)")
    val xd = col("x").cast("decimal(18,6)")
    byHour
      .withColumn("p", row_number().over(seq))
      .withColumn("nw", count(lit(1)).over(frame))
      .withColumn("sp", sum(col("p").cast("long")).over(frame))
      .withColumn("spp", sum((col("p").cast("long") * col("p")).cast("long")).over(frame))
      .withColumn("sx", sum(xd).over(frame))
      .withColumn("spx", sum(pd * xd).over(frame))
      .withColumn("den", col("nw") * col("spp") - col("sp") * col("sp"))
      .select(
        col("sensor_id"), col("h"), col("nw").as("n_win"), col("x"),
        when(col("den") > 0,
          round((col("nw").cast("decimal(10,0)") * col("spx")
            - col("sp").cast("decimal(10,0)") * col("sx")).cast("double")
            / col("den"), 6)).as("slope"))
      .orderBy("sensor_id", "h")
  }

  private val sensorRollingTrendSql: String =
    s"""WITH byhour AS (
       |  $hourlySeriesSql),
       |pos AS (
       |  SELECT sensor_id, h, x,
       |         row_number() OVER (PARTITION BY sensor_id ORDER BY h) AS p
       |  FROM byhour),
       |roll AS (
       |  SELECT sensor_id, h, x,
       |         count(*) OVER w AS nw,
       |         sum(p) OVER w AS sp,
       |         sum(p * p) OVER w AS spp,
       |         sum(CAST(x AS DECIMAL(18,6))) OVER w AS sx,
       |         sum(CAST(p AS DECIMAL(10,0)) * CAST(x AS DECIMAL(18,6))) OVER w AS spx
       |  FROM pos
       |  WINDOW w AS (PARTITION BY sensor_id ORDER BY h
       |               ROWS BETWEEN ${TrendWindow - 1} PRECEDING AND CURRENT ROW))
       |SELECT sensor_id, h, nw AS n_win, x,
       |       CASE WHEN nw * spp - sp * sp > 0
       |            THEN round(CAST(CAST(nw AS DECIMAL(10,0)) * spx
       |                            - CAST(sp AS DECIMAL(10,0)) * sx AS DOUBLE)
       |                       / (nw * spp - sp * sp), 6) END AS slope
       |FROM roll
       |ORDER BY sensor_id, h""".stripMargin

  /** Tabular CUSUM changepoint detection per sensor — the sustained-shift
    * alarm that completes the anomaly family: MAD flags level outliers,
    * the rolling z-score flags local spikes, the rolling trend measures
    * drift SPEED, and CUSUM accumulates small persistent deviations until
    * they cross a decision threshold (a 0.6σ mean shift never trips a
    * 3σ-style gate but trips CUSUM within hours). Standard two-sided form
    * with slack k = σ/2 and threshold h = 4σ over the hourly mean series,
    * against the sensor's own global (μ, σ).
    *
    * The textbook recursion S⁺_t = max(0, S⁺_{t-1} + x_t − μ − kσ) looks
    * window-inexpressible, but has the exact closed form
    * S⁺_t = C_t − min(0, min_{j≤t} C_j) for the cumulative sum C of the
    * slack-adjusted deviations — a running sum plus a running min, both
    * plain window functions, so the whole detector is ONE window pass per
    * side (no per-row iteration, no UDF, no state store). Deviations are
    * rounded to 6 dp and accumulated in DECIMAL, making every running
    * aggregate order-independent and the S values exact on both engines;
    * (μ, σ) come from DECIMAL moment sums over the same window partition
    * (no second scan, no join). Scale: everything after the hours-sized
    * groupBy is windows over sensors × hours rows. */
  def sensorCusum(spark: SparkSession, dir: String): DataFrame = {
    val byHour = hourlySeries(spark, dir)
    val part = Window.partitionBy(col("sensor_id"))
    val seq = part.orderBy(col("h")).rowsBetween(Window.unboundedPreceding, 0)
    val xd = col("x").cast("decimal(18,6)")
    val stats = byHour
      .withColumn("nh", count(lit(1)).over(part))
      .withColumn("s1", sum(xd).over(part))
      .withColumn("s2", sum(xd * xd).over(part))
      .withColumn("mu", col("s1").cast("double") / col("nh"))
      .withColumn("sigma",
        sqrt((col("s2").cast("double") - col("s1").cast("double") * col("s1").cast("double") / col("nh"))
          / (col("nh") - 1)))
    val zp = round(col("x") - col("mu") - col("sigma") * 0.5, 6).cast("decimal(18,6)")
    val zn = round(col("mu") - col("x") - col("sigma") * 0.5, 6).cast("decimal(18,6)")
    stats
      .withColumn("cp", sum(zp).over(seq))
      .withColumn("cn", sum(zn).over(seq))
      .withColumn("sp", col("cp") - least(min(col("cp")).over(seq), lit(0).cast("decimal(18,6)")))
      .withColumn("sn", col("cn") - least(min(col("cn")).over(seq), lit(0).cast("decimal(18,6)")))
      .select(
        col("sensor_id"), col("h"), col("x"),
        round(col("sp").cast("double"), 6).as("cusum_pos"),
        round(col("sn").cast("double"), 6).as("cusum_neg"),
        (col("sp").cast("double") > col("sigma") * 4 ||
          col("sn").cast("double") > col("sigma") * 4).as("is_shift"))
      .orderBy("sensor_id", "h")
  }

  private val sensorCusumSql: String =
    s"""WITH byhour AS (
      |  $hourlySeriesSql),
      |stats AS (
      |  SELECT sensor_id, h, x,
      |         count(*) OVER p AS nh,
      |         sum(CAST(x AS DECIMAL(18,6))) OVER p AS s1,
      |         sum(CAST(x AS DECIMAL(18,6)) * CAST(x AS DECIMAL(18,6))) OVER p AS s2
      |  FROM byhour
      |  WINDOW p AS (PARTITION BY sensor_id)),
      |mu AS (
      |  SELECT sensor_id, h, x,
      |         CAST(s1 AS DOUBLE) / nh AS mu,
      |         sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / nh) / (nh - 1)) AS sigma
      |  FROM stats),
      |cum AS (
      |  SELECT sensor_id, h, x, sigma,
      |         sum(CAST(round(x - mu - sigma * 0.5, 6) AS DECIMAL(18,6))) OVER s AS cp,
      |         sum(CAST(round(mu - x - sigma * 0.5, 6) AS DECIMAL(18,6))) OVER s AS cn
      |  FROM mu
      |  WINDOW s AS (PARTITION BY sensor_id ORDER BY h ROWS UNBOUNDED PRECEDING)),
      |sv AS (
      |  SELECT sensor_id, h, x, sigma,
      |         cp - least(min(cp) OVER s, CAST(0 AS DECIMAL(18,6))) AS sp,
      |         cn - least(min(cn) OVER s, CAST(0 AS DECIMAL(18,6))) AS sn
      |  FROM cum
      |  WINDOW s AS (PARTITION BY sensor_id ORDER BY h ROWS UNBOUNDED PRECEDING))
      |SELECT sensor_id, h, x,
      |       round(CAST(sp AS DOUBLE), 6) AS cusum_pos,
      |       round(CAST(sn AS DOUBLE), 6) AS cusum_neg,
      |       (CAST(sp AS DOUBLE) > sigma * 4 OR CAST(sn AS DOUBLE) > sigma * 4) AS is_shift
      |FROM sv
      |ORDER BY sensor_id, h""".stripMargin

  /** Seasonality-ADJUSTED anomaly detection — the pass that makes the
    * [[sensorSeasonalProfile]] actionable: a reading is anomalous only
    * against its OWN (sensor, hour-of-day) baseline, so a sensor that
    * legitimately runs hot at noon doesn't alarm every noon. The 3σ test
    * is evaluated as the cross-multiplied EXACT integer inequality
    * (n·x − s1)² > 9·(n·s2 − s1²) over centi-unit readings —
    * algebraically identical to |x − μ| > 3σ_pop but with no division,
    * no sqrt and no float compare anywhere, so the flag cannot straddle
    * an ulp across engines. Exactness envelope: both sides < 2^63
    * (Spark) and < 2^53 (the oracle's widest fallback) while
    * n_cell·(100·max|x|)² stays below ~9·10¹⁵ — beyond that, re-derive
    * in DECIMAL(38,0) per the MWU recipe.
    * Per sensor: observations, anomalies, anomaly ppm, and the number of
    * (hod) cells with enough support (n ≥ 2; singleton cells have σ = 0
    * and are excluded from flagging rather than alarming always).
    *
    * Scale shape: one scan builds the 24·|sensors| moment cells; the
    * join-back broadcasts that bounded dim onto the readings scan
    * (map-side); the final aggregate has |sensors| keys. */
  def sensorSeasonalResiduals(spark: SparkSession, dir: String): DataFrame = {
    // centi-unit integers (readings carry 2 decimals): every moment and
    // both inequality sides are exact integers small enough (< 2^53 at
    // these cell sizes — envelope documented above) that even an engine
    // evaluating wide products in DOUBLE keeps them exact
    val base = validReadings(spark, dir)
      .select(col("sensor_id"), hour(col("ts")).as("hod"),
        round(col("value_numeric") * 100).cast("long").as("xc"))
    val cells = base.groupBy(col("sensor_id"), col("hod"))
      .agg(count(lit(1)).as("n"),
        sum(col("xc")).as("s1"),
        sum(col("xc") * col("xc")).as("s2"))
    val lhs = col("n") * col("xc") - col("s1")
    val rhs = lit(9L) * (col("n") * col("s2") - col("s1") * col("s1"))
    base.join(broadcast(cells), Seq("sensor_id", "hod"))
      .withColumn("is_anom", (col("n") >= 2 && lhs * lhs > rhs).cast("long"))
      .groupBy(col("sensor_id"))
      .agg(count(lit(1)).as("n_obs"),
        sum(col("is_anom")).as("n_anom"),
        sum(when(col("n") >= 2, 0L).otherwise(1L)).as("n_unsupported"))
      .withColumn("anom_ppm", expr("n_anom * 1000000 div n_obs"))
      .orderBy("sensor_id")
  }

  private val sensorSeasonalResidualsSql: String =
    """WITH base AS (
      |  SELECT event_type AS sensor_id,
      |         CAST(EXTRACT(hour FROM CAST(ts AS TIMESTAMP)) AS INT) AS hod,
      |         CAST(round(value * 100) AS BIGINT) AS xc
      |  FROM events
      |  WHERE event_type <> 'error' AND value IS NOT NULL),
      |cells AS (
      |  SELECT sensor_id, hod, count(*) AS n,
      |         sum(xc) AS s1,
      |         sum(xc * xc) AS s2
      |  FROM base GROUP BY 1, 2),
      |j AS (
      |  SELECT b.sensor_id,
      |         CASE WHEN c.n >= 2
      |                   AND (c.n * b.xc - c.s1) * (c.n * b.xc - c.s1)
      |                       > 9 * (c.n * c.s2 - c.s1 * c.s1)
      |              THEN 1 ELSE 0 END AS is_anom,
      |         CASE WHEN c.n >= 2 THEN 0 ELSE 1 END AS unsupported
      |  FROM base b JOIN cells c ON b.sensor_id = c.sensor_id AND b.hod = c.hod)
      |SELECT sensor_id, count(*) AS n_obs,
      |       CAST(sum(is_anom) AS BIGINT) AS n_anom,
      |       CAST(sum(unsupported) AS BIGINT) AS n_unsupported,
      |       CAST(sum(is_anom) * 1000000 // count(*) AS BIGINT) AS anom_ppm
      |FROM j GROUP BY sensor_id
      |ORDER BY sensor_id""".stripMargin

  /** Sensor DOWNTIME report — the telemetry liveness audit the
    * interpolation/spine entries assume has already run: per sensor, the
    * gap distribution of consecutive valid readings (floored epoch
    * seconds; ties on ts broken by event_id so the gap sequence is a
    * total order in both dialects), outage count and cumulative downtime
    * for gaps above one hour (~4× the median cadence of this feed), and
    * the downtime share of the sensor's observed span in ppm. A sensor
    * whose downtime_ppm spikes is a collection outage; one whose
    * max_gap dwarfs its outage sum died once and recovered.
    *
    * One partitioned lag + one |sensors|-key aggregate; everything
    * integer-exact. */
  def sensorDowntimeReport(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("sensor_id")).orderBy(col("ts"), col("event_id"))
    val g = Tables.events(spark, dir)
      .filter(col("event_type") =!= "error" && col("value").isNotNull)
      .select(col("event_type").as("sensor_id"),
        unix_timestamp(col("ts")).as("es"), col("ts"), col("event_id"))
      .withColumn("gap_s", col("es") - lag(col("es"), 1).over(w))
    g.groupBy(col("sensor_id"))
      .agg(count(lit(1)).as("n_obs"),
        (max(col("es")) - min(col("es"))).as("span_s"),
        max(col("gap_s")).as("max_gap_s"),
        sum(when(col("gap_s") > 3600, 1L).otherwise(0L)).as("n_outages"),
        sum(when(col("gap_s") > 3600, col("gap_s")).otherwise(0L)).as("downtime_s"))
      .withColumn("downtime_ppm",
        expr("CASE WHEN span_s > 0 THEN downtime_s * 1000000 div span_s ELSE 0 END"))
      .orderBy("sensor_id")
  }

  private val sensorDowntimeReportSql: String =
    """WITH e AS (
      |  SELECT event_type AS sensor_id,
      |         CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS es,
      |         CAST(ts AS TIMESTAMP) AS tsx, event_id
      |  FROM events
      |  WHERE event_type <> 'error' AND value IS NOT NULL),
      |g AS (
      |  SELECT sensor_id, es,
      |         es - lag(es) OVER (PARTITION BY sensor_id ORDER BY tsx, event_id) AS gap_s
      |  FROM e),
      |a AS (
      |  SELECT sensor_id, count(*) AS n_obs,
      |         max(es) - min(es) AS span_s,
      |         max(gap_s) AS max_gap_s,
      |         sum(CASE WHEN gap_s > 3600 THEN 1 ELSE 0 END) AS n_outages,
      |         sum(CASE WHEN gap_s > 3600 THEN gap_s ELSE 0 END) AS downtime_s
      |  FROM g GROUP BY sensor_id)
      |SELECT sensor_id, n_obs,
      |       CAST(span_s AS BIGINT) AS span_s,
      |       CAST(max_gap_s AS BIGINT) AS max_gap_s,
      |       CAST(n_outages AS BIGINT) AS n_outages,
      |       CAST(downtime_s AS BIGINT) AS downtime_s,
      |       CAST(CASE WHEN span_s > 0 THEN downtime_s * 1000000 // span_s ELSE 0 END AS BIGINT) AS downtime_ppm
      |FROM a ORDER BY sensor_id""".stripMargin

  /** The shared hourly-mean build frame: one data-sized shuffle collapses
    * the feed to (sensor, hour, x_micro) — the calendar-bounded frame
    * every detector in this module runs on.
    *
    * x_micro is the TRUNCATED micro-unit mean, integer-exact end to end:
    * the per-hour sum accumulates in DECIMAL(18,6) (never a double sum —
    * partial-agg order cannot perturb it), is scaled to exact integer
    * micro-units while still decimal, and ONE integral division by the
    * count produces the mean (Spark `div` and DuckDB HUGEINT `//` both
    * truncate toward zero; readings are positive, so the dialects agree
    * bit-for-bit). No `round(double/n, 6)` anywhere — a sum landing on a
    * .xxxxxx5 half has no half-even coin-flip to disagree on, it simply
    * truncates (audited by the boundary spec in HourlyMeanExactSpec).
    * Downstream detectors consume x_micro directly, so their
    * "integer-exact" claims are true by construction. */
  private[graft] def hourlyMeans(spark: SparkSession, dir: String): DataFrame =
    hourlyMeansFrom(validReadings(spark, dir))

  /** [[hourlyMeans]] over an arbitrary pre-shaped readings frame
    * (ts, sensor_id, value_numeric). */
  private[graft] def hourlyMeansFrom(valid: DataFrame): DataFrame =
    valid
      .groupBy(col("sensor_id"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n"),
        (sum(col("value_numeric").cast("decimal(18,6)")) * 1000000)
          .cast("decimal(38,0)").as("s1u"))
      .select(col("sensor_id"), col("h"),
        expr("s1u div n").as("x_micro"))

  /** Per (sensor, hour) 6-dp double mean `x` of the valid readings —
    * the hourly series the autocorrelation, rolling-trend and CUSUM
    * entries run on. The sum is exact (DECIMAL) and divides once. */
  private def hourlySeries(spark: SparkSession, dir: String): DataFrame =
    validReadings(spark, dir)
      .groupBy(col("sensor_id"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n"),
        sum(col("value_numeric").cast("decimal(18,6)")).as("s1d"))
      .select(col("sensor_id"), col("h"),
        round(col("s1d").cast("double") / col("n"), 6).as("x"))

  /** DuckDB mirror of [[hourlySeries]]. */
  private def hourlySeriesSql: String =
    """SELECT event_type AS sensor_id,
      |         date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
      |         round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS x
      |  FROM events
      |  WHERE event_type <> 'error' AND value IS NOT NULL
      |  GROUP BY 1, 2""".stripMargin

  private val hourlyMeansSql: String =
    """SELECT event_type AS sensor_id,
      |         date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
      |         CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000000 AS HUGEINT)
      |              // count(*) AS BIGINT) AS x_micro
      |  FROM events
      |  WHERE event_type <> 'error' AND value IS NOT NULL
      |  GROUP BY 1, 2""".stripMargin

  /** Theil–Sen robust trend per sensor: the MEDIAN of all pairwise slopes
    * (x_j − x_i)/(j − i) over the hourly-mean series — the estimator that
    * shrugs off up to ~29% arbitrarily-corrupted hours, where the
    * [[sensorRollingTrend]] OLS slope chases every outlier. The reported
    * slope is in value-units per hour of observed sequence.
    *
    * Scale shape: the raw feed collapses to the hours frame FIRST (the
    * only data-sized stage), and the pair self-join is CALENDAR²-bounded —
    * |hours|²/2 per sensor regardless of row count (720 observed hours →
    * ~259k pairs/sensor at ANY data scale; a year is ~38M/sensor, still a
    * dimension-sized frame). The per-sensor median is a window over that
    * bounded frame, not over data-sized input.
    *
    * Engine-exactness: Δx is formed in DECIMAL(18,6) and emitted as an
    * exact micro-unit BIGINT; the ordering key Δx_micro/gap is one IEEE
    * double division of a long-exact numerator by a small integer —
    * correctly rounded, so both engines order identically (ties broken by
    * (Δx, gap, i, j) anyway); the lower median (rank ⌈n/2⌉) avoids
    * averaging two middle elements; the final slope_micro is floor() of
    * the same correctly-rounded division. */
  def sensorTheilSenTrend(spark: SparkSession, dir: String): DataFrame = {
    import QueryConventions.MaterializeSyntax
    val seq = Window.partitionBy(col("sensor_id")).orderBy(col("h"))
    val pos = hourlyMeans(spark, dir)
      .withColumn("p", row_number().over(seq))
      .select(col("sensor_id"), col("p"), col("x_micro"))
      .materializeOnce // both sides of the pair self-join
    val a = pos.select(col("sensor_id"), col("p").as("pa"), col("x_micro").as("xa"))
    val b = pos.select(col("sensor_id"), col("p").as("pb"), col("x_micro").as("xb"))
    val pairs = a.join(b, Seq("sensor_id")).filter(col("pb") > col("pa"))
      .select(col("sensor_id"), col("pa"), col("pb"),
        (col("xb") - col("xa")).as("dx_micro"),
        (col("pb") - col("pa")).cast("long").as("gap"))
      .withColumn("ratio", col("dx_micro").cast("double") / col("gap"))
    val ord = Window.partitionBy(col("sensor_id"))
      .orderBy(col("ratio"), col("dx_micro"), col("gap"), col("pa"), col("pb"))
    val cnt = Window.partitionBy(col("sensor_id"))
    pairs
      .withColumn("rn", row_number().over(ord))
      .withColumn("n_pairs", count(lit(1)).over(cnt))
      .filter(col("rn") === expr("(n_pairs + 1) div 2"))
      .select(col("sensor_id"), col("n_pairs"),
        col("dx_micro").as("med_dx_micro"), col("gap").as("med_gap"),
        floor(col("dx_micro").cast("double") / col("gap")).cast("long").as("slope_micro"))
      .orderBy("sensor_id")
  }

  private val sensorTheilSenTrendSql: String =
    s"""WITH byhour AS (
       |  $hourlyMeansSql),
       |pos AS (
       |  SELECT sensor_id, x_micro,
       |         row_number() OVER (PARTITION BY sensor_id ORDER BY h) AS p
       |  FROM byhour),
       |pairs AS (
       |  SELECT a.sensor_id, a.p AS pa, b.p AS pb,
       |         b.x_micro - a.x_micro AS dx_micro,
       |         CAST(b.p - a.p AS BIGINT) AS gap
       |  FROM pos a JOIN pos b ON b.sensor_id = a.sensor_id AND b.p > a.p),
       |ranked AS (
       |  SELECT sensor_id, dx_micro, gap,
       |         row_number() OVER (PARTITION BY sensor_id
       |                            ORDER BY CAST(dx_micro AS DOUBLE) / gap, dx_micro, gap, pa, pb) AS rn,
       |         count(*) OVER (PARTITION BY sensor_id) AS n_pairs
       |  FROM pairs)
       |SELECT sensor_id, n_pairs,
       |       dx_micro AS med_dx_micro, gap AS med_gap,
       |       CAST(floor(CAST(dx_micro AS DOUBLE) / gap) AS BIGINT) AS slope_micro
       |FROM ranked WHERE rn = (n_pairs + 1) // 2
       |ORDER BY sensor_id""".stripMargin

  /** The 24-point micro-unit trig tables for the daily-cycle DFT: ONE
    * Scala computation feeds both the broadcast Spark dim and the oracle
    * VALUES literal, so the two dialects share bit-identical coefficients
    * by construction (cos/sin are NOT correctly-rounded across libm
    * implementations — never call them independently on both engines). */
  private val trigTable: Seq[(Int, Long, Long)] =
    (0 until 24).map { i =>
      val th = 2.0 * math.Pi * i / 24.0
      (i, math.round(math.cos(th) * 1e6), math.round(math.sin(th) * 1e6))
    }

  /** Spectral periodicity check — the frequency-domain member of the
    * seasonality family: per sensor, the DFT power at harmonics k = 1..4
    * of the daily (24 h) cycle over the hourly-mean series,
    * P_k = (Σ_t x_t·cos(2πkt/24))² + (Σ_t x_t·sin(2πkt/24))². A sensor
    * with a genuine daily rhythm concentrates power at k = 1 (rank 1);
    * flat-spectrum sensors are aperiodic — the check
    * [[sensorSeasonalProfile]]'s hour-of-day table assumes.
    *
    * All arithmetic is integer-exact end to end: readings enter as exact
    * micro-unit BIGINTs (the shared [[hourlyMeans]] x_micro), trig
    * coefficients come from the shared [[trigTable]] (micro-unit
    * integers, same literals both dialects), each product is a BIGINT
    * (≤ ~1e14), and the two sums accumulate in DECIMAL(38,0). The OUTPUT
    * carries no decimal column (the r6 lesson: the driver's hash
    * canonicalizes DECIMAL(38,0) differently from the DuckDB rendering
    * even when values are equal — RegistryAuditSpec now bans decimal
    * output schemas outright): ca/sa re-emit as BIGINT (≤ ~7e16 even at
    * year-long calendars), and the power — up to ~1e34, genuinely beyond
    * BIGINT — emits as an EXACT hi/lo split, power = power_hi·10¹⁸ +
    * power_lo, both halves BIGINT. The rank still orders by the full
    * decimal power internally.
    *
    * Scale: one data-sized shuffle to the hours frame; the trig dim is a
    * broadcast 24-row table keyed on (k·t) mod 24; output is
    * |sensors|×4. */
  def sensorDftPower(spark: SparkSession, dir: String): DataFrame = {
    val seq = Window.partitionBy(col("sensor_id")).orderBy(col("h"))
    val trig = spark.createDataFrame(trigTable).toDF("idx", "cosc", "sinc")
    val harmonics = spark.range(1, 5).select(col("id").cast("int").as("k"))
    val pos = hourlyMeans(spark, dir)
      .withColumn("t", row_number().over(seq) - 1)
      .select(col("sensor_id"), col("t"), col("x_micro").as("xm"))
    pos.crossJoin(broadcast(harmonics))
      .withColumn("idx", (col("k") * col("t")) % 24)
      .join(broadcast(trig), Seq("idx"))
      .groupBy(col("sensor_id"), col("k"))
      .agg(count(lit(1)).as("n_terms"),
        sum((col("xm") * col("cosc")).cast("decimal(38,0)")).as("cad"),
        sum((col("xm") * col("sinc")).cast("decimal(38,0)")).as("sad"))
      .withColumn("powerd", (col("cad") * col("cad") + col("sad") * col("sad"))
        .cast("decimal(38,0)"))
      .withColumn("power_rank",
        row_number().over(Window.partitionBy(col("sensor_id"))
          .orderBy(col("powerd").desc, col("k"))))
      .select(col("sensor_id"), col("k"), col("n_terms"),
        col("cad").cast("long").as("ca"),
        col("sad").cast("long").as("sa"),
        expr("powerd div 1000000000000000000").as("power_hi"),
        (col("powerd") % lit(1000000000000000000L).cast("decimal(38,0)"))
          .cast("long").as("power_lo"),
        col("power_rank"))
      .orderBy("sensor_id", "k")
  }

  private val sensorDftPowerSql: String = {
    val values = trigTable.map { case (i, c, s) => s"($i, $c, $s)" }.mkString(", ")
    s"""WITH byhour AS (
       |  $hourlyMeansSql),
       |trig(idx, cosc, sinc) AS (VALUES $values),
       |pos AS (
       |  SELECT sensor_id,
       |         row_number() OVER (PARTITION BY sensor_id ORDER BY h) - 1 AS t,
       |         x_micro AS xm
       |  FROM byhour),
       |terms AS (
       |  SELECT p.sensor_id, k.k, p.xm, tr.cosc, tr.sinc
       |  FROM pos p
       |  CROSS JOIN (SELECT unnest(range(1, 5)) AS k) k
       |  JOIN trig tr ON tr.idx = (k.k * p.t) % 24),
       |agg AS (
       |  SELECT sensor_id, CAST(k AS INT) AS k, count(*) AS n_terms,
       |         sum(CAST(xm AS HUGEINT) * cosc) AS cad,
       |         sum(CAST(xm AS HUGEINT) * sinc) AS sad
       |  FROM terms GROUP BY 1, 2)
       |SELECT sensor_id, k, n_terms,
       |       CAST(cad AS BIGINT) AS ca,
       |       CAST(sad AS BIGINT) AS sa,
       |       CAST((cad * cad + sad * sad) // 1000000000000000000 AS BIGINT) AS power_hi,
       |       CAST((cad * cad + sad * sad) % 1000000000000000000 AS BIGINT) AS power_lo,
       |       CAST(row_number() OVER (PARTITION BY sensor_id
       |                               ORDER BY cad * cad + sad * sad DESC, k) AS INT) AS power_rank
       |FROM agg
       |ORDER BY sensor_id, k""".stripMargin
  }

  /** Single-changepoint localization per sensor (the first step of binary
    * segmentation): the split position t* maximizing the between-segment
    * fit gain SL²/n_l + SR²/n_r − S²/n over the hourly-mean series —
    * where [[sensorCusum]] ALARMS on drift, this LOCATES the level shift
    * (and its gain is the CUSUM-square identity: the t maximizing it is
    * the max-|CUSUM| point). Emits the argmax split, both segment means,
    * and the gain; a near-zero gain means "no level shift" (feed it a
    * threshold, or recurse on the two halves for full binary
    * segmentation).
    *
    * Never a per-candidate rescan: prefix sums off ONE partitioned
    * window pass make every candidate's gain O(1), so the whole detector
    * is the hours frame + one window + one (bounded) candidate frame per
    * sensor. Arithmetic is integer-exact BY DEFINITION: the series is
    * centi-unit integers for the gain (⌊·⌋ per term — part of the
    * statistic's definition, identical in both engines since every
    * operand is positive and both `div` and HUGEINT `//` truncate) and
    * micro-unit integers for the reported means; ties broken by smallest
    * t. Gain terms are sized so SL²/n_l ≤ n·xm² ≈ 10¹³ — BIGINT-safe at
    * any calendar length. */
  def sensorChangepoint(spark: SparkSession, dir: String): DataFrame = {
    val seq = Window.partitionBy(col("sensor_id")).orderBy(col("h"))
    val pos = hourlyMeans(spark, dir)
      .withColumn("t", row_number().over(seq))
      .withColumn("xm", col("x_micro"))
      .withColumn("xc", expr("xm div 10000"))
      .withColumn("cum_micro", sum(col("xm")).over(seq))
      .withColumn("cum_centi", sum(col("xc")).over(seq))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("sensor_id"))))
      .withColumn("s_micro", sum(col("xm")).over(Window.partitionBy(col("sensor_id"))))
      .withColumn("s_centi", sum(col("xc")).over(Window.partitionBy(col("sensor_id"))))
    val gains = pos.filter(col("t") < col("n"))
      .withColumn("gain_c2",
        expr("""CAST(cum_centi AS DECIMAL(38,0)) * cum_centi div t
               | + CAST(s_centi - cum_centi AS DECIMAL(38,0)) * (s_centi - cum_centi) div (n - t)
               | - CAST(s_centi AS DECIMAL(38,0)) * s_centi div n""".stripMargin))
    gains
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("sensor_id")).orderBy(col("gain_c2").desc, col("t"))))
      .filter(col("rk") === 1)
      .select(col("sensor_id"), col("n").as("n_hours"), col("t").as("cp_pos"),
        col("h").as("cp_last_left_hour"), col("gain_c2"),
        expr("cum_micro div t").as("left_mean_micro"),
        expr("(s_micro - cum_micro) div (n - t)").as("right_mean_micro"))
      .orderBy("sensor_id")
  }

  private val sensorChangepointSql: String =
    s"""WITH byhour AS (
       |  $hourlyMeansSql),
       |pos AS (
       |  SELECT sensor_id, h,
       |         row_number() OVER w AS t,
       |         x_micro AS xm
       |  FROM byhour WINDOW w AS (PARTITION BY sensor_id ORDER BY h)),
       |pre AS (
       |  SELECT sensor_id, h, t, xm,
       |         xm // 10000 AS xc,
       |         sum(xm) OVER w AS cum_micro,
       |         sum(xm // 10000) OVER w AS cum_centi,
       |         count(*) OVER (PARTITION BY sensor_id) AS n,
       |         sum(xm) OVER (PARTITION BY sensor_id) AS s_micro,
       |         sum(xm // 10000) OVER (PARTITION BY sensor_id) AS s_centi
       |  FROM pos WINDOW w AS (PARTITION BY sensor_id ORDER BY h)),
       |gains AS (
       |  SELECT sensor_id, h, t, n, cum_micro, s_micro,
       |         CAST(CAST(cum_centi AS HUGEINT) * cum_centi // t
       |              + CAST(s_centi - cum_centi AS HUGEINT) * (s_centi - cum_centi) // (n - t)
       |              - CAST(s_centi AS HUGEINT) * s_centi // n AS BIGINT) AS gain_c2
       |  FROM pre WHERE t < n),
       |best AS (
       |  SELECT *, row_number() OVER (PARTITION BY sensor_id
       |                               ORDER BY gain_c2 DESC, t) AS rk
       |  FROM gains)
       |SELECT sensor_id, CAST(n AS BIGINT) AS n_hours, CAST(t AS BIGINT) AS cp_pos,
       |       h AS cp_last_left_hour, gain_c2,
       |       CAST(cum_micro // t AS BIGINT) AS left_mean_micro,
       |       CAST((s_micro - cum_micro) // (n - t) AS BIGINT) AS right_mean_micro
       |FROM best WHERE rk = 1
       |ORDER BY sensor_id""".stripMargin

  /** Out-of-orderness profile per sensor — the measurement that PICKS a
    * streaming watermark delay instead of guessing it: lateness of each
    * event = (max event-time seen so far in arrival order) − (its own
    * event time), then per sensor the exact p50/p95/p99 lateness and the
    * max. `withWatermark(pXX)` then bounds state with a KNOWN drop rate
    * (1−XX%); a watermark picked without this table is folklore.
    * The harness feed is TOTALLY ordered (event time is monotone in
    * `event_id` — verified, which would make every lateness zero), so
    * arrival order is the feed replayed through a deterministic
    * simulated transport: each event delayed by hash(event_id) mod 1 h.
    * The profile measures exactly the disorder that transport induces —
    * the number `withWatermark` must cover — and stays reproducible
    * batch-over-stream because the delay is content-keyed, not
    * wall-clock.
    *
    * The quantiles never sort the stream: lateness collapses to a
    * per-sensor ms-value HISTOGRAM and each pXX is min{v : cum ≥
    * ⌈q·n⌉} off the cumulative counts (the conformal-threshold trick) —
    * windows only over histogram rows. All integer µs→ms end to end. */
  def eventLatenessProfile(spark: SparkSession, dir: String): DataFrame = {
    import QueryConventions.MaterializeSyntax
    val late = Tables.events(spark, dir)
      .select(col("event_type").as("sensor_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"))
      .withColumn("arrival_us",
        col("ts_us") + pmod(graft.operators.DedupOps.h60(col("event_id").cast("string")),
          lit(3600000L)) * 1000)
      .withColumn("late_ms",
        expr("(max(ts_us) OVER (PARTITION BY sensor_id ORDER BY arrival_us, event_id)" +
          " - ts_us) div 1000"))
    val hist = late.groupBy(col("sensor_id"), col("late_ms"))
      .agg(count(lit(1)).as("c"))
      .materializeOnce // totals + three quantile probes off one histogram
    val tot = hist.groupBy(col("sensor_id"))
      .agg(sum(col("c")).as("n"), max(col("late_ms")).as("max_late_ms"))
    val w = Window.partitionBy(col("sensor_id")).orderBy(col("late_ms"))
    val cum = hist.withColumn("cum", sum(col("c")).over(w))
      .join(broadcast(tot), Seq("sensor_id"))
    def q(p: Int): DataFrame = cum
      .filter(col("cum") >= expr(s"(n * $p + 99) div 100"))
      .groupBy(col("sensor_id")).agg(min(col("late_ms")).as(s"p${p}_ms"))
    val nLate = late.filter(col("late_ms") > 0).groupBy(col("sensor_id"))
      .agg(count(lit(1)).as("n_late"))
    tot.join(broadcast(q(50)), Seq("sensor_id"))
      .join(broadcast(q(95)), Seq("sensor_id"))
      .join(broadcast(q(99)), Seq("sensor_id"))
      .join(broadcast(nLate), Seq("sensor_id"), "left")
      .select(col("sensor_id"), col("n"), coalesce(col("n_late"), lit(0L)).as("n_late"),
        col("max_late_ms"), col("p50_ms"), col("p95_ms"), col("p99_ms"))
      .orderBy("sensor_id")
  }

  private val eventLatenessProfileSql: String =
    """WITH arr AS (
      |  SELECT event_type AS sensor_id, event_id,
      |         epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
      |         epoch_us(CAST(ts AS TIMESTAMP))
      |           + (CAST('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 15) AS BIGINT)
      |              % 3600000) * 1000 AS arrival_us
      |  FROM events),
      |late AS (
      |  SELECT sensor_id, event_id,
      |         (max(ts_us) OVER (PARTITION BY sensor_id ORDER BY arrival_us, event_id)
      |          - ts_us) // 1000 AS late_ms
      |  FROM arr),
      |hist AS (
      |  SELECT sensor_id, late_ms, count(*) AS c FROM late GROUP BY 1, 2),
      |tot AS (
      |  SELECT sensor_id, sum(c) AS n, max(late_ms) AS max_late_ms
      |  FROM hist GROUP BY 1),
      |cum AS (
      |  SELECT h.sensor_id, h.late_ms,
      |         sum(h.c) OVER (PARTITION BY h.sensor_id ORDER BY h.late_ms) AS cum,
      |         t.n
      |  FROM hist h JOIN tot t ON t.sensor_id = h.sensor_id),
      |q50 AS (SELECT sensor_id, min(late_ms) AS p50_ms FROM cum
      |        WHERE cum >= (n * 50 + 99) // 100 GROUP BY 1),
      |q95 AS (SELECT sensor_id, min(late_ms) AS p95_ms FROM cum
      |        WHERE cum >= (n * 95 + 99) // 100 GROUP BY 1),
      |q99 AS (SELECT sensor_id, min(late_ms) AS p99_ms FROM cum
      |        WHERE cum >= (n * 99 + 99) // 100 GROUP BY 1),
      |nl AS (SELECT sensor_id, count(*) AS n_late FROM late WHERE late_ms > 0 GROUP BY 1)
      |SELECT t.sensor_id, CAST(t.n AS BIGINT) AS n,
      |       CAST(coalesce(nl.n_late, 0) AS BIGINT) AS n_late,
      |       CAST(t.max_late_ms AS BIGINT) AS max_late_ms,
      |       CAST(q50.p50_ms AS BIGINT) AS p50_ms,
      |       CAST(q95.p95_ms AS BIGINT) AS p95_ms,
      |       CAST(q99.p99_ms AS BIGINT) AS p99_ms
      |FROM tot t
      |JOIN q50 USING (sensor_id) JOIN q95 USING (sensor_id) JOIN q99 USING (sensor_id)
      |LEFT JOIN nl USING (sensor_id)
      |ORDER BY t.sensor_id""".stripMargin

  /** Burstiness (index of dispersion) per sensor — the arrival-process
    * check beside the value-domain detectors: variance-to-mean ratio of
    * per-minute event counts over the sensor's FULL calendar span
    * (empty minutes count as zeros — dropping them is the classic bug
    * that makes every feed look calm). A Poisson arrival process sits at
    * 10⁶ micro; ≫ 10⁶ means bursts (batchy upstream, retry storms),
    * ≪ 10⁶ means suspiciously regular (a heartbeat pretending to be
    * traffic).
    *
    * Zeros never materialize: with S = Σc and Q = Σc² over OBSERVED
    * minutes, the grid variance is (n·Q − S²)/(n·(n−1)) with n = span
    * minutes — so one groupBy and a 4-column per-sensor aggregate give
    * the exact grid statistic. All integer: D_micro =
    * (n·Q − S²)·10⁶ div ((n−1)·S), DECIMAL(38,0) through the cross
    * terms. */
  def sensorBurstiness(spark: SparkSession, dir: String): DataFrame = {
    val perMin = Tables.events(spark, dir)
      .groupBy(col("event_type").as("sensor_id"),
        date_trunc("minute", col("ts")).as("m"))
      .agg(count(lit(1)).as("c"))
    perMin.groupBy(col("sensor_id"))
      .agg(count(lit(1)).as("observed_minutes"),
        sum(col("c")).as("s"),
        sum((col("c") * col("c")).cast("decimal(38,0)")).as("q"),
        ((unix_micros(max(col("m"))) - unix_micros(min(col("m")))) / 60000000L + 1)
          .cast("long").as("span_minutes"))
      .select(col("sensor_id"), col("s").as("n_events"),
        col("span_minutes"), col("observed_minutes"),
        expr("""(CAST(span_minutes AS DECIMAL(38,0)) * q - CAST(s AS DECIMAL(38,0)) * s)
               | * 1000000 div (CAST(span_minutes - 1 AS DECIMAL(38,0)) * s)""".stripMargin)
          .cast("long").as("dispersion_micro"))
      .orderBy("sensor_id")
  }

  private val sensorBurstinessSql: String =
    """WITH perm AS (
      |  SELECT event_type AS sensor_id,
      |         date_trunc('minute', CAST(ts AS TIMESTAMP)) AS m,
      |         count(*) AS c
      |  FROM events GROUP BY 1, 2),
      |agg AS (
      |  SELECT sensor_id, count(*) AS observed_minutes,
      |         sum(c) AS s,
      |         sum(CAST(c AS HUGEINT) * c) AS q,
      |         (epoch_us(max(m)) - epoch_us(min(m))) // 60000000 + 1 AS span_minutes
      |  FROM perm GROUP BY 1)
      |SELECT sensor_id, CAST(s AS BIGINT) AS n_events,
      |       CAST(span_minutes AS BIGINT) AS span_minutes,
      |       CAST(observed_minutes AS BIGINT) AS observed_minutes,
      |       CAST((CAST(span_minutes AS HUGEINT) * q - CAST(s AS HUGEINT) * s) * 1000000
      |            // ((span_minutes - 1) * CAST(s AS HUGEINT)) AS BIGINT) AS dispersion_micro
      |FROM agg ORDER BY sensor_id""".stripMargin

  /** Error-context enrichment — the BATCH twin of the streaming
    * stream-stream interval join ([[graft.streaming.IntervalJoin]]): for
    * every malformed ('error') event, profile the SAME USER's valid
    * readings within ±5 minutes — how many, from how many distinct
    * sensors, their exact micro-unit value sum, and the nearest reading's
    * |Δt| in microseconds. This is the enrichment shape every monitoring
    * deployment needs ("what was this user's telemetry doing around the
    * failure?"); the reference's per-station fan-out is its degenerate
    * single-stream form.
    *
    * Scale shape: ONE equi-join shuffle on user_id (both sides hash to
    * the same partitioning — the range predicate evaluates inside the
    * joined partitions, never a cartesian), then an aggregate on the
    * already-co-located error keys. Skewed users are AQE's skew-join
    * problem, not a plan problem. The streaming twin runs the identical
    * join condition with watermarks bounding both sides' state
    * (StreamStreamJoinSpec proves eviction); LEFT join keeps
    * context-free errors in the profile (n_ctx = 0, NULL nearest).
    *
    * Exactness: values enter as per-reading exact micro longs, the sum
    * is a long sum; Δt is integer microseconds (unix_micros/epoch_us) —
    * no float op anywhere. */
  def errorContextJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val err = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("error_id"), col("user_id"),
        col("ts").as("error_ts"))
    val rd = ev.filter(col("event_type") =!= "error" && col("value").isNotNull)
      .select(col("user_id").as("r_user"), col("event_type").as("sensor_id"),
        col("ts").as("r_ts"),
        (col("value").cast("decimal(18,6)") * 1000000).cast("long").as("v_micro"))
    err.join(rd,
        col("user_id") === col("r_user") &&
          col("r_ts") >= col("error_ts") - expr("INTERVAL 5 MINUTES") &&
          col("r_ts") <= col("error_ts") + expr("INTERVAL 5 MINUTES"), "left")
      .groupBy(col("error_id"), col("user_id"), col("error_ts"))
      .agg(
        count(col("r_ts")).as("n_ctx"),
        countDistinct(col("sensor_id")).as("n_sensors"),
        coalesce(sum(col("v_micro")), lit(0L)).as("sum_value_micro"),
        min(abs(unix_micros(col("r_ts")) - unix_micros(col("error_ts"))))
          .as("nearest_dt_us"))
      .orderBy("error_id")
  }

  private val errorContextJoinSql: String =
    """WITH err AS (
      |  SELECT event_id AS error_id, user_id, CAST(ts AS TIMESTAMP) AS error_ts
      |  FROM events WHERE event_type = 'error'),
      |rd AS (
      |  SELECT user_id, event_type AS sensor_id, CAST(ts AS TIMESTAMP) AS r_ts,
      |         CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v_micro
      |  FROM events WHERE event_type <> 'error' AND value IS NOT NULL)
      |SELECT e.error_id, e.user_id, e.error_ts,
      |       count(r.r_ts) AS n_ctx,
      |       count(DISTINCT r.sensor_id) AS n_sensors,
      |       CAST(coalesce(sum(r.v_micro), 0) AS BIGINT) AS sum_value_micro,
      |       min(abs(epoch_us(r.r_ts) - epoch_us(e.error_ts))) AS nearest_dt_us
      |FROM err e
      |LEFT JOIN rd r
      |  ON r.user_id = e.user_id
      | AND r.r_ts BETWEEN e.error_ts - INTERVAL 5 MINUTE
      |                AND e.error_ts + INTERVAL 5 MINUTE
      |GROUP BY 1, 2, 3
      |ORDER BY error_id""".stripMargin

  /** AS-OF join — the second enrichment primitive beside the interval
    * join: for every malformed event, the SAME USER's most recent valid
    * reading AT OR BEFORE the failure instant (the "what was the last
    * thing we heard from this user" question; the interval join answers
    * "what happened around it"). Spark has no native ASOF operator, and
    * the naive formulations are both scale-broken: join+filter+argmax
    * re-materializes every (error × earlier reading) pair, and a
    * per-error correlated subquery rescans the feed. This is the
    * UNION-TAG form instead — the one a 100 TB run wants: tag both
    * sides, ONE hash shuffle on user_id, one per-user chronological
    * sort, and a running `last(_, ignoreNulls)` window carries the most
    * recent reading forward onto each error row. Never a pair blowup:
    * the cost is the sort, parallel across users.
    *
    * Determinism under same-timestamp duplicates: the carry order is
    * (ts, tag, event_id), so among readings sharing a timestamp the MAX
    * event_id wins — the same row the oracle's per-(user, ts) rn = 1
    * dedup keeps — and at an exact error-ts tie the reading sorts BEFORE
    * the error (tag order), matching ASOF's `>=`. Folding the tiebreak
    * into the carry ordering (instead of a separate dedup window) keeps
    * the whole operator at TWO exchanges: the user_id hash for the
    * window and the final presentation sort — locked in by
    * `AsofJoinSpec`'s plan-shape test. The oracle is DuckDB's native
    * ASOF LEFT JOIN — engine-level reference semantics, not a
    * self-mirror.
    *
    * Errors with no prior reading emit NULL reading columns (ASOF LEFT).
    * gap_us is exact integer microseconds. */
  def errorAsofReading(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val rd = ev.filter(col("event_type") =!= "error" && col("value").isNotNull)
      .select(col("user_id"), col("ts"), lit(0).as("tag"), col("event_id"),
        lit(null).cast("long").as("error_id"),
        col("event_type").as("sensor_id"),
        (col("value").cast("decimal(18,6)") * 1000000).cast("long").as("v_micro"))
    val err = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts"), lit(1).as("tag"), col("event_id"),
        col("event_id").as("error_id"),
        lit(null).cast("string").as("sensor_id"),
        lit(null).cast("long").as("v_micro"))
    val tagged = rd.unionByName(err)
    val carry = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("tag"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("r_sensor", last(col("sensor_id"), ignoreNulls = true).over(carry))
      .withColumn("r_v", last(col("v_micro"), ignoreNulls = true).over(carry))
      .withColumn("r_ts",
        last(when(col("tag") === 0, col("ts")), ignoreNulls = true).over(carry))
      .filter(col("tag") === 1)
      .select(col("error_id"), col("user_id"), col("ts").as("error_ts"),
        col("r_sensor").as("sensor_id"), col("r_ts"), col("r_v").as("v_micro"),
        (unix_micros(col("ts")) - unix_micros(col("r_ts"))).as("gap_us"))
      .orderBy("error_id")
  }

  private val errorAsofReadingSql: String =
    """WITH rd0 AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS r_ts,
      |         event_type AS sensor_id,
      |         CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v_micro,
      |         row_number() OVER (PARTITION BY user_id, ts
      |                            ORDER BY event_id DESC) AS rn
      |  FROM events WHERE event_type <> 'error' AND value IS NOT NULL),
      |rd AS (SELECT user_id, r_ts, sensor_id, v_micro FROM rd0 WHERE rn = 1),
      |err AS (
      |  SELECT event_id AS error_id, user_id, CAST(ts AS TIMESTAMP) AS error_ts
      |  FROM events WHERE event_type = 'error')
      |SELECT e.error_id, e.user_id, e.error_ts,
      |       r.sensor_id, r.r_ts, r.v_micro,
      |       epoch_us(e.error_ts) - epoch_us(r.r_ts) AS gap_us
      |FROM err e
      |ASOF LEFT JOIN rd r
      |  ON e.user_id = r.user_id AND e.error_ts >= r.r_ts
      |ORDER BY error_id""".stripMargin

  /** Bidirectional as-of ("nearest-in-time") join — the third enrichment
    * primitive: for every malformed event, the SAME USER's nearest valid
    * reading in EITHER direction (the sensor frame a diagnostics UI pins
    * next to a failure). Same union-tag shape as [[errorAsofReading]] —
    * ONE hash shuffle on user_id, no pair blowup — but TWO running
    * carries over the same partitioning: a backward `last(_, ignoreNulls)`
    * and a forward `first(_, ignoreNulls)` whose window is ordered
    * (ts, tag, event_id DESC) so that, at the nearest future timestamp,
    * the MAX event_id reading wins — the same per-(user, ts) row the
    * backward carry and the oracle's rn = 1 dedup keep. Spark plans both
    * carries over one exchange (two sorts); the picked side is decided
    * row-locally: prev wins ties (gap_back <= gap_fwd), matching the
    * oracle's CASE.
    *
    * Same-ts readings sort BEFORE the error in both orderings (tag), so
    * the backward carry claims them with gap 0 and the forward frame
    * (currentRow → following) never sees them — equality belongs to
    * 'prev', and the oracle's forward ASOF (`<=`, which does admit
    * equality) agrees because a 0-gap tie resolves to 'prev' there too.
    * Errors with no reading on either side emit direction 'none' and
    * NULLs. gap_us is the exact |microsecond| distance to the picked
    * reading. Oracle: DuckDB native backward + forward ASOF LEFT JOINs
    * combined by the same nearest/tie CASE. */
  def errorNearestReading(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val rd = ev.filter(col("event_type") =!= "error" && col("value").isNotNull)
      .select(col("user_id"), col("ts"), lit(0).as("tag"), col("event_id"),
        lit(null).cast("long").as("error_id"),
        col("event_type").as("sensor_id"),
        (col("value").cast("decimal(18,6)") * 1000000).cast("long").as("v_micro"))
    val err = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts"), lit(1).as("tag"), col("event_id"),
        col("event_id").as("error_id"),
        lit(null).cast("string").as("sensor_id"),
        lit(null).cast("long").as("v_micro"))
    val tagged = rd.unionByName(err)
    val back = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("tag"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // The forward carry is a backward `last` over the REVERSED ordering,
    // NOT a `first` over (currentRow, unboundedFollowing): Spark evaluates
    // an unbounded-FOLLOWING frame by rescanning from each row to the
    // partition end — O(depth²) per user, measured 6× superlinear at 50×
    // (SCALE_r14.json `nearest_bidir` holds the fixed shape, linear) —
    // while a growing unbounded-PRECEDING frame is
    // incremental. Reversing (ts, tag, event_id DESC) → (ts DESC, tag
    // DESC, event_id) preserves the exact row choice: same-ts readings
    // still land on the error's excluded side (tag), and within the
    // nearest future ts the max event_id row is still the one carried.
    val fwd = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("tag").desc, col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tsMicro = unix_micros(col("ts"))
    val picked = tagged
      .withColumn("b_sensor", last(col("sensor_id"), ignoreNulls = true).over(back))
      .withColumn("b_v", last(col("v_micro"), ignoreNulls = true).over(back))
      .withColumn("b_ts",
        last(when(col("tag") === 0, col("ts")), ignoreNulls = true).over(back))
      .withColumn("f_sensor", last(col("sensor_id"), ignoreNulls = true).over(fwd))
      .withColumn("f_v", last(col("v_micro"), ignoreNulls = true).over(fwd))
      .withColumn("f_ts",
        last(when(col("tag") === 0, col("ts")), ignoreNulls = true).over(fwd))
      .filter(col("tag") === 1)
      .withColumn("gap_b", tsMicro - unix_micros(col("b_ts")))
      .withColumn("gap_f", unix_micros(col("f_ts")) - tsMicro)
      .withColumn("direction",
        when(col("b_ts").isNull && col("f_ts").isNull, lit("none"))
          .when(col("f_ts").isNull, lit("prev"))
          .when(col("b_ts").isNull, lit("next"))
          .when(col("gap_b") <= col("gap_f"), lit("prev"))
          .otherwise(lit("next")))
    val prev = col("direction") === "prev"
    picked.select(
      col("error_id"), col("user_id"), col("ts").as("error_ts"),
      col("direction"),
      when(prev, col("b_sensor")).otherwise(col("f_sensor")).as("sensor_id"),
      when(prev, col("b_ts")).otherwise(col("f_ts")).as("r_ts"),
      when(prev, col("b_v")).otherwise(col("f_v")).as("v_micro"),
      when(prev, col("gap_b")).otherwise(col("gap_f")).as("gap_us"))
      .orderBy("error_id")
  }

  private val errorNearestReadingSql: String =
    """WITH rd0 AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS r_ts,
      |         event_type AS sensor_id,
      |         CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v_micro,
      |         row_number() OVER (PARTITION BY user_id, ts
      |                            ORDER BY event_id DESC) AS rn
      |  FROM events WHERE event_type <> 'error' AND value IS NOT NULL),
      |rd AS (SELECT user_id, r_ts, sensor_id, v_micro FROM rd0 WHERE rn = 1),
      |err AS (
      |  SELECT event_id AS error_id, user_id, CAST(ts AS TIMESTAMP) AS error_ts
      |  FROM events WHERE event_type = 'error'),
      |b AS (
      |  SELECT e.error_id, r.sensor_id AS b_sensor, r.r_ts AS b_ts,
      |         r.v_micro AS b_v,
      |         epoch_us(e.error_ts) - epoch_us(r.r_ts) AS gap_b
      |  FROM err e
      |  ASOF LEFT JOIN rd r ON e.user_id = r.user_id AND e.error_ts >= r.r_ts),
      |f AS (
      |  SELECT e.error_id, r.sensor_id AS f_sensor, r.r_ts AS f_ts,
      |         r.v_micro AS f_v,
      |         epoch_us(r.r_ts) - epoch_us(e.error_ts) AS gap_f
      |  FROM err e
      |  ASOF LEFT JOIN rd r ON e.user_id = r.user_id AND e.error_ts <= r.r_ts)
      |SELECT e.error_id, e.user_id, e.error_ts,
      |       CASE WHEN b.b_ts IS NULL AND f.f_ts IS NULL THEN 'none'
      |            WHEN f.f_ts IS NULL THEN 'prev'
      |            WHEN b.b_ts IS NULL THEN 'next'
      |            WHEN b.gap_b <= f.gap_f THEN 'prev' ELSE 'next' END AS direction,
      |       CASE WHEN f.f_ts IS NULL OR (b.b_ts IS NOT NULL AND b.gap_b <= f.gap_f)
      |            THEN b.b_sensor ELSE f.f_sensor END AS sensor_id,
      |       CASE WHEN f.f_ts IS NULL OR (b.b_ts IS NOT NULL AND b.gap_b <= f.gap_f)
      |            THEN b.b_ts ELSE f.f_ts END AS r_ts,
      |       CASE WHEN f.f_ts IS NULL OR (b.b_ts IS NOT NULL AND b.gap_b <= f.gap_f)
      |            THEN b.b_v ELSE f.f_v END AS v_micro,
      |       CASE WHEN f.f_ts IS NULL OR (b.b_ts IS NOT NULL AND b.gap_b <= f.gap_f)
      |            THEN b.gap_b ELSE f.gap_f END AS gap_us
      |FROM err e
      |LEFT JOIN b ON b.error_id = e.error_id
      |LEFT JOIN f ON f.error_id = e.error_id
      |ORDER BY e.error_id""".stripMargin

  /** Mann–Kendall trend test per sensor — the NONPARAMETRIC significance
    * companion to [[sensorTheilSenTrend]] (which estimates the slope,
    * while this decides whether a monotone trend exists at all):
    * S = Σ_{i<j} sign(x_j − x_i) over the hourly-mean series, the
    * tie-corrected variance Var(S) = [n(n−1)(2n+5) − Σ_g t_g(t_g−1)
    * (2t_g+5)]/18, and the continuity-corrected z = (S ∓ 1)/√Var(S).
    * The standard pre-check before trusting a Theil–Sen slope (Mann 1945,
    * Kendall 1975 — the hydrology-standard pairing).
    *
    * Scale shape: identical to Theil–Sen — the raw feed collapses to the
    * CALENDAR-bounded hours frame first (the only data-sized stage), and
    * the pair join is |hours|²/2 per sensor at ANY data scale; the tie
    * census is a second vocab-sized aggregate off the same frame. S and
    * the ×18-scaled variance are exact BIGINTs (n ≤ ~10⁵ hours keeps
    * n·(n−1)·(2n+5) < 2·10¹⁶); z is ONE fixed double expression over
    * exact integers — integer→double conversion and each IEEE op are
    * correctly rounded, so the floor-fixed value is engine-exact. */
  def sensorMannKendall(spark: SparkSession, dir: String): DataFrame =
    sensorMannKendallFromHours(hourlyMeans(spark, dir))

  /** [[sensorMannKendall]] over an arbitrary hours frame (sensor_id, h,
    * x_micro): the pair join must stay
    * CALENDAR²-bounded however much raw data fed the hourly collapse. */
  private[graft] def sensorMannKendallFromHours(hours: DataFrame): DataFrame = {
    import QueryConventions.MaterializeSyntax
    val seq = Window.partitionBy(col("sensor_id")).orderBy(col("h"))
    val pos = hours
      .withColumn("p", row_number().over(seq))
      .select(col("sensor_id"), col("p"), col("x_micro"))
      .materializeOnce // pair join (twice) + tie census off one build
    val a = pos.select(col("sensor_id"), col("p").as("pa"), col("x_micro").as("xa"))
    val b = pos.select(col("sensor_id"), col("p").as("pb"), col("x_micro").as("xb"))
    val s = a.join(b, Seq("sensor_id")).filter(col("pb") > col("pa"))
      .groupBy(col("sensor_id"))
      .agg(sum(signum(col("xb") - col("xa")).cast("long")).as("s_stat"))
    val ties = pos.groupBy(col("sensor_id"), col("x_micro"))
      .agg(count(lit(1)).as("t"))
      .groupBy(col("sensor_id"))
      .agg(count(lit(1)).cast("long").as("n_groups"),
        sum(col("t") * (col("t") - 1) * (lit(2) * col("t") + 5)).as("tie_term"),
        sum(col("t")).as("n_hours"))
    val zNum = col("s_stat") - signum(col("s_stat")).cast("long")
    val v18 = (col("n_hours") * (col("n_hours") - 1)
      * (lit(2) * col("n_hours") + 5) - col("tie_term")).as("var_s_x18")
    val z = when(col("var_s_x18") <= 0, lit(0.0))
      .otherwise(floor(zNum.cast("double")
        / sqrt(col("var_s_x18").cast("double") / 18.0) * 1e6) / 1e6)
    s.join(ties, Seq("sensor_id"))
      .select(col("sensor_id"), col("n_hours"), col("n_groups"),
        col("s_stat"), v18)
      .withColumn("z_stat", z)
      .withColumn("trend",
        when(col("z_stat") > 1.96, lit("increasing"))
          .when(col("z_stat") < -1.96, lit("decreasing"))
          .otherwise(lit("none")))
      .orderBy("sensor_id")
  }

  private val sensorMannKendallSql: String =
    s"""WITH byhour AS (
       |  $hourlyMeansSql),
       |pos AS (
       |  SELECT sensor_id, x_micro,
       |         row_number() OVER (PARTITION BY sensor_id ORDER BY h) AS p
       |  FROM byhour),
       |s AS (
       |  SELECT a.sensor_id,
       |         CAST(sum(sign(b.x_micro - a.x_micro)) AS BIGINT) AS s_stat
       |  FROM pos a JOIN pos b ON b.sensor_id = a.sensor_id AND b.p > a.p
       |  GROUP BY a.sensor_id),
       |tg AS (
       |  SELECT sensor_id, x_micro, count(*) AS t
       |  FROM pos GROUP BY sensor_id, x_micro),
       |ties AS (
       |  SELECT sensor_id, CAST(count(*) AS BIGINT) AS n_groups,
       |         CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term,
       |         CAST(sum(t) AS BIGINT) AS n_hours
       |  FROM tg GROUP BY sensor_id),
       |m AS (
       |  SELECT s.sensor_id, ties.n_hours, ties.n_groups, s.s_stat,
       |         n_hours * (n_hours - 1) * (2 * n_hours + 5) - tie_term
       |           AS var_s_x18
       |  FROM s JOIN ties ON ties.sensor_id = s.sensor_id),
       |z AS (
       |  SELECT *,
       |         CASE WHEN var_s_x18 <= 0 THEN 0.0
       |              ELSE floor(CAST(s_stat - sign(s_stat) AS DOUBLE)
       |                   / sqrt(CAST(var_s_x18 AS DOUBLE) / 18.0) * 1e6) / 1e6
       |         END AS z_stat
       |  FROM m)
       |SELECT sensor_id, n_hours, n_groups, s_stat, var_s_x18, z_stat,
       |       CASE WHEN z_stat > 1.96 THEN 'increasing'
       |            WHEN z_stat < -1.96 THEN 'decreasing'
       |            ELSE 'none' END AS trend
       |FROM z ORDER BY sensor_id""".stripMargin

  private val HampelHalf = 3 // ±3 hours → 7-point neighborhood

  /** Hampel filter over the hourly-mean series — the robust repair pass a
    * telemetry pipeline runs BEFORE trend/seasonality models: each hour is
    * compared to the median of its ±[[HampelHalf]]-hour neighborhood, and
    * flagged (and repaired to that median) when its deviation exceeds
    * 3 × 1.4826 × MAD — the estimator a rolling z-score can't match
    * because one spike inflates a rolling σ but leaves the median/MAD
    * untouched (Pearson/Tukey; the standard despiker in process
    * telemetry).
    *
    * Scale shape: the raw feed collapses to the calendar-bounded hours
    * frame first; the neighborhood is materialized by an OFFSET EXPLODE
    * (7 rows per hour) into a pure equi-join shuffle on (sensor, hour) —
    * no range join, no nested loop — so cost is 7×|calendar frame|
    * regardless of data volume. Both medians are LOWER medians selected
    * by rank (never the average of two middles), so every emitted value
    * is an exact micro-unit BIGINT, and the outlier test is the integer
    * comparison |x−med|·10⁴ > 44478·MAD (3·1.4826 = 4.4478 exact) — no
    * float reaches the decision or the output. Edge hours use their
    * truncated (4–6 point) neighborhoods rather than going NULL. */
  def sensorHampel(spark: SparkSession, dir: String): DataFrame = {
    import QueryConventions.MaterializeSyntax
    val seq = Window.partitionBy(col("sensor_id")).orderBy(col("h"))
    val pos = hourlyMeans(spark, dir)
      .withColumn("p", row_number().over(seq))
      .materializeOnce // neighbor explode + center join off one build
    val nb = pos
      .withColumn("o", explode(expr(s"sequence(-$HampelHalf, $HampelHalf)")))
      .select(col("sensor_id"), (col("p") + col("o")).as("c"),
        col("p").as("np"), col("x_micro").as("xn"))
    def lowerMedian(df: DataFrame, value: String, out: String): DataFrame = {
      val w = Window.partitionBy(col("sensor_id"), col("c"))
      df.withColumn("rn", row_number().over(w.orderBy(col(value), col("np"))))
        .withColumn("cnt", count(lit(1)).over(w))
        .filter(col("rn") === expr("(cnt + 1) div 2"))
        .select(col("sensor_id"), col("c"), col(value).as(out),
          col("cnt").as("w_size"))
    }
    val med = lowerMedian(nb, "xn", "med_micro")
    val mad = lowerMedian(
      nb.join(med.drop("w_size"), Seq("sensor_id", "c"))
        .withColumn("d", abs(col("xn") - col("med_micro"))),
      "d", "mad_micro").drop("w_size")
    val isOut = abs(col("x_micro") - col("med_micro")) * 10000 >
      col("mad_micro") * 44478
    pos.select(col("sensor_id"), col("h"), col("p"), col("x_micro"))
      .join(med.withColumnRenamed("c", "p"), Seq("sensor_id", "p"))
      .join(mad.withColumnRenamed("c", "p"), Seq("sensor_id", "p"))
      .select(col("sensor_id"), col("h"), col("x_micro"),
        col("med_micro"), col("mad_micro"), col("w_size"),
        isOut.as("is_outlier"),
        when(isOut, col("med_micro")).otherwise(col("x_micro"))
          .as("repaired_micro"))
      .orderBy("sensor_id", "h")
  }

  private val sensorHampelSql: String =
    s"""WITH byhour AS (
       |  $hourlyMeansSql),
       |pos AS (
       |  SELECT sensor_id, h, x_micro,
       |         row_number() OVER (PARTITION BY sensor_id ORDER BY h) AS p
       |  FROM byhour),
       |nb AS (
       |  SELECT sensor_id, p + o AS c, p AS np, x_micro AS xn
       |  FROM pos, (SELECT unnest(generate_series(-$HampelHalf, $HampelHalf)) AS o)),
       |med AS (
       |  SELECT sensor_id, c, xn AS med_micro, cnt AS w_size FROM (
       |    SELECT sensor_id, c, xn, np,
       |           row_number() OVER (PARTITION BY sensor_id, c ORDER BY xn, np) AS rn,
       |           count(*) OVER (PARTITION BY sensor_id, c) AS cnt
       |    FROM nb) WHERE rn = (cnt + 1) // 2),
       |dev AS (
       |  SELECT n.sensor_id, n.c, abs(n.xn - m.med_micro) AS d, n.np
       |  FROM nb n JOIN med m ON m.sensor_id = n.sensor_id AND m.c = n.c),
       |mad AS (
       |  SELECT sensor_id, c, d AS mad_micro FROM (
       |    SELECT sensor_id, c, d, np,
       |           row_number() OVER (PARTITION BY sensor_id, c ORDER BY d, np) AS rn,
       |           count(*) OVER (PARTITION BY sensor_id, c) AS cnt
       |    FROM dev) WHERE rn = (cnt + 1) // 2)
       |SELECT p.sensor_id, p.h, p.x_micro, m.med_micro, d.mad_micro,
       |       CAST(m.w_size AS BIGINT) AS w_size,
       |       abs(p.x_micro - m.med_micro) * 10000 > d.mad_micro * 44478
       |         AS is_outlier,
       |       CASE WHEN abs(p.x_micro - m.med_micro) * 10000 > d.mad_micro * 44478
       |            THEN m.med_micro ELSE p.x_micro END AS repaired_micro
       |FROM pos p
       |JOIN med m ON m.sensor_id = p.sensor_id AND m.c = p.p
       |JOIN mad d ON d.sensor_id = p.sensor_id AND d.c = p.p
       |ORDER BY p.sensor_id, p.h""".stripMargin

  /** Local-maximum (peak) detection on the hourly-mean series: an hour is
    * a peak when it strictly exceeds its two neighbors on each side, and
    * its reported prominence is the margin over the highest of those four
    * — the alarm-shaping primitive (only fire on the crest, not on every
    * sample of a rising flank) that pairs with [[sensorCusum]]'s
    * level-shift detection. Interior hours only: the four lag/lead values
    * must all exist.
    *
    * Scale shape: one window pass of four lag/lead reads over the
    * calendar-bounded hours frame — no join at all; exact integer
    * comparisons and an exact BIGINT margin (no float anywhere). */
  def sensorPeaks(spark: SparkSession, dir: String): DataFrame = {
    val seq = Window.partitionBy(col("sensor_id")).orderBy(col("h"))
    hourlyMeans(spark, dir)
      .withColumn("l1", lag(col("x_micro"), 1).over(seq))
      .withColumn("l2", lag(col("x_micro"), 2).over(seq))
      .withColumn("r1", lead(col("x_micro"), 1).over(seq))
      .withColumn("r2", lead(col("x_micro"), 2).over(seq))
      .filter(col("l1").isNotNull && col("l2").isNotNull
        && col("r1").isNotNull && col("r2").isNotNull)
      .filter(col("x_micro") > col("l1") && col("x_micro") > col("l2")
        && col("x_micro") > col("r1") && col("x_micro") > col("r2"))
      .select(col("sensor_id"), col("h"), col("x_micro"),
        (col("x_micro") - greatest(col("l1"), col("l2"), col("r1"), col("r2")))
          .as("prominence_micro"))
      .orderBy("sensor_id", "h")
  }

  private val sensorPeaksSql: String =
    s"""WITH byhour AS (
       |  $hourlyMeansSql),
       |lagged AS (
       |  SELECT sensor_id, h, x_micro,
       |         lag(x_micro, 1) OVER w AS l1, lag(x_micro, 2) OVER w AS l2,
       |         lead(x_micro, 1) OVER w AS r1, lead(x_micro, 2) OVER w AS r2
       |  FROM byhour
       |  WINDOW w AS (PARTITION BY sensor_id ORDER BY h))
       |SELECT sensor_id, h, x_micro,
       |       x_micro - greatest(l1, l2, r1, r2) AS prominence_micro
       |FROM lagged
       |WHERE l1 IS NOT NULL AND l2 IS NOT NULL
       |  AND r1 IS NOT NULL AND r2 IS NOT NULL
       |  AND x_micro > l1 AND x_micro > l2 AND x_micro > r1 AND x_micro > r2
       |ORDER BY sensor_id, h""".stripMargin

  /** Forecast-evaluation tier: MASE (mean absolute scaled error —
    * Hyndman & Koehler 2006, the scale-free accuracy measure that
    * replaced MAPE for intermittent/heterogeneous series) of the
    * seasonal-naive forecaster x̂_t = x_{t−24} over each sensor's hourly
    * series, scaled by the in-sample one-step naive MAE (|x_t − x_{t−1}|).
    * MASE < 1 means the daily-seasonal forecast beats the random-walk
    * baseline — per sensor, the one number that says whether its series
    * HAS exploitable daily structure (the decision gate before spending
    * a real forecaster on it). Lags are ROW-lags over the observed-hour
    * sequence (both engines agree on gaps by construction).
    *
    * Scale shape: the raw feed collapses to the hours frame first (the
    * only data-sized shuffle, shared [[hourlyMeans]] build); both error
    * streams come out of ONE sensor-keyed window pass, and the per-sensor
    * aggregate is calendar-bounded. Exactness: errors are exact micro-unit
    * integers; the single ratio is one DECIMAL(38,0) cross-multiplied
    * truncating division (sum24·n1·10⁶ div sum1·n24), so no float
    * division ever happens. Sensors with a constant series (sum1 = 0) or
    * fewer than 25 hours have no defined MASE and are excluded — same
    * HAVING in the oracle. */
  def sensorNaiveMase(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("sensor_id")).orderBy(col("h"))
    val lagged = hourlyMeans(spark, dir)
      .withColumn("e1", abs(col("x_micro") - lag(col("x_micro"), 1).over(w)))
      .withColumn("e24", abs(col("x_micro") - lag(col("x_micro"), 24).over(w)))
    lagged.groupBy(col("sensor_id"))
      .agg(count(lit(1)).as("n_hours"),
        count(col("e1")).as("n1"), count(col("e24")).as("n24"),
        sum(col("e1")).as("sum_e1"), sum(col("e24")).as("sum_e24"))
      .filter(col("n24") > 0 && col("sum_e1") > 0)
      .select(col("sensor_id"), col("n_hours"),
        col("sum_e1"), col("sum_e24"),
        expr("CAST(sum_e24 AS DECIMAL(38,0)) * n1 * 1000000" +
          " div (CAST(sum_e1 AS DECIMAL(38,0)) * n24)").cast("long")
          .as("mase_ppm"))
      .withColumn("seasonal_wins", col("mase_ppm") < 1000000L)
      .orderBy("sensor_id")
  }

  private val sensorNaiveMaseSql: String =
    s"""WITH byhour AS (
       |  $hourlyMeansSql),
       |lagged AS (
       |  SELECT sensor_id,
       |         abs(x_micro - lag(x_micro, 1) OVER w) AS e1,
       |         abs(x_micro - lag(x_micro, 24) OVER w) AS e24
       |  FROM byhour
       |  WINDOW w AS (PARTITION BY sensor_id ORDER BY h)),
       |agg AS (
       |  SELECT sensor_id, count(*) AS n_hours,
       |         count(e1) AS n1, count(e24) AS n24,
       |         sum(e1) AS sum_e1, sum(e24) AS sum_e24
       |  FROM lagged GROUP BY sensor_id
       |  HAVING count(e24) > 0 AND sum(e1) > 0)
       |SELECT sensor_id, CAST(n_hours AS BIGINT) AS n_hours,
       |       CAST(sum_e1 AS BIGINT) AS sum_e1,
       |       CAST(sum_e24 AS BIGINT) AS sum_e24,
       |       CAST(CAST(sum_e24 AS HUGEINT) * n1 * 1000000
       |            // (CAST(sum_e1 AS HUGEINT) * n24) AS BIGINT) AS mase_ppm,
       |       CAST(sum_e24 AS HUGEINT) * n1 * 1000000
       |         // (CAST(sum_e1 AS HUGEINT) * n24) < 1000000 AS seasonal_wins
       |FROM agg ORDER BY sensor_id""".stripMargin

  /** Lagged CROSS-correlation between sensor pairs — the lead/lag
    * diagnostic beside [[sensorAcf]]'s within-series autocorrelation:
    * for every unordered sensor pair and lag ∈ −3..+3 hours, the
    * Pearson r between a's hour-h value and b's hour-(h+lag) value over
    * the matched hours. An off-center |r| peak says one sensor LEADS
    * the other — the causal-ordering hint a root-cause analysis starts
    * from; r(−lag) across the (a,b) ordering is the same curve read
    * backwards, so only a < b pairs are emitted.
    *
    * Scale shape: the feed collapses to the hourly frame first (the
    * only data-sized shuffle, shared [[hourlyMeans]] build); the 7-row
    * lag dim broadcasts onto it (the [[sensorAcf]] license) and the
    * shifted equi-join runs on the computed hour key — calendar-bounded
    * frames throughout. Exactness: all five moments accumulate in
    * DECIMAL(38,0) over exact micro integers; the single r is the
    * shared floor(exact-to-double ratio · 10⁶) convention. */
  def sensorCrossCorrelation(spark: SparkSession, dir: String): DataFrame = {
    import QueryConventions.MaterializeSyntax
    val hm = hourlyMeans(spark, dir).materializeOnce
    val lags = spark.range(-3, 4).select(col("id").cast("int").as("lag"))
    val a = hm.select(col("sensor_id").as("sa"), col("h").as("ha"),
        col("x_micro").as("xa"))
      .crossJoin(broadcast(lags))
      .withColumn("hb", expr("ha + make_interval(0, 0, 0, 0, lag, 0, 0)"))
    val b = hm.select(col("sensor_id").as("sb"), col("h").as("hb"),
      col("x_micro").as("xb"))
    a.join(b, Seq("hb"))
      .filter(col("sa") < col("sb"))
      .groupBy(col("sa"), col("sb"), col("lag"))
      .agg(count(lit(1)).as("n_hours"),
        sum(col("xa").cast("decimal(38,0)")).as("sx"),
        sum(col("xb").cast("decimal(38,0)")).as("sy"),
        sum((col("xa") * col("xb")).cast("decimal(38,0)")).as("sxy"),
        sum((col("xa") * col("xa")).cast("decimal(38,0)")).as("sxx"),
        sum((col("xb") * col("xb")).cast("decimal(38,0)")).as("syy"))
      .withColumn("cov_num", col("n_hours") * col("sxy") - col("sx") * col("sy"))
      .withColumn("varx_num", col("n_hours") * col("sxx") - col("sx") * col("sx"))
      .withColumn("vary_num", col("n_hours") * col("syy") - col("sy") * col("sy"))
      .filter(col("varx_num") > 0 && col("vary_num") > 0)
      .select(col("sa"), col("sb"), col("lag"), col("n_hours"),
        floor(col("cov_num").cast("double")
          / sqrt(col("varx_num").cast("double") * col("vary_num").cast("double"))
          * 1e6).cast("long").as("r_ppm"))
      .orderBy("sa", "sb", "lag")
  }

  private val sensorCrossCorrelationSql: String =
    s"""WITH byhour AS (
       |  $hourlyMeansSql),
       |a AS (
       |  SELECT h.sensor_id AS sa, h.h AS ha, h.x_micro AS xa, l.lag,
       |         h.h + l.lag * INTERVAL 1 HOUR AS hb
       |  FROM byhour h, (SELECT unnest(range(-3, 4)) AS lag) l),
       |m AS (
       |  SELECT a.sa, b.sensor_id AS sb, a.lag,
       |         count(*) AS n_hours,
       |         sum(CAST(a.xa AS HUGEINT)) AS sx,
       |         sum(CAST(b.x_micro AS HUGEINT)) AS sy,
       |         sum(CAST(a.xa AS HUGEINT) * b.x_micro) AS sxy,
       |         sum(CAST(a.xa AS HUGEINT) * a.xa) AS sxx,
       |         sum(CAST(b.x_micro AS HUGEINT) * b.x_micro) AS syy
       |  FROM a JOIN byhour b ON b.h = a.hb AND a.sa < b.sensor_id
       |  GROUP BY 1, 2, 3),
       |f AS (
       |  SELECT sa, sb, lag, n_hours,
       |         n_hours * sxy - sx * sy AS cov_num,
       |         n_hours * sxx - sx * sx AS varx_num,
       |         n_hours * syy - sy * sy AS vary_num
       |  FROM m)
       |SELECT sa, sb, CAST(lag AS INT) AS lag, CAST(n_hours AS BIGINT) AS n_hours,
       |       CAST(floor(CAST(cov_num AS DOUBLE)
       |            / sqrt(CAST(varx_num AS DOUBLE) * CAST(vary_num AS DOUBLE))
       |            * 1e6) AS BIGINT) AS r_ppm
       |FROM f WHERE varx_num > 0 AND vary_num > 0
       |ORDER BY sa, sb, lag""".stripMargin

  /** Western Electric run rules on the Shewhart control chart — the
    * pattern tests that complete the SPC family (CUSUM accumulates
    * small persistent shifts, EWMA smooths them; the WE rules catch the
    * PATTERNS a single-point 3σ limit misses): over each sensor's
    * hourly series against its own Phase-I baseline,
    * rule 1 = a point beyond 3σ, rule 2 = ≥2 of the last 3 beyond 2σ on
    * the SAME side, rule 4 = 8 consecutive on one side of the mean.
    * Only firing hours are emitted.
    *
    * Exactness — the whole chart is INTEGER arithmetic, no σ is ever a
    * float: with D = n·x − Σx (the mean-deviation cross-multiplied by
    * n, exact) and var_num = n·Σx² − (Σx)², the test |D| > k·σ_D is
    * D² > k²·var_num because σ_D² = n²σ² = var_num. Both dialects
    * compare the same DECIMAL/HUGEINT integers, so a point exactly ON a
    * control limit cannot flip between engines. Partial leading windows
    * (fewer than 3/8 points) cannot fire their rule.
    *
    * Scale shape: the feed collapses to the hourly frame (the shared
    * [[hourlyMeans]] build, the only data-sized shuffle); baselines are
    * one sensor-keyed aggregate joined back; the rules are ONE
    * sensor-partitioned window pass with ROWS frames. */
  def sensorSpcRules(spark: SparkSession, dir: String): DataFrame = {
    import QueryConventions.MaterializeSyntax
    val hm = hourlyMeans(spark, dir).materializeOnce
    val base = hm.groupBy(col("sensor_id"))
      .agg(count(lit(1)).as("n"),
        sum(col("x_micro").cast("decimal(38,0)")).as("sx"),
        sum((col("x_micro") * col("x_micro")).cast("decimal(38,0)")).as("sxx"))
      .withColumn("var_num", col("n") * col("sxx") - col("sx") * col("sx"))
    val w = Window.partitionBy(col("sensor_id")).orderBy(col("h"))
    val w3 = w.rowsBetween(-2, 0)
    val w8 = w.rowsBetween(-7, 0)
    hm.join(base, Seq("sensor_id"))
      .withColumn("d", col("n").cast("decimal(38,0)") * col("x_micro") - col("sx"))
      .withColumn("hi2", (col("d") > 0 && col("d") * col("d") > lit(4) * col("var_num")).cast("int"))
      .withColumn("lo2", (col("d") < 0 && col("d") * col("d") > lit(4) * col("var_num")).cast("int"))
      .withColumn("pos", (col("d") > 0).cast("int"))
      .withColumn("neg", (col("d") < 0).cast("int"))
      .withColumn("i", row_number().over(w))
      .withColumn("rule1", col("d") * col("d") > lit(9) * col("var_num"))
      .withColumn("rule2", col("i") >= 3 &&
        (sum(col("hi2")).over(w3) >= 2 || sum(col("lo2")).over(w3) >= 2))
      .withColumn("rule4", col("i") >= 8 &&
        (sum(col("pos")).over(w8) === 8 || sum(col("neg")).over(w8) === 8))
      .filter(col("rule1") || col("rule2") || col("rule4"))
      .select(col("sensor_id"), col("h"), col("x_micro"),
        col("rule1"), col("rule2"), col("rule4"))
      .orderBy("sensor_id", "h")
  }

  private val sensorSpcRulesSql: String =
    s"""WITH byhour AS (
       |  $hourlyMeansSql),
       |base AS (
       |  SELECT sensor_id, count(*) AS n,
       |         sum(CAST(x_micro AS HUGEINT)) AS sx,
       |         sum(CAST(x_micro AS HUGEINT) * x_micro) AS sxx
       |  FROM byhour GROUP BY sensor_id),
       |d AS (
       |  SELECT h.sensor_id, h.h, h.x_micro,
       |         b.n * CAST(h.x_micro AS HUGEINT) - b.sx AS d,
       |         b.n * b.sxx - b.sx * b.sx AS var_num
       |  FROM byhour h JOIN base b USING (sensor_id)),
       |f AS (
       |  SELECT sensor_id, h, x_micro, d, var_num,
       |         CASE WHEN d > 0 AND d * d > 4 * var_num THEN 1 ELSE 0 END AS hi2,
       |         CASE WHEN d < 0 AND d * d > 4 * var_num THEN 1 ELSE 0 END AS lo2,
       |         CASE WHEN d > 0 THEN 1 ELSE 0 END AS pos,
       |         CASE WHEN d < 0 THEN 1 ELSE 0 END AS neg,
       |         row_number() OVER w AS i
       |  FROM d
       |  WINDOW w AS (PARTITION BY sensor_id ORDER BY h)),
       |r AS (
       |  SELECT sensor_id, h, x_micro,
       |         d * d > 9 * var_num AS rule1,
       |         i >= 3 AND (sum(hi2) OVER w3 >= 2 OR sum(lo2) OVER w3 >= 2) AS rule2,
       |         i >= 8 AND (sum(pos) OVER w8 = 8 OR sum(neg) OVER w8 = 8) AS rule4
       |  FROM f
       |  WINDOW w3 AS (PARTITION BY sensor_id ORDER BY h ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
       |         w8 AS (PARTITION BY sensor_id ORDER BY h ROWS BETWEEN 7 PRECEDING AND CURRENT ROW))
       |SELECT sensor_id, h, x_micro, rule1, rule2, rule4
       |FROM r WHERE rule1 OR rule2 OR rule4
       |ORDER BY sensor_id, h""".stripMargin

  /** c-chart — the COUNT-data control chart completing the SPC family
    * ([[sensorSpcRules]] charts a measured VALUE; the c-chart charts
    * how many events arrived): per sensor, hourly event counts against
    * the Poisson limits λ̂ ± 3√λ̂ with λ̂ the sensor's own mean hourly
    * count. A breach high is a burst (stuck sensor, retry storm), a
    * breach low is silence — both emitted with the side.
    *
    * Exactness — no √λ is ever a float: with T = the sensor's total
    * events over H observed hours (λ̂ = T/H), count c breaches high iff
    * c·H − T > 3·√(T·H), i.e. (c·H − T)² > 9·T·H with c·H > T — exact
    * integer comparisons on both engines (the [[sensorSpcRules]]
    * cross-multiplication trick applied to Poisson limits). Hours with
    * zero events are real observations: the hour frame is the sensor's
    * own observed [min, max] hour span densified by a generated spine,
    * so silence CAN breach low.
    *
    * Scale shape: one (sensor, hour) count collapse, a sensor-keyed
    * stats join, and a sequence() spine per sensor (calendar-bounded).
    * The spine explode is ∝ sensors × hours — dimension-sized. */
  def sensorCountCchart(spark: SparkSession, dir: String): DataFrame = {
    import QueryConventions.MaterializeSyntax
    val counts = Tables.events(spark, dir)
      .filter(col("event_type") =!= "error")
      .groupBy(col("event_type").as("sensor_id"),
        date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("c"))
      .materializeOnce // the spine bounds and the join-back both read it
    val spine = counts.groupBy(col("sensor_id"))
      .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
      .select(col("sensor_id"),
        explode(sequence(col("h0"), col("h1"),
          expr("INTERVAL 1 HOUR"))).as("h"))
    val dense = spine.join(counts, Seq("sensor_id", "h"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
    val stats = dense.groupBy(col("sensor_id"))
      .agg(sum(col("c")).as("t"), count(lit(1)).as("hh"))
    dense.join(stats, Seq("sensor_id"))
      .withColumn("d", col("c") * col("hh") - col("t"))
      .withColumn("breach_high",
        col("d") > 0 && col("d") * col("d") > lit(9) * col("t") * col("hh"))
      .withColumn("breach_low",
        col("d") < 0 && col("d") * col("d") > lit(9) * col("t") * col("hh"))
      .filter(col("breach_high") || col("breach_low"))
      .select(col("sensor_id"), col("h"), col("c"),
        col("breach_high"), col("breach_low"))
      .orderBy("sensor_id", "h")
  }

  private val sensorCountCchartSql: String =
    """WITH counts AS (
      |  SELECT event_type AS sensor_id,
      |         date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
      |         count(*) AS c
      |  FROM events WHERE event_type <> 'error'
      |  GROUP BY 1, 2),
      |spine AS (
      |  SELECT sensor_id, unnest(generate_series(min(h), max(h), INTERVAL 1 HOUR)) AS h
      |  FROM counts GROUP BY sensor_id),
      |dense AS (
      |  SELECT s.sensor_id, s.h, coalesce(c.c, 0) AS c
      |  FROM spine s LEFT JOIN counts c USING (sensor_id, h)),
      |stats AS (
      |  SELECT sensor_id, sum(c) AS t, count(*) AS hh
      |  FROM dense GROUP BY sensor_id),
      |f AS (
      |  SELECT d.sensor_id, d.h, d.c,
      |         d.c * st.hh - st.t AS dd, st.t, st.hh
      |  FROM dense d JOIN stats st USING (sensor_id))
      |SELECT sensor_id, CAST(h AS TIMESTAMP) AS h, CAST(c AS BIGINT) AS c,
      |       dd > 0 AND dd * dd > 9 * t * hh AS breach_high,
      |       dd < 0 AND dd * dd > 9 * t * hh AS breach_low
      |FROM f
      |WHERE (dd > 0 AND dd * dd > 9 * t * hh)
      |   OR (dd < 0 AND dd * dd > 9 * t * hh)
      |ORDER BY sensor_id, h""".stripMargin

  val queries: Map[String, Q] = Map(
    "sensor_count_cchart"     -> (sensorCountCchart _),
    "sensor_spc_rules"        -> (sensorSpcRules _),
    "sensor_cross_correlation" -> (sensorCrossCorrelation _),
    "sensor_naive_mase"       -> (sensorNaiveMase _),
    "sensor_mann_kendall"     -> (sensorMannKendall _),
    "sensor_hampel"           -> (sensorHampel _),
    "sensor_peaks"            -> (sensorPeaks _),
    "error_asof_reading"      -> (errorAsofReading _),
    "error_nearest_reading"   -> (errorNearestReading _),
    "error_context_join"      -> (errorContextJoin _),
    "sensor_burstiness"       -> (sensorBurstiness _),
    "event_lateness_profile"  -> (eventLatenessProfile _),
    "sensor_changepoint"      -> (sensorChangepoint _),
    "sensor_seasonal_profile" -> (sensorSeasonalProfile _),
    "sensor_seasonal_residuals" -> (sensorSeasonalResiduals _),
    "sensor_downtime_report"  -> (sensorDowntimeReport _),
    "sensor_acf"              -> (sensorAcf _),
    "sensor_ljung_box"        -> (sensorLjungBox _),
    "sensor_rolling_trend"    -> (sensorRollingTrend _),
    "sensor_theilsen_trend"   -> (sensorTheilSenTrend _),
    "sensor_dft_power"        -> (sensorDftPower _),
    "sensor_cusum"            -> (sensorCusum _))

  val oracle: Map[String, String] = Map(
    "sensor_count_cchart"     -> sensorCountCchartSql,
    "sensor_spc_rules"        -> sensorSpcRulesSql,
    "sensor_cross_correlation" -> sensorCrossCorrelationSql,
    "sensor_naive_mase"       -> sensorNaiveMaseSql,
    "sensor_mann_kendall"     -> sensorMannKendallSql,
    "sensor_hampel"           -> sensorHampelSql,
    "sensor_peaks"            -> sensorPeaksSql,
    "error_asof_reading"      -> errorAsofReadingSql,
    "error_nearest_reading"   -> errorNearestReadingSql,
    "error_context_join"      -> errorContextJoinSql,
    "sensor_burstiness"       -> sensorBurstinessSql,
    "event_lateness_profile"  -> eventLatenessProfileSql,
    "sensor_changepoint"      -> sensorChangepointSql,
    "sensor_seasonal_profile" -> sensorSeasonalProfileSql,
    "sensor_seasonal_residuals" -> sensorSeasonalResidualsSql,
    "sensor_downtime_report"  -> sensorDowntimeReportSql,
    "sensor_acf"              -> sensorAcfSql,
    "sensor_ljung_box"        -> sensorLjungBoxSql,
    "sensor_rolling_trend"    -> sensorRollingTrendSql,
    "sensor_theilsen_trend"   -> sensorTheilSenTrendSql,
    "sensor_dft_power"        -> sensorDftPowerSql,
    "sensor_cusum"            -> sensorCusumSql)
}
