package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.queries.QueryConventions.MaterializeSyntax

import graft.operators.DedupOps
import graft.sources.Tables

/** Analytic extensions rounding out the relational surface: set
  * operations, ROLLUP subtotals, exact quantiles, and cardinality
  * estimation (exact anchor oracle-checked; the HLL/GK sketch entries
  * are oracled BY BOUND — exact value + in-query envelope check the
  * oracle asserts TRUE — since sketch internals differ across engines).
  */
object AnalyticsQueries {

  type Q = (SparkSession, String) => DataFrame

  import QueryConventions.decSum

  /** EXCEPT: customers that never ordered. Spark plans set ops as
    * aggregates/anti-joins — at scale this is a shuffle on the key, same
    * as the join it replaces. */
  def customersWithoutOrders(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir).select(col("c_custkey"))
      .except(Tables.orders(spark, dir).select(col("o_custkey").as("c_custkey")))
      .orderBy("c_custkey")

  private val customersWithoutOrdersSql: String =
    """SELECT c_custkey FROM customer
      |EXCEPT
      |SELECT o_custkey AS c_custkey FROM orders
      |ORDER BY c_custkey""".stripMargin

  /** INTERSECT: nations present among both customers and suppliers. */
  def nationsBothSides(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir).select(col("c_nationkey").as("nationkey"))
      .intersect(Tables.supplier(spark, dir).select(col("s_nationkey").as("nationkey")))
      .orderBy("nationkey")

  private val nationsBothSidesSql: String =
    """SELECT c_nationkey AS nationkey FROM customer
      |INTERSECT
      |SELECT s_nationkey AS nationkey FROM supplier
      |ORDER BY nationkey""".stripMargin

  /** UNION ALL + conditional tagging: order flow by status bucket. */
  def orderFlowUnion(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val open = o.filter(col("o_orderstatus") === "O")
      .select(lit("open").as("bucket"), col("o_totalprice"))
    val done = o.filter(col("o_orderstatus") =!= "O")
      .select(lit("done").as("bucket"), col("o_totalprice"))
    open.unionAll(done)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), decSum(col("o_totalprice")).as("total"))
      .orderBy("bucket")
  }

  private val orderFlowUnionSql: String =
    """SELECT bucket, count(*) AS n,
      |       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 2) AS total
      |FROM (
      |  SELECT 'open' AS bucket, o_totalprice FROM orders WHERE o_orderstatus = 'O'
      |  UNION ALL
      |  SELECT 'done' AS bucket, o_totalprice FROM orders WHERE o_orderstatus <> 'O')
      |GROUP BY bucket ORDER BY bucket""".stripMargin

  /** ROLLUP subtotals over (priority, status); NULL markers coalesced to
    * 'ALL' so row identity is total-order comparable on both engines. */
  def ordersRollup(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .rollup(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"), decSum(col("o_totalprice")).as("total_price"))
      .select(
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        col("n_orders"), col("total_price"))
      .orderBy("priority", "status")

  private val ordersRollupSql: String =
    """SELECT coalesce(o_orderpriority, 'ALL') AS priority,
      |       coalesce(o_orderstatus, 'ALL') AS status,
      |       count(*) AS n_orders,
      |       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 2) AS total_price
      |FROM orders
      |GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
      |ORDER BY priority, status""".stripMargin

  /** Exact WEIGHTED median per group — the weighted-quantile member the
    * unweighted [[quantityQuantiles]] can't stand in for: the
    * quantity-weighted median price is the "typical price per unit
    * SHIPPED", robust to both price outliers and the row-vs-volume
    * mismatch (a thousand 1-unit rows shouldn't out-vote one 50-unit
    * row). Definition: the smallest price whose cumulative weight reaches
    * half the group's total — the lower weighted median, exact and
    * interpolation-free, so no floating split point exists to diverge
    * across engines.
    *
    * Shape: the fact table collapses to (group, price) with summed
    * DECIMAL weights FIRST (one shuffle, the only data-sized stage); the
    * cumulative/total windows and the half-mass filter run on the
    * collapsed frame, ∝ distinct prices per group. The 2·cumw ≥ totw
    * comparison is exact decimal arithmetic. */
  def returnflagWeightedMedian(spark: SparkSession, dir: String): DataFrame = {
    val lineitem = Tables.lineitem(spark, dir)
    val byPrice = lineitem
      .groupBy(col("l_returnflag"), col("l_extendedprice"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("w"))
    val ord = Window.partitionBy(col("l_returnflag")).orderBy(col("l_extendedprice"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val all = Window.partitionBy(col("l_returnflag"))
    byPrice
      .withColumn("cumw", sum(col("w")).over(ord))
      .withColumn("totw", sum(col("w")).over(all))
      .filter(col("cumw") * 2 >= col("totw"))
      .groupBy(col("l_returnflag"))
      .agg(
        min(col("l_extendedprice")).as("weighted_median_price"),
        round(max(col("totw")).cast("double"), 2).as("total_weight"))
      .orderBy("l_returnflag")
  }

  private val returnflagWeightedMedianSql: String =
    """WITH b AS (
      |  SELECT l_returnflag, l_extendedprice,
      |         sum(CAST(l_quantity AS DECIMAL(18,2))) AS w
      |  FROM lineitem GROUP BY 1, 2),
      |c AS (
      |  SELECT l_returnflag, l_extendedprice, w,
      |         sum(w) OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice
      |                      ROWS UNBOUNDED PRECEDING) AS cumw,
      |         sum(w) OVER (PARTITION BY l_returnflag) AS totw
      |  FROM b)
      |SELECT l_returnflag,
      |       min(l_extendedprice) AS weighted_median_price,
      |       round(CAST(max(totw) AS DOUBLE), 2) AS total_weight
      |FROM c
      |WHERE cumw * 2 >= totw
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** Exact interpolated quantiles of an integral-valued measure per group
    * (integral values ⇒ interpolation arithmetic is engine-stable). */
  def quantityQuantiles(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        round(expr("percentile(l_quantity, 0.25)"), 6).as("q25"),
        round(expr("percentile(l_quantity, 0.5)"), 6).as("median"),
        round(expr("percentile(l_quantity, 0.75)"), 6).as("q75"),
        round(expr("percentile(l_quantity, 0.95)"), 6).as("q95"))
      .orderBy("l_returnflag")

  private val quantityQuantilesSql: String =
    """SELECT l_returnflag,
      |       round(quantile_cont(l_quantity, 0.25), 6) AS q25,
      |       round(quantile_cont(l_quantity, 0.5), 6) AS median,
      |       round(quantile_cont(l_quantity, 0.75), 6) AS q75,
      |       round(quantile_cont(l_quantity, 0.95), 6) AS q95
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Audience-overlap matrix: for every unordered pair of event types,
    * the distinct-user intersection and its Jaccard — the segmentation
    * view behind "do purchasers also click?". Shape: one distinct on
    * (type, user), then a self-equi-join KEYED BY USER (each user
    * contributes at most |types|² rows — types is a small enum, so the
    * join output is ∝ users, never users²), then a pair-keyed count-
    * distinct joined with broadcast per-type totals. At 100 TB both
    * shuffles are user-keyed and the totals frame stays enum-sized;
    * the sketch form of the same question is `distinct_users_hll_union`
    * (HLL sketches intersect via inclusion-exclusion). Jaccard in
    * fixed-point via floor (the round-half divergence rule). */
  def userOverlapMatrix(spark: SparkSession, dir: String): DataFrame = {
    val eu = Tables.events(spark, dir)
      .select(col("event_type"), col("user_id")).distinct()
      .materializeOnce // both sides of the pair join and the totals
    val totals = eu.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_users"))
    val pairs = eu.select(col("event_type").as("type_a"), col("user_id"))
      .join(eu.select(col("event_type").as("type_b"), col("user_id")), "user_id")
      .filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_both"))
    pairs
      .join(broadcast(totals.select(col("event_type").as("type_a"), col("n_users").as("n_a"))), "type_a")
      .join(broadcast(totals.select(col("event_type").as("type_b"), col("n_users").as("n_b"))), "type_b")
      .select(
        col("type_a"), col("type_b"), col("n_a"), col("n_b"), col("n_both"),
        (floor(col("n_both") * 1e6 / (col("n_a") + col("n_b") - col("n_both"))) / 1e6)
          .as("user_jaccard"))
      .orderBy("type_a", "type_b")
  }

  private val userOverlapMatrixSql: String =
    """WITH eu AS (SELECT DISTINCT event_type, user_id FROM events),
      |tot AS (SELECT event_type, count(*) AS n_users FROM eu GROUP BY 1),
      |p AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_both
      |  FROM eu a JOIN eu b ON a.user_id = b.user_id AND a.event_type < b.event_type
      |  GROUP BY 1, 2)
      |SELECT type_a, type_b, ta.n_users AS n_a, tb.n_users AS n_b, n_both,
      |       floor(n_both * 1e6 / (ta.n_users + tb.n_users - n_both)) / 1e6 AS user_jaccard
      |FROM p
      |JOIN tot ta ON ta.event_type = type_a
      |JOIN tot tb ON tb.event_type = type_b
      |ORDER BY type_a, type_b""".stripMargin

  /** Exact distinct cardinality per event type — the correctness anchor
    * for the HLL variant below. */
  def distinctUsersExact(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy("event_type")

  private val distinctUsersExactSql: String =
    """SELECT event_type, count(DISTINCT user_id) AS n_users
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** HLL sketch cardinality (approx_count_distinct): the form that scales
    * — fixed-size sketch per group, no distinct shuffle explosion. Sketch
    * internals are engine-specific, so the oracle compares by BOUND
    * (VERDICT r2 item 6): the query emits the exact cardinality plus an
    * in-query check that the sketch landed within 3×rsd of it — the
    * oracle asserts TRUE, so the hash compare fails if the sketch ever
    * leaves its error envelope. (The sketch is deterministic for given
    * data and its observed error ≪ the 3σ envelope, so the boolean is
    * boundary-safe; SketchAccuracySpec pins the raw values too.) */
  def distinctUsersApprox(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        approx_count_distinct(col("user_id"), 0.01).as("n_approx"),
        countDistinct(col("user_id")).as("n_users"))
      .select(
        col("event_type"), col("n_users"),
        (abs(col("n_approx") - col("n_users"))
          <= greatest(ceil(col("n_users") * lit(0.03)), lit(1)))
          .as("sketch_within_3rsd"))
      .orderBy("event_type")

  private val distinctUsersApproxSql: String =
    """SELECT event_type,
      |       count(DISTINCT user_id) AS n_users,
      |       TRUE AS sketch_within_3rsd
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** HLL sketch MERGEABILITY — the property that makes sketches matter
    * at 100 TB: per-month Datasketches HLL sketches of the user set are
    * UNIONED into one corpus-wide estimate without ever re-touching the
    * raw events (how a year of daily sketch partitions answers "distinct
    * users ever" in milliseconds). Oracled by bound like the other
    * sketch entries: exact distinct + an envelope boolean the oracle
    * asserts TRUE (lgK=12 → rsd ≈ 1.6%, checked at ±5% ≈ 3σ, observed
    * error ≪ envelope so the boolean is boundary-safe). */
  def distinctUsersHllUnion(spark: SparkSession, dir: String): DataFrame = {
    val merged = Tables.events(spark, dir)
      .groupBy(date_trunc("month", col("ts")).as("m"))
      .agg(expr("hll_sketch_agg(user_id, 12)").as("sk"))
      .agg(
        count(lit(1)).as("n_months"),
        expr("hll_sketch_estimate(hll_union_agg(sk, true))").as("est"))
    val exact = Tables.events(spark, dir)
      .agg(countDistinct(col("user_id")).as("n_exact"))
    merged.crossJoin(broadcast(exact))
      .select(
        col("n_months"), col("n_exact"),
        (abs(col("est") - col("n_exact"))
          <= greatest(ceil(col("n_exact") * lit(0.05)), lit(2)))
          .as("merged_within_bound"))
  }

  private val distinctUsersHllUnionSql: String =
    """SELECT count(DISTINCT date_trunc('month', CAST(ts AS TIMESTAMP))) AS n_months,
      |       count(DISTINCT user_id) AS n_exact,
      |       TRUE AS merged_within_bound
      |FROM events""".stripMargin

  /** Quantile SKETCH (percentile_approx / Greenwald-Khanna): the
    * fixed-size-state form of quantity_quantiles that scales to
    * arbitrary group cardinality. Oracled by BOUND like the HLL entry:
    * the query emits the exact interpolated quantiles plus a check that
    * each sketch quantile is within 1.0 of the exact one — the
    * value-slack form of GK's εN rank guarantee, valid here because
    * l_quantity is integral (1..50) with per-value mass ≫ εN at accuracy
    * 10000, so an εN rank shift moves at most one adjacent value. The
    * oracle asserts TRUE; a sketch regression breaks the hash. */
  def quantityQuantilesApprox(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile_approx(l_quantity, array(0.25, 0.5, 0.75), 10000)").as("qa"),
        round(expr("percentile(l_quantity, 0.25)"), 6).as("q25"),
        round(expr("percentile(l_quantity, 0.5)"), 6).as("median"),
        round(expr("percentile(l_quantity, 0.75)"), 6).as("q75"))
      .select(
        col("l_returnflag"), col("q25"), col("median"), col("q75"),
        (abs(element_at(col("qa"), 1).cast("double") - col("q25")) <= 1.0 &&
          abs(element_at(col("qa"), 2).cast("double") - col("median")) <= 1.0 &&
          abs(element_at(col("qa"), 3).cast("double") - col("q75")) <= 1.0)
          .as("gk_within_bound"))
      .orderBy("l_returnflag")

  private val quantityQuantilesApproxSql: String =
    """SELECT l_returnflag,
      |       round(quantile_cont(l_quantity, 0.25), 6) AS q25,
      |       round(quantile_cont(l_quantity, 0.5), 6) AS median,
      |       round(quantile_cont(l_quantity, 0.75), 6) AS q75,
      |       TRUE AS gk_within_bound
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Sequential conversion funnel view → click → purchase: a user counts
    * at a stage only if the stage's event happens strictly AFTER the
    * previous stage's first event (event-ORDER matters, not just event
    * presence — the distinction funnel analytics lives on). Three
    * conditional-min passes, each one shuffle keyed by user; stage
    * frames join back on the user key. Emits one row of stage counts and
    * conversion rates. */
  def conversionFunnel(spark: SparkSession, dir: String): DataFrame = {
    // cached: consumed by three stage passes (s1 aggregate + two joins)
    val ev = Tables.events(spark, dir).select("user_id", "event_type", "ts").materializeOnce
    val s1 = ev.groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "view", col("ts"))).as("t_view"))
      .filter(col("t_view").isNotNull)
    val s2 = ev.join(s1, "user_id")
      .filter(col("event_type") === "click" && col("ts") > col("t_view"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_click"))
    val s3 = ev.join(s2, "user_id")
      .filter(col("event_type") === "purchase" && col("ts") > col("t_click"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_purchase"))
    s1.join(s2, Seq("user_id"), "left").join(s3, Seq("user_id"), "left")
      .agg(
        count(col("t_view")).as("n_view"),
        count(col("t_click")).as("n_view_click"),
        count(col("t_purchase")).as("n_full_funnel"))
      .select(
        col("n_view"), col("n_view_click"), col("n_full_funnel"),
        // zero guards: Spark yields NULL on /0 but DuckDB yields NaN/Inf
        // (IEEE) — mirror an explicit NULL on both engines instead
        when(col("n_view") > 0,
          round(col("n_view_click").cast("double") / col("n_view"), 6)).as("rate_click"),
        when(col("n_view_click") > 0,
          round(col("n_full_funnel").cast("double") / col("n_view_click"), 6)).as("rate_purchase"))
  }

  private val conversionFunnelSql: String =
    """WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
      |s1 AS (
      |  SELECT user_id, min(CASE WHEN event_type = 'view' THEN ts END) AS t_view
      |  FROM e GROUP BY user_id HAVING t_view IS NOT NULL),
      |s2 AS (
      |  SELECT e.user_id, min(e.ts) AS t_click
      |  FROM e JOIN s1 ON e.user_id = s1.user_id
      |  WHERE e.event_type = 'click' AND e.ts > s1.t_view
      |  GROUP BY e.user_id),
      |s3 AS (
      |  SELECT e.user_id, min(e.ts) AS t_purchase
      |  FROM e JOIN s2 ON e.user_id = s2.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts > s2.t_click
      |  GROUP BY e.user_id)
      |SELECT CAST(count(t_view) AS BIGINT) AS n_view,
      |       CAST(count(t_click) AS BIGINT) AS n_view_click,
      |       CAST(count(t_purchase) AS BIGINT) AS n_full_funnel,
      |       CASE WHEN count(t_view) > 0
      |            THEN round(CAST(count(t_click) AS DOUBLE) / count(t_view), 6) END AS rate_click,
      |       CASE WHEN count(t_click) > 0
      |            THEN round(CAST(count(t_purchase) AS DOUBLE) / count(t_click), 6) END AS rate_purchase
      |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)""".stripMargin

  /** Cohort retention matrix: users grouped by first-activity month, then
    * distinct-active-month counts per (cohort, month offset) — the
    * retention table every growth dashboard is built on. Two aggregates
    * (first-seen per user, distinct activity months) + one equi-join on
    * the user key. */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    // cached: feeds both the cohort aggregate and the activity distinct
    val ev = Tables.events(spark, dir).select("user_id", "ts").materializeOnce
    val cohort = ev.groupBy(col("user_id"))
      .agg(date_trunc("month", min(col("ts"))).as("cohort_month"))
    val active = ev.select(col("user_id"), date_trunc("month", col("ts")).as("m")).distinct()
    active.join(cohort, "user_id")
      .groupBy(col("cohort_month"),
        round(months_between(col("m"), col("cohort_month"))).cast("int").as("month_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy("cohort_month", "month_offset")
  }

  private val cohortRetentionSql: String =
    """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
      |c AS (SELECT user_id, date_trunc('month', min(ts)) AS cohort_month FROM e GROUP BY user_id),
      |a AS (SELECT DISTINCT user_id, date_trunc('month', ts) AS m FROM e)
      |SELECT CAST(c.cohort_month AS TIMESTAMP) AS cohort_month,
      |       CAST(date_diff('month', c.cohort_month, a.m) AS INT) AS month_offset,
      |       count(DISTINCT a.user_id) AS n_users
      |FROM a JOIN c ON a.user_id = c.user_id
      |GROUP BY 1, 2
      |ORDER BY cohort_month, month_offset""".stripMargin

  /** Equi-width histogram of l_quantity (values 1..50 → 10 buckets of 5):
    * the one-pass distribution profile. Bucketing is integer arithmetic
    * (floor((q-1)/5)) so bucket identity is engine-exact; emits bounds,
    * count and share. One partial-agg shuffle of 10 rows. */
  def quantityHistogram(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the total is the sum of the 10 bucket counts — a window over the
    // tiny aggregated frame, NOT a second scan of lineitem
    val total = Window.partitionBy()
    Tables.lineitem(spark, dir)
      .withColumn("bucket",
        floor((col("l_quantity") - 1) / 5.0).cast("int"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"))
      .select(
        col("bucket"),
        (col("bucket") * 5 + 1).cast("int").as("lo"),
        (col("bucket") * 5 + 5).cast("int").as("hi"),
        col("n_rows"),
        round(col("n_rows").cast("double") / sum(col("n_rows")).over(total), 6).as("share"))
      .orderBy("bucket")
  }

  private val quantityHistogramSql: String =
    """WITH b AS (
      |  SELECT CAST(floor((l_quantity - 1) / 5.0) AS INT) AS bucket, count(*) AS n_rows
      |  FROM lineitem GROUP BY 1)
      |SELECT bucket,
      |       CAST(bucket * 5 + 1 AS INT) AS lo,
      |       CAST(bucket * 5 + 5 AS INT) AS hi,
      |       CAST(n_rows AS BIGINT) AS n_rows,
      |       round(CAST(n_rows AS DOUBLE) / sum(n_rows) OVER (), 6) AS share
      |FROM b
      |ORDER BY bucket""".stripMargin

  /** Key-skew profiler — the diagnostic run before choosing a join/agg
    * strategy at scale (broadcast? salt? AQE skew join?): distribution of
    * per-key row counts for orders-per-customer. One groupBy to per-key
    * counts (partial-aggregated), then a single-row profile: key count,
    * max, mean, p50/p90/p99 and the max/mean skew ratio. */
  def ordersSkewProfile(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n"))
      .agg(
        count(lit(1)).as("n_keys"),
        max(col("n")).as("max_per_key"),
        // ratio divides the RAW avg (mirroring the oracle exactly); only
        // the displayed avg is rounded — rounding inside the ratio could
        // flip the 4-decimal boundary between engines
        avg(col("n")).as("avg_raw"),
        round(expr("percentile(n, 0.5)"), 6).as("p50"),
        round(expr("percentile(n, 0.9)"), 6).as("p90"),
        round(expr("percentile(n, 0.99)"), 6).as("p99"))
      .select(
        col("n_keys"), col("max_per_key"),
        round(col("avg_raw"), 6).as("avg_per_key"),
        col("p50"), col("p90"), col("p99"),
        round(col("max_per_key") / col("avg_raw"), 4).as("skew_ratio"))

  private val ordersSkewProfileSql: String =
    """WITH k AS (SELECT o_custkey, count(*) AS n FROM orders GROUP BY o_custkey)
      |SELECT CAST(count(*) AS BIGINT) AS n_keys,
      |       CAST(max(n) AS BIGINT) AS max_per_key,
      |       round(avg(n), 6) AS avg_per_key,
      |       round(quantile_cont(n, 0.5), 6) AS p50,
      |       round(quantile_cont(n, 0.9), 6) AS p90,
      |       round(quantile_cont(n, 0.99), 6) AS p99,
      |       round(max(n) / avg(n), 4) AS skew_ratio
      |FROM k""".stripMargin

  /** PIVOT: order counts cross-tabbed by status. Explicit value list keeps
    * the output schema static (a dynamic pivot would need a driver-side
    * distinct scan — avoided by contract at scale). */
  def ordersPivot(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority").as("priority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .count()
      .select(
        col("priority"),
        coalesce(col("F"), lit(0L)).as("n_f"),
        coalesce(col("O"), lit(0L)).as("n_o"),
        coalesce(col("P"), lit(0L)).as("n_p"))
      .orderBy("priority")

  private val ordersPivotSql: String =
    """SELECT o_orderpriority AS priority,
      |       CAST(count(*) FILTER (o_orderstatus = 'F') AS BIGINT) AS n_f,
      |       CAST(count(*) FILTER (o_orderstatus = 'O') AS BIGINT) AS n_o,
      |       CAST(count(*) FILTER (o_orderstatus = 'P') AS BIGINT) AS n_p
      |FROM orders GROUP BY o_orderpriority
      |ORDER BY priority""".stripMargin

  /** Distribution window functions: per-nation account-balance quartiles
    * (ntile), cumulative distribution and percent rank. Partitioned by
    * nation — a global ORDER BY window would serialize to one task. */
  def customerBalanceTiles(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    Tables.customer(spark, dir)
      .select(
        col("c_nationkey"), col("c_custkey"),
        ntile(4).over(w).as("quartile"),
        // fixed-point via floor, not round: cume_dist/percent_rank are
        // small-integer ratios that land EXACTLY on .xxxxxx5 (e.g.
        // 333/640) where Spark HALF_UP and DuckDB disagree; floor of the
        // identical double is deterministic on both engines
        floor(cume_dist().over(w) * 1000000).cast("long").as("cdist_u"),
        floor(percent_rank().over(w) * 1000000).cast("long").as("prank_u"))
      .orderBy("c_nationkey", "c_custkey")
  }

  private val customerBalanceTilesSql: String =
    """SELECT c_nationkey, c_custkey,
      |       ntile(4) OVER w AS quartile,
      |       CAST(floor(cume_dist() OVER w * 1000000) AS BIGINT) AS cdist_u,
      |       CAST(floor(percent_rank() OVER w * 1000000) AS BIGINT) AS prank_u
      |FROM customer
      |WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
      |ORDER BY c_nationkey, c_custkey""".stripMargin

  /** CUBE: all grouping-set combinations over (priority, status). */
  def ordersCube(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .cube(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"))
      .select(
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        col("n_orders"))
      .orderBy("priority", "status")

  private val ordersCubeSql: String =
    """SELECT coalesce(o_orderpriority, 'ALL') AS priority,
      |       coalesce(o_orderstatus, 'ALL') AS status,
      |       count(*) AS n_orders
      |FROM orders
      |GROUP BY CUBE(o_orderpriority, o_orderstatus)
      |ORDER BY priority, status""".stripMargin

  /** Range join, binned: clicks attributed to purchases within the
    * preceding 10 minutes per user. A naive time-range join is a
    * broadcast-nested-loop (quadratic); binning the range into
    * bucket-width bins turns it into an equi-join on (user, bin) with the
    * click side replicated into the two bins a purchase window can span —
    * the formulation that scales. */
  def purchaseClickAttribution(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val binMs = 600000L // 10 minutes
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts").as("p_ts"),
        expr(s"unix_millis(ts) div $binMs").as("bin"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("c_ts"),
        explode(array(
          expr(s"unix_millis(ts) div $binMs"),
          expr(s"unix_millis(ts) div $binMs") + 1)).as("bin"))
    purchases.join(clicks, Seq("user_id", "bin"), "left")
      .withColumn("in_range",
        col("c_ts").isNotNull &&
          col("c_ts") <= col("p_ts") &&
          col("c_ts") > col("p_ts") - expr("INTERVAL 10 minutes"))
      .groupBy(col("event_id"), col("user_id"), col("p_ts"))
      .agg(sum(when(col("in_range"), 1).otherwise(0)).as("n_recent_clicks"))
      .select(col("event_id"), col("user_id"), col("n_recent_clicks"))
      .orderBy("event_id")
  }

  private val purchaseClickAttributionSql: String =
    """SELECT p.event_id, p.user_id,
      |       CAST(count(c.ts) FILTER (
      |         c.ts <= p.ts AND c.ts > p.ts - INTERVAL 10 minutes) AS BIGINT) AS n_recent_clicks
      |FROM events p
      |LEFT JOIN events c
      |  ON c.user_id = p.user_id AND c.event_type = 'click'
      |WHERE p.event_type = 'purchase'
      |GROUP BY p.event_id, p.user_id
      |ORDER BY p.event_id""".stripMargin

  /** String-distance functions: pairwise Levenshtein over the event-type
    * vocabulary (the string-similarity family beyond token sets). */
  def eventTypeDistances(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables.events(spark, dir).select(col("event_type")).distinct()
    val a = t.select(col("event_type").as("a"))
    val b = t.select(col("event_type").as("b"))
    a.crossJoin(b).filter(col("a") < col("b"))
      .select(col("a"), col("b"), levenshtein(col("a"), col("b")).as("lev"))
      .orderBy("a", "b")
  }

  private val eventTypeDistancesSql: String =
    """WITH t AS (SELECT DISTINCT event_type FROM events)
      |SELECT a.event_type AS a, b.event_type AS b,
      |       CAST(levenshtein(a.event_type, b.event_type) AS INT) AS lev
      |FROM t a JOIN t b ON a.event_type < b.event_type
      |ORDER BY a, b""".stripMargin

  /** Calendar-extraction rollup: orders by year × ISO weekday (Spark's
    * dayofweek is Sunday=1, so ISO is (dow+5)%7+1 — matched to DuckDB's
    * isodow). */
  def ordersByDow(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(
        year(col("o_orderdate")).as("yr"),
        ((dayofweek(col("o_orderdate")) + 5) % 7 + 1).as("isodow"),
        col("o_totalprice"))
      .groupBy(col("yr"), col("isodow"))
      .agg(count(lit(1)).as("n_orders"), decSum(col("o_totalprice")).as("total_price"))
      .orderBy("yr", "isodow")

  private val ordersByDowSql: String =
    """SELECT CAST(year(o_orderdate) AS INT) AS yr,
      |       CAST(isodow(o_orderdate) AS INT) AS isodow,
      |       count(*) AS n_orders,
      |       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 2) AS total_price
      |FROM orders
      |GROUP BY 1, 2 ORDER BY yr, isodow""".stripMargin

  /** 2-D skyline (Pareto frontier): orders not strictly dominated on
    * (earlier date, higher price) — "the earliest big orders". The naive
    * form is an O(N²) dominance self-join; the form here is the sort-scan
    * (a point is on the frontier iff its price beats the RUNNING MAX over
    * all strictly-earlier (date, price) keys) made distributed in two
    * phases: a PARALLEL per-hash-bucket pre-filter (local domination ⇒
    * global domination, so each bucket's partitioned window discards the
    * bulk) followed by the exact global scan over the tiny survivor set —
    * the single-partition window touches survivors only, never the
    * table. Exact-duplicate (date, price) pairs dominate each other
    * weakly but not strictly, so the scan runs over DISTINCT keys and
    * joins back to recover every order on the frontier. */
  def ordersSkyline(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_orderdate").cast("date").as("d"),
        round(col("o_totalprice"), 2).as("p"))
      .materializeOnce // scanned twice: key derivation + frontier join-back
    val keys = o.select("d", "p").distinct()
    // phase 1 — LOCAL pre-filter: a key dominated within its hash bucket
    // is dominated globally, so each bucket's scan (parallel, partitioned
    // window) discards the bulk; survivors are a superset of the frontier
    // and orders of magnitude smaller. This is what keeps the final
    // global scan from being a full-table single-partition sort.
    val wLocal = Window.partitionBy(col("bkt"))
      .orderBy(col("d").asc, col("p").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = keys
      .withColumn("bkt", pmod(hash(col("d"), col("p")), lit(32)))
      .withColumn("run_max", max(col("p")).over(wLocal))
      .filter(col("run_max").isNull || col("p") > col("run_max"))
      .select("d", "p")
    // phase 2 — exact frontier over the pruned survivors (tiny)
    val wGlobal = Window.orderBy(col("d").asc, col("p").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val frontier = local
      .withColumn("run_max", max(col("p")).over(wGlobal))
      .filter(col("run_max").isNull || col("p") > col("run_max"))
      .select("d", "p")
    o.join(frontier, Seq("d", "p"))
      .select(col("o_orderkey"), col("o_custkey"),
        col("d").as("o_date"), col("p").as("price"))
      .orderBy("o_date", "o_orderkey")
  }

  private val ordersSkylineSql: String =
    """WITH o AS (
      |  SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS d,
      |         round(o_totalprice, 2) AS p
      |  FROM orders),
      |k AS (SELECT DISTINCT d, p FROM o),
      |f AS (
      |  SELECT d, p,
      |         max(p) OVER (ORDER BY d ASC, p DESC
      |                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS run_max
      |  FROM k),
      |sky AS (SELECT d, p FROM f WHERE run_max IS NULL OR p > run_max)
      |SELECT o.o_orderkey, o.o_custkey, o.d AS o_date, o.p AS price
      |FROM o JOIN sky ON o.d = sky.d AND o.p = sky.p
      |ORDER BY o_date, o_orderkey""".stripMargin

  /** Market-basket co-occurrence with LIFT — the association-rule
    * counting pass (frequent itemsets at k = 2): part pairs appearing in
    * the same order, with support and lift = P(a,b)/(P(a)·P(b)).
    * Top-20 pairs by joint count.
    *
    * Scale shape: the pair join is an equi-join on the ORDER key, so the
    * blow-up is Σ basket² (baskets are small and bounded — ~4 lineitems
    * per order — not corpus-sized); per-part supports are one aggregate,
    * broadcast back onto the pair frame. Lift ratios are fixed-point
    * floored (integer-count ratios land on exact .5 boundaries).
    * Formulation note: the collect_list-basket + combination-explode
    * alternative (one shuffle, no join) measured EQUAL to this self-join
    * at sf0.1 (1.70 s vs 1.65 s steady-state) — AQE already broadcasts
    * the small side; the join form is kept for the trivially mirrorable
    * oracle. */
  def partPairLift(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
      .materializeOnce // feeds the pair self-join AND the per-part supports
    val nOrders = Tables.orders(spark, dir).agg(count(lit(1)).as("n_orders"))
    val supp = li.groupBy(col("pk")).agg(count(lit(1)).as("n_part"))
    val pairs = li.select(col("ok"), col("pk").as("a_pk"))
      .join(li.select(col("ok"), col("pk").as("b_pk")), "ok")
      .filter(col("a_pk") < col("b_pk"))
      .groupBy(col("a_pk"), col("b_pk"))
      .agg(count(lit(1)).as("n_joint"))
    pairs
      .join(supp.select(col("pk").as("a_pk"), col("n_part").as("n_a")), "a_pk")
      .join(supp.select(col("pk").as("b_pk"), col("n_part").as("n_b")), "b_pk")
      .crossJoin(broadcast(nOrders))
      // lift = (n_joint · n_orders) / (n_a · n_b): all-integer numerator
      // and denominator, one double division, fixed-point floored
      .withColumn("lift",
        floor(col("n_joint") * col("n_orders") * 1e4
          / (col("n_a") * col("n_b"))) / lit(1e4))
      .select("a_pk", "b_pk", "n_joint", "n_a", "n_b", "lift")
      .orderBy(col("n_joint").desc, col("a_pk"), col("b_pk"))
      .limit(20)
  }

  private val partPairLiftSql: String =
    s"""WITH $basketsSql,
      |n AS (SELECT count(*) AS n_orders FROM orders),
      |supp AS (SELECT pk, count(*) AS n_part FROM li GROUP BY pk),
      |pairs AS (
      |  SELECT a.pk AS a_pk, b.pk AS b_pk, count(*) AS n_joint
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY a.pk, b.pk)
      |SELECT p.a_pk, p.b_pk,
      |       CAST(p.n_joint AS BIGINT) AS n_joint,
      |       CAST(sa.n_part AS BIGINT) AS n_a,
      |       CAST(sb.n_part AS BIGINT) AS n_b,
      |       floor(p.n_joint * n.n_orders * 1e4 / (sa.n_part * sb.n_part)) / 1e4 AS lift
      |FROM pairs p
      |JOIN supp sa ON sa.pk = p.a_pk
      |JOIN supp sb ON sb.pk = p.b_pk
      |CROSS JOIN n
      |ORDER BY n_joint DESC, a_pk, b_pk
      |LIMIT 20""".stripMargin

  /** Directed association RULES from the [[partPairLift]] pair counts —
    * the step from itemset counting to actionable rules: each qualifying
    * pair is emitted in BOTH directions (a⇒b and b⇒a have different
    * confidences), with the four standard rule metrics in exact
    * fixed-point — confidence = P(cons|ante), lift = conf/P(cons),
    * leverage = P(a,b) − P(a)P(b), and conviction =
    * (1 − P(cons))/(1 − conf) (NULL on conf = 1, the infinite-conviction
    * case, rather than a sentinel). All four are integer-count ratios
    * floored at ppm scale through DECIMAL(38,0) intermediates, so the
    * n_orders² leverage denominator cannot overflow at any SF.
    *
    * Scale shape: identical to the pair pass (Σ basket² equi-join on the
    * order key, supports broadcast back); the direction union doubles a
    * pair-aggregate frame, not the data. Top-20 by confidence. */
  def partAssocRules(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
      .materializeOnce
    val nOrders = Tables.orders(spark, dir).agg(count(lit(1)).as("n_orders"))
    val supp = li.groupBy(col("pk")).agg(count(lit(1)).as("n_part"))
    val pairs = li.select(col("ok"), col("pk").as("a_pk"))
      .join(li.select(col("ok"), col("pk").as("b_pk")), "ok")
      .filter(col("a_pk") < col("b_pk"))
      .groupBy(col("a_pk"), col("b_pk"))
      .agg(count(lit(1)).as("n_joint"))
      .filter(col("n_joint") >= 2) // min-support gate: singleton co-occurrences are noise
      .join(supp.select(col("pk").as("a_pk"), col("n_part").as("n_a")), "a_pk")
      .join(supp.select(col("pk").as("b_pk"), col("n_part").as("n_b")), "b_pk")
    val rules = pairs.select(col("a_pk").as("ante"), col("b_pk").as("cons"),
        col("n_joint"), col("n_a").as("n_ante"), col("n_b").as("n_cons"))
      .unionAll(pairs.select(col("b_pk").as("ante"), col("a_pk").as("cons"),
        col("n_joint"), col("n_b").as("n_ante"), col("n_a").as("n_cons")))
    rules
      .crossJoin(broadcast(nOrders))
      .withColumn("conf_ppm",
        expr("CAST(n_joint AS DECIMAL(38,0)) * 1000000 div n_ante"))
      .withColumn("lift_ppm",
        expr("CAST(n_joint AS DECIMAL(38,0)) * n_orders * 1000000" +
          " div (CAST(n_ante AS DECIMAL(38,0)) * n_cons)"))
      .withColumn("leverage_ppm",
        expr("(CAST(n_joint AS DECIMAL(38,0)) * n_orders" +
          " - CAST(n_ante AS DECIMAL(38,0)) * n_cons) * 1000000" +
          " div (CAST(n_orders AS DECIMAL(38,0)) * n_orders)"))
      .withColumn("conviction_ppm",
        when(col("n_ante") === col("n_joint"), lit(null).cast("long"))
          .otherwise(expr("CAST(n_ante AS DECIMAL(38,0)) * (n_orders - n_cons)" +
            " * 1000000 div (CAST(n_orders AS DECIMAL(38,0)) * (n_ante - n_joint))")))
      .select(col("ante"), col("cons"), col("n_joint"), col("n_ante"),
        col("n_cons"), col("conf_ppm"), col("lift_ppm"),
        col("leverage_ppm"), col("conviction_ppm"))
      .orderBy(col("conf_ppm").desc, col("ante"), col("cons"))
      .limit(20)
  }

  private val partAssocRulesSql: String =
    s"""WITH $basketsSql,
      |n AS (SELECT count(*) AS n_orders FROM orders),
      |supp AS (SELECT pk, count(*) AS n_part FROM li GROUP BY pk),
      |pairs AS (
      |  SELECT a.pk AS a_pk, b.pk AS b_pk, count(*) AS n_joint
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY a.pk, b.pk HAVING count(*) >= 2),
      |sp AS (
      |  SELECT p.a_pk, p.b_pk, p.n_joint, sa.n_part AS n_a, sb.n_part AS n_b
      |  FROM pairs p
      |  JOIN supp sa ON sa.pk = p.a_pk
      |  JOIN supp sb ON sb.pk = p.b_pk),
      |rules AS (
      |  SELECT a_pk AS ante, b_pk AS cons, n_joint, n_a AS n_ante, n_b AS n_cons FROM sp
      |  UNION ALL
      |  SELECT b_pk AS ante, a_pk AS cons, n_joint, n_b AS n_ante, n_a AS n_cons FROM sp)
      |SELECT ante, cons,
      |       CAST(n_joint AS BIGINT) AS n_joint,
      |       CAST(n_ante AS BIGINT) AS n_ante,
      |       CAST(n_cons AS BIGINT) AS n_cons,
      |       CAST(CAST(n_joint AS HUGEINT) * 1000000 // n_ante AS BIGINT) AS conf_ppm,
      |       CAST(CAST(n_joint AS HUGEINT) * n.n_orders * 1000000
      |            // (CAST(n_ante AS HUGEINT) * n_cons) AS BIGINT) AS lift_ppm,
      |       CAST((CAST(n_joint AS HUGEINT) * n.n_orders
      |             - CAST(n_ante AS HUGEINT) * n_cons) * 1000000
      |            // (CAST(n.n_orders AS HUGEINT) * n.n_orders) AS BIGINT) AS leverage_ppm,
      |       CAST(CASE WHEN n_ante = n_joint THEN NULL
      |            ELSE CAST(n_ante AS HUGEINT) * (n.n_orders - n_cons) * 1000000
      |                 // (CAST(n.n_orders AS HUGEINT) * (n_ante - n_joint)) END AS BIGINT)
      |         AS conviction_ppm
      |FROM rules CROSS JOIN n
      |ORDER BY conf_ppm DESC, ante, cons
      |LIMIT 20""".stripMargin

  private val PrIters = 3
  private val Damping = 0.85

  /** PageRank over the event-type transition graph, [[PrIters]] synchronous
    * iterations — the iterative-linear-algebra family member (beside
    * `dedup_components`' label propagation): rank flows along
    * count-weighted transition edges with 0.85 damping.
    *
    * The loop is a Scala-side unroll of DataFrame stages (each iteration =
    * one equi-join rank⋈edges + one partial-agg shuffle on dst), exactly
    * how distributed PageRank runs at scale — per-iteration cost is one
    * shuffle of the EDGE list, and the edge derivation (window lag over
    * events) dominates; the rank table is |event types|. Per-edge terms
    * are rounded then DECIMAL-summed so partial-agg order cannot perturb
    * an iteration; dst-only (dangling-in) nodes keep the damping floor
    * via the left join. Dangling-OUT mass is NOT redistributed (a sink
    * node leaks its damped rank, so Σpr ≤ 1 with equality iff every node
    * has out-edges — true of this transition graph; redistributing sink
    * mass would add one broadcast scalar per iteration at scale).
    * The oracle unrolls the same three steps as CTEs. */
  def eventTypePagerank(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("event_id"))
    val trans = Tables.events(spark, dir)
      .withColumn("src", lag(col("event_type"), 1).over(w))
      .filter(col("src").isNotNull && col("src") =!= col("event_type"))
      .groupBy(col("src"), col("event_type").as("dst"))
      .agg(count(lit(1)).as("cnt"))
      .materializeOnce
    val nodes = trans.select(col("src").as("node"))
      .union(trans.select(col("dst").as("node"))).distinct().materializeOnce
    val n = nodes.count() // tiny by construction (|event types|)
    val outdeg = trans.groupBy(col("src")).agg(sum(col("cnt")).as("od"))
    val edges = trans.join(outdeg, "src")
      .select(col("src"), col("dst"), (col("cnt") / col("od")).as("wgt"))
      .materializeOnce
    val base = 0.15 / n
    var pr = nodes.select(col("node"), (lit(1.0) / n).as("pr"))
    (1 to PrIters).foreach { _ =>
      val contrib = edges.join(pr, col("src") === col("node"))
        .select(col("dst"), round(col("pr") * col("wgt"), 9).as("t"))
      pr = nodes.join(contrib, col("node") === col("dst"), "left")
        .groupBy(col("node"))
        .agg((lit(base) + lit(Damping) *
          coalesce(sum(col("t").cast("decimal(28,12)")).cast("double"), lit(0.0)))
          .as("pr"))
    }
    pr.select(col("node"), round(col("pr"), 6).as("pagerank"))
      .orderBy("node")
  }

  private val eventTypePagerankSql: String = {
    def step(i: Int): String =
      s"""pr$i AS (
         |  SELECT n.node,
         |         (CAST(0.15 AS DOUBLE) / (SELECT cnt FROM nn)) + CAST(0.85 AS DOUBLE) *
         |         coalesce(CAST(sum(CAST(round(p.pr * e.wgt, 9) AS DECIMAL(28,12))) AS DOUBLE), 0.0) AS pr
         |  FROM nodes n
         |  LEFT JOIN edges e ON e.dst = n.node
         |  LEFT JOIN pr${i - 1} p ON p.node = e.src
         |  GROUP BY n.node)""".stripMargin
    s"""WITH trans AS (
       |  SELECT src, dst, count(*) AS cnt FROM (
       |    SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY event_id) AS src,
       |           event_type AS dst
       |    FROM events)
       |  WHERE src IS NOT NULL AND src <> dst
       |  GROUP BY src, dst),
       |nodes AS (SELECT src AS node FROM trans UNION SELECT dst FROM trans),
       |nn AS (SELECT count(*) AS cnt FROM nodes),
       |outdeg AS (SELECT src, sum(cnt) AS od FROM trans GROUP BY src),
       |edges AS (
       |  SELECT t.src, t.dst, t.cnt / o.od AS wgt
       |  FROM trans t JOIN outdeg o ON t.src = o.src),
       |pr0 AS (SELECT node, CAST(1.0 AS DOUBLE) / (SELECT cnt FROM nn) AS pr FROM nodes),
       |${step(1)},
       |${step(2)},
       |${step(3)}
       |SELECT node, round(pr, 6) AS pagerank FROM pr$PrIters
       |ORDER BY node""".stripMargin
  }

  private val AttribIters = 8
  private val AttribChannels = Seq("click", "error", "signup", "view")
  private val AttribStates =
    Seq("start", "click", "error", "signup", "view", "purchase", "drop")

  /** Markov removal-effect attribution — the data-driven replacement for
    * [[purchaseClickAttribution]]'s positional rules: model each user's
    * pre-conversion journey as a first-order chain over event types
    * (virtual `start`, absorbing `purchase` = conversion and `drop` =
    * journey ended unconverted), compute the conversion-absorption
    * probability from `start`, then for each channel recompute it with
    * that channel's state deleted — the drop in reach IS the channel's
    * causal contribution under the chain model (a channel whose removal
    * barely moves reach was a pass-through; positional rules credit it
    * anyway).
    *
    * Absorption probabilities are the [[AttribIters]]-step backward value
    * iteration r(i) = Σⱼ p(i→j)·r(j), r(purchase)=1, r(drop)=0 — the
    * statistic is DEFINED as the ≤K-step absorption mass (unabsorbed
    * residual decays geometrically), and both dialects run the identical
    * unrolled recursion with the event_type_pagerank float discipline
    * (round(·,9) per term, DECIMAL sums). State space is the STATIC
    * 7-literal list, so every per-iteration frame is constant-sized; the
    * corpus is scanned once to build the transition counts. */
  def attributionMarkovRemoval(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    val ranked = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"))
      .withColumn("rn", row_number().over(w))
      .withColumn("conv_rn",
        min(when(col("event_type") === "purchase", col("rn")))
          .over(Window.partitionBy(col("user_id"))))
      .filter(col("conv_rn").isNull || col("rn") <= col("conv_rn"))
    val w2 = Window.partitionBy(col("user_id")).orderBy(col("rn"))
    val steps = ranked
      .select(coalesce(lag(col("event_type"), 1).over(w2), lit("start")).as("src"),
        col("event_type").as("dst"))
    val drops = ranked
      .withColumn("nxt", lead(col("event_type"), 1).over(w2))
      .filter(col("nxt").isNull && col("event_type") =!= "purchase")
      .select(col("event_type").as("src"), lit("drop").as("dst"))
    val trans = steps.unionAll(drops)
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("cnt"))
    val outdeg = trans.groupBy(col("src")).agg(sum(col("cnt")).as("od"))
    val edges = trans.join(outdeg, "src")
      .select(col("src"), col("dst"), (col("cnt") / col("od")).as("wgt"))
      .materializeOnce // base chain + one filtered copy per channel
    val states = spark.createDataFrame(AttribStates.map(Tuple1(_))).toDF("node")
    def reach(e: DataFrame): DataFrame = {
      var r = states.select(col("node"),
        when(col("node") === "purchase", 1.0).otherwise(0.0).as("r"))
      for (_ <- 1 to AttribIters) {
        val contrib = e.join(r, col("dst") === col("node"))
          .select(col("src"), round(col("wgt") * col("r"), 9).as("t"))
        r = states.join(contrib, col("node") === col("src"), "left")
          .groupBy(col("node"))
          .agg(coalesce(sum(col("t").cast("decimal(28,12)")).cast("double"), lit(0.0))
            .as("acc"))
          .select(col("node"),
            when(col("node") === "purchase", 1.0)
              .when(col("node") === "drop", 0.0)
              .otherwise(col("acc")).as("r"))
      }
      r.filter(col("node") === "start")
    }
    val base = reach(edges).select(col("r").as("base_reach"))
    val perChannel = AttribChannels.map { c =>
      reach(edges.filter(col("src") =!= c && col("dst") =!= c))
        .select(lit(c).as("channel"), col("r").as("removed_reach"))
    }.reduce(_ unionAll _)
    perChannel.crossJoin(broadcast(base))
      .select(col("channel"),
        round(col("base_reach"), 6).as("base_reach"),
        round(col("removed_reach"), 6).as("removed_reach"),
        round(col("base_reach") - col("removed_reach"), 6).as("removal_effect"))
      .orderBy("channel")
  }

  private val attributionMarkovRemovalSql: String = {
    val statesVals = AttribStates.map(s => s"('$s')").mkString(", ")
    def chain(tag: String, edgesCte: String): String = {
      val r0 =
        s"""r${tag}0 AS (
           |  SELECT node, CASE WHEN node = 'purchase' THEN 1.0 ELSE 0.0 END AS r
           |  FROM states)""".stripMargin
      val stepsSql = (1 to AttribIters).map { i =>
        s"""r$tag$i AS (
           |  SELECT s.node,
           |         CASE WHEN s.node = 'purchase' THEN 1.0
           |              WHEN s.node = 'drop' THEN 0.0
           |              ELSE coalesce(CAST(sum(CAST(round(e.wgt * p.r, 9) AS DECIMAL(28,12))) AS DOUBLE), 0.0)
           |         END AS r
           |  FROM states s
           |  LEFT JOIN $edgesCte e ON e.src = s.node
           |  LEFT JOIN r$tag${i - 1} p ON p.node = e.dst
           |  GROUP BY s.node)""".stripMargin
      }
      (r0 +: stepsSql).mkString(",\n")
    }
    val channelCtes = AttribChannels.map { c =>
      s"""ef_$c AS (SELECT * FROM edges WHERE src <> '$c' AND dst <> '$c'),
         |${chain(s"_${c}_", s"ef_$c")}""".stripMargin
    }.mkString(",\n")
    val channelRows = AttribChannels.map { c =>
      s"""SELECT '$c' AS channel,
         |       (SELECT r FROM r_base_$AttribIters WHERE node = 'start') AS base_reach,
         |       (SELECT r FROM r_${c}_$AttribIters WHERE node = 'start') AS removed_reach""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ranked AS (
       |  SELECT user_id, event_id, event_type, rn0 AS rn,
       |         min(CASE WHEN event_type = 'purchase' THEN rn0 END)
       |           OVER (PARTITION BY user_id) AS conv_rn
       |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn0
       |        FROM events)),
       |kept AS (SELECT * FROM ranked WHERE conv_rn IS NULL OR rn <= conv_rn),
       |steps AS (
       |  SELECT coalesce(lag(event_type) OVER (PARTITION BY user_id ORDER BY rn), 'start') AS src,
       |         event_type AS dst,
       |         lead(event_type) OVER (PARTITION BY user_id ORDER BY rn) AS nxt,
       |         event_type
       |  FROM kept),
       |trans AS (
       |  SELECT src, dst, count(*) AS cnt FROM (
       |    SELECT src, dst FROM steps
       |    UNION ALL
       |    SELECT event_type, 'drop' FROM steps WHERE nxt IS NULL AND event_type <> 'purchase')
       |  GROUP BY 1, 2),
       |outdeg AS (SELECT src, sum(cnt) AS od FROM trans GROUP BY src),
       |edges AS MATERIALIZED (
       |  SELECT t.src, t.dst, t.cnt / o.od AS wgt
       |  FROM trans t JOIN outdeg o ON t.src = o.src),
       |states(node) AS (VALUES $statesVals),
       |${chain("_base_", "edges")},
       |$channelCtes
       |SELECT channel,
       |       round(base_reach, 6) AS base_reach,
       |       round(removed_reach, 6) AS removed_reach,
       |       round(base_reach - removed_reach, 6) AS removal_effect
       |FROM ($channelRows)
       |ORDER BY channel""".stripMargin
  }

  private val PromoWindowUs = 6L * 3600 * 1000000 // 6 h in µs

  /** Point-in-interval range join, in its scale form: every "promo"
    * purchase (a deterministic user_id slice) opens a 6-hour window, and
    * the query counts all event activity landing inside each window. A
    * naive non-equi join degenerates to broadcast-nested-loop (every
    * event × every interval); instead both sides are BUCKETED on
    * floor(time / binWidth) with binWidth = the window length, so each
    * interval overlaps at most two buckets: the interval side explodes
    * into its ≤2 buckets, the point side keeps its single bucket, and the
    * join becomes a plain equi-join on the bucket key with the range
    * predicate verified on candidates. Each (interval, event) pair meets
    * in exactly one bucket (the event's), so no post-join dedup is
    * needed. Work scales as |events| + Σ overlaps — never |events|×|intervals|.
    * All boundaries are exact integer µs (`div`, not float division);
    * the oracle is DuckDB's plain non-equi join over the same µs values
    * (CAST ts AS TIMESTAMP truncates ns→µs exactly like Tables.events). */
  def rangeJoinBinned(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
    val promos = ev
      .filter(col("event_type") === "purchase" && col("user_id") % 50 === 0)
      .select(col("event_id").as("promo_id"), col("ts_us").as("start_us"))
      .withColumn("end_us", col("start_us") + PromoWindowUs)
      .withColumn("bucket",
        explode(sequence(
          expr(s"start_us div $PromoWindowUs"),
          expr(s"(end_us - 1L) div $PromoWindowUs"))))
    val points = ev.withColumn("bucket", expr(s"ts_us div $PromoWindowUs"))
    points.join(promos,
        points("bucket") === promos("bucket") &&
          col("ts_us") >= col("start_us") && col("ts_us") < col("end_us"))
      .groupBy(col("promo_id"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchases"))
      .orderBy("promo_id")
  }

  private val rangeJoinBinnedSql: String =
    """WITH e AS (
      |  SELECT event_id, user_id, event_type,
      |         epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
      |  FROM events),
      |p AS (
      |  SELECT event_id AS promo_id, ts_us AS start_us,
      |         ts_us + 21600000000 AS end_us
      |  FROM e
      |  WHERE event_type = 'purchase' AND user_id % 50 = 0)
      |SELECT p.promo_id,
      |       count(*) AS n_events,
      |       count(DISTINCT e.user_id) AS n_users,
      |       CAST(sum(CASE WHEN e.event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases
      |FROM p JOIN e ON e.ts_us >= p.start_us AND e.ts_us < p.end_us
      |GROUP BY p.promo_id
      |ORDER BY p.promo_id""".stripMargin

  /** Triangle census of the co-purchase graph — the graph-topology
    * diagnostic (global clustering coefficient) over parts that co-occur
    * in ≥2 orders. Edges are ORIENTED low-id → high-id, so each triangle
    * is counted exactly once by the canonical a<b<c two-hop join + close:
    * paths x→y→z from two oriented hops, closed by a semi-check against
    * the edge set — never an all-pairs product. Wedge count Σ d(d−1)/2
    * is exact integer arithmetic over the degree frame. At scale the
    * standard refinement is to orient by DEGREE (low-degree first)
    * instead of id, bounding the hop join's fan-out by √|E| on skewed
    * graphs; id-orientation keeps the oracle trivially mirrorable. */
  def partTriangles(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val edges = li.select(col("ok"), col("pk").as("src"))
      .join(li.select(col("ok"), col("pk").as("dst")), "ok")
      .filter(col("src") < col("dst"))
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("n_orders_joint"))
      .filter(col("n_orders_joint") >= 2)
      .select("src", "dst")
      .materializeOnce // feeds degrees, the two-hop join, and the closing join
    val nEdges = edges.agg(count(lit(1)).as("n_edges"))
    val wedges = edges.select(col("src").as("v"))
      .unionAll(edges.select(col("dst").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
      .agg(sum(expr("(d * (d - 1)) div 2")).as("n_wedges"))
    val tris = edges.select(col("src").as("x"), col("dst").as("y"))
      .join(edges.select(col("src").as("y"), col("dst").as("z")), "y")
      .join(edges.select(col("src").as("x"), col("dst").as("z")), Seq("x", "z"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    nEdges.crossJoin(wedges).crossJoin(tris)
      .withColumn("clustering",
        when(col("n_wedges") > 0,
          floor(col("n_triangles") * 3 * 1e6 / col("n_wedges")) / lit(1e6))
          .otherwise(lit(0.0)))
      .select("n_edges", "n_wedges", "n_triangles", "clustering")
  }

  private val partTrianglesSql: String =
    s"""WITH $basketsSql,
      |e AS (
      |  $coPurchaseEdgesSql),
      |ne AS (SELECT count(*) AS n_edges FROM e),
      |deg AS (SELECT v, count(*) AS d
      |        FROM (SELECT src AS v FROM e UNION ALL SELECT dst FROM e)
      |        GROUP BY v),
      |w AS (SELECT CAST(sum((d * (d - 1)) // 2) AS BIGINT) AS n_wedges FROM deg),
      |tri AS (
      |  SELECT count(*) AS n_triangles
      |  FROM (SELECT e1.src AS x, e1.dst AS y, e2.dst AS z
      |        FROM e e1 JOIN e e2 ON e2.src = e1.dst) p
      |  WHERE EXISTS (SELECT 1 FROM e e3 WHERE e3.src = p.x AND e3.dst = p.z))
      |SELECT ne.n_edges, w.n_wedges, CAST(tri.n_triangles AS BIGINT) AS n_triangles,
      |       CASE WHEN w.n_wedges > 0
      |            THEN floor(tri.n_triangles * 3 * 1e6 / w.n_wedges) / 1e6
      |            ELSE 0.0 END AS clustering
      |FROM ne CROSS JOIN w CROSS JOIN tri""".stripMargin

  /** 3-core of the co-purchase graph — the density-peeling view beside
    * [[partTriangles]]' census and [[partLocalClustering]]'s per-node
    * coefficient: repeatedly delete nodes of degree < 3 until fixpoint;
    * what survives is the mutually-supported dense backbone (a node's
    * high degree means nothing if its neighbors are all peripheral — the
    * peel propagates that). The standard recommender/fraud-ring
    * pre-filter.
    *
    * Peeling is iterative with a data-dependent round count; this runs
    * UP TO 12 rounds (the cost cap), stopping early at the fixpoint —
    * a peel that removes nothing makes every later peel the identity,
    * so the early stop is bit-identical to the full unroll (measured
    * fixpoints on the harness data: 1 round at sf0.001, 11 at sf0.01, 3
    * at sf0.1) — and emits a `converged` flag — TRUE iff a further peel
    * would remove nothing, so an unconverged (cap-hit) run is visible
    * in the output, not silently wrong. Each round is two
    * degree-filtered semi-joins on the (already tiny, ≥2-joint-orders)
    * edge frame; at 100 TB the same rounds run on the bucketed edge list
    * with cost ∝ surviving edges. */
  def partKcore(spark: SparkSession, dir: String): DataFrame = {
    var edges = coPurchaseEdges(spark, dir)
    // FIXPOINT SHORT-CIRCUIT (r16, guide §1.2 — don't compute what you
    // throw away): a peel that removes no edge makes every later peel
    // the identity (semi-joins only ever REMOVE rows; equal count ⇒
    // equal set ⇒ identical degrees next round), so the loop stops as
    // soon as a round's count matches the previous round's. The result
    // is bit-identical to the fixed 12-round unroll — only the number
    // of no-op rounds executed changes (measured fixpoints: round 1 at
    // sf0.001, 11 at sf0.01, 3 at sf0.1 — seven-plus dead rounds of
    // checkpoint+shuffle at the bench SF). The count is one cheap job
    // on the just-checkpointed frame (the tfidfTop scalar-count
    // precedent); the 12-round cap still bounds cost at any scale.
    var prev = edges.count()
    var done = false
    for (_ <- 1 to 12 if !done) {
      val deg = edges.select(col("src").as("v"))
        .unionAll(edges.select(col("dst").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("d"))
      val alive = deg.filter(col("d") >= 3)
      edges = edges
        .join(alive.select(col("v").as("src")), Seq("src"), "left_semi")
        .join(alive.select(col("v").as("dst")), Seq("dst"), "left_semi")
        // UNCONDITIONAL lineage truncation, deliberately not the
        // audit-skippable materializeOnce: each round references the
        // previous THREE times, so the untruncated tree grows 3^12-fold —
        // the plan itself (not the data) OOMs the driver, the exact
        // failure every Spark iterative algorithm checkpoints against.
        // The audit sees the final round's plan; every round is
        // shape-identical, and the base edge build is fully audited via
        // part_triangles / part_local_clustering (shared builder).
        .localCheckpoint(true)
      val c = edges.count()
      if (c == prev) done = true
      prev = c
    }
    val finalDeg = edges.select(col("src").as("v"))
      .unionAll(edges.select(col("dst").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("core_deg"))
      .materializeOnce // feeds the member rows AND the convergence probe
    val below = finalDeg.filter(col("core_deg") < 3).agg(count(lit(1)).as("n_below"))
    finalDeg.crossJoin(broadcast(below))
      .select(col("v").as("part_id"), col("core_deg"),
        (col("n_below") === 0L).as("converged"))
      .orderBy("part_id")
  }

  private val partKcoreSql: String = {
    // every round CTE is MATERIALIZED: each e_i references e_{i-1} three
    // times, so inlined CTEs expand 3^12-fold — thousands of re-scans of
    // the base join (observed as a file-handle exhaustion in DuckDB)
    val rounds = (1 to 12).map { i =>
      s"""d$i AS MATERIALIZED (SELECT v, count(*) AS d
         |        FROM (SELECT src AS v FROM e${i - 1} UNION ALL SELECT dst FROM e${i - 1})
         |        GROUP BY v),
         |a$i AS MATERIALIZED (SELECT v FROM d$i WHERE d >= 3),
         |e$i AS MATERIALIZED (SELECT src, dst FROM e${i - 1}
         |        WHERE src IN (SELECT v FROM a$i) AND dst IN (SELECT v FROM a$i))""".stripMargin
    }.mkString(",\n")
    s"""WITH $basketsSql,
       |e0 AS MATERIALIZED (
       |  $coPurchaseEdgesSql),
       |$rounds,
       |fd AS (SELECT v, count(*) AS core_deg
       |       FROM (SELECT src AS v FROM e12 UNION ALL SELECT dst FROM e12)
       |       GROUP BY v),
       |nb AS (SELECT count(*) AS n_below FROM fd WHERE core_deg < 3)
       |SELECT fd.v AS part_id, CAST(fd.core_deg AS BIGINT) AS core_deg,
       |       nb.n_below = 0 AS converged
       |FROM fd CROSS JOIN nb
       |ORDER BY part_id""".stripMargin
  }

  /** Degree assortativity of the co-purchase graph — the mixing pattern
    * that completes the graph-census family: the Pearson correlation of
    * endpoint degrees over symmetrized edges. Positive = hubs buy with
    * hubs (assortative, social-network-like); negative = hubs connect to
    * leaves (disassortative, catalog-like) — it determines whether
    * removing hub parts fragments the graph, which the triangle and core
    * views cannot say.
    *
    * Moments Σx, Σx², Σxy accumulate as DECIMAL(38,0) integers over the
    * 2|E| symmetrized endpoint pairs; the single division is floor
    * micro fixed-point, NULL on a degree-regular graph (zero variance)
    * rather than an engine-specific ±inf. Node-sized degree frame, one
    * edge join. */
  def partAssortativity(spark: SparkSession, dir: String): DataFrame = {
    val edges = coPurchaseEdges(spark, dir)
    val deg = edges.select(col("src").as("v"))
      .unionAll(edges.select(col("dst").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    val sym = edges.select(col("src").as("a"), col("dst").as("b"))
      .unionAll(edges.select(col("dst").as("a"), col("src").as("b")))
      .join(deg.select(col("v").as("a"), col("d").as("dx")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("dy")), "b")
    sym.agg(count(lit(1)).as("m"),
      sum(col("dx").cast("decimal(38,0)")).as("sx"),
      sum((col("dx").cast("decimal(38,0)") * col("dx"))).as("sxx"),
      sum((col("dx").cast("decimal(38,0)") * col("dy"))).as("sxy"))
      .select((col("m") / 2).cast("long").as("n_edges"),
        expr("""CASE WHEN m * sxx - sx * sx > 0
               |  THEN (m * sxy - sx * sx) * 1000000 div (m * sxx - sx * sx)
               |END""".stripMargin).cast("long").as("assortativity_micro"))
  }

  private val partAssortativitySql: String =
    s"""WITH $basketsSql,
      |e AS (
      |  $coPurchaseEdgesSql),
      |deg AS (SELECT v, count(*) AS d
      |        FROM (SELECT src AS v FROM e UNION ALL SELECT dst FROM e)
      |        GROUP BY v),
      |sym AS (
      |  SELECT da.d AS dx, db.d AS dy FROM (
      |    SELECT src AS a, dst AS b FROM e
      |    UNION ALL
      |    SELECT dst, src FROM e) s
      |  JOIN deg da ON da.v = s.a
      |  JOIN deg db ON db.v = s.b),
      |agg AS (
      |  SELECT count(*) AS m,
      |         sum(CAST(dx AS HUGEINT)) AS sx,
      |         sum(CAST(dx AS HUGEINT) * dx) AS sxx,
      |         sum(CAST(dx AS HUGEINT) * dy) AS sxy
      |  FROM sym)
      |SELECT CAST(m // 2 AS BIGINT) AS n_edges,
      |       CASE WHEN m * sxx - sx * sx > 0
      |            THEN CAST((m * sxy - sx * sx) * 1000000 // (m * sxx - sx * sx) AS BIGINT)
      |       END AS assortativity_micro
      |FROM agg""".stripMargin

  /** The oriented ≥2-joint-orders co-purchase edge frame shared by the
    * graph-census family ([[partTriangles]], [[partLocalClustering]],
    * [[partKcore]]). */
  private def coPurchaseEdges(spark: SparkSession, dir: String): DataFrame =
    coPurchaseEdgesFrom(spark, Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")))

  /** DuckDB mirror of the (ok, pk) baskets: the `li` CTE, one row per
    * distinct (order, part). */
  private def basketsSql: String =
    "li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem)"

  /** DuckDB mirror of [[coPurchaseEdgesFrom]] over `li`: the (src, dst)
    * part pairs, src < dst, that share at least two orders. */
  private def coPurchaseEdgesSql: String =
    "SELECT a.pk AS src, b.pk AS dst FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk " +
      "GROUP BY 1, 2 HAVING count(*) >= 2"

  /** [[coPurchaseEdges]] over an arbitrary (ok, pk) basket frame.
    *
    * Each order folds to one row holding its sorted distinct parts,
    * `array_sort(collect_set(pk))`, and every i < j pair of that array
    * is emitted row-locally (posexplode, then explode the tail after i).
    * That is the same pair multiset as the `distinct` + self-join on
    * `ok` + `src < dst` form it replaced: the set drops repeated lines
    * and null parts as `distinct` + `<` did, sorting makes each emitted
    * pair ascending, and null orders are dropped as the equi-join did
    * (BasketPairsSpec). One shuffle (by order) instead of two before the
    * pair count. */
  private[graft] def coPurchaseEdgesFrom(
      spark: SparkSession, baskets: DataFrame): DataFrame = {
    baskets.filter(col("ok").isNotNull)
      .groupBy(col("ok"))
      .agg(array_sort(collect_set(col("pk"))).as("parts"))
      .select(col("parts"), posexplode(col("parts")).as(Seq("i", "src")))
      .select(col("src"), explode(slice(col("parts"), col("i") + 2, size(col("parts")))).as("dst"))
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("n_orders_joint"))
      .filter(col("n_orders_joint") >= 2)
      .select("src", "dst")
      .materializeOnce // feeds degrees, hop joins, and closing joins
  }

  /** Kaplan–Meier survival curve of user engagement — the churn analysis
    * [[cohortRetention]]'s fixed-grid table can't give: per observed
    * lifetime day d, the at-risk population, churn events, discrete
    * hazard, and the KM survival estimate S(d) = Π_{d'≤d}(1 − h(d')) with
    * RIGHT-CENSORING handled correctly (a user whose last event is within
    * 7 days of the corpus edge hasn't churned — they just ran out of
    * observation window; counting them as churned biases every hazard
    * up — they leave the risk set without entering any numerator).
    *
    * The KM product is sequential, but the day frame is CALENDAR-bounded
    * (≤ observation-window days at any data scale), so the curve folds in
    * one `aggregate` HOF over the collected day frame — the corpus-sized
    * work is exactly two aggregates (per-user lifespan, per-day counts).
    * Fixed-point exactness: hazard and survival in ppm; the fold's
    * integral division is (num − num mod den)/den over longs ≤ 10¹⁰ —
    * every op exact in both engines (no naked float division anywhere). */
  def userSurvivalCurve(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(col("user_id"), col("ts"))
    val per = ev.groupBy(col("user_id"))
      .agg(min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"))
    val end = ev.agg(max(col("ts")).as("obs_end"))
    val life = per.crossJoin(broadcast(end))
      .select(
        datediff(to_date(col("last_ts")), to_date(col("first_ts"))).cast("long").as("d"),
        (datediff(to_date(col("obs_end")), to_date(col("last_ts"))) < 7).as("censored"))
    val byDay = life.groupBy(col("d"))
      .agg(count(lit(1)).as("n_leaving"),
        sum(when(col("censored"), 0L).otherwise(1L)).as("n_churn"))
    val risk = byDay.withColumn("n_risk",
      sum(col("n_leaving")).over(
        Window.orderBy(col("d")).rowsBetween(Window.currentRow, Window.unboundedFollowing)))
    // the sequential KM product: fold the (bounded) day frame once; the
    // accumulator carries the running survival in ppm
    val folded = risk
      .agg(array_sort(collect_list(struct(col("d"), col("n_leaving"), col("n_churn"),
        col("n_risk")))).as("days"))
      .select(explode(aggregate(
        col("days"),
        array(struct(lit(-1L).as("d"), lit(0L).as("n_leaving"), lit(0L).as("n_churn"),
          lit(0L).as("n_risk"), lit(1000000L).as("s_ppm"))),
        (acc, x) => {
          val prev = element_at(acc, -1)("s_ppm")
          val num = prev * (x("n_risk") - x("n_churn"))
          val s = ((num - pmod(num, x("n_risk"))) / x("n_risk")).cast("long")
          concat(acc, array(struct(x("d").as("d"), x("n_leaving").as("n_leaving"),
            x("n_churn").as("n_churn"), x("n_risk").as("n_risk"), s.as("s_ppm"))))
        })).as("r"))
      .filter(col("r.d") >= 0)
    folded.select(col("r.d").as("day"), col("r.n_risk").as("n_risk"),
      col("r.n_churn").as("n_churn"), col("r.n_leaving").as("n_leaving"),
      expr("r.n_churn * 1000000 div r.n_risk").as("hazard_ppm"),
      col("r.s_ppm").as("survival_ppm"))
      .orderBy("day")
  }

  private val userSurvivalCurveSql: String =
    """WITH per AS (
      |  SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS first_ts,
      |         max(CAST(ts AS TIMESTAMP)) AS last_ts
      |  FROM events GROUP BY user_id),
      |e AS (SELECT max(CAST(ts AS TIMESTAMP)) AS obs_end FROM events),
      |life AS (
      |  SELECT CAST(date_diff('day', CAST(first_ts AS DATE), CAST(last_ts AS DATE)) AS BIGINT) AS d,
      |         date_diff('day', CAST(last_ts AS DATE), CAST(obs_end AS DATE)) < 7 AS censored
      |  FROM per CROSS JOIN e),
      |byday AS (
      |  SELECT d, count(*) AS n_leaving,
      |         sum(CASE WHEN censored THEN 0 ELSE 1 END) AS n_churn
      |  FROM life GROUP BY d),
      |risk AS (
      |  SELECT d, n_leaving, n_churn,
      |         sum(n_leaving) OVER (ORDER BY d
      |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS n_risk
      |  FROM byday),
      |km AS (
      |  WITH RECURSIVE walk(rn, d, n_leaving, n_churn, n_risk, s_ppm) AS (
      |    SELECT 0, CAST(-1 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
      |           CAST(0 AS BIGINT), CAST(1000000 AS BIGINT)
      |    UNION ALL
      |    SELECT w.rn + 1, r.d, r.n_leaving, CAST(r.n_churn AS BIGINT), r.n_risk,
      |           w.s_ppm * (r.n_risk - r.n_churn) // r.n_risk
      |    FROM walk w
      |    JOIN (SELECT *, row_number() OVER (ORDER BY d) AS rn FROM risk) r
      |      ON r.rn = w.rn + 1)
      |  SELECT * FROM walk WHERE rn > 0)
      |SELECT d AS day, CAST(n_risk AS BIGINT) AS n_risk,
      |       CAST(n_churn AS BIGINT) AS n_churn,
      |       CAST(n_leaving AS BIGINT) AS n_leaving,
      |       CAST(n_churn * 1000000 // n_risk AS BIGINT) AS hazard_ppm,
      |       CAST(s_ppm AS BIGINT) AS survival_ppm
      |FROM km
      |ORDER BY day""".stripMargin

  /** Top consecutive three-event paths — the sequence-mining companion to
    * [[eventMarkovEntropy]]'s first-order transition view: second-order
    * structure (e.g. click→click→purchase vs view→click→purchase) that a
    * Markov chain's memorylessness assumption erases. Two lags over the
    * per-user event order, one aggregate over the ≤|types|³ bounded path
    * frame, deterministic top-20 (count desc, path tie-break) — no
    * window over data, no state. */
  def eventTrigramPaths(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    Tables.events(spark, dir)
      .withColumn("e1", lag(col("event_type"), 2).over(w))
      .withColumn("e2", lag(col("event_type"), 1).over(w))
      .filter(col("e1").isNotNull)
      .groupBy(col("e1"), col("e2"), col("event_type").as("e3"))
      .agg(count(lit(1)).as("n_paths"), countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("n_paths").desc, col("e1"), col("e2"), col("e3"))
      .limit(20)
  }

  private val eventTrigramPathsSql: String =
    """WITH tr AS (
      |  SELECT user_id, event_type AS e3,
      |         lag(event_type, 2) OVER (PARTITION BY user_id ORDER BY event_id) AS e1,
      |         lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY event_id) AS e2
      |  FROM events)
      |SELECT e1, e2, e3, count(*) AS n_paths, count(DISTINCT user_id) AS n_users
      |FROM tr WHERE e1 IS NOT NULL
      |GROUP BY 1, 2, 3
      |ORDER BY n_paths DESC, e1, e2, e3
      |LIMIT 20""".stripMargin

  /** Per-node local clustering coefficient on the co-purchase graph —
    * the node-level refinement of [[partTriangles]]' single global
    * number: lcc(v) = 2·tri(v) / (d(v)·(d(v)−1)), the fraction of v's
    * neighbor pairs that are themselves connected. The DISTRIBUTION is
    * the diagnostic the global coefficient averages away: a bimodal lcc
    * (tight cliques + hub spokes) and a uniform one can share the same
    * global value. Same canonical a<b<c triangle enumeration (each
    * triangle credited to all three corners), same oriented edge frame;
    * everything past the two-hop join is node-sized. Integer end to end:
    * lcc in ppm via integral division, d ≥ 2 rows only (lcc undefined
    * on degree-1 nodes). */
  def partLocalClustering(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val edges = li.select(col("ok"), col("pk").as("src"))
      .join(li.select(col("ok"), col("pk").as("dst")), "ok")
      .filter(col("src") < col("dst"))
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("n_orders_joint"))
      .filter(col("n_orders_joint") >= 2)
      .select("src", "dst")
      .materializeOnce // feeds degrees, the two-hop join, and the closing join
    val deg = edges.select(col("src").as("v"))
      .unionAll(edges.select(col("dst").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    val tris = edges.select(col("src").as("x"), col("dst").as("y"))
      .join(edges.select(col("src").as("y"), col("dst").as("z")), "y")
      .join(edges.select(col("src").as("x"), col("dst").as("z")), Seq("x", "z"), "left_semi")
    val triPerNode = tris.select(col("x").as("v"))
      .unionAll(tris.select(col("y").as("v")))
      .unionAll(tris.select(col("z").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("n_tri"))
    deg.filter(col("d") >= 2)
      .join(triPerNode, Seq("v"), "left")
      .select(col("v").as("part_id"), col("d"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .withColumn("lcc_ppm", expr("2 * n_tri * 1000000 div (d * (d - 1))"))
      .orderBy("part_id")
  }

  private val partLocalClusteringSql: String =
    s"""WITH $basketsSql,
      |e AS (
      |  $coPurchaseEdgesSql),
      |deg AS (SELECT v, count(*) AS d
      |        FROM (SELECT src AS v FROM e UNION ALL SELECT dst FROM e)
      |        GROUP BY v),
      |tri AS (
      |  SELECT p.x, p.y, p.z
      |  FROM (SELECT e1.src AS x, e1.dst AS y, e2.dst AS z
      |        FROM e e1 JOIN e e2 ON e2.src = e1.dst) p
      |  WHERE EXISTS (SELECT 1 FROM e e3 WHERE e3.src = p.x AND e3.dst = p.z)),
      |tpn AS (
      |  SELECT v, count(*) AS n_tri
      |  FROM (SELECT x AS v FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri)
      |  GROUP BY v)
      |SELECT deg.v AS part_id, CAST(deg.d AS BIGINT) AS d,
      |       CAST(coalesce(tpn.n_tri, 0) AS BIGINT) AS n_tri,
      |       CAST(2 * coalesce(tpn.n_tri, 0) * 1000000 // (deg.d * (deg.d - 1)) AS BIGINT) AS lcc_ppm
      |FROM deg LEFT JOIN tpn ON tpn.v = deg.v
      |WHERE deg.d >= 2
      |ORDER BY part_id""".stripMargin

  /** WAU/MAU engagement — the product-analytics staple: monthly active
    * users, average weekly actives (ISO weeks assigned to the month of
    * their Monday), and the stickiness ratio avg_wau/mau. Two distinct
    * aggregates over the same scan + a month-grain join; ratios are
    * all-integer fixed-point so the report is engine-exact. */
  def eventsWauMau(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val mau = ev.groupBy(date_trunc("month", col("ts")).as("month"))
      .agg(countDistinct(col("user_id")).as("mau"))
    val weekly = ev.groupBy(date_trunc("week", col("ts")).as("week"))
      .agg(countDistinct(col("user_id")).as("wau"))
    val wm = weekly.groupBy(date_trunc("month", col("week")).as("month"))
      .agg(sum(col("wau")).as("sum_wau"), count(lit(1)).as("n_weeks"))
    // left join FROM the weekly-month frame: a boundary week whose Monday
    // falls in a month with no events of its own must still contribute to
    // n_weeks/avg_wau (mau and stickiness are NULL for such a month)
    wm.join(mau, Seq("month"), "left")
      .select(
        col("month"), col("mau"), col("n_weeks"),
        (floor(col("sum_wau") * 1e4 / col("n_weeks")) / lit(1e4)).as("avg_wau"),
        (floor(col("sum_wau") * 1e4 / (col("n_weeks") * col("mau"))) / lit(1e4))
          .as("stickiness"))
      .orderBy("month")
  }

  private val eventsWauMauSql: String =
    """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, user_id FROM events),
      |m AS (SELECT CAST(date_trunc('month', ts) AS TIMESTAMP) AS month,
      |             count(DISTINCT user_id) AS mau
      |      FROM e GROUP BY 1),
      |w AS (SELECT CAST(date_trunc('week', ts) AS TIMESTAMP) AS week,
      |             count(DISTINCT user_id) AS wau
      |      FROM e GROUP BY 1),
      |wm AS (SELECT CAST(date_trunc('month', week) AS TIMESTAMP) AS month,
      |              CAST(sum(wau) AS BIGINT) AS sum_wau,
      |              count(*) AS n_weeks
      |       FROM w GROUP BY 1)
      |SELECT wm.month, m.mau, wm.n_weeks,
      |       floor(wm.sum_wau * 1e4 / wm.n_weeks) / 1e4 AS avg_wau,
      |       floor(wm.sum_wau * 1e4 / (wm.n_weeks * m.mau)) / 1e4 AS stickiness
      |FROM wm LEFT JOIN m ON m.month = wm.month
      |ORDER BY wm.month""".stripMargin

  /** LISTAGG / ordered string aggregation: nations per region as one
    * deterministic comma-joined string. `collect_list` gives NO ordering
    * guarantee under partial aggregation — `array_sort` before the join
    * is what makes the result reproducible (the same trap as unordered
    * string_agg in any warehouse; the oracle's `ORDER BY` inside
    * string_agg is the SQL spelling of the same fix). */
  def regionNationList(spark: SparkSession, dir: String): DataFrame =
    Tables.nation(spark, dir)
      .join(broadcast(Tables.region(spark, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(
        count(lit(1)).as("n_nations"),
        array_join(array_sort(collect_list(col("n_name"))), ",").as("nations"))
      .orderBy("r_name")

  private val regionNationListSql: String =
    """SELECT r_name,
      |       count(*) AS n_nations,
      |       string_agg(n_name, ',' ORDER BY n_name) AS nations
      |FROM nation JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name
      |ORDER BY r_name""".stripMargin

  /** Welch two-sample t-statistics between every pair of regions'
    * customer balances — the A/B-comparison primitive (unequal variances,
    * no pooling) next to [[langSourceChi2]]'s categorical test. One scan
    * computes per-region DECIMAL-exact moments through the broadcast
    * dimension chain; the pair frame is |regions|² (tiny), and
    * t = (m₁−m₂)/√(v₁/n₁+v₂/n₂) with Welch–Satterthwaite df is plain
    * identical-operand double arithmetic (sqrt is IEEE-exact), rounded
    * at the end. */
  def regionAcctbalTtest(spark: SparkSession, dir: String): DataFrame = {
    val mom = Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("c_acctbal").cast("decimal(28,10)")).cast("double").as("s1"),
        sum((col("c_acctbal") * col("c_acctbal")).cast("decimal(28,10)")).cast("double").as("s2"))
      .withColumn("mean", col("s1") / col("n"))
      .withColumn("var", (col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1))
    val a = mom.select(col("r_name").as("region_a"), col("n").as("n_a"),
      col("mean").as("m_a"), col("var").as("v_a"))
    val b = mom.select(col("r_name").as("region_b"), col("n").as("n_b"),
      col("mean").as("m_b"), col("var").as("v_b"))
    a.crossJoin(broadcast(b)).filter(col("region_a") < col("region_b"))
      .withColumn("se2", col("v_a") / col("n_a") + col("v_b") / col("n_b"))
      .select(
        col("region_a"), col("region_b"), col("n_a"), col("n_b"),
        round(col("m_a") - col("m_b"), 6).as("mean_diff"),
        round((col("m_a") - col("m_b")) / sqrt(col("se2")), 6).as("t_stat"),
        round(col("se2") * col("se2") /
          (col("v_a") * col("v_a") / (col("n_a") * col("n_a") * (col("n_a") - 1)) +
            col("v_b") * col("v_b") / (col("n_b") * col("n_b") * (col("n_b") - 1))), 2)
          .as("welch_df"))
      .orderBy("region_a", "region_b")
  }

  private val regionAcctbalTtestSql: String =
    """WITH mom AS (
      |  SELECT r_name,
      |         count(*) AS n,
      |         CAST(sum(CAST(c_acctbal AS DECIMAL(28,10))) AS DOUBLE) AS s1,
      |         CAST(sum(CAST(c_acctbal * c_acctbal AS DECIMAL(28,10))) AS DOUBLE) AS s2
      |  FROM customer
      |  JOIN nation ON c_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |  GROUP BY r_name),
      |m AS (
      |  SELECT r_name, n, s1 / n AS mean,
      |         (s2 - s1 * s1 / n) / (n - 1) AS var
      |  FROM mom),
      |p AS (
      |  SELECT a.r_name AS region_a, b.r_name AS region_b,
      |         a.n AS n_a, b.n AS n_b,
      |         a.mean AS m_a, b.mean AS m_b,
      |         a.var AS v_a, b.var AS v_b,
      |         a.var / a.n + b.var / b.n AS se2
      |  FROM m a JOIN m b ON a.r_name < b.r_name)
      |SELECT region_a, region_b, n_a, n_b,
      |       round(m_a - m_b, 6) AS mean_diff,
      |       round((m_a - m_b) / sqrt(se2), 6) AS t_stat,
      |       round(se2 * se2 /
      |             (v_a * v_a / (n_a * n_a * (n_a - 1)) +
      |              v_b * v_b / (n_b * n_b * (n_b - 1))), 2) AS welch_df
      |FROM p
      |ORDER BY region_a, region_b""".stripMargin

  /** Population-stability-index drift report over the embedding labels:
    * the reference slice (even vec_id) vs the current slice (odd vec_id)
    * compared per label bucket, PSI = Σ (p−q)·ln(p/q) — the standard
    * production drift alarm for a classifier's input mix. ONE scan with
    * conditional counts (never two passes over the corpus), totals as a
    * broadcast row; per-label terms round ln to 6 (the only libm call)
    * and the PSI total runs the rounded terms through a DECIMAL window
    * sum. Labels missing from either slice emit a NULL term (excluded
    * from the sum — the epsilon-free convention, stated in the output). */
  def labelPsi(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.embeddings(spark, dir)
      .groupBy(col("label"))
      .agg(
        sum(when(pmod(col("vec_id"), lit(2)) === 0, 1L).otherwise(0L)).as("n_ref"),
        sum(when(pmod(col("vec_id"), lit(2)) === 1, 1L).otherwise(0L)).as("n_cur"))
    val tot = counts.agg(
      sum(col("n_ref")).as("t_ref"), sum(col("n_cur")).as("t_cur"))
    val term = when(col("n_ref") > 0 && col("n_cur") > 0,
      round((col("p") - col("q")) * round(log(col("p") / col("q")), 6), 9))
    counts.crossJoin(broadcast(tot))
      .withColumn("p", col("n_ref").cast("double") / col("t_ref"))
      .withColumn("q", col("n_cur").cast("double") / col("t_cur"))
      .withColumn("psi_term", term)
      .withColumn("psi_total",
        round(sum(col("psi_term").cast("decimal(28,12)"))
          .over(Window.partitionBy()).cast("double"), 6))
      .select(col("label"), col("n_ref"), col("n_cur"),
        round(col("p"), 6).as("p_ref"), round(col("q"), 6).as("p_cur"),
        col("psi_term"), col("psi_total"))
      .orderBy("label")
  }

  private val labelPsiSql: String =
    """WITH c AS (
      |  SELECT label,
      |         CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
      |         CAST(sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
      |  FROM embeddings GROUP BY label),
      |t AS (SELECT CAST(sum(n_ref) AS BIGINT) AS t_ref,
      |             CAST(sum(n_cur) AS BIGINT) AS t_cur FROM c),
      |m AS (
      |  SELECT label, n_ref, n_cur,
      |         CAST(n_ref AS DOUBLE) / t_ref AS p,
      |         CAST(n_cur AS DOUBLE) / t_cur AS q
      |  FROM c CROSS JOIN t),
      |x AS (
      |  SELECT label, n_ref, n_cur, p, q,
      |         CASE WHEN n_ref > 0 AND n_cur > 0
      |              THEN round((p - q) * round(ln(p / q), 6), 9)
      |         END AS psi_term
      |  FROM m)
      |SELECT label, n_ref, n_cur,
      |       round(p, 6) AS p_ref, round(q, 6) AS p_cur, psi_term,
      |       round(CAST(sum(CAST(psi_term AS DECIMAL(28,12))) OVER () AS DOUBLE), 6) AS psi_total
      |FROM x
      |ORDER BY label""".stripMargin

  /** RFM segmentation — the classic behavioral-cohort operator: per
    * customer recency (days since last order, as-of the corpus max date),
    * frequency (order count), monetary (exact-decimal revenue), each cut
    * into quintiles (ntile with custkey tiebreak, so tile edges are
    * engine-deterministic), plus a coarse segment label. The per-customer
    * aggregate is one shuffle on the fact; the three quintile cuts run
    * over the customer frame through [[graft.queries.GlobalWindow.ntile]]
    * (two-phase range-partitioned numbering), so even a fact-sized
    * customer dimension never hits a single-task sort. */
  def customerRfm(spark: SparkSession, dir: String): DataFrame = {
    val asof = Tables.orders(spark, dir).agg(max(col("o_orderdate")).as("asof"))
    val per = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(
        max(col("o_orderdate")).as("last_order"),
        count(lit(1)).as("frequency"),
        decSum(col("o_totalprice")).as("monetary"))
      .crossJoin(broadcast(asof))
      .withColumn("recency_days", datediff(col("asof"), col("last_order")))
      .materializeOnce // feeds the three stacked tile legs AND the final join
    // ONE grouped two-phase numbering for all three quintile cuts (r16,
    // guide §2.4): the previous fold of three GlobalWindow.ntile passes
    // range-shuffled the full (and growing) customer frame three times
    // with three eager checkpoints in strict driver sequence. The cuts
    // are independent orders over the same frame, so they stack into one
    // narrow (custkey, metric, sort-value) frame and one grouped
    // numbering. Sort-value encoding preserves each cut's exact order:
    // recency ASC is the value itself; frequency/monetary DESC negate
    // (exact — an integer count and a 2-dp-rounded double); the
    // o_custkey tiebreak is unchanged. `mv` sorts nulls last: no metric
    // is nullable today, and a null one must not take the top tile.
    val stacked = Seq(
      (0, col("recency_days").cast("double")),
      (1, -col("frequency").cast("double")),
      (2, -col("monetary")))
      .map { case (m, v) =>
        per.select(col("o_custkey"), lit(m).as("metric"), v.as("mv"))
      }.reduce(_ unionAll _)
    val tiles = GlobalWindow.groupedNtile(stacked, "metric", 5, "tile")(
      col("mv").asc_nulls_last, col("o_custkey"))
    val wide = tiles.groupBy(col("o_custkey")).agg(
      max(when(col("metric") === 0, col("tile"))).as("r_tile"),
      max(when(col("metric") === 1, col("tile"))).as("f_tile"),
      max(when(col("metric") === 2, col("tile"))).as("m_tile"))
    per.join(wide, Seq("o_custkey"))
      .withColumn("segment",
        when(col("r_tile") <= 2 && col("f_tile") <= 2 && col("m_tile") <= 2, lit("champion"))
          .when(col("r_tile") >= 4 && col("f_tile") >= 4, lit("at_risk"))
          .otherwise(lit("regular")))
      .select("o_custkey", "recency_days", "frequency", "monetary",
        "r_tile", "f_tile", "m_tile", "segment")
      .orderBy("o_custkey")
  }

  private val customerRfmSql: String =
    """WITH a AS (SELECT max(o_orderdate) AS asof FROM orders),
      |p AS (
      |  SELECT o_custkey,
      |         max(o_orderdate) AS last_order,
      |         count(*) AS frequency,
      |         round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 2) AS monetary
      |  FROM orders GROUP BY o_custkey),
      |t AS (
      |  SELECT o_custkey,
      |         date_diff('day', CAST(last_order AS DATE), CAST(a.asof AS DATE)) AS recency_days,
      |         frequency, monetary
      |  FROM p CROSS JOIN a),
      |q AS (
      |  SELECT o_custkey, CAST(recency_days AS INT) AS recency_days,
      |         CAST(frequency AS BIGINT) AS frequency, monetary,
      |         ntile(5) OVER (ORDER BY recency_days ASC, o_custkey) AS r_tile,
      |         ntile(5) OVER (ORDER BY frequency DESC, o_custkey) AS f_tile,
      |         ntile(5) OVER (ORDER BY monetary DESC, o_custkey) AS m_tile
      |  FROM t)
      |SELECT o_custkey, recency_days, frequency, monetary,
      |       r_tile, f_tile, m_tile,
      |       CASE WHEN r_tile <= 2 AND f_tile <= 2 AND m_tile <= 2 THEN 'champion'
      |            WHEN r_tile >= 4 AND f_tile >= 4 THEN 'at_risk'
      |            ELSE 'regular' END AS segment
      |FROM q
      |ORDER BY o_custkey""".stripMargin

  /** Winsorized robust statistics: mean and stddev of order totals after
    * clamping to the exact [P05, P95] band — the outlier-robust metric
    * pair a monitoring pipeline tracks next to the raw mean. Bounds are
    * one broadcast row (exact interpolated percentiles, parity proven by
    * quantity_quantiles); the clamp is a codegen'd map; the moments are
    * DECIMAL-exact sums so partial-agg order cannot perturb them, and
    * variance comes from the two-moment identity (not Welford, whose
    * accumulation order is engine-specific). */
  def ordersWinsorized(spark: SparkSession, dir: String): DataFrame = {
    val bounds = Tables.orders(spark, dir).agg(
      expr("percentile(o_totalprice, 0.05)").as("lo"),
      expr("percentile(o_totalprice, 0.95)").as("hi"))
    Tables.orders(spark, dir)
      .crossJoin(broadcast(bounds))
      .withColumn("wp", least(greatest(col("o_totalprice"), col("lo")), col("hi")))
      .agg(
        count(lit(1)).as("n"),
        round(first(col("lo")), 6).as("lo"),
        round(first(col("hi")), 6).as("hi"),
        sum(col("wp").cast("decimal(28,10)")).cast("double").as("s1"),
        sum((col("wp") * col("wp")).cast("decimal(28,10)")).cast("double").as("s2"))
      .select(
        col("n"), col("lo"), col("hi"),
        (floor(col("s1") * 1e6 / col("n")) / lit(1e6)).as("win_mean"),
        round(sqrt((col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1)), 6)
          .as("win_stddev"))
  }

  private val ordersWinsorizedSql: String =
    """WITH b AS (
      |  SELECT quantile_cont(o_totalprice, 0.05) AS lo,
      |         quantile_cont(o_totalprice, 0.95) AS hi
      |  FROM orders),
      |c AS (
      |  SELECT least(greatest(o_totalprice, lo), hi) AS wp, lo, hi
      |  FROM orders CROSS JOIN b),
      |s AS (
      |  SELECT count(*) AS n,
      |         round(any_value(lo), 6) AS lo,
      |         round(any_value(hi), 6) AS hi,
      |         CAST(sum(CAST(wp AS DECIMAL(28,10))) AS DOUBLE) AS s1,
      |         CAST(sum(CAST(wp * wp AS DECIMAL(28,10))) AS DOUBLE) AS s2
      |  FROM c)
      |SELECT n, lo, hi,
      |       floor(s1 * 1e6 / n) / 1e6 AS win_mean,
      |       round(sqrt((s2 - s1 * s1 / n) / (n - 1)), 6) AS win_stddev
      |FROM s""".stripMargin

  /** Markov entropy of the per-user event-type chain — the behavioral
    * predictability diagnostic next to [[eventTypePagerank]]'s
    * centrality: for each source state, the Shannon entropy of its
    * out-transition distribution (H = ln T − Σ c·ln c / T, the
    * sourceTokenEntropy identity — rounded-ln + DECIMAL sums), its
    * out-degree, and its share of all transitions in ppm. The empirical
    * entropy RATE of the chain is Σ share·H, recoverable exactly from
    * the output; a state whose H collapses is a funnel (one dominant next
    * step), one near ln(out-degree) is noise. Self-transitions count —
    * unlike the pagerank graph, a repeated action is signal here.
    *
    * Scale shape: per-user ordered lag (partitioned window on the
    * events scan), one enum²-keyed count aggregate, then everything is
    * |event types|-sized; the total-transitions window is over that
    * bounded frame with no ordering (no single-task sort). */
  def eventMarkovEntropy(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    val trans = Tables.events(spark, dir)
      .withColumn("src", lag(col("event_type"), 1).over(w))
      .filter(col("src").isNotNull)
      .groupBy(col("src"), col("event_type").as("dst"))
      .agg(count(lit(1)).as("c"))
    val h = trans.groupBy(col("src"))
      .agg(sum(col("c")).as("n_trans"), count(lit(1)).as("out_degree"),
        sum((col("c") * round(log(col("c").cast("double")), 6))
          .cast("decimal(28,10)")).as("sum_clnc"))
      .withColumn("h_out",
        round(round(log(col("n_trans").cast("double")), 6)
          - col("sum_clnc").cast("double") / col("n_trans"), 6))
    h.withColumn("tt", sum(col("n_trans")).over(Window.partitionBy()))
      .select(col("src"), col("n_trans"), col("out_degree"), col("h_out"),
        expr("n_trans * 1000000 div tt").as("share_micro"))
      .orderBy("src")
  }

  private val eventMarkovEntropySql: String =
    """WITH tr AS (
      |  SELECT event_type AS dst,
      |         lag(event_type) OVER (PARTITION BY user_id ORDER BY event_id) AS src
      |  FROM events),
      |c AS (SELECT src, dst, count(*) AS c FROM tr WHERE src IS NOT NULL GROUP BY 1, 2),
      |h AS (
      |  SELECT src, sum(c) AS n_trans, count(*) AS out_degree,
      |         CAST(sum(CAST(c * round(ln(CAST(c AS DOUBLE)), 6) AS DECIMAL(28,10))) AS DOUBLE) AS sum_clnc
      |  FROM c GROUP BY src),
      |f AS (
      |  SELECT src, n_trans, out_degree,
      |         round(round(ln(CAST(n_trans AS DOUBLE)), 6) - sum_clnc / n_trans, 6) AS h_out,
      |         sum(n_trans) OVER () AS tt
      |  FROM h)
      |SELECT src, CAST(n_trans AS BIGINT) AS n_trans,
      |       CAST(out_degree AS BIGINT) AS out_degree, h_out,
      |       CAST(n_trans * 1000000 // tt AS BIGINT) AS share_micro
      |FROM f ORDER BY src""".stripMargin

  /** Time-to-convert quantiles for the click→purchase funnel — the
    * latency distribution behind [[conversionFunnel]]'s rate: per user,
    * the first purchase at-or-after the first click; the p25/p50/p75/p90
    * of those latencies as EXACT k-th order statistics (k = ⌈q·n/100⌉ in
    * pure integer arithmetic, GlobalWindow global numbering — no
    * interpolated percentile for engines to disagree on). A drifting p90
    * with a stable median is the classic long-tail regression.
    *
    * Shapes: two filtered aggregates on user_id, one join, the two-phase
    * numbering, then a 4-row selection. */
  def funnelLatencyQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), unix_timestamp(col("ts")).as("es"))
    val firstClick = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id")).agg(min(col("es")).as("c_es"))
    val lat = ev.filter(col("event_type") === "purchase")
      .join(firstClick, "user_id")
      .filter(col("es") >= col("c_es"))
      .groupBy(col("user_id"), col("c_es")).agg(min(col("es")).as("p_es"))
      .select(col("user_id"), (col("p_es") - col("c_es")).as("lat_s"))
    GlobalWindow.rowNumberWithCount(lat, "rnk", "n")(col("lat_s"), col("user_id"))
      .withColumn("q", explode(array(Seq(25, 50, 75, 90).map(q => lit(q.toLong)): _*)))
      .filter(col("rnk") === expr("(n * q + 99) div 100"))
      .select(col("q").as("q_pct"), col("n").as("n_converted"), col("lat_s").as("latency_s"))
      .orderBy("q_pct")
  }

  private val funnelLatencyQuantilesSql: String =
    """WITH ev AS (
      |  SELECT user_id, event_type,
      |         CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS es
      |  FROM events),
      |fc AS (
      |  SELECT user_id, min(es) AS c_es FROM ev
      |  WHERE event_type = 'click' GROUP BY user_id),
      |lat AS (
      |  SELECT ev.user_id, min(ev.es) - fc.c_es AS lat_s
      |  FROM ev JOIN fc ON ev.user_id = fc.user_id
      |  WHERE ev.event_type = 'purchase' AND ev.es >= fc.c_es
      |  GROUP BY ev.user_id, fc.c_es),
      |r AS (
      |  SELECT lat_s,
      |         row_number() OVER (ORDER BY lat_s, user_id) AS rnk,
      |         count(*) OVER () AS n
      |  FROM lat),
      |x AS (
      |  SELECT u.q, r.n, r.lat_s
      |  FROM r, LATERAL (SELECT unnest([25, 50, 75, 90]) AS q) u
      |  WHERE r.rnk = (r.n * u.q + 99) // 100)
      |SELECT CAST(q AS BIGINT) AS q_pct,
      |       CAST(n AS BIGINT) AS n_converted,
      |       CAST(lat_s AS BIGINT) AS latency_s
      |FROM x ORDER BY q_pct""".stripMargin

  private val KmvK = 128

  /** KMV (k-minimum-values / bottom-k) distinct-user sketch per event
    * type — the third member of the value-oracled sketch tier
    * (`docs_hll_cardinality` trades all precision knobs for 256 bytes;
    * CMS answers frequencies; KMV is the one whose sketches also support
    * set INTERSECTION estimates, which HLL cannot). Estimate =
    * (k−1)·U/h_k off the k-th smallest distinct hash (Bar-Yossef et al.
    * 2002), U = 2⁶⁰ for the corpus-wide md5-derived [[DedupOps.h60]]
    * family — engine-neutral, so every register AND the estimate are
    * value-oracled, like the HLL twin and unlike native approx sketches.
    *
    * Scale shape: one (type, hash)-keyed distinct collapse (shuffle ∝
    * distinct users, with map-side partial dedup), then a per-type rank
    * that only has to FIND the k-th smallest — the sketch state is k
    * hashes per group at any scale. Exactness: the estimate numerator
    * (k−1)·2⁶⁰ exceeds BIGINT, so the division runs in DECIMAL/HUGEINT
    * and floors identically; groups with < k distinct hashes report the
    * exact count (the KMV small-set convention). The truth column is
    * named `distinct_hashes`, not "exact users", deliberately: it counts
    * distinct 60-bit [[DedupOps.h60]] values, which is the quantity the
    * sketch actually estimates — a (vanishingly unlikely) md5-prefix
    * collision between two user_ids would deflate users but not this
    * baseline, so the error column stays an honest sketch-vs-its-own-
    * hash-space comparison. */
  def userKmvDistinct(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.events(spark, dir)
    val hashes = events
      .select(col("event_type"),
        DedupOps.h60(col("user_id").cast("string")).as("h"))
      .distinct()
    val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
    val cnt = Window.partitionBy(col("event_type"))
    val num = (BigInt(KmvK - 1) * BigInt(2).pow(60)).toString
    hashes
      .withColumn("rk", row_number().over(w))
      .withColumn("n_distinct", count(lit(1)).over(cnt))
      .filter(col("rk") === least(lit(KmvK), col("n_distinct")))
      .select(col("event_type"), lit(KmvK).cast("long").as("k"),
        col("n_distinct").as("distinct_hashes"),
        when(col("n_distinct") < KmvK, col("n_distinct"))
          .otherwise(expr(s"CAST('$num' AS DECIMAL(38,0)) div h"))
          .as("kmv_est"))
      .withColumn("abs_err_ppm",
        expr("abs(kmv_est - distinct_hashes) * 1000000 div distinct_hashes"))
      .orderBy("event_type")
  }

  private val userKmvDistinctSql: String = {
    val num = (BigInt(KmvK - 1) * BigInt(2).pow(60)).toString
    s"""WITH h AS (
       |  SELECT DISTINCT event_type,
       |         CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
       |  FROM events),
       |r AS (
       |  SELECT event_type, h,
       |         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk,
       |         count(*) OVER (PARTITION BY event_type) AS n_distinct
       |  FROM h),
       |s AS (
       |  SELECT event_type, n_distinct,
       |         CASE WHEN n_distinct < $KmvK THEN n_distinct
       |              ELSE CAST(CAST('$num' AS HUGEINT) // h AS BIGINT) END AS kmv_est
       |  FROM r WHERE rk = least($KmvK, n_distinct))
       |SELECT event_type, CAST($KmvK AS BIGINT) AS k,
       |       CAST(n_distinct AS BIGINT) AS distinct_hashes,
       |       CAST(kmv_est AS BIGINT) AS kmv_est,
       |       CAST(abs(kmv_est - n_distinct) * 1000000 // n_distinct AS BIGINT)
       |         AS abs_err_ppm
       |FROM s ORDER BY event_type""".stripMargin
  }

  /** KMV sketch set-overlap between event-type audiences — the payoff
    * [[userKmvDistinct]]'s scaladoc promises: bottom-k sketches support
    * set INTERSECTION estimates (Beyer et al., SIGMOD 2007, "On synopses
    * for distinct-value estimation under multiset operations"), which
    * HLL can only reach indirectly through union inclusion-exclusion
    * (`distinct_users_hll_union`). For each unordered type pair the two
    * k=[[KmvK]] sketches combine into the union's bottom-k': est_union =
    * (k−1)·2⁶⁰/h_k' (exact when the combined sketch holds fewer than k
    * hashes), the match fraction m/k' estimates Jaccard, and est_inter =
    * m·est_union/k'. The exact hash-intersection rides along as the
    * verification anchor (the `distinct_hashes` convention: both legs
    * count 60-bit [[DedupOps.h60]] values, so the error column is a pure
    * sketch-vs-truth comparison in one hash space).
    *
    * Scale shape: the sketch path is the same ONE distinct collapse as
    * [[userKmvDistinct]] plus a per-type bottom-k (k hashes/group state
    * at any scale) followed by arithmetic on |types|²·k-row frames; the
    * exact anchor is the only data-sized leg (h-keyed self equi-join,
    * output ∝ users like `user_overlap_matrix`, never users²) and is
    * precisely what a 100 TB run drops, keeping sketches only. Pairs
    * with an empty hash intersection are absent by construction in both
    * dialects (the `user_overlap_matrix` convention). Exactness: pure
    * integer arithmetic; the estimate divisions run in DECIMAL/HUGEINT
    * and floor identically. */
  def userKmvOverlap(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.events(spark, dir)
    val hashes = events
      .select(col("event_type"),
        DedupOps.h60(col("user_id").cast("string")).as("h"))
      .distinct()
      .materializeOnce // sketches + the exact anchor share one collapse
    val sk = hashes
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("event_type")).orderBy(col("h"))))
      .filter(col("rk") <= KmvK)
      .select(col("event_type"), col("h"))
    val exact = hashes.select(col("event_type").as("type_a"), col("h"))
      .join(hashes.select(col("event_type").as("type_b"), col("h")), "h")
      .filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("exact_inter_hashes"))
      .materializeOnce // pair dim for the sketch path + the final anchor
    val pairDim = exact.select(col("type_a"), col("type_b"))
    val tagged = sk
      .select(col("event_type").as("type_a"), col("h"),
        lit(1L).as("in_a"), lit(0L).as("in_b"))
      .join(broadcast(pairDim), "type_a")
      .unionByName(sk
        .select(col("event_type").as("type_b"), col("h"),
          lit(0L).as("in_a"), lit(1L).as("in_b"))
        .join(broadcast(pairDim), "type_b"))
    val pw = Window.partitionBy(col("type_a"), col("type_b")).orderBy(col("h"))
    val pc = Window.partitionBy(col("type_a"), col("type_b"))
    val num = (BigInt(KmvK - 1) * BigInt(2).pow(60)).toString
    val scored = tagged
      .groupBy(col("type_a"), col("type_b"), col("h"))
      .agg(max(col("in_a")).as("in_a"), max(col("in_b")).as("in_b"))
      .withColumn("rk", row_number().over(pw))
      .withColumn("n_union_sk", count(lit(1)).over(pc))
      .withColumn("kk", least(lit(KmvK.toLong), col("n_union_sk")))
      .filter(col("rk") <= col("kk"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(
        max(col("kk")).as("kk"),
        max(col("n_union_sk")).as("n_union_sk"),
        max(when(col("rk") === col("kk"), col("h"))).as("hk"),
        sum(col("in_a") * col("in_b")).as("matches"))
      .withColumn("est_union",
        when(col("n_union_sk") < KmvK, col("n_union_sk"))
          .otherwise(expr(s"CAST('$num' AS DECIMAL(38,0)) div hk")))
      .withColumn("est_inter",
        expr("CAST(matches AS DECIMAL(38,0)) * est_union div kk"))
    scored.join(broadcast(exact), Seq("type_a", "type_b"))
      .select(col("type_a"), col("type_b"), lit(KmvK).cast("long").as("k"),
        col("n_union_sk"), col("matches"), col("est_union"), col("est_inter"),
        expr("matches * 1000000 div kk").as("jaccard_est_ppm"),
        col("exact_inter_hashes"),
        expr("abs(est_inter - exact_inter_hashes) * 1000000 div exact_inter_hashes")
          .as("err_ppm"))
      .orderBy("type_a", "type_b")
  }

  private val userKmvOverlapSql: String = {
    val num = (BigInt(KmvK - 1) * BigInt(2).pow(60)).toString
    s"""WITH h AS (
       |  SELECT DISTINCT event_type,
       |         CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
       |  FROM events),
       |sk AS (
       |  SELECT event_type, h FROM (
       |    SELECT event_type, h,
       |           row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
       |    FROM h) WHERE rk <= $KmvK),
       |x AS (
       |  SELECT a.event_type AS type_a, b.event_type AS type_b,
       |         count(*) AS exact_inter_hashes
       |  FROM h a JOIN h b ON a.h = b.h AND a.event_type < b.event_type
       |  GROUP BY 1, 2),
       |tagged AS (
       |  SELECT e.type_a, e.type_b, s.h, 1 AS in_a, 0 AS in_b
       |  FROM sk s JOIN x e ON s.event_type = e.type_a
       |  UNION ALL
       |  SELECT e.type_a, e.type_b, s.h, 0 AS in_a, 1 AS in_b
       |  FROM sk s JOIN x e ON s.event_type = e.type_b),
       |u AS (
       |  SELECT type_a, type_b, h, max(in_a) AS in_a, max(in_b) AS in_b
       |  FROM tagged GROUP BY 1, 2, 3),
       |r AS (
       |  SELECT *, row_number() OVER (PARTITION BY type_a, type_b ORDER BY h) AS rk,
       |         count(*) OVER (PARTITION BY type_a, type_b) AS n_union_sk
       |  FROM u),
       |s AS (
       |  SELECT type_a, type_b,
       |         max(least($KmvK, n_union_sk)) AS kk,
       |         max(n_union_sk) AS n_union_sk,
       |         max(CASE WHEN rk = least($KmvK, n_union_sk) THEN h END) AS hk,
       |         sum(in_a * in_b) AS matches
       |  FROM r WHERE rk <= least($KmvK, n_union_sk)
       |  GROUP BY 1, 2),
       |est AS (
       |  SELECT type_a, type_b, kk, n_union_sk, matches,
       |         CASE WHEN n_union_sk < $KmvK THEN n_union_sk
       |              ELSE CAST(CAST('$num' AS HUGEINT) // hk AS BIGINT) END AS est_union
       |  FROM s),
       |e2 AS (
       |  SELECT *, CAST(CAST(matches AS HUGEINT) * est_union // kk AS BIGINT)
       |           AS est_inter
       |  FROM est)
       |SELECT e2.type_a, e2.type_b, CAST($KmvK AS BIGINT) AS k,
       |       CAST(e2.n_union_sk AS BIGINT) AS n_union_sk,
       |       CAST(e2.matches AS BIGINT) AS matches,
       |       CAST(e2.est_union AS BIGINT) AS est_union,
       |       e2.est_inter,
       |       CAST(e2.matches * 1000000 // e2.kk AS BIGINT) AS jaccard_est_ppm,
       |       CAST(x.exact_inter_hashes AS BIGINT) AS exact_inter_hashes,
       |       CAST(abs(e2.est_inter - x.exact_inter_hashes) * 1000000
       |            // x.exact_inter_hashes AS BIGINT) AS err_ppm
       |FROM e2 JOIN x ON x.type_a = e2.type_a AND x.type_b = e2.type_b
       |ORDER BY e2.type_a, e2.type_b""".stripMargin
  }

  private val HistBins = 256

  /** Histogram quantile sketch over the event value stream — the
    * QUANTILE member of the sketch tier (HLL answers cardinality, CMS
    * frequency, KMV distinct-with-intersection; none answers "what is
    * p99?"). [[HistBins]] equi-width bins over the observed [min,max]
    * give a fixed-size mergeable summary; each requested centile is
    * answered by locating its rank's bin and interpolating linearly
    * inside it. The exact k-th order statistic (same ⌈q·n/100⌉ rank rule
    * as `funnel_latency_quantiles`) rides along as the verification
    * anchor, with the histogram guarantee made checkable: the estimate
    * and the true order statistic share a bin, so `within_bin` (|err| ≤
    * that bin's width) must be TRUE on every row.
    *
    * Scale shape: the sketch path is two scans (min/max/count, then the
    * bin histogram — both map-side partial) and arithmetic on a
    * [[HistBins]]-row frame; the cumsum runs on that bounded frame. The
    * exact anchor is the only sorted data-sized leg (GlobalWindow
    * two-phase numbering) and is what a 100 TB run drops — production
    * keeps the histogram, which merges across partitions/days for free.
    * Exactness: values quantize to micro-unit BIGINTs via floor (no
    * half-case round), every boundary and interpolation is integer
    * division — no float anywhere. */
  def valueHistQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.events(spark, dir)
    val qPcts = Seq(25L, 50L, 75L, 90L, 99L)
    val v = events
      .filter(col("value").isNotNull)
      .select(col("event_id"), floor(col("value") * 1e6).cast("long").as("v"))
      .materializeOnce // stats scan + histogram + the exact anchor
    val mm = v.agg(min(col("v")).as("vmin"), max(col("v")).as("vmax"),
      count(lit(1)).as("n"))
    val hist = v.crossJoin(broadcast(mm))
      .withColumn("bin", expr(s"(v - vmin) * $HistBins div (vmax - vmin + 1)"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("c"))
    val cum = hist
      .withColumn("cum", sum(col("c")).over(Window.orderBy(col("bin"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("cum_before", col("cum") - col("c"))
    val est = cum.crossJoin(broadcast(mm))
      .withColumn("w", col("vmax") - col("vmin") + 1)
      .withColumn("q", explode(array(qPcts.map(lit): _*)))
      .withColumn("r", expr("(n * q + 99) div 100"))
      .filter(col("cum_before") < col("r") && col("r") <= col("cum"))
      .withColumn("lo", col("vmin") + expr(s"bin * w div $HistBins"))
      .withColumn("width",
        expr(s"(bin + 1) * w div $HistBins") - expr(s"bin * w div $HistBins"))
      .withColumn("est", col("lo") + expr("(r - cum_before - 1) * width div c"))
    val exact = GlobalWindow
      .rowNumberWithCount(v, "rnk", "nn")(col("v"), col("event_id"))
      .withColumn("q", explode(array(qPcts.map(lit): _*)))
      .filter(col("rnk") === expr("(nn * q + 99) div 100"))
      .select(col("q"), col("v").as("exact_v"))
    est.join(exact, Seq("q"))
      .select(col("q").as("q_pct"), col("n"), col("bin"),
        col("c").as("bin_count"), col("width").as("bin_width"),
        col("est").as("est_micro"), col("exact_v").as("exact_micro"),
        abs(col("est") - col("exact_v")).as("abs_err"),
        (abs(col("est") - col("exact_v")) <= col("width")).as("within_bin"))
      .orderBy("q_pct")
  }

  private val valueHistQuantilesSql: String =
    s"""WITH v AS (
       |  SELECT event_id, CAST(floor(value * 1e6) AS BIGINT) AS v
       |  FROM events WHERE value IS NOT NULL),
       |mm AS (SELECT min(v) AS vmin, max(v) AS vmax, count(*) AS n FROM v),
       |b AS (
       |  SELECT (v.v - mm.vmin) * $HistBins // (mm.vmax - mm.vmin + 1) AS bin
       |  FROM v, mm),
       |hist AS (SELECT bin, count(*) AS c FROM b GROUP BY bin),
       |cum AS (
       |  SELECT bin, c,
       |         sum(c) OVER (ORDER BY bin
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM hist),
       |qs AS (
       |  SELECT qq.q, mm.n, cum.bin, cum.c, cum.cum - cum.c AS cum_before,
       |         mm.vmin, mm.vmax - mm.vmin + 1 AS w,
       |         (mm.n * qq.q + 99) // 100 AS r
       |  FROM cum, mm, (SELECT unnest([25, 50, 75, 90, 99]) AS q) qq
       |  WHERE cum.cum - cum.c < (mm.n * qq.q + 99) // 100
       |    AND (mm.n * qq.q + 99) // 100 <= cum.cum),
       |e2 AS (
       |  SELECT q, n, bin, c, cum_before,
       |         (bin + 1) * w // $HistBins - bin * w // $HistBins AS width,
       |         vmin + bin * w // $HistBins
       |           + (r - cum_before - 1)
       |             * ((bin + 1) * w // $HistBins - bin * w // $HistBins) // c
       |           AS est
       |  FROM qs),
       |ex AS (
       |  SELECT qq.q AS q, r2.v AS exact_v
       |  FROM (SELECT v, event_id,
       |               row_number() OVER (ORDER BY v, event_id) AS rnk,
       |               count(*) OVER () AS nn
       |        FROM v) r2,
       |       (SELECT unnest([25, 50, 75, 90, 99]) AS q) qq
       |  WHERE r2.rnk = (r2.nn * qq.q + 99) // 100)
       |SELECT CAST(e2.q AS BIGINT) AS q_pct, CAST(e2.n AS BIGINT) AS n,
       |       CAST(e2.bin AS BIGINT) AS bin, CAST(e2.c AS BIGINT) AS bin_count,
       |       CAST(e2.width AS BIGINT) AS bin_width,
       |       CAST(e2.est AS BIGINT) AS est_micro,
       |       CAST(ex.exact_v AS BIGINT) AS exact_micro,
       |       CAST(abs(e2.est - ex.exact_v) AS BIGINT) AS abs_err,
       |       abs(e2.est - ex.exact_v) <= e2.width AS within_bin
       |FROM e2 JOIN ex ON ex.q = e2.q
       |ORDER BY q_pct""".stripMargin

  private val RangeBuckets = 32

  /** Range-partition plan for the orders fact keyed on total price — the
    * boundary table a `repartitionByRange`/write-side layout job needs:
    * [[RangeBuckets]] equi-depth buckets (the SQL-standard ntile rule)
    * with each bucket's key bounds, row count, and key-space width. The
    * width column is the point: equi-DEPTH bounds on a skewed key give
    * wildly unequal widths, which is exactly why range layout beats
    * fixed-width bucketing for min/max file skipping.
    *
    * Scale shape: the ntile runs through [[GlobalWindow]]'s two-phase
    * range-partitioned numbering (no single-task global sort — the same
    * machinery `orders_zorder_keys`' layout sibling relies on), then one
    * [[RangeBuckets]]-row aggregate. Price is exact integer cents;
    * every output is BIGINT. */
  def ordersRangePartitionPlan(spark: SparkSession, dir: String): DataFrame = {
    val keyed = Tables.orders(spark, dir)
      .select(col("o_orderkey"),
        (col("o_totalprice").cast("decimal(18,6)") * 100)
          .cast("long").as("cents"))
    GlobalWindow.ntile(keyed, RangeBuckets, "bucket")(
      col("cents"), col("o_orderkey"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("cents")).as("lo_cents"), max(col("cents")).as("hi_cents"))
      .withColumn("width_cents", col("hi_cents") - col("lo_cents"))
      .select(col("bucket").cast("long").as("bucket"), col("n_rows"),
        col("lo_cents"), col("hi_cents"), col("width_cents"))
      .orderBy("bucket")
  }

  private val ordersRangePartitionPlanSql: String =
    s"""WITH k AS (
       |  SELECT o_orderkey,
       |         CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100 AS BIGINT) AS cents
       |  FROM orders),
       |t AS (
       |  SELECT cents,
       |         ntile($RangeBuckets) OVER (ORDER BY cents, o_orderkey) AS bucket
       |  FROM k)
       |SELECT CAST(bucket AS BIGINT) AS bucket,
       |       count(*) AS n_rows,
       |       min(cents) AS lo_cents, max(cents) AS hi_cents,
       |       max(cents) - min(cents) AS width_cents
       |FROM t GROUP BY bucket ORDER BY bucket""".stripMargin

  private val LpaRounds = 4

  /** Label-propagation communities over the co-purchase graph — the
    * community-DETECTION member of the graph family ([[partKcore]] finds
    * the dense core, `dedup_components` finds connectivity; LPA finds
    * assortment clusters — "parts bought together" merchandising
    * groups): [[LpaRounds]] semi-synchronous rounds where every node
    * adopts the most frequent label among its neighbors, ties broken by
    * SMALLEST label (Raghavan et al. 2007; the deterministic tie-break
    * replaces the paper's random one so both engines — and any two
    * cluster runs — agree bit-for-bit). The fixed round count is the
    * scale contract: near-convergence in O(5) rounds is LPA's known
    * behavior, and a data-dependent stopping rule would make cost
    * unpredictable at 100 TB.
    *
    * Scale shape: per round ONE node-sized equi-join (neighbor labels)
    * + one grouped count + a per-node argmax window — all shuffles keyed
    * by node, nothing ever pairs-sized; rounds localCheckpoint (the
    * k-core lineage-truncation rationale). Labels are node ids, counts
    * integers — no float anywhere. */
  def partLabelPropagation(spark: SparkSession, dir: String): DataFrame = {
    val (_, _, labels) = lpaState(spark, dir)
    val sizes = labels.groupBy(col("lbl"))
      .agg(count(lit(1)).as("community_size"))
    labels.join(sizes, Seq("lbl"))
      .select(col("v").as("part_id"), col("lbl").as("community"),
        col("community_size"))
      .orderBy("part_id")
  }

  /** The (edges, undirected-adjacency, final-labels) triple behind the
    * LPA family ([[partLabelPropagation]], [[partCommunityModularity]]).
    * Labels come out checkpoint-truncated, safe to reference many times. */
  private def lpaState(
      spark: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) =
    lpaStateFrom(coPurchaseEdges(spark, dir))

  /** DuckDB mirror of [[lpaState]]: CTEs li, e0 (edges), und (both
    * directions), and the label rounds l0..l<LpaRounds>. */
  private def lpaStateCtes: String = {
    val rounds = (1 to LpaRounds).map { i =>
      s"""l$i AS MATERIALIZED (
         |  SELECT v, nl AS lbl FROM (
         |    SELECT v, nl, row_number() OVER (PARTITION BY v
         |                    ORDER BY c DESC, nl) AS rn
         |    FROM (SELECT und.v, l${i - 1}.lbl AS nl, count(*) AS c
         |          FROM und JOIN l${i - 1} ON l${i - 1}.v = und.u
         |          GROUP BY 1, 2))
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""$basketsSql,
       |e0 AS MATERIALIZED (
       |  $coPurchaseEdgesSql),
       |und AS MATERIALIZED (
       |  SELECT src AS v, dst AS u FROM e0
       |  UNION ALL SELECT dst AS v, src AS u FROM e0),
       |l0 AS MATERIALIZED (SELECT DISTINCT v, v AS lbl FROM und),
       |$rounds""".stripMargin
  }

  private def lpaStateFrom(
      edges0: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val edges = edges0
    // r16 (guide §2.4 remove shuffles / §3.1 join strategy, A/B-settled):
    // each round keeps its eager localCheckpoint (the measured-fastest
    // form: a fully lazy 4-round chain re-planned per AQE stage and ran
    // ~1.2× slower on the family bench), but the round pipeline now
    //   - repartitions ONCE on hash(v, n) right after the join — the
    //     clustering both the grouped count AND the argmax window need —
    //     instead of letting the planner shuffle hash(v, nl) for the
    //     aggregate and hash(v) again for the window (a checkpoint scan
    //     reads back as UnknownPartitioning under AQE, so partitioning
    //     can never carry across rounds; merging the two post-join
    //     exchanges into one is what IS winnable per round);
    //   - hints SHUFFLE_HASH on the node-sized label side (checkpoint
    //     scans carry no size stats, so the planner defaulted to
    //     sort-merge and re-sorted the adjacency every round);
    //   - pins the adjacency's fan-out to an explicit hash(u, n) (its
    //     join-key side) rather than leaving the union at scan layout.
    // Explicit numPartitions so AQE cannot coalesce one join side and
    // break co-partitioning within a round. Integer counts and a
    // deterministic tie-break: partitioning cannot perturb any value.
    val n = edges0.sparkSession.sessionState.conf.numShufflePartitions
    val und = edges.select(col("src").as("v"), col("dst").as("u"))
      .unionAll(edges.select(col("dst").as("v"), col("src").as("u")))
      .repartition(n, col("u"))
      .localCheckpoint(true)
    var labels = und.select(col("v")).distinct().withColumn("lbl", col("v"))
    for (_ <- 1 to LpaRounds) {
      // row_number window, NOT max_by (r15 A/B): max_by's struct-typed
      // ordering buffer forces SortAggregate (no partial group-limit),
      // which measured slower than this window — Spark executes the
      // rank-1 filter with a partial WindowGroupLimit before the shuffle
      val w = Window.partitionBy(col("v")).orderBy(col("c").desc, col("nl"))
      labels = und
        .join(labels.select(col("v").as("u"), col("lbl").as("nl"))
          .hint("shuffle_hash"), Seq("u"))
        .repartition(n, col("v"))
        .groupBy(col("v"), col("nl")).agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("v"), col("nl").as("lbl"))
        // unconditional truncation: each round references the previous
        // once but the chain still compounds 4 window+join layers — the
        // k-core plan-growth rationale at smaller exponent (and the
        // lazy form A/B-measured slower, see above)
        .localCheckpoint(true)
    }
    (edges, und, labels)
  }

  /** Newman modularity of [[partLabelPropagation]]'s communities — the
    * quality score that makes the LPA output actionable: Q = Σ_c [L_c/m −
    * (d_c/2m)²] (Newman & Girvan 2004), per-community contributions
    * emitted as exact-integer ppm terms (4m·L_c − d_c²)·10⁶/(4m²) plus
    * the global Q from the untruncated numerator sum. A near-zero or
    * negative contribution flags a community the fixed-round LPA failed
    * to separate — the convergence check the fixed round-count contract
    * otherwise lacks.
    *
    * Scale shape: on top of the LPA rounds this adds only node-keyed
    * joins (labels onto edges/degrees) and community-sized aggregates;
    * the one-row m/global-sum frames broadcast onto the community frame.
    * Exactness: pure integer counts; both ppm divisions run in
    * DECIMAL/HUGEINT and truncate toward zero identically. */
  def partCommunityModularity(spark: SparkSession, dir: String): DataFrame =
    partCommunityModularityFrom(coPurchaseEdges(spark, dir))

  /** [[partCommunityModularity]] over an arbitrary co-purchase edge
    * frame: the LPA rounds plus the
    * node-keyed label joins are the data-sized stages, the community
    * fold and ppm arithmetic run on the community frame. */
  private[graft] def partCommunityModularityFrom(edges0: DataFrame): DataFrame = {
    val (edges, und, labels) = lpaStateFrom(edges0)
    val mF = edges.agg(count(lit(1)).as("m"))
    val deg = und.groupBy(col("v")).agg(count(lit(1)).as("d"))
    val dSum = labels.join(deg, Seq("v"))
      .groupBy(col("lbl"))
      .agg(count(lit(1)).as("community_size"), sum(col("d")).as("degree_sum"))
    val internal = edges
      // SHUFFLE_HASH on the node-sized label sides (r16, guide §3.1):
      // checkpoint scans carry no size stats, so the planner defaulted
      // to sort-merge and sorted the edge frame twice per query
      .join(labels.select(col("v").as("src"), col("lbl").as("ls"))
        .hint("shuffle_hash"), Seq("src"))
      .join(labels.select(col("v").as("dst"), col("lbl").as("ld"))
        .hint("shuffle_hash"), Seq("dst"))
      .filter(col("ls") === col("ld"))
      .groupBy(col("ls"))
      .agg(count(lit(1)).as("internal_edges"))
      .select(col("ls").as("lbl"), col("internal_edges"))
    val per = dSum.join(internal, Seq("lbl"), "left")
      .withColumn("internal_edges", coalesce(col("internal_edges"), lit(0L)))
      .crossJoin(broadcast(mF))
      .withColumn("num",
        expr("4 * m * internal_edges - degree_sum * degree_sum"))
      .withColumn("contribution_ppm",
        expr("CAST(num AS DECIMAL(38,0)) * 1000000" +
          " div (4 * CAST(m AS DECIMAL(38,0)) * m)"))
    val tot = per
      .agg(sum(col("num")).as("tnum"), max(col("m")).as("mm"))
      .select(expr("CAST(tnum AS DECIMAL(38,0)) * 1000000" +
        " div (4 * CAST(mm AS DECIMAL(38,0)) * mm)").as("q_total_ppm"))
    per.crossJoin(broadcast(tot))
      .select(col("lbl").as("community"), col("community_size"),
        col("degree_sum"), col("internal_edges"), col("m").as("n_edges"),
        col("contribution_ppm"), col("q_total_ppm"))
      .orderBy("community")
  }

  private val partCommunityModularitySql: String =
    s"""WITH $lpaStateCtes,
       |mf AS (SELECT count(*) AS m FROM e0),
       |deg AS (SELECT v, count(*) AS d FROM und GROUP BY v),
       |ds AS (
       |  SELECT l.lbl, count(*) AS community_size, sum(deg.d) AS degree_sum
       |  FROM l$LpaRounds l JOIN deg ON deg.v = l.v
       |  GROUP BY l.lbl),
       |inte AS (
       |  SELECT ls.lbl AS lbl, count(*) AS internal_edges
       |  FROM e0
       |  JOIN l$LpaRounds ls ON ls.v = e0.src
       |  JOIN l$LpaRounds ld ON ld.v = e0.dst
       |  WHERE ls.lbl = ld.lbl
       |  GROUP BY 1),
       |per AS (
       |  SELECT ds.lbl, ds.community_size, ds.degree_sum,
       |         coalesce(inte.internal_edges, 0) AS internal_edges,
       |         mf.m,
       |         4 * mf.m * coalesce(inte.internal_edges, 0)
       |           - ds.degree_sum * ds.degree_sum AS num
       |  FROM ds LEFT JOIN inte ON inte.lbl = ds.lbl CROSS JOIN mf),
       |tot AS (
       |  SELECT CAST(CAST(sum(num) AS HUGEINT) * 1000000
       |              // (4 * CAST(max(m) AS HUGEINT) * max(m)) AS BIGINT)
       |           AS q_total_ppm
       |  FROM per)
       |SELECT per.lbl AS community,
       |       CAST(per.community_size AS BIGINT) AS community_size,
       |       CAST(per.degree_sum AS BIGINT) AS degree_sum,
       |       CAST(per.internal_edges AS BIGINT) AS internal_edges,
       |       CAST(per.m AS BIGINT) AS n_edges,
       |       CAST(CAST(per.num AS HUGEINT) * 1000000
       |            // (4 * CAST(per.m AS HUGEINT) * per.m) AS BIGINT)
       |         AS contribution_ppm,
       |       tot.q_total_ppm
       |FROM per CROSS JOIN tot
       |ORDER BY community""".stripMargin

  private val partLabelPropagationSql: String =
    s"""WITH $lpaStateCtes,
       |s AS (SELECT lbl, count(*) AS community_size FROM l$LpaRounds GROUP BY lbl)
       |SELECT l.v AS part_id, l.lbl AS community,
       |       CAST(s.community_size AS BIGINT) AS community_size
       |FROM l$LpaRounds l JOIN s USING (lbl)
       |ORDER BY part_id""".stripMargin

  /** Exact Gini coefficient of per-customer revenue + top-decile share —
    * the inequality summary behind "what fraction of revenue rides on
    * how few customers" (and, in a training-data pipeline, the same
    * statistic over per-source token counts is the mixture-concentration
    * gauge). Uses the rank-sum identity
    * G = (2·Σ i·x_(i) − (n+1)·Σx) / (n·Σx) over the ASCENDING revenue
    * order — the O(n log n) closed form of the O(n²) mean-absolute-
    * difference definition, the same rank-sum trick [[classifier_auc]]
    * uses for AUC.
    *
    * Scale shape: the fact collapses to one row per customer first
    * (the only data-sized shuffle); the global ascending rank is
    * [[GlobalWindow.rowNumberWithCount]]'s two-phase range numbering —
    * never a single-task sort — and the finale is a one-row aggregate.
    * Exactness: revenues are exact micro-unit BIGINTs, the rank-weighted
    * sum accumulates in DECIMAL(38,0), and both reported ratios are
    * cross-multiplied truncating integer divisions. Tiebreak (x, custkey)
    * makes the numbering unique, and the rank-sum identity is
    * tie-invariant anyway (any order within a tie group yields the same
    * Σ i·x when the x are equal). */
  def customerGini(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg((sum(col("o_totalprice").cast("decimal(18,6)")) * 1000000)
        .cast("decimal(38,0)").cast("long").as("x_micro"))
    val ranked = GlobalWindow.rowNumberWithCount(rev, "rn", "n")(
      col("x_micro"), col("o_custkey"))
    ranked.agg(
        max(col("n")).as("n_customers"),
        sum(col("x_micro")).as("sx"),
        sum(col("rn").cast("decimal(38,0)") * col("x_micro")).as("six"),
        sum(when(col("rn") > col("n") - floor(col("n") / 10),
          col("x_micro")).otherwise(lit(0L))).as("top_decile"))
      .select(col("n_customers"), col("sx").as("rev_sum_micro"),
        expr("CAST((2 * six - (n_customers + 1) * CAST(sx AS DECIMAL(38,0)))" +
          " * 1000000 div (CAST(n_customers AS DECIMAL(38,0)) * sx) AS LONG)")
          .as("gini_ppm"),
        expr("CAST(CAST(top_decile AS DECIMAL(38,0)) * 1000000" +
          " div CAST(sx AS DECIMAL(38,0)) AS LONG)").as("top_decile_ppm"))
  }

  private val customerGiniSql: String =
    """WITH rev AS (
      |  SELECT o_custkey,
      |         CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS x_micro
      |  FROM orders GROUP BY o_custkey),
      |ranked AS (
      |  SELECT x_micro,
      |         row_number() OVER (ORDER BY x_micro, o_custkey) AS rn,
      |         count(*) OVER () AS n
      |  FROM rev),
      |agg AS (
      |  SELECT max(n) AS n_customers, sum(x_micro) AS sx,
      |         sum(CAST(rn AS HUGEINT) * x_micro) AS six,
      |         sum(CASE WHEN rn > n - (n // 10) THEN x_micro ELSE 0 END) AS top_decile
      |  FROM ranked)
      |SELECT CAST(n_customers AS BIGINT) AS n_customers,
      |       CAST(sx AS BIGINT) AS rev_sum_micro,
      |       CAST((2 * six - (n_customers + 1) * CAST(sx AS HUGEINT)) * 1000000
      |            // (CAST(n_customers AS HUGEINT) * sx) AS BIGINT) AS gini_ppm,
      |       CAST(CAST(top_decile AS HUGEINT) * 1000000
      |            // CAST(sx AS HUGEINT) AS BIGINT) AS top_decile_ppm
      |FROM agg""".stripMargin

  /** Laspeyres / Paasche / Fisher price indices by order year — the
    * index-number family (the CPI construction): how much the SAME
    * basket costs each year. Per (year, part) the unit price is the
    * exact micro ratio Σprice div Σqty; Laspeyres weights every year's
    * prices by the BASE year's (1995) quantities, Paasche by the
    * current year's, Fisher is their geometric mean — the three answers
    * to "whose basket", quoted together because their spread measures
    * substitution bias. Only parts traded in both years enter a year's
    * index (the matched-basket rule).
    *
    * Scale shape: one (year, part) aggregate over the fact join is the
    * only data-sized shuffle; the base-year frame is part-dimension-
    * sized and joins by partkey; per-year output. Exactness: unit
    * prices and both index ratios are truncating integer divisions of
    * DECIMAL(38,0) sums; Fisher is floor(sqrt) of the exact ppm product
    * (identical IEEE sqrt both engines). */
  def partPriceIndex(spark: SparkSession, dir: String): DataFrame = {
    val py = Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(year(col("o_orderdate")).as("yr"), col("l_partkey"))
      .agg(sum(col("l_quantity").cast("decimal(38,0)")).as("q"),
        (sum(col("l_extendedprice").cast("decimal(18,6)")) * 1000000)
          .cast("decimal(38,0)").as("sp"))
      .withColumn("p", expr("sp div q")) // exact micro unit price
      .materializeOnce // base frame and every year's frame read it
    val base = py.filter(col("yr") === 1995)
      .select(col("l_partkey"), col("p").as("p0"), col("q").as("q0"))
    py.join(base, Seq("l_partkey"))
      .groupBy(col("yr"))
      .agg(count(lit(1)).as("n_parts"),
        sum(col("p") * col("q0")).as("ptq0"),
        sum(col("p0") * col("q0")).as("p0q0"),
        sum(col("p") * col("q")).as("ptqt"),
        sum(col("p0") * col("q")).as("p0qt"))
      .select(col("yr"), col("n_parts"),
        expr("ptq0 * 1000000 div p0q0").as("laspeyres_ppm"),
        expr("ptqt * 1000000 div p0qt").as("paasche_ppm"))
      .withColumn("fisher_ppm",
        floor(sqrt((col("laspeyres_ppm") * col("paasche_ppm")).cast("double")))
          .cast("long"))
      .orderBy("yr")
  }

  private val partPriceIndexSql: String =
    """WITH py AS (
      |  SELECT CAST(year(o_orderdate) AS INT) AS yr, l_partkey,
      |         CAST(sum(CAST(l_quantity AS HUGEINT)) AS HUGEINT) AS q,
      |         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) * 1000000 AS HUGEINT) AS sp
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  GROUP BY 1, 2),
      |p AS (SELECT yr, l_partkey, q, sp // q AS p FROM py),
      |base AS (SELECT l_partkey, p AS p0, q AS q0 FROM p WHERE yr = 1995),
      |j AS (
      |  SELECT p.yr, count(*) AS n_parts,
      |         sum(p.p * b.q0) AS ptq0, sum(b.p0 * b.q0) AS p0q0,
      |         sum(p.p * p.q) AS ptqt, sum(b.p0 * p.q) AS p0qt
      |  FROM p JOIN base b USING (l_partkey)
      |  GROUP BY p.yr)
      |SELECT yr, CAST(n_parts AS BIGINT) AS n_parts,
      |       CAST(ptq0 * 1000000 // p0q0 AS BIGINT) AS laspeyres_ppm,
      |       CAST(ptqt * 1000000 // p0qt AS BIGINT) AS paasche_ppm,
      |       CAST(floor(sqrt(CAST((ptq0 * 1000000 // p0q0)
      |            * (ptqt * 1000000 // p0qt) AS DOUBLE))) AS BIGINT) AS fisher_ppm
      |FROM j ORDER BY yr""".stripMargin

  /** Net revenue retention by acquisition cohort — the REVENUE-weighted
    * twin of [[cohortRetention]]'s user counts (the SaaS board metric:
    * a cohort can retain 80% of users yet >100% of revenue if the
    * stayers expand): cohort = each customer's first-order month;
    * NRR(cohort, m) = that cohort's month-m revenue as a fraction of
    * its month-0 revenue, exact ppm. Months index arithmetically
    * (y·12 + m), immune to month-length quirks.
    *
    * Scale shape: one customer-keyed cohort assignment (min aggregate),
    * one (cohort, month) revenue collapse, then a cohort-keyed join of
    * that tiny frame to its own month-0 row — never a data-sized
    * self-join. Exactness: revenues are DECIMAL-summed micro integers;
    * NRR is one cross-multiplied truncating division. */
  def customerCohortNrr(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_custkey"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).as("mi"),
        col("o_totalprice"))
      .materializeOnce // cohort assignment and revenue collapse share it
    val cohort = o.groupBy(col("o_custkey")).agg(min(col("mi")).as("c0"))
    val rev = o.join(cohort, Seq("o_custkey"))
      .groupBy(col("c0"), (col("mi") - col("c0")).as("months_since"))
      .agg(countDistinct(col("o_custkey")).as("n_active"),
        (sum(col("o_totalprice").cast("decimal(18,6)")) * 1000000)
          .cast("decimal(38,0)").as("rev"))
    val base = rev.filter(col("months_since") === 0)
      .select(col("c0"), col("rev").as("rev0"))
    rev.join(base, Seq("c0"))
      .select(col("c0").cast("long").as("cohort_mi"),
        col("months_since").cast("long").as("months_since"),
        col("n_active"), col("rev").cast("long").as("rev_micro"),
        expr("rev * 1000000 div rev0").as("nrr_ppm"))
      .orderBy("cohort_mi", "months_since")
  }

  private val customerCohortNrrSql: String =
    """WITH o AS (
      |  SELECT o_custkey,
      |         year(o_orderdate) * 12 + month(o_orderdate) AS mi,
      |         o_totalprice
      |  FROM orders),
      |c AS (SELECT o_custkey, min(mi) AS c0 FROM o GROUP BY o_custkey),
      |rev AS (
      |  SELECT c.c0, o.mi - c.c0 AS months_since,
      |         count(DISTINCT o.o_custkey) AS n_active,
      |         CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,6))) * 1000000 AS HUGEINT) AS rev
      |  FROM o JOIN c USING (o_custkey)
      |  GROUP BY 1, 2),
      |b AS (SELECT c0, rev AS rev0 FROM rev WHERE months_since = 0)
      |SELECT CAST(rev.c0 AS BIGINT) AS cohort_mi,
      |       CAST(rev.months_since AS BIGINT) AS months_since,
      |       CAST(n_active AS BIGINT) AS n_active,
      |       CAST(rev AS BIGINT) AS rev_micro,
      |       CAST(rev * 1000000 // rev0 AS BIGINT) AS nrr_ppm
      |FROM rev JOIN b USING (c0)
      |ORDER BY cohort_mi, months_since""".stripMargin

  /** Herfindahl–Hirschman revenue concentration per customer nation —
    * the antitrust-grade concentration number beside [[customerGini]]'s
    * inequality and `supplier_pareto`'s cumulative-share table: HHI =
    * Σ share², emitted in exact ppm via the cross-multiplied form
    * Σ r_i²·10⁶ div (Σ r_i)², plus the effective competitor count
    * 1/HHI (in thousandths) — "this nation's revenue behaves as if
    * split between N.nnn equal customers". One customer collapse, one
    * nation-keyed moment aggregate; all DECIMAL(38,0) integers. */
  def nationRevenueHhi(spark: SparkSession, dir: String): DataFrame = {
    val rc = Tables.orders(spark, dir)
      .join(broadcast(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey"), col("o_custkey"))
      .agg((sum(col("o_totalprice").cast("decimal(18,6)")) * 1000000)
        .cast("decimal(38,0)").as("r"))
    rc.join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("r")).as("sr"), sum(col("r") * col("r")).as("sr2"))
      .select(col("n_name"), col("n_customers"),
        expr("sr2 * 1000000 div (sr * sr)").as("hhi_ppm"))
      .withColumn("effective_n_milli",
        expr("CAST(1000000000 div hhi_ppm AS LONG)"))
      .orderBy("n_name")
  }

  private val nationRevenueHhiSql: String =
    """WITH rc AS (
      |  SELECT c_nationkey, o_custkey,
      |         CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) * 1000000 AS HUGEINT) AS r
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2),
      |g AS (
      |  SELECT n_name, count(*) AS n_customers,
      |         sum(r) AS sr, sum(r * r) AS sr2
      |  FROM rc JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY n_name)
      |SELECT n_name, CAST(n_customers AS BIGINT) AS n_customers,
      |       CAST(sr2 * 1000000 // (sr * sr) AS BIGINT) AS hhi_ppm,
      |       CAST(1000000000 // (sr2 * 1000000 // (sr * sr)) AS BIGINT) AS effective_n_milli
      |FROM g ORDER BY n_name""".stripMargin

  val queries: Map[String, Q] = Map(
    "customer_cohort_nrr"        -> (customerCohortNrr _),
    "nation_revenue_hhi"         -> (nationRevenueHhi _),
    "part_price_index"           -> (partPriceIndex _),
    "customer_gini"              -> (customerGini _),
    "part_label_propagation"     -> (partLabelPropagation _),
    "part_community_modularity"  -> (partCommunityModularity _),
    "user_kmv_distinct"          -> (userKmvDistinct _),
    "user_kmv_overlap"           -> (userKmvOverlap _),
    "value_hist_quantiles"       -> (valueHistQuantiles _),
    "orders_range_partition_plan" -> (ordersRangePartitionPlan _),
    "funnel_latency_quantiles" -> (funnelLatencyQuantiles _),
    "part_triangles"     -> (partTriangles _),
    "part_local_clustering" -> (partLocalClustering _),
    "user_survival_curve" -> (userSurvivalCurve _),
    "event_trigram_paths" -> (eventTrigramPaths _),
    "part_kcore" -> (partKcore _),
    "attribution_markov_removal" -> (attributionMarkovRemoval _),
    "part_assortativity" -> (partAssortativity _),
    "customer_rfm"       -> (customerRfm _),
    "label_psi"          -> (labelPsi _),
    "distinct_users_hll_union" -> (distinctUsersHllUnion _),
    "region_acctbal_ttest" -> (regionAcctbalTtest _),
    "region_nation_list" -> (regionNationList _),
    "events_wau_mau"     -> (eventsWauMau _),
    "orders_winsorized"  -> (ordersWinsorized _),
    "range_join_binned"  -> (rangeJoinBinned _),
    "event_type_pagerank" -> (eventTypePagerank _),
    "event_markov_entropy" -> (eventMarkovEntropy _),
    "orders_skyline"      -> (ordersSkyline _),
    "part_pair_lift"      -> (partPairLift _),
    "part_assoc_rules"    -> (partAssocRules _),
    "event_type_distances"     -> (eventTypeDistances _),
    "orders_by_dow"            -> (ordersByDow _),
    "orders_cube"              -> (ordersCube _),
    "purchase_click_attribution" -> (purchaseClickAttribution _),
    "orders_pivot"             -> (ordersPivot _),
    "customer_balance_tiles"   -> (customerBalanceTiles _),
    "customers_without_orders" -> (customersWithoutOrders _),
    "nations_both_sides"       -> (nationsBothSides _),
    "order_flow_union"         -> (orderFlowUnion _),
    "orders_rollup"            -> (ordersRollup _),
    "quantity_quantiles"       -> (quantityQuantiles _),
    "returnflag_weighted_median" -> (returnflagWeightedMedian _),
    "quantity_quantiles_approx" -> (quantityQuantilesApprox _),
    "quantity_histogram"       -> (quantityHistogram _),
    "orders_skew_profile"      -> (ordersSkewProfile _),
    "conversion_funnel"        -> (conversionFunnel _),
    "cohort_retention"         -> (cohortRetention _),
    "distinct_users_exact"     -> (distinctUsersExact _),
    "user_overlap_matrix"      -> (userOverlapMatrix _),
    "distinct_users_approx"    -> (distinctUsersApprox _))

  val oracle: Map[String, String] = Map(
    "customer_cohort_nrr"        -> customerCohortNrrSql,
    "nation_revenue_hhi"         -> nationRevenueHhiSql,
    "part_price_index"           -> partPriceIndexSql,
    "customer_gini"              -> customerGiniSql,
    "part_label_propagation"     -> partLabelPropagationSql,
    "part_community_modularity"  -> partCommunityModularitySql,
    "user_kmv_distinct"          -> userKmvDistinctSql,
    "user_kmv_overlap"           -> userKmvOverlapSql,
    "value_hist_quantiles"       -> valueHistQuantilesSql,
    "orders_range_partition_plan" -> ordersRangePartitionPlanSql,
    "part_triangles"     -> partTrianglesSql,
    "part_local_clustering" -> partLocalClusteringSql,
    "user_survival_curve" -> userSurvivalCurveSql,
    "event_trigram_paths" -> eventTrigramPathsSql,
    "part_kcore" -> partKcoreSql,
    "attribution_markov_removal" -> attributionMarkovRemovalSql,
    "part_assortativity" -> partAssortativitySql,
    "customer_rfm"       -> customerRfmSql,
    "label_psi"          -> labelPsiSql,
    "distinct_users_hll_union" -> distinctUsersHllUnionSql,
    "region_acctbal_ttest" -> regionAcctbalTtestSql,
    "region_nation_list" -> regionNationListSql,
    "events_wau_mau"     -> eventsWauMauSql,
    "orders_winsorized"  -> ordersWinsorizedSql,
    "range_join_binned"  -> rangeJoinBinnedSql,
    "event_type_pagerank" -> eventTypePagerankSql,
    "event_markov_entropy" -> eventMarkovEntropySql,
    "funnel_latency_quantiles" -> funnelLatencyQuantilesSql,
    "orders_skyline"      -> ordersSkylineSql,
    "part_pair_lift"      -> partPairLiftSql,
    "part_assoc_rules"    -> partAssocRulesSql,
    "event_type_distances"     -> eventTypeDistancesSql,
    "orders_by_dow"            -> ordersByDowSql,
    "orders_cube"              -> ordersCubeSql,
    "purchase_click_attribution" -> purchaseClickAttributionSql,
    "orders_pivot"             -> ordersPivotSql,
    "customer_balance_tiles"   -> customerBalanceTilesSql,
    "customers_without_orders" -> customersWithoutOrdersSql,
    "nations_both_sides"       -> nationsBothSidesSql,
    "order_flow_union"         -> orderFlowUnionSql,
    "orders_rollup"            -> ordersRollupSql,
    "quantity_quantiles"       -> quantityQuantilesSql,
    "returnflag_weighted_median" -> returnflagWeightedMedianSql,
    "quantity_quantiles_approx" -> quantityQuantilesApproxSql,
    "quantity_histogram"       -> quantityHistogramSql,
    "orders_skew_profile"      -> ordersSkewProfileSql,
    "conversion_funnel"        -> conversionFunnelSql,
    "cohort_retention"         -> cohortRetentionSql,
    "distinct_users_exact"     -> distinctUsersExactSql,
    "user_overlap_matrix"      -> userOverlapMatrixSql,
    "distinct_users_approx"    -> distinctUsersApproxSql)
}
