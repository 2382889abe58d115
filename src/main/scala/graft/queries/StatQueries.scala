package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.queries.QueryConventions.MaterializeSyntax

import graft.sources.Tables

/** Statistical, analytic-window and SQL-surface extensions (round 2):
  * lag/lead gaps, correlation/covariance/stddev aggregates, running
  * windows, GROUPING SETS via the SQL front door, unpivot, semi-joins,
  * string/date scalar families, null imputation, correlated scalar
  * subqueries (Catalyst decorrelation), multiset set-ops, vector
  * normalization.
  *
  * Numeric conventions follow the module-wide rules (see
  * [[RelationalQueries]]): fractional sums through DECIMAL(18,6) for
  * order-independence; avg/corr rounded (6/4); stddev/covar of ~1e4
  * magnitudes rounded to 2 (engine merge-algorithm divergence is ~1e-8
  * absolute there — far inside the rounding).
  */
object StatQueries {

  type Q = (SparkSession, String) => DataFrame

  import QueryConventions.decSum

  /** Bucket count for [[ordersMedianOfMeans]] — fixed by construction,
    * independent of data size (the frame the single-partition rank sees). */
  private val MomBuckets = 32L

  /** lag(): per-customer gaps between consecutive orders. Shuffle on
    * o_custkey, sort within partition — the analytic-window shape that
    * scales linearly (no self-join). */
  def customerOrderGaps(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(spark, dir)
      .withColumn("prev_date", lag(col("o_orderdate"), 1).over(w))
      .filter(col("prev_date").isNotNull)
      .withColumn("gap_days", datediff(col("o_orderdate"), col("prev_date")))
      .groupBy(col("o_custkey"))
      .agg(
        count(lit(1)).as("n_gaps"),
        round(avg(col("gap_days")), 6).as("avg_gap_days"),
        max(col("gap_days")).cast("long").as("max_gap_days"))
      .orderBy("o_custkey")
  }

  private val customerOrderGapsSql: String =
    """WITH g AS (
      |  SELECT o_custkey,
      |         date_diff('day',
      |           CAST(lag(o_orderdate) OVER (PARTITION BY o_custkey
      |                                       ORDER BY o_orderdate, o_orderkey) AS DATE),
      |           CAST(o_orderdate AS DATE)) AS gap_days
      |  FROM orders)
      |SELECT o_custkey, count(*) AS n_gaps,
      |       round(avg(gap_days), 6) AS avg_gap_days,
      |       CAST(max(gap_days) AS BIGINT) AS max_gap_days
      |FROM g WHERE gap_days IS NOT NULL
      |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin

  /** Statistical aggregate family: correlation, population covariance and
    * sample stddev per group — one hash aggregate, partial co-moments
    * merged across partitions (Spark's and DuckDB's merge algorithms
    * agree to ~1e-12 relative; rounding absorbs it). */
  def lineitemCorrStats(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qty_price"),
        round(covar_pop(col("l_quantity"), col("l_extendedprice")), 2).as("covar_qty_price"),
        round(stddev_samp(col("l_quantity")), 6).as("sd_qty"),
        round(stddev_samp(col("l_extendedprice")), 2).as("sd_price"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  private val lineitemCorrStatsSql: String =
    """SELECT l_returnflag,
      |       round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
      |       round(covar_pop(l_quantity, l_extendedprice), 2) AS covar_qty_price,
      |       round(stddev_samp(l_quantity), 6) AS sd_qty,
      |       round(stddev_samp(l_extendedprice), 2) AS sd_price,
      |       count(*) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Running/cumulative analytic windows over a 1%-of-customers slice:
    * row_number sequence, running revenue (explicit ROWS frame; DECIMAL
    * partials so the running sum is order-exact), first order's price. */
  def customerRunningRevenue(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(spark, dir)
      .filter(pmod(col("o_custkey"), lit(100)) === 0)
      .select(
        col("o_custkey"), col("o_orderkey"),
        row_number().over(w).as("seq"),
        round(sum(col("o_totalprice").cast("decimal(18,6)")).over(run).cast("double"), 2)
          .as("running_total"),
        round(first_value(col("o_totalprice")).over(run), 2).as("first_price"))
      .orderBy("o_custkey", "seq")
  }

  private val customerRunningRevenueSql: String =
    """SELECT o_custkey, o_orderkey,
      |       row_number() OVER w AS seq,
      |       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6)))
      |         OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 2) AS running_total,
      |       round(first_value(o_totalprice)
      |         OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS first_price
      |FROM orders
      |WHERE o_custkey % 100 = 0
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, seq""".stripMargin

  /** GROUPING SETS + grouping() markers through the SQL front door — the
    * identical ANSI text runs on both engines (spark.sql on a registered
    * view here, DuckDB on the parquet directly). */
  private val groupingSetsText: String =
    """SELECT coalesce(o_orderpriority, 'ALL') AS priority,
      |       coalesce(o_orderstatus, 'ALL') AS status,
      |       CAST(grouping(o_orderpriority) AS INT) AS g_priority,
      |       CAST(grouping(o_orderstatus) AS INT) AS g_status,
      |       count(*) AS n_orders
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus), (o_orderpriority), ())
      |ORDER BY priority, status""".stripMargin

  def ordersGroupingSets(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("orders")
    spark.sql(groupingSetsText)
  }

  /** unpivot/melt: wide per-group money measures to long (group, measure,
    * amount) — the inverse of PIVOT (orders_pivot), Spark's Expand-based
    * unpivot operator. */
  def lineitemUnpivot(spark: SparkSession, dir: String): DataFrame = {
    val price = col("l_extendedprice")
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        decSum(price).as("base_price"),
        decSum(price * col("l_discount")).as("discount_amt"),
        decSum(price * col("l_tax")).as("tax_amt"))
      .unpivot(
        Array(col("l_returnflag")),
        Array(col("base_price"), col("discount_amt"), col("tax_amt")),
        "measure", "amount")
      .orderBy("l_returnflag", "measure")
  }

  private val lineitemUnpivotSql: String =
    """WITH a AS (
      |  SELECT l_returnflag,
      |         round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE), 2) AS base_price,
      |         round(CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS DOUBLE), 2) AS discount_amt,
      |         round(CAST(sum(CAST(l_extendedprice * l_tax AS DECIMAL(18,6))) AS DOUBLE), 2) AS tax_amt
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag, measure, amount FROM (
      |  SELECT l_returnflag, 'base_price' AS measure, base_price AS amount FROM a
      |  UNION ALL
      |  SELECT l_returnflag, 'discount_amt', discount_amt FROM a
      |  UNION ALL
      |  SELECT l_returnflag, 'tax_amt', tax_amt FROM a)
      |ORDER BY l_returnflag, measure""".stripMargin

  /** LEFT SEMI join (the EXISTS shape; complements the EXCEPT/anti form in
    * customers_without_orders): customers that ordered, per segment. At
    * scale a semi-join ships only the distinct key set of the right side. */
  def segmentCustomersWithOrders(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir), col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"), round(avg(col("c_acctbal")), 6).as("avg_bal"))
      .orderBy("c_mktsegment")

  private val segmentCustomersWithOrdersSql: String =
    """SELECT c_mktsegment, count(*) AS n_customers,
      |       round(avg(c_acctbal), 6) AS avg_bal
      |FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** String scalar-function family (regexp_extract, lpad, translate,
    * upper, split) over a deterministic part subset. */
  def partNameFunctions(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .filter(pmod(col("p_partkey"), lit(200)) === 0)
      .select(
        col("p_partkey"),
        upper(col("p_name")).as("name_upper"),
        regexp_extract(col("p_name"), "^[a-z]+", 0).as("first_word"),
        lpad(col("p_partkey").cast("string"), 10, "0").as("key_padded"),
        translate(col("p_brand"), "Brand#", "").as("brand_num"),
        size(split(col("p_name"), " ")).as("n_words"))
      .orderBy("p_partkey")

  private val partNameFunctionsSql: String =
    """SELECT p_partkey,
      |       upper(p_name) AS name_upper,
      |       regexp_extract(p_name, '^[a-z]+') AS first_word,
      |       lpad(CAST(p_partkey AS VARCHAR), 10, '0') AS key_padded,
      |       translate(p_brand, 'Brand#', '') AS brand_num,
      |       CAST(len(string_split(p_name, ' ')) AS INT) AS n_words
      |FROM part WHERE p_partkey % 200 = 0
      |ORDER BY p_partkey""".stripMargin

  /** Date scalar-function family: quarter bucketing, last_day,
    * day-of-year. TIMESTAMP-cast on both sides so date/timestamp physical
    * types can't diverge in the compare. */
  def ordersCalendar(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(
        year(col("o_orderdate")).as("yr"),
        quarter(col("o_orderdate")).as("qtr"))
      .agg(
        count(lit(1)).as("n_orders"),
        last_day(max(col("o_orderdate"))).cast("timestamp").as("eom_latest"),
        min(dayofyear(col("o_orderdate"))).cast("int").as("first_doy"))
      .orderBy("yr", "qtr")

  private val ordersCalendarSql: String =
    """SELECT CAST(year(o_orderdate) AS INT) AS yr,
      |       CAST(quarter(o_orderdate) AS INT) AS qtr,
      |       count(*) AS n_orders,
      |       CAST(last_day(CAST(max(o_orderdate) AS DATE)) AS TIMESTAMP) AS eom_latest,
      |       CAST(min(dayofyear(o_orderdate)) AS INT) AS first_doy
      |FROM orders
      |GROUP BY 1, 2 ORDER BY yr, qtr""".stripMargin

  /** Null handling / imputation: mean-impute missing event values from
    * the per-type analytic average (coalesce over a partition window —
    * no join, one shuffle on the partition key). */
  def eventsValueImputation(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
    Tables.events(spark, dir)
      .withColumn("type_avg", avg(col("value")).over(w))
      .withColumn("imputed", coalesce(col("value"), col("type_avg")))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("value").isNull, 1).otherwise(0)).as("n_imputed"),
        round(sum(col("imputed").cast("decimal(18,6)")).cast("double"), 2).as("total_imputed"))
      .orderBy("event_type")
  }

  private val eventsValueImputationSql: String =
    """WITH e AS (
      |  SELECT event_type, value,
      |         avg(value) OVER (PARTITION BY event_type) AS type_avg
      |  FROM events)
      |SELECT event_type, count(*) AS n,
      |       CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_imputed,
      |       round(CAST(sum(CAST(coalesce(value, type_avg) AS DECIMAL(18,6))) AS DOUBLE), 2) AS total_imputed
      |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Correlated scalar subquery — Catalyst decorrelates it into an
    * aggregate + join; the identical ANSI text runs on both engines.
    * Orders priced above 1.5× their priority's average. The threshold is
    * rounded to cents INSIDE the predicate: each engine computes the avg
    * itself (different summation order, ~1e-10 relative divergence), and
    * an unrounded strict > would let a price within that band of the
    * threshold flip membership between engines. */
  private val outlierText: String =
    """SELECT o.o_orderpriority AS priority,
      |       count(*) AS n_outliers,
      |       round(CAST(max(o.o_totalprice) AS DOUBLE), 2) AS max_price
      |FROM orders o
      |WHERE o.o_totalprice > (SELECT round(1.5 * avg(o2.o_totalprice), 2) FROM orders o2
      |                        WHERE o2.o_orderpriority = o.o_orderpriority)
      |GROUP BY o.o_orderpriority
      |ORDER BY priority""".stripMargin

  def priorityOutlierOrders(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("orders")
    spark.sql(outlierText)
  }

  /** EXCEPT ALL / INTERSECT ALL (multiset semantics — the bag-counting
    * cousins of the DISTINCT set ops above them in AnalyticsQueries):
    * priority multiset of 1995-H1 orders vs 1995-H2. */
  def prioritySetOpsAll(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    def half(from: String, to: String) =
      o.filter(col("o_orderdate") >= lit(from).cast("timestamp") &&
          col("o_orderdate") < lit(to).cast("timestamp"))
        .select(col("o_orderpriority").as("priority"))
    val h1 = half("1995-01-01", "1995-07-01")
    val h2 = half("1995-07-01", "1996-01-01")
    val ex = h1.exceptAll(h2).groupBy(col("priority"))
      .agg(count(lit(1)).as("n")).withColumn("op", lit("except_all"))
    val in = h1.intersectAll(h2).groupBy(col("priority"))
      .agg(count(lit(1)).as("n")).withColumn("op", lit("intersect_all"))
    ex.unionByName(in).select("op", "priority", "n").orderBy("op", "priority")
  }

  private val prioritySetOpsAllSql: String =
    """WITH h1 AS (SELECT o_orderpriority AS priority FROM orders
      |            WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1995-07-01'),
      |     h2 AS (SELECT o_orderpriority AS priority FROM orders
      |            WHERE o_orderdate >= TIMESTAMP '1995-07-01' AND o_orderdate < TIMESTAMP '1996-01-01')
      |SELECT op, priority, n FROM (
      |  SELECT 'except_all' AS op, priority, count(*) AS n
      |  FROM (SELECT priority FROM h1 EXCEPT ALL SELECT priority FROM h2)
      |  GROUP BY priority
      |  UNION ALL
      |  SELECT 'intersect_all' AS op, priority, count(*) AS n
      |  FROM (SELECT priority FROM h1 INTERSECT ALL SELECT priority FROM h2)
      |  GROUP BY priority)
      |ORDER BY op, priority""".stripMargin

  /** L2 normalization of embeddings (the preprocessing step every
    * cosine-similarity index assumes): norm + first normalized component.
    * Sequential higher-order fold on both engines → bit-identical
    * doubles before the rounding. */
  def embeddingNormalize(spark: SparkSession, dir: String): DataFrame = {
    val xd = transform(col("embedding"), _.cast("double"))
    val l2 = sqrt(aggregate(xd, lit(0.0), (a, x) => a + x * x))
    Tables.embeddings(spark, dir)
      .withColumn("l2", l2)
      .select(
        col("vec_id"),
        round(col("l2"), 6).as("l2_norm"),
        round(when(col("l2") > 0, element_at(xd, 1) / col("l2")).otherwise(0.0), 6)
          .as("c0_norm"))
      .orderBy("vec_id")
  }

  private val embeddingNormalizeSql: String =
    """WITH e AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS x,
      |         sqrt(list_sum(list_transform(embedding::DOUBLE[], v -> v * v))) AS l2
      |  FROM embeddings)
      |SELECT vec_id,
      |       round(l2, 6) AS l2_norm,
      |       round(CASE WHEN l2 > 0 THEN x[1] / l2 ELSE 0.0 END, 6) AS c0_norm
      |FROM e ORDER BY vec_id""".stripMargin

  /** Time-series forward fill (the gap-repair op for sensor streams):
    * malformed readings (NULL value_numeric) take the latest preceding
    * valid value of their station. last(ignoreNulls) over a running ROWS
    * frame — linear per partition, no self-join; DuckDB's IGNORE NULLS
    * mirrors it exactly. Values are copied, not computed, so no rounding
    * is needed for hash stability. */
  def sensorForwardFill(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("station_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    graft.queries.ParityQueries.sensorShaped(spark, dir)
      .withColumn("value_numeric", expr("try_cast(value_str AS double)"))
      .select(
        col("event_id"), col("station_id"), col("value_numeric"),
        last(col("value_numeric"), ignoreNulls = true).over(w).as("filled"))
      .orderBy("event_id")
  }

  private val sensorForwardFillSql: String =
    """WITH v AS (
      |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts,
      |         CAST(user_id AS VARCHAR) AS station_id,
      |         TRY_CAST(CASE WHEN event_type = 'error' THEN '<<bad_data>>'
      |                       ELSE CAST(value AS VARCHAR) END AS DOUBLE) AS value_numeric
      |  FROM events)
      |SELECT event_id, station_id, value_numeric,
      |       last_value(value_numeric IGNORE NULLS)
      |         OVER (PARTITION BY station_id ORDER BY ts, event_id
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
      |FROM v ORDER BY event_id""".stripMargin

  private val EwmaLags = 8

  /** EWMA smoothing of each station's reading stream — the standard
    * telemetry denoiser, as a single analytic-window pass: the smoothed
    * value is the decay-weighted mean of the last [[EwmaLags]] VALID
    * readings with half-life decay (weight 2^(7−j) for lag j). The
    * window start is handled by renormalizing over the weights actually
    * present, so early readings are exact partial EWMAs, not NULL.
    *
    * Two deliberate choices for engine-exactness at any scale: the decay
    * base is a power of two (weights 128,64,…,1 are EXACT doubles — a
    * 0.9^j-style base would make every weight ulp-divergent across
    * engines), and the truncated-window form is a fixed left-to-right
    * sum of [[EwmaLags]] lag() terms in ONE window frame — one shuffle
    * on station_id, one sort, no self-join row replication, and the
    * recursive EWMA definition (unbounded running state) is approximated
    * to 2^-8 ≈ 0.4% exactly where a streaming engine would truncate it
    * anyway. */
  def sensorEwma(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("station_id")).orderBy(col("ts"), col("event_id"))
    val terms = (0 until EwmaLags).map { j =>
      val c = if (j == 0) col("v") else lag(col("v"), j).over(w)
      val wt = 1L << (EwmaLags - 1 - j)
      (c, wt)
    }
    val num = terms.map { case (c, wt) =>
      when(c.isNotNull, c * wt).otherwise(lit(0.0)) }.reduce(_ + _)
    val den = terms.map { case (c, wt) =>
      when(c.isNotNull, lit(wt.toDouble)).otherwise(lit(0.0)) }.reduce(_ + _)
    graft.queries.ParityQueries.sensorShaped(spark, dir)
      .withColumn("v", expr("try_cast(value_str AS double)"))
      .filter(col("v").isNotNull)
      .select(col("event_id"), col("station_id"), col("v"),
        round(num / den, 6).as("ewma"))
      .orderBy("event_id")
  }

  private val sensorEwmaSql: String = {
    val over = "OVER (PARTITION BY station_id ORDER BY ts, event_id)"
    def term(j: Int) = if (j == 0) "v" else s"lag(v, $j) $over"
    val num = (0 until EwmaLags).map { j =>
      s"CASE WHEN ${term(j)} IS NOT NULL THEN ${term(j)} * ${1L << (EwmaLags - 1 - j)} ELSE 0.0 END"
    }.mkString(" + ")
    val den = (0 until EwmaLags).map { j =>
      s"CASE WHEN ${term(j)} IS NOT NULL THEN ${(1L << (EwmaLags - 1 - j)).toDouble} ELSE 0.0 END"
    }.mkString(" + ")
    s"""WITH v AS (
       |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts,
       |         CAST(user_id AS VARCHAR) AS station_id,
       |         TRY_CAST(CASE WHEN event_type = 'error' THEN '<<bad_data>>'
       |                       ELSE CAST(value AS VARCHAR) END AS DOUBLE) AS v
       |  FROM events),
       |f AS (SELECT * FROM v WHERE v IS NOT NULL)
       |SELECT event_id, station_id, v,
       |       round(($num) / ($den), 6) AS ewma
       |FROM f ORDER BY event_id""".stripMargin
  }

  /** Z-order layout keys via the custom codegen'd [[graft.functions.ZOrderKey]]
    * expression (registered as `graft_zorder`): the space-filling-curve
    * key that clusters a two-dimensional access pattern (customer, day)
    * into one sort order, so file-level min/max statistics prune on BOTH
    * dimensions — the write-side table-maintenance move behind
    * Delta/Iceberg Z-ORDER, exposed as an engine function. Emitted
    * z-sorted (the layout order itself); the oracle mirrors the exact
    * mask-shift cascade in integer SQL, so keys are engine-exact. */
  def ordersZorderKeys(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .filter(pmod(col("o_custkey"), lit(100)) === 0)
      .withColumn("day",
        datediff(col("o_orderdate").cast("date"), to_date(lit("1970-01-01"))))
      .select(
        col("o_orderkey"), col("o_custkey"), col("day").cast("int").as("day"),
        expr("graft_zorder(o_custkey, day)").as("zkey"))
      .orderBy("zkey", "o_orderkey")

  private val ordersZorderKeysSql: String =
    """WITH o AS (
      |  SELECT o_orderkey, o_custkey,
      |         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day
      |  FROM orders WHERE o_custkey % 100 = 0),
      |s0 AS (SELECT *, o_custkey & 65535 AS x, day & 65535 AS y FROM o),
      |s1 AS (SELECT * REPLACE ((x | (x << 8)) & 16711935 AS x, (y | (y << 8)) & 16711935 AS y) FROM s0),
      |s2 AS (SELECT * REPLACE ((x | (x << 4)) & 252645135 AS x, (y | (y << 4)) & 252645135 AS y) FROM s1),
      |s3 AS (SELECT * REPLACE ((x | (x << 2)) & 858993459 AS x, (y | (y << 2)) & 858993459 AS y) FROM s2),
      |s4 AS (SELECT * REPLACE ((x | (x << 1)) & 1431655765 AS x, (y | (y << 1)) & 1431655765 AS y) FROM s3)
      |SELECT o_orderkey, o_custkey, CAST(day AS INT) AS day,
      |       CAST(x | (y << 1) AS BIGINT) AS zkey
      |FROM s4
      |ORDER BY zkey, o_orderkey""".stripMargin

  /** Z-order file-skipping effectiveness — the report that justifies (or
    * rejects) a Z-ORDER maintenance run BEFORE paying for it: lay orders
    * out 32-files-wide under (a) the natural o_orderkey order and (b) the
    * graft_zorder(o_custkey, day) curve, collect per-file min/max stats
    * (what a parquet footer / Delta stats column would hold), and replay
    * a 10-point probe workload on o_custkey against those stats. A file
    * is scanned iff min ≤ probe ≤ max — the exact data-skipping rule.
    * Natural layout spreads every custkey across every file (expect ~all
    * files hit); the z-layout clusters the interleaved dims (expect a
    * small fraction). ntile stands in for the writer's size-based file
    * split; at 100 TB the stats come FROM footers rather than a re-sort —
    * this query is the planning-time diagnostic over the same numbers,
    * and the 32 × 10 stats⋈probes join is metadata-sized regardless of
    * table size. */
  def layoutSkippingGain(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .withColumn("day",
        datediff(col("o_orderdate").cast("date"), to_date(lit("1970-01-01"))).cast("int"))
      .select(col("o_orderkey"), col("o_custkey"), col("day"))
      .materializeOnce // both layout sorts and the probe bounds read it
    val nat = GlobalWindow.ntile(o, 32, "file_id")(col("o_orderkey"))
      .select(lit("natural").as("layout"), col("file_id"), col("o_custkey"))
    val zord = GlobalWindow.ntile(o, 32, "file_id")(
      expr("graft_zorder(o_custkey, day)"), col("o_orderkey"))
      .select(lit("zorder").as("layout"), col("file_id"), col("o_custkey"))
    val assigned = nat.union(zord)
    val files = assigned.groupBy(col("layout"), col("file_id"))
      .agg(min(col("o_custkey")).as("min_c"), max(col("o_custkey")).as("max_c"),
        count(lit(1)).as("n_rows"))
    val maxc = o.agg(max(col("o_custkey")).as("maxc"))
    val probes = spark.range(1, 11).select(col("id").as("q"))
      .crossJoin(broadcast(maxc))
      .select(col("q").cast("int").as("q"), expr("maxc * q div 11").cast("long").as("probe_cust"))
    val hit = col("min_c") <= col("probe_cust") && col("probe_cust") <= col("max_c")
    files.crossJoin(broadcast(probes))
      .groupBy(col("layout"), col("q"), col("probe_cust"))
      .agg(
        sum(when(hit, 1L).otherwise(0L)).as("n_files_hit"),
        count(lit(1)).as("n_files"),
        sum(when(hit, col("n_rows")).otherwise(0L)).as("rows_scanned"))
      .orderBy("layout", "q")
  }

  private val layoutSkippingGainSql: String =
    """WITH o AS (
      |  SELECT o_orderkey, o_custkey,
      |         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day
      |  FROM orders),
      |s0 AS (SELECT *, o_custkey & 65535 AS x, day & 65535 AS y FROM o),
      |s1 AS (SELECT * REPLACE ((x | (x << 8)) & 16711935 AS x, (y | (y << 8)) & 16711935 AS y) FROM s0),
      |s2 AS (SELECT * REPLACE ((x | (x << 4)) & 252645135 AS x, (y | (y << 4)) & 252645135 AS y) FROM s1),
      |s3 AS (SELECT * REPLACE ((x | (x << 2)) & 858993459 AS x, (y | (y << 2)) & 858993459 AS y) FROM s2),
      |s4 AS (SELECT * REPLACE ((x | (x << 1)) & 1431655765 AS x, (y | (y << 1)) & 1431655765 AS y) FROM s3),
      |z AS (SELECT o_orderkey, o_custkey, CAST(x | (y << 1) AS BIGINT) AS zkey FROM s4),
      |a AS (
      |  SELECT 'natural' AS layout, ntile(32) OVER (ORDER BY o_orderkey) AS file_id, o_custkey FROM o
      |  UNION ALL
      |  SELECT 'zorder' AS layout, ntile(32) OVER (ORDER BY zkey, o_orderkey) AS file_id, o_custkey FROM z),
      |files AS (
      |  SELECT layout, file_id, min(o_custkey) AS min_c, max(o_custkey) AS max_c,
      |         count(*) AS n_rows
      |  FROM a GROUP BY 1, 2),
      |m AS (SELECT max(o_custkey) AS maxc FROM o),
      |probes AS (
      |  SELECT CAST(q AS INT) AS q, CAST(maxc * q // 11 AS BIGINT) AS probe_cust
      |  FROM (SELECT unnest(range(1, 11)) AS q) CROSS JOIN m)
      |SELECT layout, q, probe_cust,
      |       CAST(sum(CASE WHEN min_c <= probe_cust AND probe_cust <= max_c THEN 1 ELSE 0 END) AS BIGINT) AS n_files_hit,
      |       CAST(count(*) AS BIGINT) AS n_files,
      |       CAST(sum(CASE WHEN min_c <= probe_cust AND probe_cust <= max_c THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned
      |FROM files CROSS JOIN probes
      |GROUP BY 1, 2, 3
      |ORDER BY layout, q""".stripMargin

  /** Robust anomaly detection per station: median absolute deviation.
    * Outlier = |value − median| > 3·MAD — the robust z-score that, unlike
    * mean/stddev, is not dragged by the outliers it hunts. Two grouped
    * exact-percentile passes with a join back on the station key (the
    * deviation needs the median per row). */
  def sensorMadOutliers(spark: SparkSession, dir: String): DataFrame = {
    val v = graft.queries.ParityQueries.sensorShaped(spark, dir)
      .withColumn("value_numeric", expr("try_cast(value_str AS double)"))
      .filter(col("value_numeric").isNotNull)
      .select(col("station_id"), col("value_numeric"))
      .materializeOnce // read by the median pass and re-read for deviations
    // med/mad are ROUNDED to 6 before the outlier comparison on BOTH
    // engines: percentile interpolation (lo + (hi-lo)*f vs lo*(1-f)+hi*f)
    // can differ by 1 ulp between engines, and a strict > on the raw
    // values would flip boundary readings — the rounded threshold is the
    // symmetric form the module's conventions require
    val med = v.groupBy(col("station_id"))
      .agg(round(expr("percentile(value_numeric, 0.5)"), 6).as("med"))
    val mad = v.join(med, "station_id")
      .withColumn("dev", abs(col("value_numeric") - col("med")))
      .groupBy(col("station_id"))
      .agg(first(col("med")).as("med"),
        round(expr("percentile(dev, 0.5)"), 6).as("mad"))
    v.join(mad, "station_id")
      .groupBy(col("station_id"))
      .agg(
        count(lit(1)).as("n_valid"),
        first(col("med")).as("median_value"),
        first(col("mad")).as("mad"),
        sum(when(abs(col("value_numeric") - col("med")) > lit(3.0) * col("mad"), 1L)
          .otherwise(0L)).as("n_outliers"))
      .orderBy("station_id")
  }

  private val sensorMadOutliersSql: String =
    """WITH v AS (
      |  SELECT CAST(user_id AS VARCHAR) AS station_id,
      |         TRY_CAST(CASE WHEN event_type = 'error' THEN '<<bad_data>>'
      |                       ELSE CAST(value AS VARCHAR) END AS DOUBLE) AS value_numeric
      |  FROM events),
      |f AS (SELECT * FROM v WHERE value_numeric IS NOT NULL),
      |m AS (SELECT station_id, round(quantile_cont(value_numeric, 0.5), 6) AS med
      |      FROM f GROUP BY 1),
      |d AS (
      |  SELECT f.station_id, f.value_numeric, m.med,
      |         abs(f.value_numeric - m.med) AS dev
      |  FROM f JOIN m ON f.station_id = m.station_id),
      |s AS (
      |  SELECT station_id, any_value(med) AS med,
      |         round(quantile_cont(dev, 0.5), 6) AS mad, count(*) AS n_valid
      |  FROM d GROUP BY station_id)
      |SELECT d.station_id,
      |       CAST(any_value(s.n_valid) AS BIGINT) AS n_valid,
      |       any_value(s.med) AS median_value,
      |       any_value(s.mad) AS mad,
      |       CAST(sum(CASE WHEN abs(d.value_numeric - s.med) > 3.0 * s.mad
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      |FROM d JOIN s ON d.station_id = s.station_id
      |GROUP BY d.station_id
      |ORDER BY d.station_id""".stripMargin

  /** Gaps-and-islands run-length encoding: consecutive same-status orders
    * per customer compress into runs via the row_number-difference trick
    * (global seq − per-(cust,status) seq is constant within an island).
    * Two window passes + one aggregate, all on the same (cust, date, key)
    * sort — one shuffle total. The deterministic (date, orderkey) tiebreak
    * makes island boundaries engine-stable. */
  def orderStatusRuns(spark: SparkSession, dir: String): DataFrame = {
    val seqW = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val statusW = Window.partitionBy(col("o_custkey"), col("o_orderstatus"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(spark, dir)
      .filter(pmod(col("o_custkey"), lit(100)) === 0)
      .withColumn("island",
        row_number().over(seqW) - row_number().over(statusW))
      .groupBy(col("o_custkey"), col("o_orderstatus"), col("island"))
      .agg(
        min(col("o_orderdate")).cast("date").as("run_start"),
        max(col("o_orderdate")).cast("date").as("run_end"),
        // globally unique per island — the run's id AND the total-order
        // tiebreak (two same-date islands can tie on every date column)
        min(col("o_orderkey")).as("first_orderkey"),
        count(lit(1)).as("n_orders"))
      .select(
        col("o_custkey"), col("o_orderstatus"),
        col("run_start"), col("run_end"), col("first_orderkey"), col("n_orders"))
      .orderBy("o_custkey", "run_start", "first_orderkey")
  }

  private val orderStatusRunsSql: String =
    """WITH s AS (
      |  SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
      |         row_number() OVER (PARTITION BY o_custkey
      |                            ORDER BY o_orderdate, o_orderkey)
      |         - row_number() OVER (PARTITION BY o_custkey, o_orderstatus
      |                              ORDER BY o_orderdate, o_orderkey) AS island
      |  FROM orders WHERE o_custkey % 100 = 0)
      |SELECT o_custkey, o_orderstatus,
      |       CAST(min(o_orderdate) AS DATE) AS run_start,
      |       CAST(max(o_orderdate) AS DATE) AS run_end,
      |       min(o_orderkey) AS first_orderkey,
      |       count(*) AS n_orders
      |FROM s GROUP BY o_custkey, o_orderstatus, island
      |ORDER BY o_custkey, run_start, first_orderkey""".stripMargin

  /** One-pass data-quality report — the validation gate a pipeline runs
    * before accepting a batch: null keys, range violations, domain
    * violations, and referential orphans (anti-join), each as a
    * (check, n_violations, n_checked, rate) row. Per-table checks are
    * single aggregates; the orphan check is a broadcast-able anti-join on
    * the order key — nothing here shuffles more than once. */
  def dataQualityReport(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
    val li = Tables.lineitem(spark, dir)
    val ev = Tables.events(spark, dir)
    def check(name: String, src: DataFrame, bad: Column): DataFrame =
      src.agg(
        count(lit(1)).as("n_checked"),
        sum(when(bad, 1L).otherwise(0L)).as("n_violations"))
        .select(lit(name).as("check_name"), col("n_violations"), col("n_checked"))
    val orphans = li.select(col("l_orderkey"))
      .join(orders.select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("n_violations"))
      .crossJoin(li.agg(count(lit(1)).as("n_checked")))
      .select(lit("lineitem_orphan_order").as("check_name"),
        col("n_violations"), col("n_checked"))
    check("orders_null_custkey", orders, col("o_custkey").isNull)
      .unionAll(check("orders_nonpositive_total", orders, col("o_totalprice") <= 0))
      .unionAll(check("lineitem_qty_range", li,
        !col("l_quantity").between(1, 50)))
      .unionAll(check("events_unknown_type", ev,
        !col("event_type").isin("click", "error", "purchase", "signup", "view")))
      .unionAll(orphans)
      .select(col("check_name"), col("n_violations"), col("n_checked"),
        round(col("n_violations").cast("double") / col("n_checked"), 6).as("rate"))
      .orderBy("check_name")
  }

  private val dataQualityReportSql: String =
    """WITH checks AS (
      |  SELECT 'orders_null_custkey' AS check_name,
      |         CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
      |         count(*) AS n_checked
      |  FROM orders
      |  UNION ALL
      |  SELECT 'orders_nonpositive_total',
      |         CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT), count(*)
      |  FROM orders
      |  UNION ALL
      |  SELECT 'lineitem_qty_range',
      |         CAST(sum(CASE WHEN l_quantity NOT BETWEEN 1 AND 50 THEN 1 ELSE 0 END) AS BIGINT), count(*)
      |  FROM lineitem
      |  UNION ALL
      |  SELECT 'events_unknown_type',
      |         CAST(sum(CASE WHEN event_type NOT IN ('click', 'error', 'purchase', 'signup', 'view')
      |                       THEN 1 ELSE 0 END) AS BIGINT), count(*)
      |  FROM events
      |  UNION ALL
      |  SELECT 'lineitem_orphan_order',
      |         (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
      |          WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)),
      |         (SELECT count(*) FROM lineitem))
      |SELECT check_name, n_violations, n_checked,
      |       round(CAST(n_violations AS DOUBLE) / n_checked, 6) AS rate
      |FROM checks ORDER BY check_name""".stripMargin

  /** RANGE-frame rolling window (every other window query here uses ROWS
    * frames — RANGE is the one that bounds by VALUE distance): 7-day
    * rolling revenue and order count per customer, frame = value range
    * [day-6, day] so same-day peer rows aggregate together regardless of
    * row order. Day is integer epoch-days on both engines; DECIMAL
    * partials keep the rolling sum order-exact. */
  def ordersRolling7d(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("day"))
      .rangeBetween(-6, 0)
    Tables.orders(spark, dir)
      .filter(pmod(col("o_custkey"), lit(100)) === 0)
      .withColumn("day",
        datediff(col("o_orderdate").cast("date"), to_date(lit("1970-01-01"))))
      .select(
        col("o_custkey"), col("o_orderkey"), col("day").cast("int").as("day"),
        round(sum(col("o_totalprice").cast("decimal(18,6)")).over(w).cast("double"), 2)
          .as("rev_7d"),
        count(lit(1)).over(w).as("n_7d"))
      .orderBy("o_custkey", "day", "o_orderkey")
  }

  private val ordersRolling7dSql: String =
    """WITH o AS (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day
      |  FROM orders WHERE o_custkey % 100 = 0)
      |SELECT o_custkey, o_orderkey, CAST(day AS INT) AS day,
      |       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) OVER w AS DOUBLE), 2) AS rev_7d,
      |       CAST(count(*) OVER w AS BIGINT) AS n_7d
      |FROM o
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY day
      |             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
      |ORDER BY o_custkey, day, o_orderkey""".stripMargin

  /** The SaltedJoin operator under the oracle gate: lineitem⋈part on
    * partkey through the salted path (fact side salted, dim side
    * replicated per salt), aggregated to per-brand revenue. The oracle is
    * the PLAIN join — salting must be semantically invisible, and this
    * query proves it against DuckDB, not just in the unit spec. At scale
    * this is the static answer to a known-hot key; AQE skew splitting is
    * the runtime one. */
  def saltedBrandRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_partkey").as("p_partkey"), col("l_extendedprice"))
    val part = Tables.part(spark, dir).select(col("p_partkey"), col("p_brand"))
    graft.operators.SaltedJoin.saltedEquiJoin(li, part, "p_partkey", salts = 8)
      .groupBy(col("p_brand"))
      .agg(
        decSum(col("l_extendedprice")).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("p_brand")
  }

  private val saltedBrandRevenueSql: String =
    """SELECT p.p_brand,
      |       round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,6))) AS DOUBLE), 2) AS revenue,
      |       count(*) AS n_items
      |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      |GROUP BY p.p_brand ORDER BY p.p_brand""".stripMargin

  /** Time-series LINEAR interpolation (forward fill's smarter sibling):
    * a malformed reading takes the time-weighted blend of its station's
    * nearest valid neighbors, lv + (nv−lv)·(t−lt)/(nt−lt) — edge rows
    * with only one valid neighbor hold that neighbor's value. Four
    * IGNORE-NULLS window folds (prev/next value and their timestamps)
    * over the same two running frames — linear per partition, no
    * self-join, exactly like the forward fill; the μs epoch arithmetic
    * is integer-exact on both engines, the blend is rounded to 6. The
    * equal-timestamp-neighbors edge (zero denominator) holds the
    * previous value instead of dividing. */
  def sensorInterpolate(spark: SparkSession, dir: String): DataFrame = {
    val back = Window.partitionBy(col("station_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // forward fold as a backward `last` over the REVERSED ordering —
    // Spark rescans an unbounded-FOLLOWING frame from every row to the
    // partition end (quadratic in partition depth; caught by the
    // `nearest_bidir` scale probe, SCALE_r14.json), while this growing frame is
    // incremental; current row included in both forms, so a non-null
    // current value still picks itself
    val fwd = Window.partitionBy(col("station_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val v = col("value_numeric")
    graft.queries.ParityQueries.sensorShaped(spark, dir)
      .withColumn("value_numeric", expr("try_cast(value_str AS double)"))
      .withColumn("lv", last(v, ignoreNulls = true).over(back))
      .withColumn("lt", last(when(v.isNotNull, unix_micros(col("ts"))), ignoreNulls = true).over(back))
      .withColumn("nv", last(v, ignoreNulls = true).over(fwd))
      .withColumn("nt", last(when(v.isNotNull, unix_micros(col("ts"))), ignoreNulls = true).over(fwd))
      .select(
        col("event_id"), col("station_id"), v,
        when(v.isNotNull, v)
          .when(col("lv").isNotNull && col("nv").isNotNull && col("nt") =!= col("lt"),
            round(col("lv") + (col("nv") - col("lv"))
              * (unix_micros(col("ts")) - col("lt")).cast("double")
              / (col("nt") - col("lt")).cast("double"), 6))
          .when(col("lv").isNotNull, col("lv"))
          .otherwise(col("nv")).as("interpolated"))
      .orderBy("event_id")
  }

  private val sensorInterpolateSql: String =
    """WITH v AS (
      |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts,
      |         CAST(user_id AS VARCHAR) AS station_id,
      |         TRY_CAST(CASE WHEN event_type = 'error' THEN '<<bad_data>>'
      |                       ELSE CAST(value AS VARCHAR) END AS DOUBLE) AS value_numeric
      |  FROM events),
      |w AS (
      |  SELECT event_id, station_id, ts, value_numeric,
      |         last_value(value_numeric IGNORE NULLS)
      |           OVER (PARTITION BY station_id ORDER BY ts, event_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lv,
      |         last_value(CASE WHEN value_numeric IS NOT NULL THEN epoch_us(ts) END IGNORE NULLS)
      |           OVER (PARTITION BY station_id ORDER BY ts, event_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lt,
      |         first_value(value_numeric IGNORE NULLS)
      |           OVER (PARTITION BY station_id ORDER BY ts, event_id
      |                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
      |         first_value(CASE WHEN value_numeric IS NOT NULL THEN epoch_us(ts) END IGNORE NULLS)
      |           OVER (PARTITION BY station_id ORDER BY ts, event_id
      |                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
      |  FROM v)
      |SELECT event_id, station_id, value_numeric,
      |       CASE WHEN value_numeric IS NOT NULL THEN value_numeric
      |            WHEN lv IS NOT NULL AND nv IS NOT NULL AND nt <> lt
      |                 THEN round(lv + (nv - lv) * CAST(epoch_us(ts) - lt AS DOUBLE)
      |                                           / CAST(nt - lt AS DOUBLE), 6)
      |            WHEN lv IS NOT NULL THEN lv
      |            ELSE nv END AS interpolated
      |FROM w ORDER BY event_id""".stripMargin

  /** Array sort family: each embedding's three largest components
    * (sort desc + element_at), scalar-projected for comparability. */
  def embeddingTopComponents(spark: SparkSession, dir: String): DataFrame = {
    val sorted = reverse(array_sort(transform(col("embedding"), _.cast("double"))))
    Tables.embeddings(spark, dir)
      .select(
        col("vec_id"),
        round(element_at(sorted, 1), 6).as("c1"),
        round(element_at(sorted, 2), 6).as("c2"),
        round(element_at(sorted, 3), 6).as("c3"))
      .orderBy("vec_id")
  }

  private val embeddingTopComponentsSql: String =
    """WITH e AS (SELECT vec_id, list_reverse_sort(embedding::DOUBLE[]) AS x FROM embeddings)
      |SELECT vec_id,
      |       round(x[1], 6) AS c1,
      |       round(x[2], 6) AS c2,
      |       round(x[3], 6) AS c3
      |FROM e ORDER BY vec_id""".stripMargin

  /** FULL OUTER join (completing the join-type surface: inner, broadcast,
    * semi, anti, cross, as-of elsewhere): per-nation customer vs supplier
    * balance, nations missing on either side surfacing with zeros. Both
    * sides pre-aggregate to one row per nation BEFORE the join. */
  def nationBalanceFullOuter(spark: SparkSession, dir: String): DataFrame = {
    val cb = Tables.customer(spark, dir).groupBy(col("c_nationkey").as("nationkey"))
      .agg(decSum(col("c_acctbal")).as("cust_bal"), count(lit(1)).as("n_cust"))
    val sb = Tables.supplier(spark, dir).groupBy(col("s_nationkey").as("nationkey"))
      .agg(decSum(col("s_acctbal")).as("supp_bal"), count(lit(1)).as("n_supp"))
    cb.join(sb, Seq("nationkey"), "full_outer")
      .select(
        col("nationkey"),
        coalesce(col("cust_bal"), lit(0.0)).as("cust_bal"),
        coalesce(col("n_cust"), lit(0L)).as("n_cust"),
        coalesce(col("supp_bal"), lit(0.0)).as("supp_bal"),
        coalesce(col("n_supp"), lit(0L)).as("n_supp"))
      .orderBy("nationkey")
  }

  private val nationBalanceFullOuterSql: String =
    """WITH cb AS (
      |  SELECT c_nationkey AS nationkey,
      |         round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE), 2) AS cust_bal,
      |         count(*) AS n_cust
      |  FROM customer GROUP BY c_nationkey),
      |sb AS (
      |  SELECT s_nationkey AS nationkey,
      |         round(CAST(sum(CAST(s_acctbal AS DECIMAL(18,6))) AS DOUBLE), 2) AS supp_bal,
      |         count(*) AS n_supp
      |  FROM supplier GROUP BY s_nationkey)
      |SELECT coalesce(cb.nationkey, sb.nationkey) AS nationkey,
      |       coalesce(cust_bal, 0.0) AS cust_bal,
      |       CAST(coalesce(n_cust, 0) AS BIGINT) AS n_cust,
      |       coalesce(supp_bal, 0.0) AS supp_bal,
      |       CAST(coalesce(n_supp, 0) AS BIGINT) AS n_supp
      |FROM cb FULL OUTER JOIN sb ON cb.nationkey = sb.nationkey
      |ORDER BY nationkey""".stripMargin

  /** Remaining aggregate families in one pass: boolean (bool_and/
    * bool_or), bitwise (bit_and/or/xor — associative+commutative, so
    * partial aggregation is exact), and argument-selection
    * (max_by/min_by keyed by the UNIQUE event_id, which makes the
    * selection deterministic — max_by on a non-unique key is
    * tie-nondeterministic and would flake the hash compare). */
  def eventsAggFamilies(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        bool_or(col("value") > 100).as("any_high"),
        bool_and(col("value").isNotNull).as("all_present"),
        bit_and(col("user_id")).as("uid_and"),
        bit_or(col("user_id")).as("uid_or"),
        bit_xor(col("user_id")).as("uid_xor"),
        max_by(col("user_id"), col("event_id")).as("last_user"),
        min_by(col("user_id"), col("event_id")).as("first_user"))
      .orderBy("event_type")

  private val eventsAggFamiliesSql: String =
    """SELECT event_type,
      |       bool_or(value > 100) AS any_high,
      |       bool_and(value IS NOT NULL) AS all_present,
      |       bit_and(user_id) AS uid_and,
      |       bit_or(user_id) AS uid_or,
      |       bit_xor(user_id) AS uid_xor,
      |       max_by(user_id, event_id) AS last_user,
      |       min_by(user_id, event_id) AS first_user
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Remaining analytic window functions in one pass per customer order
    * history: dense_rank over price, lead (the forward twin of
    * customer_order_gaps' lag) with an explicit default, nth_value from
    * the full-partition frame. 1%-of-customers slice. */
  def ordersWindowFunctions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
    val wPrice = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(spark, dir)
      .filter(pmod(col("o_custkey"), lit(100)) === 0)
      .select(
        col("o_custkey"), col("o_orderkey"),
        dense_rank().over(wPrice).as("price_rank"),
        lead(col("o_orderkey"), 1, -1L).over(w).as("next_orderkey"),
        nth_value(col("o_orderkey"), 2).over(full).as("second_orderkey"))
      .orderBy("o_custkey", "o_orderkey")
  }

  private val ordersWindowFunctionsSql: String =
    """SELECT o_custkey, o_orderkey,
      |       CAST(dense_rank() OVER (PARTITION BY o_custkey
      |                               ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS price_rank,
      |       lead(o_orderkey, 1, -1) OVER w AS next_orderkey,
      |       nth_value(o_orderkey, 2) OVER (PARTITION BY o_custkey
      |                                      ORDER BY o_orderdate, o_orderkey
      |                                      ROWS BETWEEN UNBOUNDED PRECEDING
      |                                      AND UNBOUNDED FOLLOWING) AS second_orderkey
      |FROM orders
      |WHERE o_custkey % 100 = 0
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** Deterministic collection aggregate: the sorted distinct status set
    * per returnflag, joined to a string (collect_set is unordered by
    * contract — sort before join or the hash compare flakes). */
  def returnflagStatuses(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        array_join(array_sort(collect_set(col("l_linestatus"))), ",").as("statuses"),
        countDistinct(col("l_linestatus")).as("n_statuses"))
      .orderBy("l_returnflag")

  private val returnflagStatusesSql: String =
    """SELECT l_returnflag,
      |       string_agg(DISTINCT l_linestatus, ',' ORDER BY l_linestatus) AS statuses,
      |       count(DISTINCT l_linestatus) AS n_statuses
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** ANSI-safe `try_*` arithmetic — the function-family twin of the
    * reference's try-cast validity trap (SURVEY §1.2): under Spark 4's
    * default ANSI mode, plain division throws on divide-by-zero where
    * `try_divide` yields NULL. Summarized per event_type so the NULL
    * accounting is visible. DuckDB has no try_divide; the oracle spells
    * out the equivalent CASE. */
  def eventsTryArithmetic(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("denom", pmod(col("event_id"), lit(5)))
      .withColumn("ratio", expr("try_divide(value, denom)"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("ratio").isNull, 1).otherwise(0)).as("n_null_ratio"),
        round(sum(col("ratio").cast("decimal(18,6)")).cast("double"), 2).as("ratio_sum"))
      .orderBy("event_type")

  private val eventsTryArithmeticSql: String =
    """WITH r AS (
      |  SELECT event_type,
      |         CASE WHEN event_id % 5 = 0 THEN NULL
      |              ELSE value / (event_id % 5) END AS ratio
      |  FROM events)
      |SELECT event_type, count(*) AS n,
      |       CAST(sum(CASE WHEN ratio IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_ratio,
      |       round(CAST(sum(CAST(ratio AS DECIMAL(18,6))) AS DOUBLE), 2) AS ratio_sum
      |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Correlated LATERAL join with per-row LIMIT — "top order per
    * customer" as the SQL-standard lateral form (Catalyst plans it as
    * a rewritten join, not a per-row loop). Identical ANSI text runs on
    * both engines. */
  private val lateralText: String =
    """SELECT c.c_custkey, t.top_orderkey, t.top_price
      |FROM customer c,
      |LATERAL (SELECT o_orderkey AS top_orderkey,
      |                round(CAST(o_totalprice AS DOUBLE), 2) AS top_price
      |         FROM orders
      |         WHERE o_custkey = c.c_custkey
      |         ORDER BY o_totalprice DESC, o_orderkey
      |         LIMIT 1) t
      |WHERE c.c_custkey % 50 = 0
      |ORDER BY c.c_custkey""".stripMargin

  def topOrderLateral(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("customer")
    Tables.orders(spark, dir).createOrReplaceTempView("orders")
    spark.sql(lateralText)
  }

  /** Time-series resample + gap-fill: a dense per-station hourly spine
    * (sequence over the observed range × distinct stations), left-joined
    * with the windowed averages, gaps forward-filled. The
    * regularization step monitoring dashboards and ML feature pipelines
    * need — the spine is generated, not scanned, so its cost is
    * independent of event volume; the fill is the linear per-partition
    * window. */
  def sensorHourlySpine(spark: SparkSession, dir: String): DataFrame = {
    // materialized once: referenced three times (bounds, station list,
    // join side) — un-materialized, the events scan + windowed aggregate
    // would run 3×. Registry-wide convention: build frames that feed
    // self-joins use localCheckpoint (eager, see QueryConventions), NOT cache() — the
    // frame is computed once on first use and its blocks are reclaimed by
    // the ContextCleaner as soon as the result frame is garbage-collected,
    // so registered queries never pin catalog storage and a long-lived
    // session does not depend on LRU eviction or callers' clearCache().
    val v = graft.queries.ParityQueries.sensorShaped(spark, dir)
      .withColumn("value_numeric", expr("try_cast(value_str AS double)"))
      .groupBy(window(col("ts"), "1 hour"), col("station_id"))
      .agg(round(avg(col("value_numeric")), 6).as("avg_v"))
      .select(col("window.start").as("hour"), col("station_id"), col("avg_v"))
      .materializeOnce
    val bounds = v.agg(min(col("hour")).as("lo"), max(col("hour")).as("hi"))
    val hours = bounds
      .select(explode(sequence(col("lo"), col("hi"), expr("interval 1 hour"))).as("hour"))
    val spine = hours.crossJoin(v.select(col("station_id")).distinct())
    val fill = Window.partitionBy(col("station_id")).orderBy(col("hour"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(v, Seq("hour", "station_id"), "left")
      .select(
        col("station_id"), col("hour"),
        col("avg_v").isNull.as("is_gap"),
        last(col("avg_v"), ignoreNulls = true).over(fill).as("filled"))
      .orderBy("station_id", "hour")
  }

  private val sensorHourlySpineSql: String =
    """WITH v AS (
      |  SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS hour,
      |         CAST(user_id AS VARCHAR) AS station_id,
      |         round(avg(TRY_CAST(CASE WHEN event_type = 'error' THEN '<<bad_data>>'
      |                                 ELSE CAST(value AS VARCHAR) END AS DOUBLE)), 6) AS avg_v
      |  FROM events
      |  GROUP BY 1, 2),
      |b AS (SELECT min(hour) AS lo, max(hour) AS hi FROM v),
      |m AS (SELECT unnest(generate_series(lo, hi, INTERVAL '1 hour')) AS hour FROM b),
      |spine AS (SELECT m.hour, s.station_id
      |          FROM m CROSS JOIN (SELECT DISTINCT station_id FROM v) s)
      |SELECT spine.station_id, spine.hour,
      |       v.avg_v IS NULL AS is_gap,
      |       last_value(v.avg_v IGNORE NULLS)
      |         OVER (PARTITION BY spine.station_id ORDER BY spine.hour
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
      |FROM spine LEFT JOIN v
      |  ON v.hour = spine.hour AND v.station_id = spine.station_id
      |ORDER BY spine.station_id, spine.hour""".stripMargin

  /** Rolling-window anomaly score — the online z-score gate a telemetry
    * pipeline runs per reading: each valid value scored against the
    * PRECEDING 10 readings of its (station, sensor) series (past-only
    * frame: the score is causally computable in a stream), flagged at
    * |z| > 3, unscored until 4 priors exist. Frame moments use DECIMAL
    * window sums (DuckDB evaluates sliding frames with segment trees,
    * Spark re-scans the frame — double accumulation order differs, the
    * DECIMAL sums don't care) and variance is the two-moment identity;
    * the divisor stddev is rounded to 6 BEFORE the division, which keeps
    * the z ratio engine-deterministic. One shuffle on (station, sensor);
    * per-key state is the 10-row frame — the same bound a streaming
    * transformWithState port would carry. */
  def sensorRollingZscore(spark: SparkSession, dir: String): DataFrame = {
    val fr = Window.partitionBy(col("station_id"), col("sensor_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-10, -1)
    graft.queries.ParityQueries.sensorShaped(spark, dir)
      .withColumn("value_numeric", expr("try_cast(value_str AS double)"))
      .filter(col("value_numeric").isNotNull)
      .withColumn("n_prior", count(col("value_numeric")).over(fr))
      .withColumn("s1",
        sum(col("value_numeric").cast("decimal(18,6)")).over(fr).cast("double"))
      .withColumn("s2",
        sum((col("value_numeric") * col("value_numeric")).cast("decimal(28,10)")).over(fr)
          .cast("double"))
      .withColumn("std6",
        when(col("n_prior") >= 4,
          round(sqrt(greatest(
            (col("s2") - col("s1") * col("s1") / col("n_prior")) / (col("n_prior") - 1),
            lit(0.0))), 6)))
      .withColumn("zscore",
        when(col("n_prior") >= 4 && col("std6") > 0,
          round((col("value_numeric") - col("s1") / col("n_prior")) / col("std6"), 6)))
      .withColumn("is_anomaly", coalesce(abs(col("zscore")) > 3.0, lit(false)))
      .select("station_id", "sensor_id", "event_id", "value_numeric",
        "n_prior", "zscore", "is_anomaly")
      .orderBy("station_id", "sensor_id", "event_id")
  }

  private val sensorRollingZscoreSql: String =
    """WITH v AS (
      |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts,
      |         CAST(user_id AS VARCHAR) AS station_id,
      |         event_type AS sensor_id,
      |         value AS value_numeric
      |  FROM events
      |  WHERE event_type <> 'error' AND value IS NOT NULL),
      |w AS (
      |  SELECT station_id, sensor_id, event_id, value_numeric,
      |         count(value_numeric) OVER fr AS n_prior,
      |         CAST(sum(CAST(value_numeric AS DECIMAL(18,6))) OVER fr AS DOUBLE) AS s1,
      |         CAST(sum(CAST(value_numeric * value_numeric AS DECIMAL(28,10))) OVER fr AS DOUBLE) AS s2
      |  FROM v
      |  WINDOW fr AS (PARTITION BY station_id, sensor_id ORDER BY ts, event_id
      |                ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)),
      |z AS (
      |  SELECT station_id, sensor_id, event_id, value_numeric,
      |         CAST(n_prior AS BIGINT) AS n_prior,
      |         CASE WHEN n_prior >= 4
      |              THEN round(sqrt(greatest(
      |                     (s2 - s1 * s1 / n_prior) / (n_prior - 1), 0.0)), 6)
      |         END AS std6,
      |         s1
      |  FROM w)
      |SELECT station_id, sensor_id, event_id, value_numeric, n_prior,
      |       CASE WHEN n_prior >= 4 AND std6 > 0
      |            THEN round((value_numeric - s1 / n_prior) / std6, 6)
      |       END AS zscore,
      |       coalesce(abs(CASE WHEN n_prior >= 4 AND std6 > 0
      |                         THEN round((value_numeric - s1 / n_prior) / std6, 6)
      |                    END) > 3.0, FALSE) AS is_anomaly
      |FROM z
      |ORDER BY station_id, sensor_id, event_id""".stripMargin

  /** Shared first-significant-digit Benford expectation, micro-units:
    * ONE Scala computation feeds both the broadcast Spark dim and the
    * oracle VALUES literal — log10 is not correctly-rounded across libm
    * implementations, so it must never be evaluated independently per
    * engine. */
  private val benfordExpected: Seq[(Int, Long)] =
    (1 to 9).map(d => (d, math.round(math.log10(1.0 + 1.0 / d) * 1e6)))

  /** Benford first-digit audit on order totals — the fraud/synthetic-data
    * screen a finance or data-quality pipeline runs on any organically-
    * grown monetary column: the first significant digit of o_totalprice
    * against the Benford expectation log10(1 + 1/d), with per-digit
    * deviation and chi-square-style terms in integer micro-units. A
    * fabricated or truncated feed shows up as a flat (or 1-heavy-beyond-
    * Benford) digit histogram long before any semantic check fires.
    *
    * The first digit comes from the decimal string of floor(price) — no
    * log10/pow on data (a float log at a power-of-10 boundary can land on
    * the wrong side; string truncation cannot). One scan, a 9-key
    * aggregate, a one-row total frame broadcast back — all integer
    * arithmetic after the scan. */
  def ordersBenford(spark: SparkSession, dir: String): DataFrame = {
    val expected = spark.createDataFrame(benfordExpected).toDF("digit", "exp_micro")
    val digits = Tables.orders(spark, dir)
      .select(expr(
        "CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT) AS STRING), 1, 1) AS INT)")
        .as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n_orders"))
    val tot = digits.agg(sum(col("n_orders")).as("n_total"))
    digits.crossJoin(broadcast(tot))
      .join(broadcast(expected), Seq("digit"))
      .withColumn("obs_micro", expr("n_orders * 1000000 div n_total"))
      .withColumn("dev_micro", abs(col("obs_micro") - col("exp_micro")))
      .withColumn("chi_term_micro",
        expr("(obs_micro - exp_micro) * (obs_micro - exp_micro) div exp_micro"))
      .select("digit", "n_orders", "n_total", "obs_micro", "exp_micro",
        "dev_micro", "chi_term_micro")
      .orderBy("digit")
  }

  private val ordersBenfordSql: String = {
    val values = benfordExpected.map { case (d, m) => s"($d, $m)" }.mkString(", ")
    s"""WITH expected(digit, exp_micro) AS (VALUES $values),
       |d AS (
       |  SELECT CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit,
       |         count(*) AS n_orders
       |  FROM orders GROUP BY 1),
       |t AS (SELECT sum(n_orders) AS n_total FROM d)
       |SELECT d.digit, d.n_orders, CAST(t.n_total AS BIGINT) AS n_total,
       |       CAST(d.n_orders * 1000000 // t.n_total AS BIGINT) AS obs_micro,
       |       CAST(e.exp_micro AS BIGINT) AS exp_micro,
       |       CAST(abs(d.n_orders * 1000000 // t.n_total - e.exp_micro) AS BIGINT) AS dev_micro,
       |       CAST((d.n_orders * 1000000 // t.n_total - e.exp_micro)
       |            * (d.n_orders * 1000000 // t.n_total - e.exp_micro) // e.exp_micro AS BIGINT) AS chi_term_micro
       |FROM d CROSS JOIN t JOIN expected e ON e.digit = d.digit
       |ORDER BY d.digit""".stripMargin
  }

  /** Deterministic half-sample bootstrap of the mean order value — the
    * uncertainty quantification beside the point estimates everywhere
    * else in this module: [[BootstrapReps]] subsample replicates, each
    * keeping an order iff hash(orderkey ⊕ replicate) is even (so the
    * "resampling" is reproducible, cluster-size-independent and
    * oracle-verifiable — a seeded RNG is none of those), and the report
    * is the replicate-mean spread: the 2nd/19th order statistics of 20
    * half-sample means bracket an ~80% subsampling interval (half-sample
    * deviations overstate full-sample ones by √2 — the reader applies
    * the m-out-of-n correction; the SPREAD is the decision signal).
    *
    * Shape: the replicate dim is a broadcast 20-row frame; the corpus
    * is scanned once with a 20× map-side hash fan-out into a 20-key
    * aggregate (replicate count = CPU multiplier, the standard Poisson-
    * bootstrap trade); everything downstream is a 20-row frame. Money
    * stays exact: DECIMAL micro-units end to end, integral division. */
  def ordersBootstrapCi(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.DedupOps
    val reps = spark.range(0, BootstrapReps).select(col("id").as("rep"))
    val base = Tables.ordersWide(spark, dir)
      .select(col("o_orderkey"),
        (col("o_totalprice").cast("decimal(18,6)") * 1000000)
          .cast("decimal(38,0)").as("pm"))
    val repMeans = base.crossJoin(broadcast(reps))
      .filter(pmod(DedupOps.h60(
        concat(col("o_orderkey").cast("string"), lit(":"), col("rep").cast("string"))),
        lit(2L)) === 0)
      .groupBy(col("rep"))
      .agg(count(lit(1)).as("n_orders"), sum(col("pm")).as("sum_pm"))
      .withColumn("mean_micro", expr("sum_pm div n_orders").cast("long"))
    val ranked = repMeans
      .withColumn("rk", row_number().over(Window.orderBy(col("mean_micro"), col("rep"))))
    val full = base.agg(count(lit(1)).as("n_full"),
      expr("sum(pm) div count(1)").cast("long").as("mean_full_micro"))
    ranked.agg(
      count(lit(1)).as("n_reps"),
      min(col("n_orders")).as("min_rep_n"),
      max(when(col("rk") === 2, col("mean_micro"))).as("rep_lo_micro"),
      max(when(col("rk") === lit(BootstrapReps - 1), col("mean_micro"))).as("rep_hi_micro"))
      .crossJoin(broadcast(full))
      .withColumn("spread_micro", col("rep_hi_micro") - col("rep_lo_micro"))
      .select("n_reps", "n_full", "mean_full_micro", "min_rep_n",
        "rep_lo_micro", "rep_hi_micro", "spread_micro")
  }

  private val BootstrapReps = 20

  private val ordersBootstrapCiSql: String =
    s"""WITH base AS (
       |  SELECT o_orderkey,
       |         CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 1000000 AS DECIMAL(38,0)) AS pm
       |  FROM orders),
       |reps AS (SELECT unnest(range(0, $BootstrapReps)) AS rep),
       |rm AS (
       |  SELECT r.rep, count(*) AS n_orders,
       |         -- HUGEINT first: DuckDB's // on DECIMAL rounds, it does not floor
       |         CAST(CAST(sum(b.pm) AS HUGEINT) // count(*) AS BIGINT) AS mean_micro
       |  FROM base b CROSS JOIN reps r
       |  WHERE CAST('0x' || substring(md5(CAST(b.o_orderkey AS VARCHAR) || ':' || CAST(r.rep AS VARCHAR)), 1, 15) AS BIGINT) % 2 = 0
       |  GROUP BY r.rep),
       |rk AS (
       |  SELECT rep, n_orders, mean_micro,
       |         row_number() OVER (ORDER BY mean_micro, rep) AS rk
       |  FROM rm),
       |full_est AS (
       |  SELECT count(*) AS n_full,
       |         CAST(CAST(sum(pm) AS HUGEINT) // count(*) AS BIGINT) AS mean_full_micro
       |  FROM base)
       |SELECT count(*) AS n_reps,
       |       f.n_full,
       |       f.mean_full_micro,
       |       CAST(min(n_orders) AS BIGINT) AS min_rep_n,
       |       CAST(max(CASE WHEN rk = 2 THEN mean_micro END) AS BIGINT) AS rep_lo_micro,
       |       CAST(max(CASE WHEN rk = ${BootstrapReps - 1} THEN mean_micro END) AS BIGINT) AS rep_hi_micro,
       |       CAST(max(CASE WHEN rk = ${BootstrapReps - 1} THEN mean_micro END)
       |            - max(CASE WHEN rk = 2 THEN mean_micro END) AS BIGINT) AS spread_micro
       |FROM rk CROSS JOIN full_est f
       |GROUP BY f.n_full, f.mean_full_micro""".stripMargin

  /** Hill tail-index estimate over the top order values — the heavy-tail
    * diagnostic beside [[ordersWinsorized]]'s symptom treatment and
    * `orders_skew_profile`'s moments: Ĥ = (1/k)Σᵢ ln(x₍ᵢ₎/x₍ₖ₊₁₎) over
    * the k = 100 largest values, whose reciprocal α̂ = 1/Ĥ is the Pareto
    * tail exponent — α ≤ 2 means infinite variance (sample means never
    * stabilize; cap or winsorize), α ≤ 1 means infinite MEAN. The
    * capacity planner's answer to "can I trust this average at all".
    *
    * Scale shape: top-(k+1) is a distributed TakeOrdered (per-partition
    * heaps merged on one reducer — never a global sort); everything
    * after is a 101-row frame. Cross-engine ln discipline follows the
    * markov-entropy precedent: each ln is rounded to 6 dp BEFORE the
    * DECIMAL-exact sum, so a ≤1-ulp libm divergence cannot reach the
    * aggregate; the division inputs are identical decimals-cast-double
    * in both engines. */
  def ordersHillTail(spark: SparkSession, dir: String): DataFrame = {
    val k = 100
    val top = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice").cast("decimal(18,6)").as("p"))
      .orderBy(col("p").desc, col("o_orderkey"))
      .limit(k + 1)
    val thr = top.agg(min(col("p")).as("thr"))
    top.crossJoin(broadcast(thr))
      .withColumn("rn", row_number().over(Window.orderBy(col("p").desc, col("o_orderkey"))))
      .filter(col("rn") <= k)
      .withColumn("lr",
        round(log(col("p").cast("double") / col("thr").cast("double")), 6))
      .groupBy(col("thr"))
      .agg(count(lit(1)).as("k_top"),
        sum(col("lr").cast("decimal(18,6)")).as("sum_lr"))
      .select(
        col("k_top"),
        (col("thr") * 1000000).cast("long").as("thr_micro"),
        expr("CAST(sum_lr * 1000000 AS DECIMAL(38,0)) div k_top").cast("long")
          .as("hill_micro"),
        expr("CASE WHEN CAST(sum_lr * 1000000 AS DECIMAL(38,0)) div k_top > 0 " +
          "THEN 1000000000000 div (CAST(sum_lr * 1000000 AS DECIMAL(38,0)) div k_top) END")
          .cast("long").as("alpha_micro"))
  }

  private val ordersHillTailSql: String =
    """WITH top AS (
      |  SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,6)) AS p
      |  FROM orders ORDER BY p DESC, o_orderkey LIMIT 101),
      |thr AS (SELECT min(p) AS thr FROM top),
      |r AS (
      |  SELECT p, t.thr,
      |         row_number() OVER (ORDER BY p DESC, o_orderkey) AS rn
      |  FROM top CROSS JOIN thr t),
      |s AS (
      |  SELECT thr, count(*) AS k_top,
      |         sum(CAST(round(ln(CAST(p AS DOUBLE) / CAST(thr AS DOUBLE)), 6)
      |                  AS DECIMAL(18,6))) AS sum_lr
      |  FROM r WHERE rn <= 100 GROUP BY thr)
      |SELECT k_top,
      |       CAST(thr * 1000000 AS BIGINT) AS thr_micro,
      |       CAST(CAST(sum_lr * 1000000 AS HUGEINT) // k_top AS BIGINT) AS hill_micro,
      |       CASE WHEN CAST(sum_lr * 1000000 AS HUGEINT) // k_top > 0
      |            THEN CAST(1000000000000 // (CAST(sum_lr * 1000000 AS HUGEINT) // k_top) AS BIGINT)
      |       END AS alpha_micro
      |FROM s""".stripMargin

  /** Median-of-means — the robust mean estimator that survives
    * heavy-tailed contamination with sub-Gaussian deviation (Nemirovsky–
    * Yudin): orders are dealt into [[MomBuckets]] fixed key-hash buckets,
    * each bucket's mean is taken exactly in micro fixed-point, and the
    * estimate is the MEDIAN of the bucket means — a single wild bucket
    * moves the estimate by one order statistic, where it would drag the
    * plain mean arbitrarily. Emitted beside the plain mean so the gap
    * (`mom_minus_mean_micro`) IS the tail-contamination signal (compare
    * [[ordersWinsorized]], which clips; MoM never touches the data).
    *
    * All arithmetic is exact: price → DECIMAL(18,6) micro longs, bucket
    * sums through DECIMAL(38,0) (no overflow at any SF), truncating
    * `div` for every mean, and the even-count median is the truncated
    * midpoint of the two central order statistics.
    *
    * Scale shape: one hash aggregate to [[MomBuckets]] rows, then a
    * single-partition rank over that fixed-size frame (reviewed in the
    * bounded-frame allowlist) — the data is never sorted. */
  def ordersMedianOfMeans(spark: SparkSession, dir: String): DataFrame = {
    val micro = (col("o_totalprice").cast("decimal(18,6)") * 1000000).cast("long")
    val buckets = Tables.orders(spark, dir)
      .select(pmod(col("o_orderkey"), lit(MomBuckets)).as("bucket"), micro.as("pm"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("pm").cast("decimal(38,0)")).as("s"))
      .withColumn("mean_micro", expr("s div n"))
    val w = Window.partitionBy()
    GlobalWindow.boundedRowNumber(buckets, "rk")(col("mean_micro"), col("bucket"))
      .withColumn("nb", count(lit(1)).over(w))
      .withColumn("n_orders", sum(col("n")).over(w))
      .withColumn("tot", sum(col("s")).over(w))
      .filter(col("rk") === expr("(nb + 1) div 2") ||
        col("rk") === expr("(nb + 2) div 2"))
      .groupBy(col("nb"), col("n_orders"), col("tot"))
      .agg(expr("sum(mean_micro) div count(1)").as("mom_micro"))
      .select(
        col("nb").as("n_buckets"), col("n_orders"),
        expr("tot div n_orders").as("mean_micro"),
        col("mom_micro"),
        (col("mom_micro") - expr("tot div n_orders")).as("mom_minus_mean_micro"))
  }

  private val ordersMedianOfMeansSql: String =
    s"""WITH b AS (
       |  SELECT o_orderkey % $MomBuckets AS bucket, count(*) AS n,
       |         sum(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 1000000 AS BIGINT)
       |                  AS HUGEINT)) AS s
       |  FROM orders GROUP BY 1),
       |m AS (SELECT bucket, n, s, s // n AS mean_micro FROM b),
       |r AS (
       |  SELECT *, row_number() OVER (ORDER BY mean_micro, bucket) AS rk,
       |         count(*) OVER () AS nb,
       |         sum(n) OVER () AS n_orders,
       |         sum(s) OVER () AS tot
       |  FROM m)
       |SELECT CAST(nb AS BIGINT) AS n_buckets,
       |       CAST(n_orders AS BIGINT) AS n_orders,
       |       CAST(tot // n_orders AS BIGINT) AS mean_micro,
       |       CAST(sum(mean_micro) // count(*) AS BIGINT) AS mom_micro,
       |       CAST(sum(mean_micro) // count(*) - tot // n_orders AS BIGINT)
       |         AS mom_minus_mean_micro
       |FROM r
       |WHERE rk = (nb + 1) // 2 OR rk = (nb + 2) // 2
       |GROUP BY nb, n_orders, tot""".stripMargin

  /** Grouped OLS — the per-segment regression coefficient beside the
    * per-segment correlation ([[lineitemCorrStats]] answers "do discount
    * and volume move together per returnflag"; this answers "by HOW MUCH
    * per unit of discount, per brand", the demand-elasticity readout a
    * pricing team consumes). Per brand: the closed-form slope
    * (n·Σxy − Σx·Σy)/(n·Σx² − (Σx)²) of quantity on discount, plus the
    * elasticity at the means slope·x̄/ȳ. Brands with no discount
    * variance have no defined slope and are excluded (same HAVING in
    * the oracle).
    *
    * Scale shape: broadcast part dim onto the fact scan, ONE
    * brand-keyed moment aggregate (map-side partials) — the moments are
    * the whole shuffle; no row ever leaves with more than 5 numbers.
    * Exactness: x and y are exact micro/unit integers, all five moments
    * accumulate in DECIMAL(38,0), and the two reported ratios use the
    * shared floor(exact-int-to-double division · 10⁶) convention (both
    * engines convert the same exact integers to the same doubles). */
  def brandDiscountElasticity(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_partkey"),
        (col("l_discount").cast("decimal(18,6)") * 1000000).cast("long").as("x"),
        col("l_quantity").cast("long").as("y"))
    val p = Tables.part(spark, dir).select(col("p_partkey"), col("p_brand"))
    li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast("decimal(38,0)")).as("sx"),
        sum(col("y").cast("decimal(38,0)")).as("sy"),
        sum((col("x") * col("y")).cast("decimal(38,0)")).as("sxy"),
        sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"))
      .withColumn("num", col("n") * col("sxy") - col("sx") * col("sy"))
      .withColumn("den", col("n") * col("sxx") - col("sx") * col("sx"))
      .filter(col("den") > 0)
      .select(col("p_brand"), col("n"),
        floor(col("num").cast("double") / col("den").cast("double") * 1e6)
          .cast("long").as("slope_ppm"),
        floor(col("num").cast("double") / col("den").cast("double")
          * (col("sx").cast("double") / col("sy").cast("double")) * 1e6)
          .cast("long").as("elasticity_ppm"))
      .orderBy("p_brand")
  }

  private val brandDiscountElasticitySql: String =
    """WITH j AS (
      |  SELECT p_brand,
      |         CAST(CAST(l_discount AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS x,
      |         CAST(l_quantity AS BIGINT) AS y
      |  FROM lineitem JOIN part ON l_partkey = p_partkey),
      |m AS (
      |  SELECT p_brand, count(*) AS n,
      |         sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
      |         sum(CAST(x AS HUGEINT) * y) AS sxy,
      |         sum(CAST(x AS HUGEINT) * x) AS sxx
      |  FROM j GROUP BY p_brand),
      |f AS (
      |  SELECT p_brand, n,
      |         n * sxy - sx * sy AS num,
      |         n * sxx - sx * sx AS den, sx, sy
      |  FROM m)
      |SELECT p_brand, CAST(n AS BIGINT) AS n,
      |       CAST(floor(CAST(num AS DOUBLE) / CAST(den AS DOUBLE) * 1e6) AS BIGINT) AS slope_ppm,
      |       CAST(floor(CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
      |            * (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE)) * 1e6) AS BIGINT) AS elasticity_ppm
      |FROM f WHERE den > 0
      |ORDER BY p_brand""".stripMargin

  /** Return-rate ranking under uncertainty — the Wilson score lower
    * bound (the "how not to sort by average rating" classic): a brand's
    * raw return share can't be compared across brands with different
    * volumes, so each brand gets the 95% Wilson lower bound of its
    * return proportion — small-n brands are pulled toward 0 exactly as
    * much as their evidence is thin, and sorting by the bound is the
    * defensible ranking. z = 1.96 enters only as the exact decimal
    * 3.8416 = z², shared by both dialects.
    *
    * Scale shape: broadcast part dim onto the fact scan, one
    * brand-keyed (n, returns) aggregate — two numbers per brand.
    * Exactness: counts exact; the bound is ONE fixed double expression
    * over (r, n) floored to ppm — identical IEEE arithmetic both
    * sides. */
  def brandReturnRateWilson(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), (col("l_returnflag") === "R").cast("long").as("ret"))
    val p = Tables.part(spark, dir).select(col("p_partkey"), col("p_brand"))
    li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n"), sum(col("ret")).as("r"))
      .withColumn("rate_ppm", expr("r * 1000000 div n"))
      .withColumn("wilson_lo_ppm", floor(
        (col("r").cast("double") / col("n") + lit(3.8416) / (lit(2.0) * col("n"))
          - lit(1.96) * sqrt(
            (col("r").cast("double") / col("n"))
              * (lit(1.0) - col("r").cast("double") / col("n")) / col("n")
              + lit(3.8416) / (lit(4.0) * col("n") * col("n"))))
          / (lit(1.0) + lit(3.8416) / col("n")) * 1e6).cast("long"))
      .select(col("p_brand"), col("n"), col("r"), col("rate_ppm"),
        col("wilson_lo_ppm"))
      .orderBy(col("wilson_lo_ppm").desc, col("p_brand"))
  }

  private val brandReturnRateWilsonSql: String =
    """WITH j AS (
      |  SELECT p_brand,
      |         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS ret
      |  FROM lineitem JOIN part ON l_partkey = p_partkey),
      |g AS (SELECT p_brand, count(*) AS n, sum(ret) AS r FROM j GROUP BY p_brand)
      |SELECT p_brand, CAST(n AS BIGINT) AS n, CAST(r AS BIGINT) AS r,
      |       CAST(r * 1000000 // n AS BIGINT) AS rate_ppm,
      |       CAST(floor(
      |         (CAST(r AS DOUBLE) / n + 3.8416 / (2.0 * n)
      |          - 1.96 * sqrt(
      |              (CAST(r AS DOUBLE) / n) * (1.0 - CAST(r AS DOUBLE) / n) / n
      |              + 3.8416 / (4.0 * n * n)))
      |         / (1.0 + 3.8416 / n) * 1e6) AS BIGINT) AS wilson_lo_ppm
      |FROM g ORDER BY wilson_lo_ppm DESC, p_brand""".stripMargin

  val queries: Map[String, Q] = Map(
    "brand_return_rate_wilson"  -> (brandReturnRateWilson _),
    "brand_discount_elasticity" -> (brandDiscountElasticity _),
    "orders_median_of_means" -> (ordersMedianOfMeans _),
    "orders_hill_tail"    -> (ordersHillTail _),
    "orders_bootstrap_ci" -> (ordersBootstrapCi _),
    "orders_benford" -> (ordersBenford _),
    "sensor_rolling_zscore" -> (sensorRollingZscore _),
    "sensor_hourly_spine"          -> (sensorHourlySpine _),
    "top_order_lateral"            -> (topOrderLateral _),
    "events_try_arithmetic"        -> (eventsTryArithmetic _),
    "orders_window_functions"      -> (ordersWindowFunctions _),
    "returnflag_statuses"          -> (returnflagStatuses _),
    "events_agg_families"          -> (eventsAggFamilies _),
    "sensor_forward_fill"          -> (sensorForwardFill _),
    "sensor_ewma"                  -> (sensorEwma _),
    "sensor_interpolate"           -> (sensorInterpolate _),
    "orders_rolling_7d"            -> (ordersRolling7d _),
    "order_status_runs"            -> (orderStatusRuns _),
    "sensor_mad_outliers"          -> (sensorMadOutliers _),
    "orders_zorder_keys"           -> (ordersZorderKeys _),
    "layout_skipping_gain"         -> (layoutSkippingGain _),
    "data_quality_report"          -> (dataQualityReport _),
    "salted_brand_revenue"         -> (saltedBrandRevenue _),
    "embedding_top_components"     -> (embeddingTopComponents _),
    "nation_balance_full_outer"    -> (nationBalanceFullOuter _),
    "customer_order_gaps"          -> (customerOrderGaps _),
    "lineitem_corr_stats"          -> (lineitemCorrStats _),
    "customer_running_revenue"     -> (customerRunningRevenue _),
    "orders_grouping_sets"         -> (ordersGroupingSets _),
    "lineitem_unpivot"             -> (lineitemUnpivot _),
    "segment_customers_with_orders" -> (segmentCustomersWithOrders _),
    "part_name_functions"          -> (partNameFunctions _),
    "orders_calendar"              -> (ordersCalendar _),
    "events_value_imputation"      -> (eventsValueImputation _),
    "priority_outlier_orders"      -> (priorityOutlierOrders _),
    "priority_set_ops_all"         -> (prioritySetOpsAll _),
    "embedding_normalize"          -> (embeddingNormalize _))

  val oracle: Map[String, String] = Map(
    "brand_return_rate_wilson"  -> brandReturnRateWilsonSql,
    "brand_discount_elasticity" -> brandDiscountElasticitySql,
    "orders_median_of_means" -> ordersMedianOfMeansSql,
    "orders_hill_tail"    -> ordersHillTailSql,
    "orders_bootstrap_ci" -> ordersBootstrapCiSql,
    "orders_benford" -> ordersBenfordSql,
    "sensor_rolling_zscore" -> sensorRollingZscoreSql,
    "sensor_hourly_spine"          -> sensorHourlySpineSql,
    "top_order_lateral"            -> lateralText,
    "events_try_arithmetic"        -> eventsTryArithmeticSql,
    "orders_window_functions"      -> ordersWindowFunctionsSql,
    "returnflag_statuses"          -> returnflagStatusesSql,
    "events_agg_families"          -> eventsAggFamiliesSql,
    "sensor_forward_fill"          -> sensorForwardFillSql,
    "sensor_ewma"                  -> sensorEwmaSql,
    "sensor_interpolate"           -> sensorInterpolateSql,
    "orders_rolling_7d"            -> ordersRolling7dSql,
    "order_status_runs"            -> orderStatusRunsSql,
    "sensor_mad_outliers"          -> sensorMadOutliersSql,
    "orders_zorder_keys"           -> ordersZorderKeysSql,
    "layout_skipping_gain"         -> layoutSkippingGainSql,
    "data_quality_report"          -> dataQualityReportSql,
    "salted_brand_revenue"         -> saltedBrandRevenueSql,
    "embedding_top_components"     -> embeddingTopComponentsSql,
    "nation_balance_full_outer"    -> nationBalanceFullOuterSql,
    "customer_order_gaps"          -> customerOrderGapsSql,
    "lineitem_corr_stats"          -> lineitemCorrStatsSql,
    "customer_running_revenue"     -> customerRunningRevenueSql,
    "orders_grouping_sets"         -> groupingSetsText,
    "lineitem_unpivot"             -> lineitemUnpivotSql,
    "segment_customers_with_orders" -> segmentCustomersWithOrdersSql,
    "part_name_functions"          -> partNameFunctionsSql,
    "orders_calendar"              -> ordersCalendarSql,
    "events_value_imputation"      -> eventsValueImputationSql,
    "priority_outlier_orders"      -> outlierText,
    "priority_set_ops_all"         -> prioritySetOpsAllSql,
    "embedding_normalize"          -> embeddingNormalizeSql)
}
