package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.queries.QueryConventions.MaterializeSyntax

import graft.sources.Tables

/** Experimentation & causal-analytics tier — the operators an A/B or
  * observational-impact platform runs over the same event/order feeds the
  * rest of the engine already serves: coarsened-exact-matched treatment
  * effects, difference-in-differences, and sequential (SPRT) testing.
  * Everything follows the module-wide exactness rules: deterministic
  * hash/parity assignments (reproducible, cluster-size-independent),
  * integer micro fixed-point for every reported estimate, and the few
  * genuinely transcendental constants (SPRT log-likelihood increments)
  * computed ONCE in Scala and shared as literals by both dialects.
  */
object ExperimentQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Coarsened Exact Matching ATT estimate — the observational answer to
    * "did onboarding through signup change purchasing?" when no
    * experiment exists: treated = users whose FIRST event (min event_id,
    * `min_by`/`arg_min` in the two dialects) is a `signup` — a ~20%
    * prevalence exposure (every user eventually signs up on this feed,
    * so "ever signed up" would leave zero controls — checked), outcome =
    * purchase count, confounders coarsened into strata (activity-volume
    * bucket × active-days bucket). Within a stratum, treated and control are
    * comparable BY CONSTRUCTION (that is CEM's whole move — prune any
    * stratum lacking either side instead of modeling the imbalance),
    * and the ATT is the treated-weighted average of within-stratum mean
    * differences. The pruned counts are emitted because they ARE the
    * method's honesty: a large pruned-treated count means the estimate
    * no longer speaks for the full treated population.
    *
    * One user-level aggregate, one strata-level aggregate, one row out —
    * all integer (per-stratum diffs via integral division in micro). */
  def cemAttEstimate(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.events(spark, dir)
    val users = events
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(to_date(col("ts"))).as("active_days"),
        (min_by(col("event_type"), col("event_id")) === "signup")
          .cast("long").as("treated"),
        sum((col("event_type") === "purchase").cast("long")).as("purchases"))
      .withColumn("eb", expr("n_events div 10"))
      .withColumn("db", expr("active_days div 5"))
    val strata = users.groupBy(col("eb"), col("db"))
      .agg(sum(col("treated")).as("nt"),
        sum(lit(1L) - col("treated")).as("nc"),
        sum(col("treated") * col("purchases")).as("pt"),
        sum((lit(1L) - col("treated")) * col("purchases")).as("pc"))
      .materializeOnce // matched and pruned legs read it once each
    val matched = strata.filter(col("nt") > 0 && col("nc") > 0)
      .withColumn("diff_micro",
        expr("pt * 1000000 div nt - pc * 1000000 div nc"))
      .agg(count(lit(1)).as("n_strata_matched"),
        sum(col("nt")).as("n_treated_matched"),
        sum(col("nc")).as("n_control_matched"),
        expr("sum(nt * diff_micro) div sum(nt)").as("att_micro"))
    val pruned = strata.filter(col("nt") === 0 || col("nc") === 0)
      .agg(coalesce(sum(col("nt")), lit(0L)).as("n_treated_pruned"),
        coalesce(sum(col("nc")), lit(0L)).as("n_control_pruned"))
    matched.crossJoin(broadcast(pruned))
      .select("n_strata_matched", "n_treated_matched", "n_control_matched",
        "n_treated_pruned", "n_control_pruned", "att_micro")
  }

  private val cemAttEstimateSql: String =
    """WITH users AS (
      |  SELECT user_id, count(*) AS n_events,
      |         count(DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS active_days,
      |         CASE WHEN arg_min(event_type, event_id) = 'signup' THEN 1 ELSE 0 END AS treated,
      |         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS purchases
      |  FROM events GROUP BY user_id),
      |strata AS (
      |  SELECT n_events // 10 AS eb, active_days // 5 AS db,
      |         sum(treated) AS nt, sum(1 - treated) AS nc,
      |         sum(treated * purchases) AS pt,
      |         sum((1 - treated) * purchases) AS pc
      |  FROM users GROUP BY 1, 2),
      |matched AS (
      |  SELECT count(*) AS n_strata_matched,
      |         sum(nt) AS n_treated_matched,
      |         sum(nc) AS n_control_matched,
      |         sum(nt * (pt * 1000000 // nt - pc * 1000000 // nc)) // sum(nt) AS att_micro
      |  FROM strata WHERE nt > 0 AND nc > 0),
      |pruned AS (
      |  SELECT coalesce(sum(nt), 0) AS n_treated_pruned,
      |         coalesce(sum(nc), 0) AS n_control_pruned
      |  FROM strata WHERE nt = 0 OR nc = 0)
      |SELECT CAST(m.n_strata_matched AS BIGINT) AS n_strata_matched,
      |       CAST(m.n_treated_matched AS BIGINT) AS n_treated_matched,
      |       CAST(m.n_control_matched AS BIGINT) AS n_control_matched,
      |       CAST(p.n_treated_pruned AS BIGINT) AS n_treated_pruned,
      |       CAST(p.n_control_pruned AS BIGINT) AS n_control_pruned,
      |       CAST(m.att_micro AS BIGINT) AS att_micro
      |FROM matched m CROSS JOIN pruned p""".stripMargin

  /** Difference-in-differences on average order value — the quasi-
    * experimental estimate when a change hit one customer population at
    * a known date: treated = customers in nations 0–11 (a deterministic
    * population split), intervention at 1998-07-01, symmetric one-year
    * pre/post windows. DiD = (T_post − T_pre) − (C_post − C_pre)
    * cancels both the level difference between the populations and the
    * common time trend — exactly what a naive post-only comparison
    * can't. All four cell means are emitted so the parallel-trends
    * reader can see what the estimate is made of.
    *
    * One scan, one 4-cell aggregate, money exact in DECIMAL micro. */
  def ordersDidEstimate(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .select(col("c_custkey"), (col("c_nationkey") < 12).as("treated"))
    val cells = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1997-07-01") &&
        col("o_orderdate") < lit("1999-07-01"))
      .withColumn("post", col("o_orderdate") >= lit("1998-07-01"))
      .join(cust.hint("broadcast"), col("o_custkey") === col("c_custkey"))
      .groupBy(col("treated"), col("post"))
      .agg(count(lit(1)).as("n"),
        sum((col("o_totalprice").cast("decimal(18,6)") * 1000000)
          .cast("decimal(38,0)")).as("s"))
      .withColumn("mean_micro", expr("CAST(s div n AS BIGINT)"))
      .materializeOnce // four pivot legs below
    def cell(t: Boolean, p: Boolean, as: String): DataFrame =
      cells.filter(col("treated") === t && col("post") === p)
        .select(col("n").as(s"n_$as"), col("mean_micro").as(s"mean_${as}_micro"))
    cell(t = true, p = false, "t_pre")
      .crossJoin(broadcast(cell(t = true, p = true, "t_post")))
      .crossJoin(broadcast(cell(t = false, p = false, "c_pre")))
      .crossJoin(broadcast(cell(t = false, p = true, "c_post")))
      .withColumn("did_micro",
        (col("mean_t_post_micro") - col("mean_t_pre_micro"))
          - (col("mean_c_post_micro") - col("mean_c_pre_micro")))
  }

  private val ordersDidEstimateSql: String =
    """WITH cells AS (
      |  SELECT c.c_nationkey < 12 AS treated,
      |         o.o_orderdate >= TIMESTAMP '1998-07-01' AS post,
      |         count(*) AS n,
      |         CAST(sum(CAST(CAST(o.o_totalprice AS DECIMAL(18,6)) * 1000000 AS DECIMAL(38,0)))
      |              AS HUGEINT) AS s
      |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      |  WHERE o.o_orderdate >= TIMESTAMP '1997-07-01'
      |    AND o.o_orderdate < TIMESTAMP '1999-07-01'
      |  GROUP BY 1, 2),
      |m AS (SELECT treated, post, n, CAST(s // n AS BIGINT) AS mean_micro FROM cells)
      |SELECT tp.n AS n_t_pre, tp.mean_micro AS mean_t_pre_micro,
      |       tq.n AS n_t_post, tq.mean_micro AS mean_t_post_micro,
      |       cp.n AS n_c_pre, cp.mean_micro AS mean_c_pre_micro,
      |       cq.n AS n_c_post, cq.mean_micro AS mean_c_post_micro,
      |       (tq.mean_micro - tp.mean_micro) - (cq.mean_micro - cp.mean_micro) AS did_micro
      |FROM (SELECT * FROM m WHERE treated AND NOT post) tp
      |CROSS JOIN (SELECT * FROM m WHERE treated AND post) tq
      |CROSS JOIN (SELECT * FROM m WHERE NOT treated AND NOT post) cp
      |CROSS JOIN (SELECT * FROM m WHERE NOT treated AND post) cq""".stripMargin

  // ---- SPRT constants: computed ONCE here, shared as literals by both
  // dialects (ln is not correctly-rounded across libm implementations —
  // never evaluate it independently per engine). H0: p = 0.18, H1:
  // p = 0.22 purchase share; α = β = 0.05.
  private val SprtP0 = 0.18
  private val SprtP1 = 0.22
  private val SprtWinMicro =
    math.round(math.log(SprtP1 / SprtP0) * 1e6) // per-success increment
  private val SprtLossMicro =
    math.round(math.log((1 - SprtP1) / (1 - SprtP0)) * 1e6) // per-failure
  private val SprtUpperMicro = math.round(math.log(0.95 / 0.05) * 1e6)
  private val SprtLowerMicro = math.round(math.log(0.05 / 0.95) * 1e6)

  /** Daily sequential probability-ratio test (SPRT) on the B arm's
    * purchase share — the always-valid sequential member of the testing
    * family ([[StatQueries]] holds the fixed-horizon t/χ²/MWU forms):
    * users hash into arms by parity, each B-arm event is a Bernoulli
    * trial (success = purchase), and the log-likelihood-ratio walk
    * Λ_d = Σ k_d·ln(p₁/p₀) + (n_d−k_d)·ln((1−p₁)/(1−p₀)) accrues
    * DAILY; the first day Λ exits (ln B, ln A) is the decision day —
    * the whole point being that peeking every day is VALID for this
    * test, unlike for the fixed-horizon ones.
    *
    * The walk is over the CALENDAR-day frame (bounded at any data
    * scale), increments are integer micro via the shared Scala-literal
    * log constants, the cumulative sum is a day-ordered window over
    * that bounded frame, and the decision column is pure integer
    * comparison — engine-exact end to end. */
  def abSprtDaily(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(spark, dir)
      .filter(col("user_id") % 2 === 1) // the B arm
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_trials"),
        sum((col("event_type") === "purchase").cast("long")).as("n_success"))
      .withColumn("llr_inc_micro",
        col("n_success") * SprtWinMicro
          + (col("n_trials") - col("n_success")) * SprtLossMicro)
    val w = Window.orderBy(col("day"))
    val walk = daily
      .withColumn("llr_cum_micro", sum(col("llr_inc_micro")).over(w))
      .withColumn("decision",
        when(col("llr_cum_micro") >= SprtUpperMicro, "reject_h0")
          .when(col("llr_cum_micro") <= SprtLowerMicro, "accept_h0")
          .otherwise("continue"))
    val firstStop = walk.filter(col("decision") =!= "continue")
      .agg(min(col("day")).as("first_decision_day"))
    walk.crossJoin(broadcast(firstStop))
      .withColumn("is_decision_day",
        col("first_decision_day").isNotNull && col("day") === col("first_decision_day"))
      .select("day", "n_trials", "n_success", "llr_inc_micro", "llr_cum_micro",
        "decision", "is_decision_day")
      .orderBy("day")
  }

  private val abSprtDailySql: String =
    s"""WITH daily AS (
       |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
       |         count(*) AS n_trials,
       |         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS n_success
       |  FROM events WHERE user_id % 2 = 1
       |  GROUP BY 1),
       |walk AS (
       |  SELECT day, n_trials, n_success,
       |         n_success * $SprtWinMicro + (n_trials - n_success) * $SprtLossMicro AS llr_inc_micro,
       |         sum(n_success * $SprtWinMicro + (n_trials - n_success) * $SprtLossMicro)
       |           OVER (ORDER BY day) AS llr_cum_micro
       |  FROM daily),
       |dec AS (
       |  SELECT *,
       |         CASE WHEN llr_cum_micro >= $SprtUpperMicro THEN 'reject_h0'
       |              WHEN llr_cum_micro <= $SprtLowerMicro THEN 'accept_h0'
       |              ELSE 'continue' END AS decision
       |  FROM walk),
       |fs AS (SELECT min(day) AS first_decision_day FROM dec WHERE decision <> 'continue')
       |SELECT d.day, CAST(d.n_trials AS BIGINT) AS n_trials,
       |       CAST(d.n_success AS BIGINT) AS n_success,
       |       CAST(d.llr_inc_micro AS BIGINT) AS llr_inc_micro,
       |       CAST(d.llr_cum_micro AS BIGINT) AS llr_cum_micro,
       |       d.decision,
       |       fs.first_decision_day IS NOT NULL AND d.day = fs.first_decision_day AS is_decision_day
       |FROM dec d CROSS JOIN fs
       |ORDER BY d.day""".stripMargin

  /** CUPED-adjusted lift on the parity A/B split — the variance-reduction
    * move every mature experimentation platform applies before reading a
    * lift: each user's PRE-period activity count (first half of the
    * calendar) is the covariate X, their post-period purchase count the
    * metric Y, θ = cov(X,Y)/var(X) pooled across both arms (pre-period
    * data is assignment-independent, so using both arms is unbiased —
    * Deng et al., WSDM 2013), and the adjusted per-arm mean is
    * ȳ − θ·(x̄_arm − x̄). The emitted ρ² IS the method's value: variance
    * shrinks by exactly that factor, so ρ² ≈ 0.3 means 30% fewer users
    * for the same power.
    *
    * Scale shape: one user-level aggregate (the only data-sized
    * shuffle), then one global + one per-arm moment fold over the user
    * frame — three tiny rows joined at the end. Exactness: X and Y are
    * integer counts so every moment sum is exact; cross-moments go
    * through DECIMAL(38,0) (exact at any user count); θ, the adjusted
    * lift, and ρ² are fixed double expressions over those exact
    * integers, floor-fixed to 6 dp; the raw lift is a truncated
    * micro-unit integer. */
  def cupedAdjustedLift(spark: SparkSession, dir: String): DataFrame = {
    val split = lit("2024-01-16")
    val users = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(
        sum((col("ts") < split).cast("long")).as("x"),
        sum((col("ts") >= split && col("event_type") === "purchase")
          .cast("long")).as("y"))
      .withColumn("arm", pmod(col("user_id"), lit(2L)))
    val dec = "decimal(38,0)"
    val m = users.agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum((col("x") * col("x")).cast(dec)).as("sxx"),
      sum((col("x") * col("y")).cast(dec)).as("sxy"),
      sum((col("y") * col("y")).cast(dec)).as("syy"))
    def armAgg(a: Int): DataFrame = users.filter(col("arm") === a)
      .agg(count(lit(1)).as(s"n_$a"),
        sum(col("x")).as(s"sx_$a"), sum(col("y")).as(s"sy_$a"))
    val j = m.crossJoin(broadcast(armAgg(0))).crossJoin(broadcast(armAgg(1)))
    val nD = col("n").cast(dec)
    val covNum = (nD * col("sxy") - (col("sx") * col("sy")).cast(dec))
      .cast("double")
    val varXNum = (nD * col("sxx") - (col("sx") * col("sx")).cast(dec))
      .cast("double")
    val varYNum = (nD * col("syy") - (col("sy") * col("sy")).cast(dec))
      .cast("double")
    val theta = covNum / varXNum
    val meanDiff = (c1: Column, n1: Column, c0: Column, n0: Column) =>
      c1.cast("double") / n1 - c0.cast("double") / n0
    val adj = meanDiff(col("sy_1"), col("n_1"), col("sy_0"), col("n_0")) -
      theta * meanDiff(col("sx_1"), col("n_1"), col("sx_0"), col("n_0"))
    j.select(
      col("n").as("n_users"), col("n_0").as("n_a"), col("n_1").as("n_b"),
      expr("sy_1 * 1000000 div n_1 - sy_0 * 1000000 div n_0")
        .as("raw_lift_micro"),
      (floor(theta * 1e6) / 1e6).as("theta"),
      (floor(adj * 1e6) / 1e6).as("adj_lift"),
      (floor(covNum * covNum / (varXNum * varYNum) * 1e6) / 1e6)
        .as("rho_sq"))
  }

  private val cupedAdjustedLiftSql: String =
    """WITH users AS (
      |  SELECT user_id,
      |         sum(CASE WHEN CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-16'
      |                  THEN 1 ELSE 0 END) AS x,
      |         sum(CASE WHEN CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-16'
      |                       AND event_type = 'purchase'
      |                  THEN 1 ELSE 0 END) AS y,
      |         user_id % 2 AS arm
      |  FROM events GROUP BY user_id),
      |m AS (
      |  SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
      |         sum(CAST(x AS HUGEINT) * x) AS sxx,
      |         sum(CAST(x AS HUGEINT) * y) AS sxy,
      |         sum(CAST(y AS HUGEINT) * y) AS syy
      |  FROM users),
      |a0 AS (SELECT count(*) AS n_0, sum(x) AS sx_0, sum(y) AS sy_0
      |       FROM users WHERE arm = 0),
      |a1 AS (SELECT count(*) AS n_1, sum(x) AS sx_1, sum(y) AS sy_1
      |       FROM users WHERE arm = 1),
      |j AS (SELECT * FROM m CROSS JOIN a0 CROSS JOIN a1),
      |c AS (
      |  SELECT *,
      |         CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE) AS cov_num,
      |         CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE) AS varx_num,
      |         CAST(CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE) AS vary_num
      |  FROM j)
      |SELECT CAST(n AS BIGINT) AS n_users,
      |       CAST(n_0 AS BIGINT) AS n_a, CAST(n_1 AS BIGINT) AS n_b,
      |       CAST(sy_1 * 1000000 // n_1 - sy_0 * 1000000 // n_0 AS BIGINT)
      |         AS raw_lift_micro,
      |       floor(cov_num / varx_num * 1e6) / 1e6 AS theta,
      |       floor((CAST(sy_1 AS DOUBLE) / n_1 - CAST(sy_0 AS DOUBLE) / n_0
      |              - cov_num / varx_num
      |                * (CAST(sx_1 AS DOUBLE) / n_1 - CAST(sx_0 AS DOUBLE) / n_0))
      |             * 1e6) / 1e6 AS adj_lift,
      |       floor(cov_num * cov_num / (varx_num * vary_num) * 1e6) / 1e6
      |         AS rho_sq
      |FROM c""".stripMargin

  /** Sample-ratio mismatch (SRM) check — the trust gate that runs
    * BEFORE any A/B readout (Fabijan et al., KDD 2019: a failed SRM
    * invalidates the experiment regardless of what the metric says,
    * because the randomizer itself is broken). Users hash into two arms
    * by the same deterministic md5 discipline the other experiment
    * entries use; observed DISTINCT-user counts per arm are tested
    * against the designed 50/50 split with the two-cell χ² closed form
    * (o_a − o_b)²/n, flagged at the χ²₁ 5% critical value 3.841459
    * (compared in exact micro-units — no p-value float anywhere).
    *
    * Scale shape: one distinct-user collapse (map-side partial dedup)
    * is the only data-sized stage; everything after is a one-row
    * reduction. Exactness: the statistic is one cross-multiplied
    * truncating integer division. */
  def abSrmCheck(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("user_id")).distinct()
      .select(pmod(graft.operators.DedupOps.h60(
        concat(lit("srm:"), col("user_id").cast("string"))), lit(2L)).as("arm"))
      .agg(count(lit(1)).as("n_users"),
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"))
      .select(col("n_users"), col("n_a"), col("n_b"),
        expr("(n_a - n_b) * (n_a - n_b) * 1000000 div n_users")
          .as("chi2_micro"))
      .withColumn("srm_flag", col("chi2_micro") > 3841459L)

  private val abSrmCheckSql: String =
    """WITH u AS (SELECT DISTINCT user_id FROM events),
      |a AS (
      |  SELECT CAST('0x' || substring(md5('srm:' || CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) % 2 AS arm
      |  FROM u),
      |c AS (
      |  SELECT count(*) AS n_users,
      |         sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n_a,
      |         sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n_b
      |  FROM a)
      |SELECT CAST(n_users AS BIGINT) AS n_users,
      |       CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
      |       CAST((n_a - n_b) * (n_a - n_b) * 1000000 // n_users AS BIGINT) AS chi2_micro,
      |       (n_a - n_b) * (n_a - n_b) * 1000000 // n_users > 3841459 AS srm_flag
      |FROM c""".stripMargin

  /** Sharp regression discontinuity — the third quasi-experimental
    * design beside matching ([[cemAttEstimate]]) and
    * difference-in-differences ([[ordersDidEstimate]]): when treatment
    * switches deterministically at a cutoff of a running variable,
    * the effect is the JUMP between the two local regression lines at
    * the cutoff (Imbens & Lemieux 2008). Running variable: customer
    * account balance; outcome: the customer's order count; cutoff 5000
    * with a ±2500 bandwidth — local linear on each side (the design's
    * standard estimator; a plain mean difference would conflate the
    * jump with the slope), effect = right intercept − left intercept.
    *
    * Scale shape: one pushed-bandwidth-filter scan of the dimension, a
    * LEFT join to per-customer order counts (zero-order customers are
    * real observations), and ONE side-keyed moment aggregate — the
    * shuffle carries ten numbers. Exactness: the running variable is
    * exact micro-units, all moments accumulate in DECIMAL(38,0), and
    * the two intercepts use the shared floor(exact-to-double · 10⁶)
    * convention; the jump is the difference of the floored micro
    * values (defined, engine-identical). */
  def customerRddEstimate(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = 5000000000L // $5000 in micro
    val band = 2500000000L
    val oc = Tables.orders(spark, dir)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("y"))
    val u = Tables.customer(spark, dir)
      .select(col("c_custkey"),
        ((col("c_acctbal").cast("decimal(18,6)") * 1000000).cast("long")
          - cutoff).as("u"))
      .filter(abs(col("u")) <= band)
      .join(oc, col("c_custkey") === col("o_custkey"), "left")
      .withColumn("y", coalesce(col("y"), lit(0L)))
      .withColumn("side", (col("u") >= 0).cast("int"))
    u.groupBy(col("side"))
      .agg(count(lit(1)).as("n"),
        sum(col("u").cast("decimal(38,0)")).as("su"),
        sum(col("y").cast("decimal(38,0)")).as("sy"),
        sum((col("u").cast("decimal(38,0)") * col("y"))).as("suy"),
        sum((col("u").cast("decimal(38,0)") * col("u"))).as("suu"))
      .withColumn("a_micro",
        floor((col("sy") * col("suu") - col("su") * col("suy")).cast("double")
          / (col("n") * col("suu") - col("su") * col("su")).cast("double") * 1e6)
          .cast("long"))
      .groupBy()
      .agg(sum(when(col("side") === 0, col("n"))).as("n_left"),
        sum(when(col("side") === 1, col("n"))).as("n_right"),
        sum(when(col("side") === 0, col("a_micro"))).as("a_left_micro"),
        sum(when(col("side") === 1, col("a_micro"))).as("a_right_micro"))
      .select(col("n_left"), col("n_right"),
        col("a_left_micro"), col("a_right_micro"),
        (col("a_right_micro") - col("a_left_micro")).as("effect_micro"))
  }

  private val customerRddEstimateSql: String =
    """WITH oc AS (SELECT o_custkey, count(*) AS y FROM orders GROUP BY o_custkey),
      |u AS (
      |  SELECT CAST(CAST(c_acctbal AS DECIMAL(18,6)) * 1000000 AS BIGINT)
      |           - 5000000000 AS u,
      |         coalesce(oc.y, 0) AS y
      |  FROM customer c LEFT JOIN oc ON c.c_custkey = oc.o_custkey
      |  WHERE abs(CAST(CAST(c_acctbal AS DECIMAL(18,6)) * 1000000 AS BIGINT)
      |            - 5000000000) <= 2500000000),
      |m AS (
      |  SELECT CASE WHEN u >= 0 THEN 1 ELSE 0 END AS side,
      |         count(*) AS n,
      |         sum(CAST(u AS HUGEINT)) AS su, sum(CAST(y AS HUGEINT)) AS sy,
      |         sum(CAST(u AS HUGEINT) * y) AS suy,
      |         sum(CAST(u AS HUGEINT) * u) AS suu
      |  FROM u GROUP BY 1),
      |a AS (
      |  SELECT side, n,
      |         CAST(floor(CAST(sy * suu - su * suy AS DOUBLE)
      |              / CAST(n * suu - su * su AS DOUBLE) * 1e6) AS BIGINT) AS a_micro
      |  FROM m),
      |f AS (
      |  SELECT sum(CASE WHEN side = 0 THEN n END) AS n_left,
      |         sum(CASE WHEN side = 1 THEN n END) AS n_right,
      |         sum(CASE WHEN side = 0 THEN a_micro END) AS a_left_micro,
      |         sum(CASE WHEN side = 1 THEN a_micro END) AS a_right_micro
      |  FROM a)
      |SELECT CAST(n_left AS BIGINT) AS n_left, CAST(n_right AS BIGINT) AS n_right,
      |       CAST(a_left_micro AS BIGINT) AS a_left_micro,
      |       CAST(a_right_micro AS BIGINT) AS a_right_micro,
      |       CAST(a_right_micro - a_left_micro AS BIGINT) AS effect_micro
      |FROM f""".stripMargin

  val queries: Map[String, Q] = Map(
    "customer_rdd_estimate" -> (customerRddEstimate _),
    "ab_srm_check"        -> (abSrmCheck _),
    "cem_att_estimate"    -> (cemAttEstimate _),
    "orders_did_estimate" -> (ordersDidEstimate _),
    "ab_sprt_daily"       -> (abSprtDaily _),
    "cuped_adjusted_lift" -> (cupedAdjustedLift _))

  val oracle: Map[String, String] = Map(
    "customer_rdd_estimate" -> customerRddEstimateSql,
    "ab_srm_check"        -> abSrmCheckSql,
    "cem_att_estimate"    -> cemAttEstimateSql,
    "orders_did_estimate" -> ordersDidEstimateSql,
    "ab_sprt_daily"       -> abSprtDailySql,
    "cuped_adjusted_lift" -> cupedAdjustedLiftSql)
}
