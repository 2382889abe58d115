package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Two-phase global numbering — the 100 TB replacement for
  * `Window.orderBy(...)` with no `partitionBy` (which plans a
  * SINGLE-TASK global sort: every row through one executor thread, the
  * classic scale wall):
  *
  *   1. `repartitionByRange` on the sort key — a parallel range shuffle;
  *      each output partition holds a contiguous key range, so partition
  *      index order IS global sort order.
  *   2. Number WITHIN each partition MAP-SIDE: sort in place and read
  *      (pid, local position) off `monotonically_increasing_id` — no
  *      second exchange. (Running sums still use a partitioned window:
  *      a prefix SUM has no id trick.)
  *   3. Add per-partition offsets: a `numParts`-row count frame, turned
  *      into exclusive prefix sums by an exploded pid-triangle equi-join
  *      (no driver collect, no window over the offset frame itself), and
  *      broadcast back onto the data by pid.
  *
  * The result is byte-identical to the single-partition window for any
  * TOTAL order — global rank does not depend on where the range
  * boundaries fall — so callers MUST include a tiebreak column (every
  * registry query already orders by a unique key). The range frame is
  * materialized once so the count pass and the numbering pass see the
  * SAME partitioner instantiation (under `graft.materialize=off` the
  * two structurally-identical range exchanges are deduped by Spark's
  * ReuseExchange rule instead — that mode only builds plans for audits).
  *
  * Cost at scale: one range shuffle + one hash(pid) shuffle of the
  * (usually narrow) frame, both numParts-parallel, vs. the
  * single-partition window's one-task sort of everything.
  */
object GlobalWindow {

  private val Pid = "__gw_pid"

  /** Default parallelism for the range phase — matches
    * spark.sql.shuffle.partitions in the session builder. */
  val DefaultParts = 32

  /** `df` + `out` := 1-based global row number (LONG) under `order`. */
  def rowNumber(df: DataFrame, out: String, numParts: Int = DefaultParts)(
      order: Column*): DataFrame =
    numbered(df, numParts, order, rn = Some(out), total = None, runSum = None)

  /** [[rowNumber]] via the PLAIN single-partition window — ONLY for
    * frames BOUNDED BY CONSTRUCTION (post-`limit` / fixed-k frames that
    * cannot grow with the data), where two-phase numbering pays two
    * data shuffles plus a materialization for a handful of rows (the
    * r6 A/B adjudication in BASELINE.md measured that overhead at
    * 0.5–1.2 s per invocation at local sf0.1). Every caller must be
    * registered in RegistryAuditSpec's bounded-frame allowlist with the
    * reason the frame is bounded; data-sized frames use [[rowNumber]]. */
  def boundedRowNumber(df: DataFrame, out: String)(order: Column*): DataFrame =
    df.withColumn(out, row_number().over(Window.orderBy(order: _*)).cast("long"))

  /** `df` + `rnOut` (LONG global row number) + `cntOut` (LONG total row
    * count) — the pair that exact-centile arithmetic needs. */
  def rowNumberWithCount(df: DataFrame, rnOut: String, cntOut: String,
      numParts: Int = DefaultParts)(order: Column*): DataFrame =
    numbered(df, numParts, order, rn = Some(rnOut), total = Some(cntOut),
      runSum = None)

  /** `df` + `out` := global running sum of `value` over the inclusive
    * unbounded-preceding..current frame under `order`. Sum type follows
    * `sum(value)` (LONG for integral inputs). */
  def runningSum(df: DataFrame, value: Column, out: String,
      numParts: Int = DefaultParts)(order: Column*): DataFrame =
    numbered(df, numParts, order, rn = None, total = None,
      runSum = Some(value -> out))

  /** `df` + `rnOut` (LONG row number) + `sumOut` (running sum of
    * `value`) under one shared `order` — rank + cumulative mass in a
    * single two-phase pass (the Pareto / concurrency shapes). */
  def rowNumberAndRunningSum(df: DataFrame, value: Column, rnOut: String,
      sumOut: String, numParts: Int = DefaultParts)(order: Column*): DataFrame =
    numbered(df, numParts, order, rn = Some(rnOut), total = None,
      runSum = Some(value -> sumOut))

  /** `df` + `out` := `ntile(n) OVER (ORDER BY order)` (INT), derived
    * from the global row number and total count by the SQL-standard
    * bucket rule — the first (total % n) buckets take one extra row —
    * so the result matches the windowed ntile exactly on both engines. */
  def ntile(df: DataFrame, n: Int, out: String,
      numParts: Int = DefaultParts)(order: Column*): DataFrame = {
    val rn = "__gw_ntile_rn"
    val tot = "__gw_ntile_tot"
    numbered(df, numParts, order, rn = Some(rn), total = Some(tot),
      runSum = None)
      .withColumn(out, ntileFromRowNumber(col(rn), n, col(tot)))
      .drop(rn, tot)
  }

  /** k INDEPENDENT global numberings for the price of ONE two-phase
    * pass (r16, guide §2.4/§5 — fewer shuffles, fewer serialized driver
    * jobs): number the whole frame under (`group`, order) — group-major,
    * so each group's rows are CONTIGUOUS in the global order — then
    * rebase every group's numbers to start at 1 with a broadcast
    * per-group offset, and emit the group's row count (what exact
    * centile/ntile arithmetic needs). Because groups are contiguous,
    * within-group rank = global rn − min(global rn of the group) + 1 —
    * byte-identical to numbering each group separately under `order`.
    * Replaces k sequential [[rowNumber]]/[[ntile]] invocations (k range
    * shuffles of the full frame, k eager checkpoints in strict driver
    * sequence) with one range shuffle of the stacked frame plus one
    * group-count aggregate. Callers must still include a unique tiebreak
    * in `order`. */
  def groupedRowNumberWithCount(df: DataFrame, group: String, rnOut: String,
      cntOut: String, numParts: Int = DefaultParts)(order: Column*): DataFrame = {
    val grn = "__gw_grp_rn"
    val g = numbered(df, numParts, col(group) +: order, rn = Some(grn),
      total = None, runSum = None)
    // per-group offsets: ≤ k rows, broadcast back — both this aggregate
    // and the data side re-read the numbering pass's checkpointed range
    // frame (cheap post-checkpoint lineage, no extra shuffle)
    val offs = g.groupBy(col(group)).agg(
      min(col(grn)).as("__gw_grp_g0"), count(lit(1)).as("__gw_grp_n"))
    g.join(broadcast(offs), Seq(group))
      .withColumn(rnOut, col(grn) - col("__gw_grp_g0") + 1L)
      .withColumn(cntOut, col("__gw_grp_n"))
      .drop(grn, "__gw_grp_g0", "__gw_grp_n")
  }

  /** Per-group `ntile(n) OVER (ORDER BY order)` via
    * [[groupedRowNumberWithCount]] — one range shuffle for k independent
    * ntile cuts stacked under a group tag. Same SQL-standard bucket rule
    * as [[ntile]], applied with each group's own row count. */
  def groupedNtile(df: DataFrame, group: String, n: Int, out: String,
      numParts: Int = DefaultParts)(order: Column*): DataFrame = {
    val rn = "__gw_gntile_rn"
    val tot = "__gw_gntile_tot"
    groupedRowNumberWithCount(df, group, rn, tot, numParts)(order: _*)
      .withColumn(out, ntileFromRowNumber(col(rn), n, col(tot)))
      .drop(rn, tot)
  }

  /** The ntile bucket of global row `rn` among `total` rows: bucket
    * sizes are floor(total/n) with the first (total % n) buckets one
    * larger. All arithmetic is exact for counts < 2^52 (the integer
    * divisions go through doubles, exact in that range). */
  private def ntileFromRowNumber(rn: Column, n: Int, total: Column): Column = {
    val big = total % n                                  // buckets with an extra row
    val szSmall = ((total - big) / n).cast("long")       // exact: numerator divisible by n
    val szBig = szSmall + lit(1L)
    val cutoff = big * szBig                             // rows covered by the big buckets
    when(rn <= cutoff, floor((rn - 1) / szBig).cast("long") + 1)
      .otherwise(big + floor((rn - cutoff - 1) / szSmall).cast("long") + 1)
      .cast("int")
  }

  private def numbered(df: DataFrame, numParts: Int, order: Seq[Column],
      rn: Option[String], total: Option[String],
      runSum: Option[(Column, String)]): DataFrame = {
    import QueryConventions.MaterializeSyntax
    require(numParts >= 1, s"numParts must be positive, got $numParts")
    // Local numbering is MAP-SIDE: after the range shuffle the partition
    // is sorted in place and monotonically_increasing_id reads off
    // (partition index << 33 | within-partition position) in that sorted
    // order — no hash(pid) exchange, no per-partition window sort. The
    // running-sum variant still needs the ordered window (a prefix sum
    // has no id trick), so only it pays the pid exchange. 2^33 rows per
    // range partition bounds the id's position field — size numParts so
    // partitions stay under ~8.5e9 rows (they must fit an executor
    // anyway, so this never binds in practice.)
    val mid = "__gw_mid"
    val ranged = df.repartitionByRange(numParts, order: _*)
      .sortWithinPartitions(order: _*)
      .withColumn(mid, monotonically_increasing_id())
      .withColumn(Pid, shiftright(col(mid), 33).cast("int"))
      .materializeOnce // one partitioner: count pass and numbering pass must agree on pid
    // per-partition totals (≤ numParts rows), exploded into the full
    // pid grid so exclusive prefix sums come from a plain equi-join
    // aggregate — no collect, no window over the offset frame
    val perPart = ranged.groupBy(col(Pid)).agg(
      count(lit(1)).as("__gw_cnt"),
      runSum.map { case (v, _) => sum(v).as("__gw_vsum") }.toSeq: _*)
    val grid = perPart.select(
      Seq(col(Pid).as("__gw_src"),
        explode(sequence(lit(0), lit(numParts - 1))).as(Pid),
        col("__gw_cnt")) ++
        runSum.map(_ => col("__gw_vsum")): _*)
    val before = col("__gw_src") < col(Pid)
    val offsets = grid.groupBy(col(Pid)).agg(
      sum(when(before, col("__gw_cnt")).otherwise(lit(0L))).as("__gw_rn_off"),
      sum(col("__gw_cnt")).as("__gw_tot") +:
        runSum.map(_ =>
          sum(when(before, col("__gw_vsum"))).as("__gw_sum_off")).toSeq: _*)
    val w = Window.partitionBy(col(Pid)).orderBy(order: _*)
    val local = Seq(
      rn.map(c => (frame: DataFrame) =>
        frame.withColumn(c,
          (col(mid).bitwiseAND(lit((1L << 33) - 1)) + 1L).as(c))),
      runSum.map { case (v, c) => (frame: DataFrame) =>
        frame.withColumn(c, sum(v).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow))) }
    ).flatten.foldLeft(ranged)((acc, f) => f(acc))
    val joined = local.join(broadcast(offsets), Seq(Pid))
    val globalized = Seq(
      rn.map(c => (frame: DataFrame) =>
        frame.withColumn(c, col(c) + col("__gw_rn_off"))),
      total.map(c => (frame: DataFrame) =>
        frame.withColumn(c, col("__gw_tot"))),
      runSum.map { case (_, c) => (frame: DataFrame) =>
        frame.withColumn(c, col(c) + coalesce(col("__gw_sum_off"), lit(0L))) }
    ).flatten.foldLeft(joined)((acc, f) => f(acc))
    globalized.drop(Pid, mid, "__gw_rn_off", "__gw_tot", "__gw_sum_off")
  }
}
