package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig}

import graft.functions.VectorFunctions

/** One bucketed embedding row on the ingest stream, keyed by its
  * random-hyperplane LSH bucket before `transformWithState`. `emb` is
  * the double-cast embedding and `norm` its L2 norm — both computed
  * map-side by [[SemanticDedupTracker.streamInput]] so a bucket
  * collision scores without any lookup. */
case class SemIn(
    vecId: Long, bucket: Long, emb: Array[Double], norm: Double,
    ts: Timestamp)

/** One embedding near-dup pair discovered at ingest: exact cosine over
  * the full vectors (the bucket only shortlists), rounded to 6 dp like
  * the batch `lsh_near_dup` rows. Emitted once per pair (a bucket is a
  * vector's single routing key, unlike the multi-band MinHash case). */
case class SemCandOut(bucket: Long, aId: Long, bId: Long, cosSim: Double)

/** Stored bucket member: (vecId, embedding, norm, lastSeenMs). */
case class SemEntry(vecId: Long, emb: Array[Double], norm: Double, lastMs: Long)

/** EMBEDDING near-dup discovery at ingest — the SemDeDup-shaped member
  * completing the stream-dedup family: [[FingerprintDedupTracker]]
  * catches exact copies, [[LshDedupTracker]] lexical near-dups, and
  * this tracker semantic ones (same meaning, different words — the
  * class shingle methods cannot see), as embeddings ARRIVE rather than
  * in a nightly batch pass.
  *
  * Shape mirrors the batch `lsh_near_dup` query exactly: the
  * random-hyperplane bucket (6 fixed literal planes → 64 buckets, the
  * same seeded planes as the batch) is computed MAP-SIDE per row along
  * with the vector's norm; only the within-bucket join is stateful.
  * State per bucket is the in-horizon member list; an arriving vector
  * scores exact cosine against every stored member — the same
  * left-to-right double fold as [[VectorFunctions.dot]], rounded 6 dp
  * HALF_UP like the batch — and emits pairs at the batch threshold
  * (cos ≥ 0.3), ids ordered (min, max). Within a micro-batch rows fold
  * in vecId order, so emission is deterministic under intra-batch
  * scrambling.
  *
  * State & eviction: [[TimerSessionTracker]]-style event-time timers
  * evict members older than the retention horizon, so state is the
  * in-horizon corpus, never the stream; `SemanticDedupStreamSpec` pins
  * set-equality with the batch query (values included) and the
  * horizon-forgetting trade. An at-least-once REDELIVERY of an
  * already-admitted vecId refreshes the stored member's lastSeen (max,
  * like [[FingerprintDedupTracker]]) and re-emits nothing, so pair
  * emission survives upstream replay for admitted members. A row whose
  * embedding DIMENSION differs from a stored member's (dim drift in
  * the feed) scores no pair against that member instead of crashing
  * the query — cosine between different spaces is undefined, and a
  * malformed row must not take the stream down.
  * `maxBucket` is the hot-bucket admission
  * cap (random-hyperplane buckets are corpus/64-sized by construction,
  * so unlike banded MinHash the cap is a skew backstop, not the normal
  * operating mode). The DEFAULT is
  * [[SemanticDedupTracker.DefaultMaxBucket]] (r12) — bounded, because
  * an unbounded default let one skewed bucket grow its ListState and
  * per-arrival cosine scan without limit at ingest; pass
  * [[SemanticDedupTracker.Uncapped]] explicitly for the uncapped
  * batch-equality form. A batch with refusals emits one DROP-MARKER
  * row per key (bucket = -1, ids = -1,
  * `cosSim` = the NEGATED refusal count, outside the valid cosine
  * range) for [[SemanticDedupTracker.observeDrops]] to count
  * into `StreamingQueryProgress.observedMetrics` and strip — see
  * [[LshDedupTracker.observeDrops]] for the cluster-wide rationale. */
class SemanticDedupTracker(retentionMs: Long, tau: Double = 0.3,
    maxBucket: Int = SemanticDedupTracker.DefaultMaxBucket)
  extends StatefulProcessor[Long, SemIn, SemCandOut] {

  require(retentionMs > 0, s"retentionMs must be positive, got $retentionMs")
  require(maxBucket > 0, s"maxBucket must be positive, got $maxBucket")

  @transient private var st: ListState[SemEntry] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    st = getHandle.getListState[SemEntry](
      "bucket", Encoders.product[SemEntry], TTLConfig.NONE)
  }

  private def members(): Vector[SemEntry] = {
    val b = Vector.newBuilder[SemEntry]
    st.get().foreach(b += _)
    b.result()
  }

  // the batch pipeline's exact arithmetic: left-to-right double fold
  // (VectorFunctions.dot), then Spark round(x, 6) = HALF_UP
  private def cos6(a: Array[Double], na: Double,
      b: Array[Double], nb: Double): Double = {
    var acc = 0.0
    var i = 0
    while (i < a.length) { acc += a(i) * b(i); i += 1 }
    BigDecimal(acc / (na * nb))
      .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  override def handleInputRows(
      key: Long,
      rows: Iterator[SemIn],
      timerValues: TimerValues): Iterator[SemCandOut] = {
    val entries0 = members()
    var entries = entries0
    val prevTimer =
      if (entries.isEmpty) None else Some(entries.map(_.lastMs).min + retentionMs)
    val out = Vector.newBuilder[SemCandOut]
    var batchDrops = 0
    rows.toSeq.sortBy(_.vecId).foreach { r =>
      val member = entries.indexWhere(_.vecId == r.vecId)
      if (member >= 0) {
        // at-least-once redelivery of an admitted member: refresh its
        // horizon clock (max, like FingerprintDedupTracker) and emit
        // nothing — its pairs already went out once
        if (r.ts.getTime > entries(member).lastMs)
          entries = entries.updated(member,
            entries(member).copy(lastMs = r.ts.getTime))
      } else {
        entries.foreach { e =>
          // dim drift in the feed: a vector from a different space has
          // no cosine against this member — skip the pair, never throw
          if (e.emb.length == r.emb.length) {
            val c = cos6(e.emb, e.norm, r.emb, r.norm)
            if (c >= tau)
              out += SemCandOut(key,
                math.min(e.vecId, r.vecId), math.max(e.vecId, r.vecId), c)
          }
        }
        if (entries.length < maxBucket)
          entries = entries :+ SemEntry(r.vecId, r.emb, r.norm, r.ts.getTime)
        else batchDrops += 1
      }
    }
    // the refusal count: one marker row per (key, batch) with
    // refusals, counted into observedMetrics and
    // stripped by observeDrops
    if (batchDrops > 0) out += SemCandOut(-1L, -1L, -1L, -batchDrops.toDouble)
    // an admission or a redelivery refresh reassigns `entries` — skip
    // the RocksDB write otherwise (capped or all-duplicate batches
    // leave state untouched)
    if (entries ne entries0) st.put(entries.toArray)
    val newTimer =
      if (entries.isEmpty) None else Some(entries.map(_.lastMs).min + retentionMs)
    if (newTimer != prevTimer) {
      prevTimer.foreach(getHandle.deleteTimer)
      newTimer.foreach(getHandle.registerTimer)
    }
    out.result().iterator
  }

  override def handleExpiredTimer(
      key: Long,
      timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[SemCandOut] = {
    val entries = members()
    val wm = math.max(timerValues.getCurrentWatermarkInMs(),
      expiredTimerInfo.getExpiryTimeInMs())
    val keep = entries.filter(_.lastMs + retentionMs > wm)
    if (keep.isEmpty) st.clear()
    else {
      st.put(keep.toArray)
      getHandle.registerTimer(keep.map(_.lastMs).min + retentionMs)
    }
    Iterator.empty
  }
}

object SemanticDedupTracker {

  /** Production default for the bucket admission cap. Hyperplane
    * buckets are corpus/64-sized by CONSTRUCTION (not clique-sized like
    * banded MinHash), so a clique-scale cap would bind in normal
    * operation; 4096 instead bounds the per-arrival work at 4096
    * dim-64 cosine folds (~0.3 ms) and the per-bucket ListState at
    * ~2 MB (4096 × 64 doubles), i.e. ~128 MB across the fixed 64-bucket
    * space — a skew backstop that the in-horizon corpus of a healthy
    * feed never reaches. */
  val DefaultMaxBucket = 4096

  /** The explicit no-cap setting for batch-equality callers — see
    * [[LshDedupTracker.Uncapped]]. */
  val Uncapped = Int.MaxValue

  /** The `observedMetrics` key [[observeDrops]] registers. */
  val DropsMetric = "graft.semantic.admission_drops"

  /** Surfaces this tracker's admission refusals in
    * `StreamingQueryProgress.observedMetrics` and strips the marker
    * rows — the semantic twin of [[LshDedupTracker.observeDrops]],
    * which documents the cluster-wide rationale. */
  def observeDrops(ds: org.apache.spark.sql.Dataset[SemCandOut])
      : org.apache.spark.sql.Dataset[SemCandOut] = {
    val marker = col("bucket") === lit(-1L)
    ds.observe(DropsMetric,
        coalesce(sum(when(marker, -col("cosSim").cast("long"))), lit(0L))
          .as("admission_drops"))
      .filter(!marker)
  }

  /** THE production composition — the semantic twin of
    * [[LshDedupTracker.ingest]], which documents the rationale (the
    * drop-marker contract must never be half-applied; enforced by
    * `CappedTrackerCompositionSpec`). */
  def ingest(in: org.apache.spark.sql.Dataset[SemIn], retentionMs: Long,
      tau: Double = 0.3, maxBucket: Int = DefaultMaxBucket,
      watermarkDelay: String = "10 seconds")
      : org.apache.spark.sql.Dataset[SemCandOut] =
    observeDrops(in
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.bucket)(Encoders.scalaLong)
      .transformWithState(
        new SemanticDedupTracker(retentionMs, tau = tau, maxBucket = maxBucket),
        TimeMode.EventTime(), OutputMode.Append())(Encoders.product[SemCandOut]))

  /** The batch `lsh_buckets` hyperplanes (6 seeded planes over dim 64 —
    * fixed literals, identical values in the batch plan and the DuckDB
    * oracle). */
  val Planes: Seq[Seq[Double]] = VectorFunctions.hyperplanes(nPlanes = 6, dim = 64)

  /** Map-side prep for the ingest stream: from (vec_id, embedding, ts)
    * rows to [[SemIn]]-shaped rows — bucket and norm per row, NO
    * aggregation, so it composes with `transformWithState` without a
    * chained stateful operator. Bucket values equal the batch
    * `lsh_buckets` query's; the norm is the batch join's
    * sqrt(dot(e, e)). */
  def streamInput(emb: DataFrame): DataFrame =
    emb.select(
      col("vec_id").as("vecId"),
      VectorFunctions.lshBucket(col("embedding"), Planes).as("bucket"),
      transform(col("embedding"), _.cast("double")).as("emb"),
      sqrt(VectorFunctions.dot(col("embedding"), col("embedding"))).as("norm"),
      col("ts"))
}
