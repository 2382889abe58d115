package graft.streaming

import java.util.UUID
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

/** PER-QUERY-RUN admission-refusal counts for the stream-dedup trackers
  * (r13, replacing the per-tracker process-global `LongAdder`s): the
  * bucket caps ([[LshDedupTracker.DefaultMaxBucket]],
  * [[SemanticDedupTracker.DefaultMaxBucket]]) count every refused
  * admission, and a production monitor alarms PER PIPELINE — but a
  * global adder conflates two concurrent queries in one JVM (two ingest
  * pipelines sharing an executor each read the other's refusals) and
  * resets only on process death. Counts are keyed by (tracker tag,
  * streaming-query runId): the runId comes from the processor handle's
  * `QueryInfo` at `init`, is unique per query START (a checkpoint
  * restart gets a fresh runId, so replayed batches never double-count
  * into a finished run's figure), and is what `StreamingQuery.runId`
  * exposes on the driver — so a monitor reads its own pipeline's count
  * with no cross-talk ([[LshDedupStreamSpec]] pins two concurrent
  * capped queries not contaminating each other).
  *
  * Accuracy contract (unchanged from the global adders): exact in
  * local/single-JVM mode; per-executor on a real cluster, where the
  * per-executor reading is still the right alarm granularity.
  * Dev/bench observability only — correctness never reads it. Entries
  * are dropped via [[clear]] by long-lived harnesses; one lives per
  * (tracker, run), so growth is bounded by query starts, not data. */
object AdmissionDrops {

  private val byRun = new ConcurrentHashMap[(String, UUID), LongAdder]

  private[streaming] def counter(tracker: String, runId: UUID): LongAdder =
    byRun.computeIfAbsent((tracker, runId), _ => new LongAdder)

  /** Refusals recorded by `tracker` during query run `runId` (0 if the
    * run never refused — or never ran in this JVM). */
  def forRun(tracker: String, runId: UUID): Long =
    Option(byRun.get((tracker, runId))).fold(0L)(_.sum())

  /** Drops the counter for a finished run (bench harness hygiene). */
  def clear(tracker: String, runId: UUID): Unit =
    byRun.remove((tracker, runId))

  /** The cluster-readable total: sums an `observeDrops` metric across
    * progress events (one figure per micro-batch). Shared by the bench
    * harness and the specs so the metric-struct field name and the
    * absent-metric fold live in ONE place. Callers must pass a
    * progress sequence that covers every batch — `recentProgress`
    * truncates at `numRecentProgressUpdates` entries, so legs with
    * more triggers than the buffer must sum through a listener
    * instead, keyed by batchId. */
  def observedTotal(
      progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
      metric: String): Long =
    progress.map(p => Option(p.observedMetrics.get(metric))
      .fold(0L)(_.getAs[Long]("admission_drops"))).sum
}
