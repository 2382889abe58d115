package graft.streaming

/** Admission-refusal counts of the capped stream-dedup trackers
  * ([[LshDedupTracker]], [[SemanticDedupTracker]]). A tracker reports
  * refusals as drop-marker rows that its `observeDrops` counts into the
  * query's `observedMetrics` (one figure per micro-batch, aggregated
  * across executors) and strips from the output. */
object AdmissionDrops {

  /** Sums an `observeDrops` metric across progress events. Keeps the
    * metric-struct field name and the absent-metric fold in ONE place.
    * Callers must pass a progress sequence that covers every batch —
    * `recentProgress` truncates at `numRecentProgressUpdates` entries,
    * so legs with more triggers than the buffer must sum through a
    * listener instead, keyed by batchId. */
  def observedTotal(
      progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
      metric: String): Long =
    progress.map(p => Option(p.observedMetrics.get(metric))
      .fold(0L)(_.getAs[Long]("admission_drops"))).sum
}
