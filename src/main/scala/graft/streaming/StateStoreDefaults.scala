package graft.streaming

import org.apache.spark.sql.SparkSession

/** The deployment state-store configuration for this library's stateful
  * pipelines (every `transformWithState` tracker and the windowed
  * aggregations): RocksDB provider WITH changelog checkpointing.
  *
  * Why changelog: the provider's default commit uploads a FULL RocksDB
  * snapshot per micro-batch, a maintenance cost proportional to
  * RETAINED state that has nothing to do with the batch's work — the
  * measured A/B on the LSH ingest tracker's state curves (BASELINE.md
  * r12) reads 217.6 s vs 135.1 s at the largest retention horizon, with
  * the changelog-mode wall FLAT across horizons while snapshot-mode
  * grows ~1.5×. At production horizons (hours of retained corpus)
  * snapshot mode makes every trigger pay for state it didn't touch;
  * changelog mode uploads per-commit deltas and amortizes full
  * snapshots into background maintenance. Restore replays the last
  * snapshot plus the changelog tail — `LshDedupRecoverySpec` pins the
  * kill/resume semantics under BOTH modes so the recommended setting is
  * proven, not assumed.
  *
  * The cost side of the trade, measured (r14, `state_changelog_debt` in
  * SCALE_r14.json / BASELINE.md): deferring snapshots leaves
  * COMPACTION DEBT on disk — the SST total saw-tooths between the
  * live-data floor and ~4.5× it, compacted back each maintenance pass —
  * but the debt is BOUNDED by the maintenance cadence
  * (`spark.sql.streaming.stateStore.maintenanceInterval`, default 60 s)
  * and does not grow with feed length: a feed covering ~6 maintenance
  * cycles at constant retained keys shows three full saw-tooth cycles
  * returning to the same floor (= snapshot mode's steady SST at equal
  * keys). At large state, size the debt headroom as
  * ~4–5× the live SST per store; tighten the maintenance interval to
  * trade upload frequency for a lower debt ceiling. Never compare SST
  * bytes across modes at an instant — mode changes the debt phase, not
  * the live data (rows/members are the authoritative size curve). */
object StateStoreDefaults {

  val Provider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  val ChangelogConf =
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"

  /** Apply the deployment defaults to a session: RocksDB provider,
    * changelog checkpointing on (override with `changelog = false` to
    * get the provider's snapshot-per-commit default). */
  def rocksDb(spark: SparkSession, changelog: Boolean = true): Unit = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", Provider)
    spark.conf.set(ChangelogConf, changelog.toString)
  }
}
