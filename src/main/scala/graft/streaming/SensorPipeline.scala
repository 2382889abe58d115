package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.SensorOps

/** The reference's full streaming assembly (SURVEY.md §2.5/§2.6, W1–W6 +
  * K1–K6): schema-validated parse → try_cast validity → watermark →
  * windowed conditional aggregate → nested doc shaping → foreachBatch
  * sink, append output mode.
  *
  * Source-agnostic: takes any streaming (or batch — same plan) DataFrame
  * of raw JSON payloads. The reference reads Kafka
  * (consumer.py:83-90, `subscribePattern sensors.raw.*`); this
  * environment has no Kafka connector jar, so production wiring would be
  * `spark.readStream.format("kafka")...select($"value")` feeding
  * [[fromRawJson]] — everything downstream is identical, which is what the
  * MemoryStream tests exercise.
  *
  * Scale: the stateful window aggregate keeps one state row per
  * (window, station, sensor) — state size is bounded by key cardinality ×
  * windows-in-flight, independent of input rate; the watermark (W1) bounds
  * windows-in-flight. This is the shape that survives wide clusters: state
  * shards by grouping key across executors.
  */
object SensorPipeline {

  /** S1 — the reference's Kafka ingress (consumer.py:83-90), config-only
    * in this environment (no kafka connector jar on the classpath; the
    * call compiles here and resolves at runtime on a cluster that ships
    * spark-sql-kafka). Everything downstream of the returned raw frame is
    * the same plan the tests drive via MemoryStream/file sources.
    */
  def kafkaSource(
      spark: org.apache.spark.sql.SparkSession,
      bootstrapServers: String,
      subscribePattern: String = "sensors.raw.*",
      startingOffsets: String = "latest"): DataFrame =
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("subscribePattern", subscribePattern)
      .option("startingOffsets", startingOffsets)
      .load()
      .select(col("value")) // binary payload; fromRawJson casts + parses

  /** True when the spark-sql-kafka connector is on the classpath. The
    * zero-egress build environment ships none (verified empty:
    * /opt/spark/jars has no kafka artifact), so this probe keeps the
    * Kafka wiring a no-op here while activating it UNCHANGED on any
    * deployment that ships the connector. */
  def kafkaAvailable: Boolean =
    try { Class.forName("org.apache.spark.sql.kafka010.KafkaSourceProvider"); true }
    catch { case _: ClassNotFoundException => false }

  /** Config-path source selection for S1: returns the real Kafka reader
    * when BOTH a bootstrap config (`KAFKA_BOOTSTRAP_SERVERS`, .env:2) and
    * the connector jar are present; None otherwise, and callers fall back
    * to their tested source (MemoryStream / file) feeding the same
    * [[fromRawJson]] core. `connectorPresent` is injectable so BOTH
    * branches are unit-testable in an environment without the jar
    * (KafkaProbeSpec). */
  def maybeKafkaSource(
      spark: org.apache.spark.sql.SparkSession,
      cfg: PipelineConfig,
      connectorPresent: Boolean = kafkaAvailable): Option[DataFrame] =
    cfg.kafkaBootstrapServers
      .filter(_ => connectorPresent)
      .map(bs => kafkaSource(spark, bs, cfg.kafkaTopicPrefix + ".*"))

  /** P1–P6: raw JSON string column → validated, event-timed rows. */
  def fromRawJson(raw: DataFrame, valueCol: String = "value"): DataFrame =
    SensorOps.withEventTime(
      SensorOps.validate(SensorOps.parseJson(raw, valueCol)))

  /** W1–W3 + A1–A6: watermarked windowed metrics (flat). */
  def windowedMetrics(
      validated: DataFrame,
      watermarkDelay: String = "5 seconds",
      windowDuration: String = "1 minute"): DataFrame =
    SensorOps.windowedMetrics(
      validated.withWatermark("event_time", watermarkDelay),
      col("event_time"),
      Seq(col("station_id"), col("station_name"), col("sensor_id")),
      windowDuration)

  /** Full pipeline to the nested output document (P8). */
  def documents(
      raw: DataFrame,
      watermarkDelay: String = "5 seconds",
      windowDuration: String = "1 minute"): DataFrame =
    SensorOps.shapeDocument(windowedMetrics(fromRawJson(raw), watermarkDelay, windowDuration))

  /** Full pipeline from the reference's config contract (PipelineConfig /
    * `.env:13-17`): windowing (tumbling or sliding), watermark, trigger
    * and checkpoint all driven by one typed config. */
  def documents(raw: DataFrame, cfg: PipelineConfig): DataFrame =
    SensorOps.shapeDocument(
      SensorOps.windowedMetrics(
        fromRawJson(raw).withWatermark("event_time", cfg.watermarkDelay),
        col("event_time"),
        Seq(col("station_id"), col("station_name"), col("sensor_id")),
        cfg.windowDuration,
        cfg.slideDuration))

  /** Config-driven assembly: the one-call equivalent of the reference's
    * `main` (consumer.py:212-240). */
  def run(raw: DataFrame, cfg: PipelineConfig,
      readyFile: Option[java.nio.file.Path] = None)(
      writeBatch: (DataFrame, Long) => Unit): StreamingQuery =
    start(documents(raw, cfg), cfg.checkpointDir, cfg.trigger,
      readyFile = readyFile)(writeBatch)

  /** Observability (the reference's per-batch log line,
    * `consumer.py:203` "Batch N | Scrittura completata…", done
    * Spark-natively): attach named observed metrics to the validated
    * frame; each micro-batch's `QueryProgressEvent.observedMetrics`
    * then carries row/malformed counts without a second pass over the
    * data — metrics are accumulated inline by the executors. */
  def withBatchMetrics(validated: DataFrame, name: String = "sensor_metrics"): DataFrame =
    validated.observe(name,
      count(lit(1)).as("n_rows"),
      sum(when(col("is_valid"), 0).otherwise(1)).as("n_malformed"))

  /** Malformed-row audit sink (DLQ): the reference only COUNTS malformed
    * payloads (consumer.py:135) — the rows themselves are lost. This side
    * query preserves them for inspection/replay: the validated stream's
    * invalid rows append to a parquet audit location. Runs as its own
    * streaming query over the same source (no interference with the
    * aggregate's state); row-level append needs no watermark. */
  def startMalformedAudit(
      validated: DataFrame,
      auditDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("1 minute")): StreamingQuery =
    reusingCode(validated)
      .filter(!col("is_valid"))
      .select(col("station_id"), col("sensor_id"), col("value"), col("event_time"))
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .option("path", auditDir)
      .trigger(trigger)
      .format("parquet")
      .start()

  /** `df`, with artifact isolation turned off on its session, so that a
    * streaming query started from it reuses the generated code of the
    * queries before it. Every query start in this object goes through it.
    *
    * Each streaming query runs on a clone of its session with a new UUID.
    * While `spark.sql.artifact.isolation.enabled` is true (Spark's
    * default), the clone's `ArtifactManager` tags its jobs with that UUID
    * and the executor gives them a fresh `ExecutorClassLoader`.
    * `CodeGenerator`'s cache is keyed by class loader, so every start
    * recompiled the same 30–39 classes with Janino and the JIT warmed
    * them again (perfbench `sensor_replay` drains on a 4-core host; the
    * first micro-batch of a drain took 1.57–1.70 s of trigger time, and
    * 0.98–1.06 s with the cache hitting). The clone copies the conf when
    * the query starts and reads it lazily. The engine adds no
    * session-scoped jars or files, so there is nothing to isolate. Like
    * `Tables.events`, this sets a library conf on the caller's session. */
  private def reusingCode(df: DataFrame): DataFrame = {
    df.sparkSession.conf.set("spark.sql.artifact.isolation.enabled", "false")
    df
  }

  /** K1/K2/K6 (consumer.py:169-208, 230-234): append-mode foreachBatch
    * sink with empty-batch short-circuit.
    *
    * Error semantics are explicit via `isolateFailedBatches`:
    *  - `true` (default — the reference's behavior, consumer.py:205-206):
    *    a failed batch is logged and DROPPED. Because foreachBatch commits
    *    the offset range to the checkpoint after the callback returns, the
    *    batch is never retried — this is AT-MOST-ONCE on sink errors
    *    (permanent loss of that batch's windows), exactly like the
    *    reference's bare try/except with no retry or DLQ.
    *  - `false`: the exception propagates, the streaming query fails, and
    *    a restart from the checkpoint REPLAYS the uncommitted batch —
    *    genuine at-least-once, the right choice when the sink is
    *    idempotent or deduplicating.
    *
    * One state pass per micro-batch: the foreachBatch frame is a lazy RDD
    * over the incremental plan, so the empty-batch guard and the write
    * would each run the state-store stage (every store version loaded and
    * committed twice, `numStateStoreInstances` twice the shuffle
    * partitions). The frame is persisted around the guard and the write
    * and unpersisted when the batch ends, failed or not. An empty batch
    * still never reaches `writeBatch`.
    *
    * Generated code is reused across query starts (see [[reusingCode]]), so a
    * restart or a fresh drain compiles nothing its session compiled
    * before.
    *
    * Readiness health gate (reference `consumer.py:237` touches
    * `/tmp/spark-ready` once the query is started; the compose
    * healthcheck and `run_simulation.sh:33-38` gate on the file). When
    * `readyFile` is set: any stale flag is removed BEFORE starting (a
    * leftover from a crashed run must not green-light a dead pipeline),
    * the file is created only after `.start()` has returned a live query,
    * and a start failure deletes it again. Liveness beyond startup is the
    * orchestrator's job — combine the flag with `query.isActive` exactly
    * as the reference's healthcheck combines the file with the container
    * state. */
  def start(
      shaped: DataFrame,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("1 minute"),
      isolateFailedBatches: Boolean = true,
      readyFile: Option[java.nio.file.Path] = None)(
      writeBatch: (DataFrame, Long) => Unit): StreamingQuery = {
    import java.nio.file.Files
    readyFile.foreach(Files.deleteIfExists)
    val query =
      try {
        reusingCode(shaped).writeStream
          .outputMode("append")
          .option("checkpointLocation", checkpointDir)
          .trigger(trigger)
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            batch.persist()
            try {
              if (!batch.isEmpty) writeBatch(batch, batchId)
            } catch {
              // NonFatal (not bare Exception): fatal Errors always propagate.
              case scala.util.control.NonFatal(e) if isolateFailedBatches =>
                // K6: drop the batch, keep the query alive (at-most-once)
                System.err.println(s"[sensor-pipeline] batch $batchId failed (dropped): ${e.getMessage}")
            } finally batch.unpersist()
            ()
          }
          .start()
      } catch {
        case e: Throwable =>
          readyFile.foreach(Files.deleteIfExists)
          throw e
      }
    // Files.write (create-or-truncate), not createFile: idempotent if the
    // flag somehow reappeared. A flag-creation failure after a successful
    // start must not leak a running query the caller has no handle to —
    // stop it and surface the error.
    try readyFile.foreach { p =>
      Option(p.getParent).foreach(Files.createDirectories(_))
      Files.write(p, Array.emptyByteArray)
    } catch {
      case e: Throwable =>
        try query.stop() catch { case scala.util.control.NonFatal(_) => () }
        readyFile.foreach(p => try Files.deleteIfExists(p) catch {
          case scala.util.control.NonFatal(_) => ()
        })
        throw e
    }
    query
  }
}
