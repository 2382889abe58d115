package perfbench

import java.io.File
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.{FanOut, SensorOps}
import graft.sources.SensorGenerator
import graft.streaming.SensorPipeline

/** The sensor pipeline workloads: parse → try-cast validate → watermarked
  * window → nested document → per-station fan-out, driven through the
  * engine's public functions only. */
object SensorBench {
  val MalformedPct = 0.05
  /** Event-time origin, aligned to every window length used here. */
  val EventOrigin = 1767225600000L // 2026-01-01T00:00:00Z

  /** One workload's input shape. Event i is due `i * 1000 / ratePerS` ms
    * after the schedule starts and carries event time
    * `EventOrigin + due - jitter`, with `jitter < delayMs`: events arrive
    * out of order but never behind the watermark, so none is dropped. */
  final case class Spec(
      stations: Map[String, Int], ratePerS: Int,
      windowMs: Long, delayMs: Long, jitterMs: Long, triggerMs: Long) {
    def window: String = s"$windowMs milliseconds"
    def delay: String = s"$delayMs milliseconds"
  }

  /** The reference deployment: 33 sensors on three stations, one reading
    * per sensor every 250 ms, 1-minute window, 5 s watermark. */
  val Replay = Spec(Map("perugia" -> 15, "terni" -> 10, "assisi" -> 8),
    ratePerS = 132, windowMs = 60000, delayMs = 5000, jitterMs = 4000, triggerMs = 0)
  /** Two large micro-batches: per-row work (JSON parse, try_cast, hash
    * aggregate) outweighs the fixed cost of each batch. */
  val ReplayEvents = 400000
  val ReplayFiles = 16
  val ReplayFilesPerBatch = 8

  /** 64 sensors on six uneven stations (more keys than the reference's 33,
    * so the state store holds real state), offered at 1000 events/s. */
  val Live = Spec(
    Map("perugia" -> 24, "terni" -> 16, "assisi" -> 10, "spoleto" -> 6, "foligno" -> 4, "orvieto" -> 4),
    ratePerS = 1000, windowMs = 3000, delayMs = 1500, jitterMs = 1200, triggerMs = 3000)
  val LiveWarmBatches = 3
  val LiveWarmS = 3
  val LiveTailS = 3
  val SendEveryMs = 20L

  /** Seeded generator frame (SensorReading columns) over `n` events. */
  def generate(spark: SparkSession, spec: Spec, seed: Long, n: Long, parts: Int): DataFrame = {
    val base = spark.range(0, n, 1, parts).select(
      (lit(seed) * 1000000000L + col("id")).as("value"),
      timestamp_millis(lit(EventOrigin) + expr(s"id * 1000 div ${spec.ratePerS}")
        - pmod(xxhash64(lit(seed), col("id")), lit(spec.jitterMs))).as("timestamp"))
    SensorGenerator.withPayload(base, spec.stations, MalformedPct)
  }

  /** Wire payloads: one JSON document per reading, in a `value` column. */
  def toPayload(gen: DataFrame): DataFrame = gen.select(json(gen).as("value"))

  private def json(gen: DataFrame) = to_json(struct(gen.columns.map(col).toIndexedSeq: _*))

  /** The fan-out sink: `FanOut.writePartitionedIdempotent` per micro-batch,
    * logging when, on `clock`, each write started and returned. */
  final class Sink(spark: SparkSession, val dir: File,
      clock: () => Long = () => System.currentTimeMillis()) {
    val log = new ConcurrentLinkedQueue[Seq[Long]]()
    val failures = new AtomicInteger()

    def write(batch: DataFrame, batchId: Long): Unit = {
      val sc = spark.sparkContext
      sc.setLocalProperty(Trace.PhaseProp, "sink")
      val t0 = clock()
      try FanOut.writePartitionedIdempotent(
        batch.withColumn("station_id", col("station.id")), dir.getPath, batchId)
      catch { case NonFatal(e) => failures.incrementAndGet(); throw e }
      finally sc.setLocalProperty(Trace.PhaseProp, null)
      log.add(Seq(batchId, t0, clock()))
    }

    def docs(): DataFrame =
      if (!dir.exists()) spark.emptyDataFrame
      else spark.read.parquet(dir.getPath).select("window", "station", "sensor", "metrics")

    /** `[batch_id, window_end_ms, documents, events]` per batch and window. */
    def windows(): Seq[Seq[Long]] =
      if (!dir.exists()) Nil
      else spark.read.parquet(dir.getPath)
        .groupBy(col("batch_id"), unix_millis(col("window.end")).as("end"))
        .agg(count(lit(1)), sum(col("metrics.count.total")))
        .collect().toSeq.map(r => Seq(r.getAs[Number](0).longValue, r.getLong(1), r.getLong(2), r.getLong(3)))

    def files(): Seq[File] =
      if (!dir.exists()) Nil
      else Files.walk(dir.toPath).iterator().asScala.map(_.toFile)
        .filter(f => f.isFile && f.getName.endsWith(".parquet")).toSeq
  }

  private def windowEndMs(spec: Spec, ts: org.apache.spark.sql.Column) =
    (floor(ts / spec.windowMs) + 1) * spec.windowMs

  /** Correctness of one streaming run: the sink's documents for every window
    * the final watermark closed equal the batch `reference`, and their
    * malformed totals equal the generator's own count. */
  def check(reference: DataFrame, sink: Sink, watermarkMs: Long,
      malformedKnown: Long): Map[String, Any] = {
    val closed = (df: DataFrame) => df.filter(unix_millis(col("window.end")) <= watermarkMs)
    val expected = closed(reference)
    val got = if (sink.dir.exists()) normalized(closed(sink.docs())) else expected.limit(0)
    val mismatched = got.exceptAll(expected).union(expected.exceptAll(got)).count()
    val sums = got.agg(count(lit(1)), coalesce(sum(col("metrics.count.malformed")), lit(0L))).head()
    Map("docs" -> sums.getLong(0), "expected_docs" -> expected.count(),
      "mismatched_docs" -> mismatched, "malformed_sink" -> sums.getLong(1),
      "malformed_known" -> malformedKnown, "watermark_ms" -> watermarkMs)
  }

  /** The generator's count of malformed readings in windows closed by the watermark. */
  def malformedKnown(spec: Spec, gen: DataFrame, watermarkMs: Long): Long =
    gen.filter(col("value") === "<<bad_data>>" && windowEndMs(spec, col("timestamp")) <= watermarkMs)
      .count()

  /** Batch `SensorPipeline.documents` over the payloads, cached: what every
    * closed window of a streaming run must equal. Averages are rounded to
    * 9 places because streaming merges partial sums in another order. */
  def reference(spec: Spec, payload: DataFrame): DataFrame =
    normalized(SensorPipeline.documents(payload, spec.delay, spec.window)).cache()

  private def normalized(docs: DataFrame): DataFrame =
    docs.withColumn("metrics", col("metrics").withField("avg_value", round(col("metrics.avg_value"), 9)))

  /** Layer timings over a cached payload frame: each plan prefix
    * (parse → +validate → +event time → +window aggregate → +shape) is
    * forced through a hash of every output column, so column pruning
    * cannot skip a layer. Medians of three runs per prefix, in ms. */
  def opsTimings(spec: Spec, payload: DataFrame): Map[String, Any] = {
    val cached = payload.cache()
    cached.count()
    val parsed = SensorOps.parseJson(cached)
    val validated = SensorOps.validate(parsed)
    val timed = SensorOps.withEventTime(validated)
    val windowed = SensorPipeline.windowedMetrics(timed, spec.delay, spec.window)
    val shaped = SensorOps.shapeDocument(windowed)
    def force(df: DataFrame): Double = {
      val t0 = System.nanoTime()
      df.agg(count(lit(1)), bit_xor(xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*))).head()
      (System.nanoTime() - t0) / 1e6
    }
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    val prefixes = Seq("parse" -> parsed, "validate" -> validated, "event_time" -> timed,
      "window_agg" -> windowed, "shape" -> shaped)
    prefixes.foreach { case (_, df) => force(df) } // codegen warm-up
    val ms = prefixes.map { case (name, df) => name -> median(Seq.fill(3)(force(df))) }
    val res = Map(
      "prefix_ms" -> ms.toMap,
      "rows_in" -> timed.count(),
      "malformed_rows" -> validated.filter(!col("is_valid")).count(),
      "docs_out" -> shaped.count())
    cached.unpersist()
    res
  }

  private def timedMs[A](f: => A): (Double, A) = {
    val t0 = StealClock.now()
    val a = f
    ((StealClock.now() - t0).toDouble, a)
  }

  /** Runs input synthesis `n` times; returns each time (ms) and the last
    * result. Set-up time counts synthesis once, at the median. */
  private def repeatedSetup[A](n: Int)(f: => A): (Seq[Double], A) = {
    val runs = Seq.fill(n)(timedMs(f))
    (runs.map(_._1), runs.last._2)
  }

  private def recentProgress(q: StreamingQuery, tag: String): Seq[Map[String, Any]] =
    q.recentProgress.toSeq.map(Trace.progressRecord(tag, _))

  private def watermarkOf(q: StreamingQuery): Long =
    Option(q.lastProgress).flatMap(p => Option(p.eventTime.get("watermark")))
      .map(java.time.Instant.parse(_).toEpochMilli).getOrElse(Long.MinValue)

  // ---------------------------------------------------------------- replay

  /** Catch-up after downtime: a backlog of text files drained with
    * `Trigger.AvailableNow`, `ReplayFilesPerBatch` files per micro-batch.
    * Drains repeat, each on a fresh checkpoint and sink, until `seconds`
    * have been measured. */
  def replay(spark: SparkSession, seed: Long, seconds: Double, trace: Option[Trace],
      out: File, synthRuns: Int, warmDrains: Int, minDrains: Int): Map[String, Any] = {
    val spec = Replay
    val backlog = new File(out, "backlog")
    val gen = generate(spark, spec, seed, ReplayEvents, ReplayFiles)
    val (synthMs, _) = repeatedSetup(synthRuns) {
      if (backlog.exists()) deleteTree(backlog)
      toPayload(gen).write.text(backlog.getPath)
      // oldest events first: the file source takes files in mtime order
      backlog.listFiles().filter(_.getName.startsWith("part-")).sortBy(_.getName).zipWithIndex
        .foreach { case (f, i) => f.setLastModified(1700000000000L + i * 1000L) }
    }
    val inputBytes = backlog.listFiles().filter(_.getName.startsWith("part-")).map(_.length).sum
    Main.mark("backlog written")

    var drainNo = 0
    def drain(traced: Boolean): (Map[String, Any], Sink) = {
      drainNo += 1
      val sink = new Sink(spark, new File(out, s"sink$drainNo"), StealClock.now _)
      val raw = spark.readStream.format("text").option("maxFilesPerTrigger", ReplayFilesPerBatch).load(backlog.getPath)
      val shaped = SensorPipeline.documents(raw, spec.delay, spec.window)
      if (traced) trace.foreach(_.attach())
      val t0 = StealClock.now()
      val q = SensorPipeline.start(shaped, new File(out, s"cp$drainNo").getPath,
        Trigger.AvailableNow())(sink.write)
      val tag = s"sensor_replay/drain$drainNo/stream"
      trace.foreach(_.tagRun(q.runId, tag))
      val failed = try { q.awaitTermination(); 0 } catch { case NonFatal(_) => 1 }
      val t1 = StealClock.now()
      if (traced) trace.foreach(_.detach())
      (Map("traced" -> traced, "start_ms" -> t0, "end_ms" -> t1,
        "sink_log" -> sink.log.asScala.toSeq, "sink_windows" -> sink.windows(),
        "sink_failures" -> sink.failures.get, "query_failed" -> failed,
        "watermark_ms" -> watermarkOf(q), "progress" -> recentProgress(q, tag)), sink)
    }

    (1 to warmDrains).foreach(_ => drain(traced = false))
    val setupEndMs = StealClock.now()
    Main.mark("warm-up drains done")
    // at least `minDrains` drains, then more while the next one still fits
    // in `seconds`; a traced run alternates untraced and traced drains
    val t0 = System.nanoTime()
    val drainsB = Vector.newBuilder[(Map[String, Any], Sink)]
    var i = 0
    var lastS = 0.0
    while (i < minDrains || (System.nanoTime() - t0) / 1e9 + lastS <= seconds) {
      val d0 = System.nanoTime()
      drainsB += drain(traced = trace.isDefined && i % 2 == 1)
      lastS = (System.nanoTime() - d0) / 1e9
      i += 1
    }
    val drains = drainsB.result()
    Main.mark(s"${drains.size} timed drains done")
    // documents of the last drain; every drain's failures count separately
    val (last, lastSink) = drains.last
    val wm = last("watermark_ms").asInstanceOf[Long]
    val checks = Seq(check(reference(spec, spark.read.text(backlog.getPath)), lastSink, wm,
      malformedKnown(spec, gen, wm)))
    Main.mark("last drain checked")
    val sinkFiles = lastSink.files()
    Map(
      "events" -> ReplayEvents, "window_ms" -> spec.windowMs, "delay_ms" -> spec.delayMs,
      "synth_ms" -> synthMs, "setup_end_ms" -> setupEndMs, "input_rows" -> ReplayEvents.toLong,
      "input_bytes" -> inputBytes,
      "drains" -> drains.map(_._1), "checks" -> checks,
      "fanout_files" -> sinkFiles.size, "fanout_bytes" -> sinkFiles.map(_.length).sum) ++
      (if (trace.isDefined) Map("ops" -> opsTimings(spec, spark.read.text(backlog.getPath))) else Map.empty)
  }

  // ------------------------------------------------------------------ live

  /** Open loop: one generator thread appends payloads to a MemoryStream on
    * a fixed schedule and keeps sending when the engine slows. The
    * schedule is `LiveWarmS` seconds of warm-up, `seconds` measured, and
    * `LiveTailS` more so the last measured windows close. In a traced run
    * the listener is attached for the second half of the measured span
    * only, so the first half gives the untraced reference. */
  def live(spark: SparkSession, seed: Long, seconds: Double, trace: Option[Trace],
      out: File): Map[String, Any] = {
    val spec = Live
    val measureMs = (seconds * 1000).toLong
    val n = (spec.ratePerS * (LiveWarmS + LiveTailS + seconds)).toLong
    val gen = generate(spark, spec, seed, n, spark.sparkContext.defaultParallelism)
    val (synthMs, (payloads, eventMs)) = repeatedSetup(3) {
      val rows = gen.select(json(gen), col("timestamp")).collect()
      (rows.map(_.getString(0)), rows.map(_.getLong(1)))
    }
    val dueOff = Array.tabulate(payloads.length)(i => i * 1000L / spec.ratePerS)
    val inputBytes = payloads.iterator.map(_.length.toLong).sum

    Main.mark("payloads synthesized")
    warmUp(spark, spec, payloads, new File(out, "warm"))
    Main.mark("warm-up query done")
    val mem = MemoryStream[String](Encoders.STRING, spark.sqlContext)
    val shaped = SensorPipeline.documents(mem.toDF(), spec.delay, spec.window)
    val sink = new Sink(spark, new File(out, "sink"))
    val q = SensorPipeline.start(shaped, new File(out, "cp").getPath,
      Trigger.ProcessingTime(spec.triggerMs))(sink.write)
    val tag = "sensor_live/stream"
    trace.foreach(_.tagRun(q.runId, tag))

    // On a trigger tick (ticks fall on multiples of the interval), so every
    // window becomes closable (watermark delay = half the interval) halfway
    // between two ticks; small shifts in batch timing do not move it to
    // another tick.
    val t0 = (System.currentTimeMillis() / spec.triggerMs + 1) * spec.triggerMs
    val measureStart = t0 + LiveWarmS * 1000L
    val measureEnd = measureStart + measureMs
    val lateMs = new Array[Long](payloads.length)
    @volatile var sentAtMeasureEnd = -1L
    // Hands over every event due by each `SendEveryMs` tick: MemoryStream
    // plans a micro-batch as a union of the appends it covers, so one
    // append per event would make planning, not the pipeline, the load.
    val generator = new Thread(() => {
      var i = 0
      var tick = t0
      while (i < payloads.length) {
        sleepUntil(tick)
        var j = i
        while (j < payloads.length && t0 + dueOff(j) <= tick) j += 1
        if (j > i) {
          mem.addData(payloads.slice(i, j).toIndexedSeq)
          val handed = System.currentTimeMillis()
          (i until j).foreach(k => lateMs(k) = handed - (t0 + dueOff(k)))
        }
        if (sentAtMeasureEnd < 0 && tick >= measureEnd) sentAtMeasureEnd = i
        i = j
        tick += SendEveryMs
      }
    }, "perfbench-generator")
    generator.setDaemon(true)
    generator.start()
    sleepUntil(measureStart)
    val setupEndMs = StealClock.now()
    Main.mark("measuring")
    val traceFrom = measureStart + measureMs / 2
    if (trace.isDefined) { sleepUntil(traceFrom); trace.foreach(_.attach()) }
    generator.join()
    Main.mark("schedule sent")
    // Windows the last batch's watermark closed are in the sink; the check
    // uses that watermark, so the no-data batch that follows is not awaited.
    val failed = try { q.processAllAvailable(); 0 } catch { case NonFatal(_) => 1 }
    trace.foreach(_.detach())
    val watermarkMs = watermarkOf(q)
    Main.mark("stream drained")
    val progress = recentProgress(q, tag)
    q.stop()

    Main.mark("query stopped")
    val sinkFiles = sink.files()
    Map(
      "window_ms" -> spec.windowMs, "delay_ms" -> spec.delayMs, "rate_per_s" -> spec.ratePerS,
      "trigger_ms" -> spec.triggerMs,
      "synth_ms" -> synthMs, "setup_end_ms" -> setupEndMs,
      "input_rows" -> payloads.length.toLong, "input_bytes" -> inputBytes,
      "t0_ms" -> t0, "measure_start_ms" -> measureStart, "measure_end_ms" -> measureEnd,
      "trace_from_ms" -> traceFrom,
      "due_ms" -> dueOff.map(_ + t0), "event_ms" -> eventMs, "late_ms" -> lateMs,
      "sent_at_measure_end" -> sentAtMeasureEnd,
      "sink_log" -> sink.log.asScala.toSeq, "sink_windows" -> sink.windows(),
      "sink_failures" -> sink.failures.get, "query_failed" -> failed,
      "watermark_ms" -> watermarkMs, "progress" -> progress,
      "checks" -> Seq(check(reference(spec, toPayload(gen)), sink, watermarkMs,
        malformedKnown(spec, gen, watermarkMs))),
      "fanout_files" -> sinkFiles.size, "fanout_bytes" -> sinkFiles.map(_.length).sum) ++
      (if (trace.isDefined) Map("ops" -> opsTimings(spec,
        spark.createDataset(payloads.toIndexedSeq)(Encoders.STRING).toDF("value"))) else Map.empty)
  }

  /** Closed-loop warm-up on a query of its own: one-second slices of the
    * schedule pushed back to back, so code generation, JIT and the state
    * store are warm before the open-loop schedule starts. */
  private def warmUp(spark: SparkSession, spec: Spec, payloads: Array[String], dir: File): Unit = {
    val mem = MemoryStream[String](Encoders.STRING, spark.sqlContext)
    val sink = new Sink(spark, new File(dir, "sink"))
    val q = SensorPipeline.start(SensorPipeline.documents(mem.toDF(), spec.delay, spec.window),
      new File(dir, "cp").getPath, Trigger.ProcessingTime(0))(sink.write)
    try payloads.grouped(spec.ratePerS).take(LiveWarmBatches).foreach { slice =>
      mem.addData(slice.toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
  }

  private def sleepUntil(ms: Long): Unit = {
    var now = System.currentTimeMillis()
    while (now < ms) { Thread.sleep(math.min(ms - now, 10L)); now = System.currentTimeMillis() }
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
