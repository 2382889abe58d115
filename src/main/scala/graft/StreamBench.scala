package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Dev-only throughput probe for the stateful streaming trackers
  * (transformWithState on RocksDB: as-of enrichment, windowed top-k,
  * exact-dedup gate, LSH and semantic near-dup discovery), each fed
  * through MemoryStream and, where it matters, through a file source
  * drained by `Trigger.AvailableNow`; plus the `state-curves` mode,
  * which records state size against retention horizon. The sensor
  * pipeline itself (parse → try-cast → watermarked window) is timed by
  * `perfbench` (`sensor_replay`, `sensor_live`). Input synthesis happens
  * OFF the clock, and every timed body goes through [[Recorder]].
  *
  * Usage: `runMain graft.StreamBench [nFile [nFed [legs]]]` (file-source
  * legs' and MemoryStream legs' row counts; `legs` a comma-separated
  * subset of [[Legs]]), or `runMain graft.StreamBench state-curves
  * [probes]` (a subset of [[StateProbes]]; `state_changelog_debt` runs
  * only when it is the one probe named). An unknown name fails. Feeds
  * are synthesized only for selected legs and probes.
  * `SPARK_GRAFT_ROCKSDB_CHANGELOG` (1/0) forces RocksDB changelog
  * checkpointing on or off for every leg; unset leaves the provider's
  * snapshot default, and each line stamps the effective value.
  * `SPARK_GRAFT_SF_DIR` (default sf0.1) is the corpus the LSH and
  * semantic legs replicate.
  */
object StreamBench {

  val Legs: Seq[String] = Seq("streaming_asof", "streaming_topk",
    "streaming_topk_filesource", "streaming_dedup_gate",
    "streaming_dedup_gate_filesource", "streaming_lsh_neardup_filesource",
    "streaming_semantic_neardup_filesource")

  val StateProbes: Seq[String] = Seq("state_dedup_gate", "state_lsh_neardup",
    "state_semantic_neardup", "state_lsh_capped_bucket",
    "state_semantic_capped_bucket", "state_changelog_debt")

  /** State probes that need a JVM of their own: the debt probe sets the
    * state-store maintenance cadence, which is fixed JVM-wide at the
    * first state-store load, so in a shared sweep its setting would be
    * silently ignored and the row would stamp an interval never used. */
  val RunsAlone: Set[String] = Set("state_changelog_debt")

  /** The state probes a `state-curves` run selects ([[Recorder.select]]),
    * keeping [[RunsAlone]] in processes of their own: a full sweep (absent
    * or blank `spec`) leaves them out, and one runs only as the one probe
    * named. */
  def selectStateProbes(spec: Option[String]): Set[String] = {
    val names = Recorder.select(spec, StateProbes)
    if (spec.forall(_.replace(",", "").trim.isEmpty)) names -- RunsAlone
    else {
      val lone = names & RunsAlone
      require(lone.isEmpty || names.size == 1,
        s"${lone.toSeq.sorted.mkString(",")} must be the only probe named: " +
          "it runs in a process of its own")
      names
    }
  }

  /** Samples per leg (min-of-N, as Bench's per-query timings): a trend in
    * a single-shot rate is unfalsifiable (the dedup-gate file leg slid
    * 279k -> 247k -> 157k ev/s across single-shot rounds). */
  private val Samples = 3

  private val ChangelogConf =
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"

  def main(args: Array[String]): Unit = {
    val curves = args.headOption.contains("state-curves")
    val selected =
      if (curves) selectStateProbes(args.lift(1))
      else Recorder.select(args.lift(2), Legs)
    val nFile = args.headOption.filterNot(_ => curves)
      .map(_.toLong).getOrElse(2000000L)
    val nFed = args.lift(1).filterNot(_ => curves).map(_.toLong).getOrElse(500000L)
    // state-size curves sample per-trigger progress; keep enough of them
    val spark = Sessions.local(32,
      Map("spark.sql.streaming.numRecentProgressUpdates" -> "256"))
    import spark.implicits._
    sys.env.get("SPARK_GRAFT_ROCKSDB_CHANGELOG")
      .foreach(v => spark.conf.set(ChangelogConf, (v == "1").toString))

    if (curves) {
      stateCurves(spark, selected)
      spark.stop()
      return
    }

    /** Runs `body` [[Samples]] times, each sample recorded. `body` times
      * its OWN measured section (so query startup/teardown stays off the
      * clock) and returns (units processed, measured wall, detail tail);
      * every sample prints its own stamped line, and the MIN line (the
      * figure of record under additive noise) re-derives the rate from
      * the fastest sample. The steal integral wraps the whole body — a
      * fraction, so the slightly wider window only makes it more
      * conservative. */
    def sampled(label: String, unit: String)
        (body: () => (Long, Double, String)): Unit = {
      val runs = (1 to Samples).map { i =>
        val ((n, wall, detail), _, stamp) = Recorder.record(spark, label)(body())
        println(f"[streambench] $label sample=$i/$Samples n=$n t=$wall%.2f s " +
          f"rate=${n / wall}%.0f $unit$detail ${stamp.textFields}")
        (wall, n)
      }
      val (minW, minN) = runs.minBy(_._1)
      println(f"[streambench] $label MIN t=$minW%.2f s rate=${minN / minW}%.0f $unit samples=$Samples")
    }
    /** Times f, returning (its result, wall seconds). */
    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }

    implicit val ctx = spark.sqlContext

    // ---- streaming leg C: as-of enrichment tracker ----------------------
    // per-key ValueState carry on RocksDB (the AsofTracker operating
    // point): 5000 live users, 10% errors — each error row is enriched
    // with its user's carried last reading. Input synthesized off the
    // clock; the measured rate is the transformWithState path end to end.
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // every leg runs on RocksDB state — stamp the effective
    // checkpoint-maintenance mode into each line
    val clogStamp = s" changelog=${spark.conf.get(ChangelogConf, "false")}"
    if (selected("streaming_asof")) {
      val asofRows = spark.range(nFed).select(
          concat(lit("u"), pmod(col("id"), lit(5000L))).as("userId"),
          (lit(1700000000000000L) + col("id") * 1000L).as("tsUs"),
          when(pmod(col("id"), lit(10L)) === 0, 1).otherwise(0).as("tag"),
          col("id").as("eventId"),
          concat(lit("s"), pmod(col("id"), lit(33L))).as("sensorId"),
          (col("id") * 37L).as("vMicro"))
        .as[graft.streaming.AsofIn].collect()
      sampled("streaming_asof", "events/s") { () =>
        val asofIn = MemoryStream[graft.streaming.AsofIn]
        val enriched = asofIn.toDS().groupByKey(_.userId)
          .transformWithState(new graft.streaming.AsofTracker,
            TimeMode.None(), OutputMode.Append())
        val qa = enriched.writeStream.outputMode("append")
          .format("memory").queryName("asofbench").start()
        try {
          val batches = asofRows.grouped(math.max(1, asofRows.length / 5)).toSeq
          val (_, wall) = timed(
            batches.foreach { b => asofIn.addData(b.toSeq); qa.processAllAvailable() })
          (nFed, wall, s" out_rows=${spark.table("asofbench").count()}$clogStamp")
        } finally { qa.stop(); spark.catalog.dropTempView("asofbench") }
      }
    }

    // ---- streaming leg D: windowed top-k tracker -------------------------
    // MapState (sum, count) partials per 1-min window × 33 stations × 8
    // sensors, event-time timers closing each window (the TopKWindowTracker
    // operating point). Rows arrive in event-time order across batches so
    // every window but the last closes mid-run — the measured rate includes
    // timer-driven emission, not just state folds.
    val winMs = 60L * 1000
    if (selected("streaming_topk")) {
      val topkRows = spark.range(nFed).select(
          (lit(1700000000000L) + col("id") * 10L).as("tsMs"),
          concat(lit("st"), pmod(col("id"), lit(33L))).as("stationId"),
          concat(lit("sn"), pmod(col("id"), lit(8L))).as("sensorId"),
          (pmod(col("id") * 37L, lit(1000000L)).cast("double") / 1000.0).as("v"))
        .as[(Long, String, String, Double)].collect()
        .map { case (ts, st, sn, v) =>
          graft.streaming.TopKIn(ts - java.lang.Math.floorMod(ts, winMs),
            new java.sql.Timestamp(ts), st, sn, Some(v))
        }
      sampled("streaming_topk", "events/s") { () =>
        val topkIn = MemoryStream[graft.streaming.TopKIn]
        val ranked = topkIn.toDS()
          .withWatermark("ts", "10 seconds")
          .groupByKey(_.windowStartMs)
          .transformWithState(new graft.streaming.TopKWindowTracker(3, winMs),
            TimeMode.EventTime(), OutputMode.Append())
        val qt = ranked.writeStream.outputMode("append")
          .format("memory").queryName("topkbench").start()
        try {
          val batches = topkRows.grouped(math.max(1, topkRows.length / 5)).toSeq
          val (_, wall) = timed(
            batches.foreach { b => topkIn.addData(b.toSeq); qt.processAllAvailable() })
          (nFed, wall, s" out_rows=${spark.table("topkbench").count()}$clogStamp")
        } finally { qt.stop(); spark.catalog.dropTempView("topkbench") }
      }
    }


    // ---- streaming leg E: top-k tracker via FILE source, AvailableNow ----
    // the deployment-shaped twin of leg D: no driver-side feeding — rows
    // pre-written as parquet off the clock, consumed in file micro-batches
    // through the same watermark + MapState + event-time-timer pipeline,
    // so the measured rate bounds the STATE STORE path, not MemoryStream.
    // Uses the larger file-leg row count (nFile): the MemoryStream feed
    // is no longer the limiting factor.
    if (selected("streaming_topk_filesource")) {
      val topkFsRows = spark.range(nFile).select(
          (lit(1700000000000L) + col("id") * 10L).as("tsMs"),
          concat(lit("st"), pmod(col("id"), lit(33L))).as("stationId"),
          concat(lit("sn"), pmod(col("id"), lit(8L))).as("sensorId"),
          (pmod(col("id") * 37L, lit(1000000L)).cast("double") / 1000.0).as("v"))
        .select(
          (col("tsMs") - pmod(col("tsMs"), lit(winMs))).as("windowStartMs"),
          timestamp_millis(col("tsMs")).as("ts"),
          col("stationId"), col("sensorId"), col("v").as("valueNumeric"))
      val topkDir = java.nio.file.Files.createTempDirectory("topkfsbench").toString
      // range-partition by event time so file listing order tracks event
      // time (a real partitioned source's arrival order): a hash
      // repartition scrambles times across files and the advancing
      // watermark late-drops a large share of rows, inflating the rate
      topkFsRows.repartitionByRange(32, col("ts"))
        .write.mode("overwrite").parquet(topkDir)
      orderFileMtimes(topkDir)
      sampled("streaming_topk_filesource", "events/s") { () =>
        val tfsIn = spark.readStream
          .schema(topkFsRows.schema)
          .option("maxFilesPerTrigger", "8")
          .parquet(topkDir)
          .as[graft.streaming.TopKIn]
        val rankedFs = tfsIn
          .withWatermark("ts", "10 seconds")
          .groupByKey(_.windowStartMs)
          .transformWithState(new graft.streaming.TopKWindowTracker(3, winMs),
            TimeMode.EventTime(), OutputMode.Append())
        val (_, wall) = timed {
          val qtf = rankedFs.writeStream.outputMode("append")
            .format("memory").queryName("topkfsbench")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
          qtf.awaitTermination()
        }
        val outRows = spark.table("topkfsbench").count()
        spark.catalog.dropTempView("topkfsbench")
        (nFile, wall, s" out_rows=$outRows$clogStamp")
      }
    }

    // ---- streaming leg F: exact-dedup fingerprint gate --------------------
    // FingerprintDedupTracker operating point: ~3 stream rows per
    // fingerprint (so the dup branches do real work), 100k-fingerprint
    // base index pre-loaded as initial state, per-key ValueState +
    // event-time eviction timers on RocksDB. Input synthesized and the
    // base index built off the clock.
    val dedupInit = spark.range(100000)
      .select(concat(lit("base"), col("id")).as("fp")).as[String]
      .groupByKey(identity).mapValues(_ => true)
    if (selected("streaming_dedup_gate")) {
      val dedupRows = spark.range(nFed).select(
          col("id").as("docId"),
          concat(lit("fp"), expr("id div 3")).as("fingerprint"),
          timestamp_millis(lit(1700000000000L) + col("id") * 10L).as("ts"))
        .as[graft.streaming.DedupIn].collect()
      sampled("streaming_dedup_gate", "events/s") { () =>
        val dedupIn = MemoryStream[graft.streaming.DedupIn]
        val gated = dedupIn.toDS()
          .withWatermark("ts", "10 seconds")
          .groupByKey(_.fingerprint)
          .transformWithState(new graft.streaming.FingerprintDedupTracker(3600000L),
            TimeMode.EventTime(), OutputMode.Append(), dedupInit)
        val qd = gated.writeStream.outputMode("append")
          .format("memory").queryName("dedupbench").start()
        try {
          val batches = dedupRows.grouped(math.max(1, dedupRows.length / 5)).toSeq
          val (_, wall) = timed(
            batches.foreach { b => dedupIn.addData(b.toSeq); qd.processAllAvailable() })
          (nFed, wall, s" out_rows=${spark.table("dedupbench").count()}$clogStamp")
        } finally { qd.stop(); spark.catalog.dropTempView("dedupbench") }
      }
    }

    // ---- streaming leg G: dedup gate via FILE source, AvailableNow -------
    // the deployment-shaped twin of leg F at the file-leg row count:
    // rows pre-written as parquet off the clock, so the measured rate
    // bounds the keyed ValueState + eviction-timer path, not driver
    // feeding
    if (selected("streaming_dedup_gate_filesource")) {
      val dedupFsRows = spark.range(nFile).select(
          col("id").as("docId"),
          concat(lit("fp"), expr("id div 3")).as("fingerprint"),
          timestamp_millis(lit(1700000000000L) + col("id") * 10L).as("ts"))
      val dedupDir = java.nio.file.Files.createTempDirectory("dedupfsbench").toString
      // same event-time range partitioning as the top-k file leg (a hash
      // repartition here measured a stream with ~half its rows
      // late-dropped: out_rows 1.0M of 2M)
      dedupFsRows.repartitionByRange(32, col("ts"))
        .write.mode("overwrite").parquet(dedupDir)
      orderFileMtimes(dedupDir)
      sampled("streaming_dedup_gate_filesource", "events/s") { () =>
        val dfsIn = spark.readStream
          .schema(dedupFsRows.schema)
          .option("maxFilesPerTrigger", "8")
          .parquet(dedupDir)
          .as[graft.streaming.DedupIn]
        val gatedFs = dfsIn
          .withWatermark("ts", "10 seconds")
          .groupByKey(_.fingerprint)
          .transformWithState(new graft.streaming.FingerprintDedupTracker(3600000L),
            TimeMode.EventTime(), OutputMode.Append(), dedupInit)
        val (_, wall) = timed {
          val qdf = gatedFs.writeStream.outputMode("append")
            .format("memory").queryName("dedupfsbench")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
          qdf.awaitTermination()
        }
        val outRows = spark.table("dedupfsbench").count()
        spark.catalog.dropTempView("dedupfsbench")
        (nFile, wall, s" out_rows=$outRows$clogStamp")
      }
    }

    // ---- streaming leg H: LSH near-dup discovery at ingest ---------------
    // LshDedupTracker end to end via FILE source: the map-side banded
    // MinHash prep (shingle + 12 hash folds per row) runs INSIDE the
    // stream — the measured rate is honest docs/second for the whole
    // ingest near-dedup path. Corpus: the sf0.1 documents replicated 8×
    // with near-dup suffixes (each base doc becomes an 8-clique), rows
    // event-time-ordered like the other file legs.
    val lshSfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if (selected("streaming_lsh_neardup_filesource")) {
      val docs0 = graft.sources.Tables.documents(spark, lshSfDir)
        .select(col("doc_id"), col("text"))
      val nBase = docs0.count()
      val lshDocs = (0 until 8).map { i =>
        docs0.select((col("doc_id") * 8 + i).as("doc_id"),
          concat(col("text"), lit(s" replica$i")).as("text"))
      }.reduce(_ unionAll _)
        .withColumn("ts", timestamp_millis(lit(1700000000000L) + col("doc_id") * 10L))
      val nLshDocs = nBase * 8
      val lshDir = java.nio.file.Files.createTempDirectory("lshfsbench").toString
      lshDocs.repartitionByRange(32, col("ts")).write.mode("overwrite").parquet(lshDir)
      orderFileMtimes(lshDir)
      sampled("streaming_lsh_neardup_filesource", "docs/s") { () =>
        val lshIn = spark.readStream
          .schema(lshDocs.schema)
          .option("maxFilesPerTrigger", "8")
          .parquet(lshDir)
        // production shape (r15): the fused ingest builder — keyed
        // transformWithState + observeDrops (markers stripped, refusals
        // surfaced in each progress event's observedMetrics)
        val lshCands = graft.streaming.LshDedupTracker.ingest(
          graft.streaming.LshDedupTracker.streamInput(lshIn)
            .as[graft.streaming.LshIn], 3600000L)
        val (ql, wall) = timed {
          val q = lshCands.writeStream.outputMode("append")
            .format("memory").queryName("lshfsbench")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
          q.awaitTermination()
          q
        }
        val candRows = spark.table("lshfsbench").count()
        spark.catalog.dropTempView("lshfsbench")
        val drops = graft.streaming.AdmissionDrops.forRun(
          graft.streaming.LshDedupTracker.DropsTag, ql.runId)
        val dropsObserved = graft.streaming.AdmissionDrops.observedTotal(
          ql.recentProgress.toSeq, graft.streaming.LshDedupTracker.DropsMetric)
        graft.streaming.AdmissionDrops.clear(
          graft.streaming.LshDedupTracker.DropsTag, ql.runId)
        (nLshDocs, wall, s" cand_rows=$candRows" +
          s" max_bucket=${graft.streaming.LshDedupTracker.DefaultMaxBucket}" +
          s" admission_drops=$drops admission_drops_progress=$dropsObserved$clogStamp")
      }
    }

    // ---- streaming leg I: semantic (embedding) near-dup at ingest --------
    // SemanticDedupTracker via FILE source: map-side hyperplane bucket +
    // norm per row, then the within-bucket exact-cosine join against
    // in-horizon state. Corpus: the sf embeddings replicated 8x (exact
    // duplicates — every replica pair scores cos = 1), so per-bucket
    // membership grows to ~corpus/64 x 8 and the quadratic-in-bucket
    // emission is exercised, not dodged.
    if (selected("streaming_semantic_neardup_filesource")) {
      val emb0 = graft.sources.Tables.embeddings(spark, lshSfDir)
        .select(col("vec_id"), col("embedding"))
      val nEmbBase = emb0.count()
      val semDocs = (0 until 8).map { i =>
        emb0.select((col("vec_id") * 8 + i).as("vec_id"), col("embedding"))
      }.reduce(_ unionAll _)
        .withColumn("ts", timestamp_millis(lit(1700000000000L) + col("vec_id") * 10L))
      val nSem = nEmbBase * 8
      val semDir = java.nio.file.Files.createTempDirectory("semfsbench").toString
      graft.streaming.SemanticDedupTracker.streamInput(semDocs)
        .repartitionByRange(32, col("ts")).write.mode("overwrite").parquet(semDir)
      orderFileMtimes(semDir)
      val semSchema = graft.streaming.SemanticDedupTracker.streamInput(semDocs).schema
      sampled("streaming_semantic_neardup_filesource", "vecs/s") { () =>
        val semIn = spark.readStream
          .schema(semSchema)
          .option("maxFilesPerTrigger", "8")
          .parquet(semDir)
          .as[graft.streaming.SemIn]
        val semCands = graft.streaming.SemanticDedupTracker.ingest(semIn, 3600000L)
        val (qs, wall) = timed {
          val q = semCands.writeStream.outputMode("append")
            .format("memory").queryName("semfsbench")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
          q.awaitTermination()
          q
        }
        val candRows = spark.table("semfsbench").count()
        spark.catalog.dropTempView("semfsbench")
        val drops = graft.streaming.AdmissionDrops.forRun(
          graft.streaming.SemanticDedupTracker.DropsTag, qs.runId)
        val dropsObserved = graft.streaming.AdmissionDrops.observedTotal(
          qs.recentProgress.toSeq, graft.streaming.SemanticDedupTracker.DropsMetric)
        graft.streaming.AdmissionDrops.clear(
          graft.streaming.SemanticDedupTracker.DropsTag, qs.runId)
        (nSem, wall, s" cand_rows=$candRows" +
          s" max_bucket=${graft.streaming.SemanticDedupTracker.DefaultMaxBucket}" +
          s" admission_drops=$drops admission_drops_progress=$dropsObserved$clogStamp")
      }
    }
    spark.stop()
  }

  // FileStreamSource batches files by MODIFICATION time, not path, and
  // a bulk write stamps every part with the same mtime — so even
  // range-partitioned files enqueue in scrambled order and the
  // advancing watermark late-drops rows (measured: half the dedup
  // feed). Stamp increasing mtimes in path (= range) order so triggers
  // consume event time monotonically, like a dated-directory ingest.
  private def orderFileMtimes(dir: String): Unit =
    new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
      .zipWithIndex.foreach { case (f, i) =>
        // a silent setLastModified failure re-creates the scrambled
        // enqueue this helper exists to prevent (half the feed
        // late-dropped, rate inflated) — refuse to measure instead
        require(f.setLastModified(1700000000000L + i * 60000L),
          s"setLastModified failed for $f — mtime ordering not applied") }

  /** Per-query running max of the state observables, fed by the
    * listener bus instead of `q.recentProgress` (r12, ADVICE fix): the
    * progress buffer truncates at `numRecentProgressUpdates` entries and
    * `.max` over an empty array throws — a feed with more triggers than
    * the buffer silently under-reported the peak. The listener sees
    * EVERY progress event; `recentProgress` is still merged in after
    * termination as a floor against late listener delivery (the bus is
    * async), and a leg that produced no progress at all fails loudly in
    * [[stateCurves]] rather than recording a fabricated zero row. */
  private class StateMaxListener(queryName: String,
      dropsMetric: Option[String] = None)
      extends org.apache.spark.sql.streaming.StreamingQueryListener {
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    val maxRows = new java.util.concurrent.atomic.AtomicLong(-1L)
    val maxSst = new java.util.concurrent.atomic.AtomicLong(-1L)
    val lastBatch = new java.util.concurrent.atomic.AtomicLong(-1L)
    val nProgress = new java.util.concurrent.atomic.AtomicLong(0L)
    // per-batch SST readings for the debt-curve leg (r14, VERDICT #5):
    // keyed by batchId so the post-termination recentProgress merge
    // de-duplicates instead of double-counting
    val sstByBatch = new java.util.concurrent.ConcurrentHashMap[Long, Long]
    // per-batch observeDrops figures, batchId-keyed for the same
    // idempotent-merge reason — and, unlike a recentProgress fold, not
    // truncated at numRecentProgressUpdates for many-trigger legs
    val dropsByBatch = new java.util.concurrent.ConcurrentHashMap[Long, Long]
    def observe(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Unit = {
      nProgress.incrementAndGet()
      maxRows.accumulateAndGet(p.stateOperators.map(_.numRowsTotal).sum, math.max(_, _))
      maxSst.accumulateAndGet(StreamBench.sstBytes(p), math.max(_, _))
      lastBatch.accumulateAndGet(p.batchId, math.max(_, _))
      sstByBatch.merge(p.batchId, StreamBench.sstBytes(p),
        (a: Long, b: Long) => math.max(a, b))
      dropsMetric.foreach { k =>
        Option(p.observedMetrics.get(k)).foreach(row =>
          dropsByBatch.put(p.batchId, row.getAs[Long]("admission_drops")))
      }
    }
    def dropsTotal: Option[Long] = dropsMetric.map { _ =>
      var s = 0L
      dropsByBatch.forEach((_, v) => s += v)
      s
    }
    /** The (batchId-ordered) SST series, downsampled to ≤ `points`. */
    def sstSeries(points: Int): Seq[(Long, Long)] = {
      val all = {
        val b = Vector.newBuilder[(Long, Long)]
        sstByBatch.forEach((k, v) => b += ((k, v)))
        b.result().sortBy(_._1)
      }
      if (all.size <= points) all
      else {
        val step = (all.size - 1).toDouble / (points - 1)
        (0 until points).map(i => all(math.round(i * step).toInt)).distinct
      }
    }
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      if (e.progress.name == queryName) observe(e.progress)
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  /** The RocksDB live-data size observable (r12, replacing
    * `memoryUsedBytes` in the curve rows): `memoryUsedBytes` is
    * block-cache/memtable-dominated and ANTI-correlated with state rows
    * in the r11 artifact (209→185 MB while rows grew 136k→226k) — a
    * consumer could read "memory shrinks as state grows". The provider's
    * `rocksdbSstFileSize` custom metric is the on-disk SST total, i.e.
    * live data plus bounded compaction debt, the number that actually
    * tracks members. Rows/members stay the authoritative curve. */
  private def sstBytes(
      p: org.apache.spark.sql.streaming.StreamingQueryProgress): Long =
    p.stateOperators.map { op =>
      Option(op.customMetrics.get("rocksdbSstFileSize")).fold(0L)(_.longValue)
    }.sum

  /** STATE-SIZE curves for the stream-dedup tracker family (r11): the
    * trackers claim horizon-bounded state — "index + in-horizon corpus,
    * never feed-sized" — and until now no artifact measured it. This mode
    * (`runMain graft.StreamBench state-curves`) replays each tracker's
    * file-source leg at three retention horizons over an event-time span
    * MUCH longer than the largest horizon, tracks the per-trigger state
    * observables (numRowsTotal keys; rocksdbSstFileSize live-data bytes)
    * through a listener, and appends one JSON line per (tracker, horizon)
    * to the SCALE artifact. The claim holds iff state_rows_max tracks
    * horizon × key-rate (plus the fixed base index for the fingerprint
    * gate), not feed size. Every leg is recorded through [[Recorder]]
    * (r12 — the r11 `state_lsh_neardup` 2400 s-horizon wall was recorded
    * inside a steal wave with no gate).
    *
    * Trigger granularity matters: state peaks between watermark-driven
    * evictions, so each micro-batch must cover event time ≪ horizon —
    * 128 single-file triggers over the span keep the trigger quantum at
    * ~2-4% of the smallest horizon. */
  private def stateCurves(spark: SparkSession, selected: Set[String]): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, Trigger}
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // per-commit CHANGELOG uploads vs full RocksDB snapshot zips per
    // commit (the provider default on this build is false = snapshot
    // mode, bytecode-verified), which carry a maintenance cost ∝
    // retained keys (A/B on the 2400 s-horizon LSH leg: 217.6 s snapshot
    // vs 135.1 s changelog, wall flat across horizons). The row stamps
    // the EFFECTIVE value as "changelog" so A/B lines are distinguishable.
    val changelog = spark.conf.get(ChangelogConf, "false")
    /** One completed state-curve leg. `stamp` is its [[Recorder]]
      * contention stamp; `runId` keys this run's
      * [[graft.streaming.AdmissionDrops]] counters; `observedDrops` is
      * the refusal total read back from
      * `StreamingQueryProgress.observedMetrics` when the leg's build
      * wrapped the tracker in `observeDrops`. */
    case class LegResult(wall: Double, outRows: Long, stateRowsMax: Long,
        sstMax: Long, lastBatch: Long, stamp: Recorder.Stamp,
        runId: java.util.UUID, observedDrops: Option[Long],
        sstSeries: Seq[(Long, Long)])
    /** Prints and appends one state-curve row. */
    def emit(probe: String, horizonMs: Long, r: LegResult, fields: String,
        sf: String, clog: String = changelog): Unit = {
      val line = f"""{"probe":"$probe","horizon_ms":$horizonMs,"wall_sec":${r.wall}%.3f,"rows":${r.outRows},$fields,${r.stamp.jsonFields},"sf":"$sf","changelog":$clog}"""
      println(s"[scale] $line")
      Recorder.appendRow(line)
    }
    /** Runs `build(queryName)` to completion, recorded. */
    def run(queryName: String,
        build: String => org.apache.spark.sql.streaming.DataStreamWriter[_],
        dropsMetric: Option[String] = None)
        : LegResult = {
      val listener = new StateMaxListener(queryName, dropsMetric)
      spark.streams.addListener(listener)
      try {
        val (q, wall, stamp) = Recorder.record(spark, queryName) {
          val q = build(queryName).trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
          q
        }
        // merge the synchronous buffer: complete for ≤256-trigger legs,
        // and a floor against listener events still in flight at stop.
        // Every per-batch figure (SST, drops) is batchId-keyed in the
        // listener, so the merge is idempotent — and the drops total
        // does NOT truncate at numRecentProgressUpdates on
        // many-trigger legs (r14 review fix)
        q.recentProgress.foreach(listener.observe)
        assert(listener.nProgress.get() > 0,
          s"$queryName produced no progress events — state maxima would be fabricated")
        val observedDrops = listener.dropsTotal
        val outRows = spark.table(queryName).count()
        // free the memory sink's driver-side rows before the next horizon
        spark.catalog.dropTempView(queryName)
        LegResult(wall, outRows, listener.maxRows.get(), listener.maxSst.get(),
          listener.lastBatch.get(), stamp, q.runId, observedDrops,
          listener.sstSeries(16))
      } finally spark.streams.removeListener(listener)
    }

    /** Max ListState MEMBER count across SAMPLED batch snapshots, via the
      * state data source reader. `numRowsTotal` counts grouping KEYS for
      * transformWithState, so a tracker with a FIXED key space (the
      * semantic dedup tracker's 64 hyperplane buckets) is horizon-blind
      * in that metric — this reads the actual list elements per retained
      * batch snapshot instead (one row per element in the reader's
      * flattened view). Early batches may be purged past the retention
      * window; those reads are skipped. Returns (max over readable
      * snapshots, the batch ids actually read) — the row records the ids
      * so a consumer knows the peak is sampled, not exact; an
      * all-unreadable result is emitted as a distinct error field, never
      * a numeric sentinel in the members series (r12, ADVICE fix). */
    def maxListMembers(ckpt: String, stateVar: String, lastBatch: Long)
        : (Option[Long], Seq[Long]) = {
      val step = math.max(1L, lastBatch / 12)
      val ids = ((0L to lastBatch by step) :+ lastBatch).distinct
      val readable = ids.flatMap { b =>
        scala.util.Try(
          spark.read.format("statestore")
            .option("path", ckpt)
            .option("stateVarName", stateVar)
            .option("batchId", b)
            .load().count()).toOption.map(b -> _)
      }
      (readable.map(_._2).maxOption, readable.map(_._1))
    }
    def membersFields(m: (Option[Long], Seq[Long])): String = m._1 match {
      case Some(peak) =>
        s""""state_members_max_sampled":$peak,"members_sampled_batches":${m._2.mkString("[", ",", "]")}"""
      case None => s""""state_members_error":"no_readable_snapshot""""
    }
    // ---- fingerprint gate: ValueState + base index -----------------------
    // feed: 2M rows, 10 ms event-time spacing (span 20,000 s), a new
    // fingerprint every 3 rows (~33 fp/s) + a 100k-fp durable base index.
    // Expected state: ~100k + horizon_s × 33 — the slope is the claim.
    if (selected("state_dedup_gate")) {
    val nFeed = 2000000L
    val dedupRows = spark.range(nFeed).select(
        col("id").as("docId"),
        concat(lit("fp"), expr("id div 3")).as("fingerprint"),
        timestamp_millis(lit(1700000000000L) + col("id") * 10L).as("ts"))
    val dedupDir = java.nio.file.Files.createTempDirectory("statecurve_fp").toString
    dedupRows.repartitionByRange(128, col("ts"))
      .write.mode("overwrite").parquet(dedupDir)
    orderFileMtimes(dedupDir)
    val dedupInit = spark.range(100000)
      .select(concat(lit("base"), col("id")).as("fp")).as[String]
      .groupByKey(identity).mapValues(_ => true)
    Seq(900000L, 1800000L, 3600000L).foreach { horizonMs =>
      val in = spark.readStream.schema(dedupRows.schema)
        .option("maxFilesPerTrigger", "1").parquet(dedupDir)
        .as[graft.streaming.DedupIn]
      val name = s"fpcurve_$horizonMs"
      val r = run(name, n =>
        in.withWatermark("ts", "10 seconds")
          .groupByKey(_.fingerprint)
          .transformWithState(new graft.streaming.FingerprintDedupTracker(horizonMs),
            TimeMode.EventTime(), OutputMode.Append(), dedupInit)
          .writeStream.outputMode("append").format("memory").queryName(n))
      emit("state_dedup_gate", horizonMs, r, s""""feed_rows":$nFeed,"base_index":100000,"state_rows_max":${r.stateRowsMax},"state_sst_bytes_max":${r.sstMax}""", "synthetic")
    }
    }

    // ---- LSH near-dup tracker: per-(band,bucket) ListState ---------------
    // feed: sf0.1 documents ×8 near-dup replicas, 100 ms spacing (span
    // 4,000 s at 10 docs/s). State rows ≈ in-horizon docs × 4 bands.
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if (selected("state_lsh_neardup")) {
    val docs0 = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    val lshDocs = (0 until 8).map { i =>
      docs0.select((col("doc_id") * 8 + i).as("doc_id"),
        concat(col("text"), lit(s" replica$i")).as("text"))
    }.reduce(_ unionAll _)
      .withColumn("ts", timestamp_millis(lit(1700000000000L) + col("doc_id") * 100L))
    val nLsh = docs0.count() * 8
    val lshDir = java.nio.file.Files.createTempDirectory("statecurve_lsh").toString
    lshDocs.repartitionByRange(128, col("ts")).write.mode("overwrite").parquet(lshDir)
    orderFileMtimes(lshDir)
    Seq(600000L, 1200000L, 2400000L).foreach { horizonMs =>
      val in = spark.readStream.schema(lshDocs.schema)
        .option("maxFilesPerTrigger", "1").parquet(lshDir)
      val name = s"lshcurve_$horizonMs"
      val ckpt = java.nio.file.Files.createTempDirectory(s"ckpt_$name").toString
      val r = run(name, n =>
        graft.streaming.LshDedupTracker.ingest(
          graft.streaming.LshDedupTracker.streamInput(in)
            .as[graft.streaming.LshIn], horizonMs)
          .writeStream.outputMode("append").format("memory")
          .option("checkpointLocation", ckpt).queryName(n),
        dropsMetric = Some(graft.streaming.LshDedupTracker.DropsMetric))
      val drops = graft.streaming.AdmissionDrops.forRun(
        graft.streaming.LshDedupTracker.DropsTag, r.runId)
      graft.streaming.AdmissionDrops.clear(
        graft.streaming.LshDedupTracker.DropsTag, r.runId)
      val members = maxListMembers(ckpt, "bucket", r.lastBatch)
      emit("state_lsh_neardup", horizonMs, r, s""""feed_rows":$nLsh,"state_rows_max":${r.stateRowsMax},${membersFields(members)},"state_sst_bytes_max":${r.sstMax},"max_bucket":${graft.streaming.LshDedupTracker.DefaultMaxBucket},"admission_drops":$drops,"admission_drops_progress":${r.observedDrops.getOrElse(-1L)}""", sfDir)
    }
    }

    // ---- semantic near-dup tracker: per-bucket ListState -----------------
    // feed: sf0.1 embeddings ×8 exact-dup replicas, 100 ms spacing.
    if (selected("state_semantic_neardup")) {
    val emb0 = graft.sources.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val semDocs = (0 until 8).map { i =>
      emb0.select((col("vec_id") * 8 + i).as("vec_id"), col("embedding"))
    }.reduce(_ unionAll _)
      .withColumn("ts", timestamp_millis(lit(1700000000000L) + col("vec_id") * 100L))
    val nSem = emb0.count() * 8
    val semDir = java.nio.file.Files.createTempDirectory("statecurve_sem").toString
    graft.streaming.SemanticDedupTracker.streamInput(semDocs)
      .repartitionByRange(128, col("ts")).write.mode("overwrite").parquet(semDir)
    orderFileMtimes(semDir)
    val semSchema = graft.streaming.SemanticDedupTracker.streamInput(semDocs).schema
    Seq(600000L, 1200000L, 2400000L).foreach { horizonMs =>
      val in = spark.readStream.schema(semSchema)
        .option("maxFilesPerTrigger", "1").parquet(semDir)
        .as[graft.streaming.SemIn]
      val name = s"semcurve_$horizonMs"
      val ckpt = java.nio.file.Files.createTempDirectory(s"ckpt_$name").toString
      val r = run(name, n =>
        graft.streaming.SemanticDedupTracker.ingest(in, horizonMs)
          .writeStream.outputMode("append").format("memory")
          .option("checkpointLocation", ckpt).queryName(n),
        dropsMetric = Some(graft.streaming.SemanticDedupTracker.DropsMetric))
      val drops = graft.streaming.AdmissionDrops.forRun(
        graft.streaming.SemanticDedupTracker.DropsTag, r.runId)
      graft.streaming.AdmissionDrops.clear(
        graft.streaming.SemanticDedupTracker.DropsTag, r.runId)
      val members = maxListMembers(ckpt, "bucket", r.lastBatch)
      emit("state_semantic_neardup", horizonMs, r, s""""feed_rows":$nSem,"state_rows_max":${r.stateRowsMax},${membersFields(members)},"state_sst_bytes_max":${r.sstMax},"max_bucket":${graft.streaming.SemanticDedupTracker.DefaultMaxBucket},"admission_drops":$drops,"admission_drops_progress":${r.observedDrops.getOrElse(-1L)}""", sfDir)
    }
    }

    // ---- capped-bucket skew leg: the admission cap BINDING ----------------
    // The production default's claim under test (r12): one pathological
    // bucket — 2,000 EXACT-dup docs (same text → same signature → the
    // same key in all 4 bands) — must leave ListState bounded at
    // maxBucket members per band bucket and per-arrival emission bounded
    // at maxBucket pairs, with every refused admission counted. Uncapped,
    // arrival i emits i−1 pairs (Σ ≈ 2M pairs per bucket, state ∝ feed);
    // capped, out_rows ≈ 4 bands × (C(64,2) + 1936 × 64) and
    // state_members_max_sampled ≤ 4 × 64 however long the feed runs.
    if (selected("state_lsh_capped_bucket")) {
    val hotN = 2000L
    val hotDocs = spark.range(hotN).select(
        col("id").as("doc_id"),
        lit("the quick brown fox jumps over the lazy dog again and again in the same boilerplate block").as("text"))
      .withColumn("ts", timestamp_millis(lit(1700000000000L) + col("doc_id") * 100L))
    val hotDir = java.nio.file.Files.createTempDirectory("statecurve_hot").toString
    hotDocs.repartitionByRange(16, col("ts")).write.mode("overwrite").parquet(hotDir)
    orderFileMtimes(hotDir)
    locally {
      val in = spark.readStream.schema(hotDocs.schema)
        .option("maxFilesPerTrigger", "1").parquet(hotDir)
      val name = "lshhotbucket"
      val ckpt = java.nio.file.Files.createTempDirectory(s"ckpt_$name").toString
      val cap = graft.streaming.LshDedupTracker.DefaultMaxBucket
      val r = run(name, n =>
        graft.streaming.LshDedupTracker.ingest(
          graft.streaming.LshDedupTracker.streamInput(in)
            .as[graft.streaming.LshIn], 3600000L)
          .writeStream.outputMode("append").format("memory")
          .option("checkpointLocation", ckpt).queryName(n),
        dropsMetric = Some(graft.streaming.LshDedupTracker.DropsMetric))
      val drops = graft.streaming.AdmissionDrops.forRun(
        graft.streaming.LshDedupTracker.DropsTag, r.runId)
      graft.streaming.AdmissionDrops.clear(
        graft.streaming.LshDedupTracker.DropsTag, r.runId)
      val members = maxListMembers(ckpt, "bucket", r.lastBatch)
      emit("state_lsh_capped_bucket", 3600000L, r, s""""feed_rows":$hotN,"state_rows_max":${r.stateRowsMax},${membersFields(members)},"state_sst_bytes_max":${r.sstMax},"max_bucket":$cap,"admission_drops":$drops,"admission_drops_progress":${r.observedDrops.getOrElse(-1L)}""", "synthetic")
    }
    }

    // ---- semantic capped-bucket skew leg: the 4096 cap BINDING ------------
    // The semantic tracker's DEFAULT cap had no binding recording (r13,
    // VERDICT #5): on every real corpus drops read 0 — a pure backstop —
    // so nothing showed the backstop actually bounds state and admission
    // when a bucket saturates. Feed: hash-seeded pseudorandom dim-64
    // vectors (deterministic across runs), FILTERED to the single most
    // populated hyperplane bucket, 4096 + 904 = 5000 arrivals. Members
    // must pin at the 4096 cap with exactly 904 counted refusals; the
    // accuracy contract holds because refused arrivals still score
    // against the capped membership — random-vector pairs at cos ≥ 0.3
    // (~2.4σ of the N(0, 1/64) cosine distribution) keep out_rows > 0.
    if (selected("state_semantic_capped_bucket")) {
    val semCap = graft.streaming.SemanticDedupTracker.DefaultMaxBucket
    val nHotVecs = semCap + 904L // 5000 arrivals, 904 past the cap
    val rawVecs = spark.range(400000).select(
        col("id").as("vec_id"),
        transform(sequence(lit(0), lit(63)), j =>
          (pmod(hash(col("id") * 64 + j), lit(2001)) - 1000).cast("double")
            / 1000.0).as("embedding"))
      .withColumn("ts", timestamp_millis(lit(1700000000000L) + col("vec_id")))
    val prepped = graft.streaming.SemanticDedupTracker.streamInput(rawVecs)
    val hotBucket = prepped.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bucket")).head().getLong(0)
    val hotVecs = prepped.filter(col("bucket") === hotBucket)
      .orderBy(col("vecId")).limit(nHotVecs.toInt)
    val semHotDir = java.nio.file.Files.createTempDirectory("statecurve_semhot").toString
    hotVecs.repartitionByRange(16, col("ts")).write.mode("overwrite").parquet(semHotDir)
    orderFileMtimes(semHotDir)
    locally {
      val in = spark.readStream.schema(prepped.schema)
        .option("maxFilesPerTrigger", "1").parquet(semHotDir)
        .as[graft.streaming.SemIn]
      val name = "semhotbucket"
      val ckpt = java.nio.file.Files.createTempDirectory(s"ckpt_$name").toString
      val r = run(name, n =>
        graft.streaming.SemanticDedupTracker.ingest(in, 3600000L)
          .writeStream.outputMode("append").format("memory")
          .option("checkpointLocation", ckpt).queryName(n),
        dropsMetric = Some(graft.streaming.SemanticDedupTracker.DropsMetric))
      val drops = graft.streaming.AdmissionDrops.forRun(
        graft.streaming.SemanticDedupTracker.DropsTag, r.runId)
      graft.streaming.AdmissionDrops.clear(
        graft.streaming.SemanticDedupTracker.DropsTag, r.runId)
      val members = maxListMembers(ckpt, "bucket", r.lastBatch)
      emit("state_semantic_capped_bucket", 3600000L, r, s""""feed_rows":$nHotVecs,"state_rows_max":${r.stateRowsMax},${membersFields(members)},"state_sst_bytes_max":${r.sstMax},"max_bucket":$semCap,"admission_drops":$drops,"admission_drops_progress":${r.observedDrops.getOrElse(-1L)}""", "synthetic")
    }
    }

    // ---- changelog-mode SST-debt bound (r14, VERDICT #5) ------------------
    // Changelog checkpointing defers full-snapshot maintenance, so its
    // on-disk SST total carries compaction debt the r13 rows measured at
    // 2-3x snapshot mode's — fine at MBs, but at 100 TB state the
    // question is whether that debt is BOUNDED or grows with feed
    // length. This leg drives the fingerprint tracker (the largest
    // retained-key population) over a feed whose event-time span is ~11x
    // the retention horizon, so retained state SATURATES ~9% in and the
    // remaining ~90% of the body runs at CONSTANT retained keys across
    // many maintenance cycles — if debt were unbounded, the SST series
    // would climb through that plateau region; bounded debt shows it
    // flattening. The maintenance cadence is tightened to 15 s (recorded
    // in the row); the recorded SCALE_r14 run's ~90 s body spanned ~6
    // maintenance cycles and captured three full saw-tooth cycles
    // returning to the same floor (the figure StateStoreDefaults
    // documents). It runs only in its OWN process (`state-curves
    // state_changelog_debt`, enforced by [[selectStateProbes]]).
    if (selected("state_changelog_debt")) {
    val maintenanceConf = "spark.sql.streaming.stateStore.maintenanceInterval"
    spark.conf.set(ChangelogConf, "true") // the mode under test
    spark.conf.set(maintenanceConf, "15s")
    try {
    val nFeed = 4000000L
    val horizonMs = 3600000L
    val debtRows = spark.range(nFeed).select(
        col("id").as("docId"),
        concat(lit("fp"), expr("id div 3")).as("fingerprint"),
        timestamp_millis(lit(1700000000000L) + col("id") * 10L).as("ts"))
    val debtDir = java.nio.file.Files.createTempDirectory("statecurve_debt").toString
    debtRows.repartitionByRange(128, col("ts"))
      .write.mode("overwrite").parquet(debtDir)
    orderFileMtimes(debtDir)
    val debtInit = spark.range(100000)
      .select(concat(lit("base"), col("id")).as("fp")).as[String]
      .groupByKey(identity).mapValues(_ => true)
    locally {
      val in = spark.readStream.schema(debtRows.schema)
        .option("maxFilesPerTrigger", "1").parquet(debtDir)
        .as[graft.streaming.DedupIn]
      val name = "fpdebt"
      val ckpt = java.nio.file.Files.createTempDirectory(s"ckpt_$name").toString
      val r = run(name, n =>
        in.withWatermark("ts", "10 seconds")
          .groupByKey(_.fingerprint)
          .transformWithState(new graft.streaming.FingerprintDedupTracker(horizonMs),
            TimeMode.EventTime(), OutputMode.Append(), debtInit)
          .writeStream.outputMode("append").format("memory")
          .option("checkpointLocation", ckpt).queryName(n))
      val series = r.sstSeries
        .map { case (b, s) => s"[$b,$s]" }.mkString("[", ",", "]")
      emit("state_changelog_debt", horizonMs, r, s""""feed_rows":$nFeed,"base_index":100000,"state_rows_max":${r.stateRowsMax},"state_sst_bytes_max":${r.sstMax},"sst_series":$series,"maintenance_interval":"15s"""", "synthetic", clog = "true")
    }
    } finally {
      spark.conf.set(ChangelogConf, changelog)
      spark.conf.unset(maintenanceConf)
    }
    }
  }
}
