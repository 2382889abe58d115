package graft

import org.apache.spark.sql.SparkSession
import graft.queries.Registry

/** Benchmark main: runs every registered query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line with per-query wall-clock seconds.
  * local[32] / 32 shuffle partitions by default (matching the harness
  * machine), AQE on.
  *
  * Robustness against host contention (the round-2 lesson — a burst of
  * co-located load turned five healthy queries into phantom 10-24×
  * regressions):
  *   - one untimed warm pass amortizes JVM/codegen/parquet-footer startup;
  *   - then THREE full interleaved sweeps (every query once per sweep, in
  *     sorted name order), per-query min across sweeps. A contention burst
  *     is time-local, so it contaminates one sweep's worth of a query's
  *     samples, never all three — unlike back-to-back repeats, which both
  *     land inside the burst.
  *   - storage hygiene: registered queries materialize build frames via
  *     localCheckpoint (eager, see QueryConventions), whose blocks are reclaimed by the
  *     ContextCleaner only after the frames are garbage-collected — so a
  *     System.gc() after every sweep bounds block accumulation across the
  *     registry×4 run instead of waiting for the 30-min periodic GC.
  *     clearCache() after each query stays as a guard against any future
  *     catalog-cached frame (today it is a no-op by convention —
  *     RegistryAuditSpec's hygiene test).
  *   - `load_avg_start`/`load_avg_end` (1-min system load) make a
  *     contaminated run self-identifying: on this 32-core box an idle run
  *     reads well under ~40 at end; a co-located driver burst reads higher.
  *   - `sweep_steal` (r15): each timed sweep is bracketed by the
  *     [[StealMonitor]] body integral, emitted as positional tuples
  *     `[wall_sec, steal_integral, steal_peak, steal_samples]` per sweep
  *     — the endpoint probes are instants and a long query's min can
  *     straddle mid-body steal waves in every sweep; a per-query drift
  *     adjudication reads these fields FIRST (integral ≈ 0 on any sweep
  *     ⇒ that sweep's samples are trustworthy).
  */
object Bench {
  private val Sweeps = 3

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // sorted order: per-query timings comparable across rounds regardless
    // of Map iteration order. SPARK_GRAFT_BENCH_ONLY (comma-separated
    // names, dev only) narrows the run for adjudicating a single query's
    // regression without paying the full-registry sweep. An unknown name
    // fails here, before the session starts.
    val only = Registry.select(sys.env.get("SPARK_GRAFT_BENCH_ONLY"))
    val queries = SparkEntry.queries.filter(kv => only(kv._1)).toSeq.sortBy(_._1)
    val spark = Sessions.local(cpus)

    def loadAvg(): Double = {
      val l = java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.getSystemLoadAverage
      math.round(l * 100) / 100.0
    }
    val loadStart = loadAvg()

    // REFUSE to record a contended start (the r2/r5/r10 contamination:
    // three rounds' recordings began under co-located load and their
    // absolute numbers needed probe-normalization archaeology). The
    // probe + bounded-wait logic is the shared ContentionGate (see its
    // scaladoc for the normalization convention); the r6 lesson stands:
    // load_avg alone made an 8% idle improvement read as a 5% regression
    // until manual archaeology.
    val gate = ContentionGate.awaitCalm(spark, cpus, label = "bench_start")
    val probeStart = gate.probeSec
    val contentionWaits = gate.waits
    val contended = gate.contended

    // warmup: one untimed pass over EVERY query — session init, parquet
    // footer reads, and per-query codegen all land outside the timings.
    queries.foreach { case (_, fn) =>
      try fn(spark, sfDir).count() catch { case scala.util.control.NonFatal(_) => () }
      spark.catalog.clearCache()
    }

    // A query that throws is reported as -1 (NOT a fast timing) and named
    // in the errors list — a regression must read as a failure, never a
    // speedup.
    def timeOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      } catch { case scala.util.control.NonFatal(_) => -1.0 }
      finally spark.catalog.clearCache()
    }

    // Each sweep is bracketed by the StealMonitor body integral (r14
    // VERDICT #1): bench rows were the one remaining recording class
    // with endpoint probes but no body-wide contention measure, so a
    // query whose min straddled steal waves in all three sweeps (the
    // longest queries are the likeliest) had no in-artifact
    // adjudication path. The per-sweep integral names which sweeps were
    // calm; a per-query drift reads `sweep_steal` FIRST before anyone
    // re-runs legs hunting for calm windows.
    val sweepSteals = Vector.newBuilder[(Double, StealMonitor.Result)]
    val sweeps: Seq[Seq[Double]] =
      (1 to Sweeps).map { _ =>
        val sm = StealMonitor.start()
        val t0 = System.nanoTime()
        val t = queries.map { case (_, fn) => timeOnce(fn) }
        sweepSteals += (((System.nanoTime() - t0) / 1e9, sm.stop()))
        // release dropped frames so the ContextCleaner reclaims their
        // local-checkpoint blocks before the next sweep
        System.gc()
        t
      }
    // POSITIONAL per-sweep tuples [wall_sec, steal_integral, steal_peak,
    // steal_samples]: the driver archives only the LAST 2000 chars of
    // stdout (see the csv note below) and the csv + summary already fill
    // it — named per-sweep objects (~200 chars) would push the csv head
    // out of the window, compact tuples (~80) fit.
    val sweepStealJson = sweepSteals.result()
      .map { case (w, r) =>
        f"""[$w%.1f,${r.stealIntegral}%.4f,${r.stealPeak}%.4f,${r.samples}]""" }
      .mkString("[", ",", "]")
    val results = queries.zipWithIndex.map { case ((name, _), i) =>
      val samples = sweeps.map(_(i))
      name -> (if (samples.exists(_ < 0)) -1.0 else samples.min)
    }

    // the cleaner sample: a fully JIT-warm JVM (the start probe can read
    // ~0.04 s high on a cold session even idle)
    val probeEnd = ContentionGate.probe(spark, cpus)

    val failed = results.collect { case (k, v) if v < 0 => k }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.map(_._2).filter(_ >= 0).sum
    val loadEnd = loadAvg()
    val probes =
      f""""probe_sec_start":$probeStart,"probe_steal_start":${gate.steal}%.4f,"probe_sec_end":$probeEnd,""" +
        s""""probe_idle_ref":${ContentionGate.ProbeIdleRef},"contended":$contended,""" +
        s""""contention_waits":$contentionWaits,"sweep_steal":$sweepStealJson"""
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errs,"load_avg_start":$loadStart,"load_avg_end":$loadEnd,$probes,"sf":"$sfDir"}"""
    // The driver archives only the LAST 2000 chars of stdout (measured on
    // BENCH_r04.json: `tail` is exactly 2000 chars, clipped mid-dict), and
    // ~196 NAMED per-query entries are ~6 KB — they can never fit. What
    // does fit, and makes the archive self-contained: all per-query values
    // as a positional CSV (3-decimal seconds, sorted-name order) — the
    // names are recoverable by zipping with the sorted keys of
    // CORRECTNESS_r{N}.json, which the driver archives alongside and which
    // covers the identical registry. ~1.4 KB for 196 queries, so the tail
    // keeps it plus the summary line (LAST — where the driver's parser
    // found it in r4). Full-precision NAMED timings still go to stdout
    // earlier (chunked, for anyone reading the whole log) and to
    // BENCH.out.json.
    val summary =
      s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"errors":$errs,"load_avg_start":$loadStart,"load_avg_end":$loadEnd,$probes,"sf":"$sfDir"}"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get("BENCH.out.json"),
      (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val chunks = results.grouped(40).toSeq
    chunks.zipWithIndex.foreach { case (chunk, i) =>
      val body = chunk.map { case (k, v) => s"\"" + k + "\":" + v }
        .mkString("{", ",", "}")
      println(s"""{"metric":"queries_part","part":${i + 1},"of":${chunks.size},"queries":$body}""")
    }
    // CENTISECOND ints, not 3-decimal seconds: at 300+ queries the
    // decimal csv (~2.4 KB with the summary) no longer fits the driver's
    // 2000-char tail and loses its head — ints keep every value + the
    // summary inside the window. Full-precision NAMED timings are in the
    // committed BENCH.out.json (the cross-round comparison artifact).
    val csv = results.map { case (_, v) => math.round(v * 100) }.mkString(",")
    println(s"""{"metric":"queries_csv","order":"sorted query names - zip with CORRECTNESS keys","unit":"centisec","n":${results.size},"values":[$csv]}""")
    println(summary)
    spark.stop()
  }
}
