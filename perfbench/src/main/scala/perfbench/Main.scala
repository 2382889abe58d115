package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.ContentionGate
import graft.plans.GraftExtensions

/** Benchmark JVM: runs one workload and writes its raw measurements to
  * `<out>/raw.json` (and, when traced, the listener spans to
  * `<out>/spans.jsonl`). `run.py` starts it and turns the raw file into
  * metrics.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --out DIR [--cores C] [--results 1]
  * With `--cores 1`, sensor_replay runs as the single-threaded baseline;
  * `--results 1` makes registry_hot write its results for the oracle check. */
object Main {
  val Workloads = Set("sensor_live", "sensor_replay", "registry_hot")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts("workload")
    require(Workloads(workload), s"unknown workload $workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val out = new File(opts("out"))
    StealClock.now() // starts counting steal
    val cores = opts.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
    out.mkdirs()

    // graft.Bench's session settings, at this machine's core count
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(out, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(out, "local").getAbsolutePath)
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionMs = System.currentTimeMillis() - jvmStartMs
    mark("session ready")

    val trace = if (traced) Some(new Trace(spark, workload)) else None
    val body = workload match {
      case "sensor_live" => SensorBench.live(spark, seed, seconds, trace, out)
      // one core: the single-threaded baseline, a single timed drain
      case "sensor_replay" if cores == 1 => SensorBench.replay(spark, seed, seconds, trace, out,
        synthRuns = 1, warmDrains = 1, minDrains = 1)
      case "sensor_replay" => SensorBench.replay(spark, seed, seconds, trace, out,
        synthRuns = 3, warmDrains = 2, minDrains = 4)
      case "registry_hot" => RegistryBench.run(spark, seconds, trace, out,
        writeResults = opts.get("results").contains("1"))
    }
    // un-gated machine probe at this core count, after the measurements so
    // it stays out of set-up time: a diagnostic stamp of how busy the
    // machine was; nothing waits on it. The single-threaded baseline's JVM
    // runs inside a traced run, whose own JVM is stamped.
    val probe = if (cores == 1) 0.0 else ContentionGate.probe(spark, cores) * 1000
    mark("machine probed")
    val traceFields = trace.fold(Map.empty[String, Any]) { t =>
      t.writeSpans(new File(out, "spans.jsonl"))
      Map("trace_aggregates" -> t.aggregates(), "trace_progress" -> t.progressRecords())
    }
    val raw = Map("workload" -> workload, "seed" -> seed, "cores" -> cores, "traced" -> traced,
      "jvm_start_ms" -> jvmStartMs, "session_ms" -> sessionMs, "probe_ms" -> probe,
      "stolen_ms" -> StealClock.stolenSinceStartMs()) ++
      body ++ traceFields
    Json.writeValue(new File(out, "raw.json"), raw)
    mark("measurements written")
    spark.stop()
  }

  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

  /** Writes the raw measurements and the trace spans (Scala maps and
    * sequences included). */
  val Json: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  /** Progress line on stderr (kept in the run's log): seconds since JVM start. */
  def mark(what: String): Unit =
    System.err.println(f"[perfbench] +${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.1fs $what")
}
