package graft

import org.apache.spark.sql.SparkSession

/** The one measurement protocol of the dev probe mains (`ScaleSmoke`,
  * `StreamBench`): which names a run selects, and how each recorded body
  * is gated and stamped. `Bench` and `Verify` use the same selector.
  *
  * Every recorded body waits for a calm host
  * ([[ContentionGate.awaitCalm]]), runs under a [[StealMonitor]], and is
  * followed by an end-of-body probe. The start gate cannot see a steal
  * wave that begins mid-body (the one unexplained r12 drift,
  * `dedup_components` K=50, sat in exactly that blind spot), and both
  * endpoint probes are instants that multi-minute bodies straddle; the
  * end probe and the body-wide steal integral make mid-body contention a
  * stamped number, so a drift adjudication reads the row instead of
  * re-running it in a hunted-for calm window. */
object Recorder {

  /** Every dev probe gates and end-probes at 32 threads, the thread
    * count [[ContentionGate.ProbeIdleRef]] was measured at. */
  private val Threads = 32

  /** The names a run selects from `known`. `spec` is a comma-separated
    * list; names are trimmed. Absent or blank selects every known name.
    * An unknown name fails, naming itself and the known set: a typo must
    * not select nothing and exit 0 looking like a run. */
  def select(spec: Option[String], known: Iterable[String]): Set[String] = {
    val knownSet = known.toSet
    val names = spec.toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty).toSet
    if (names.isEmpty) knownSet
    else {
      val unknown = names -- knownSet
      require(unknown.isEmpty,
        s"unknown names: ${unknown.toSeq.sorted.mkString(",")} " +
          s"(known: ${knownSet.toSeq.sorted.mkString(",")})")
      names
    }
  }

  /** A recorded body's contention readings: the start gate, the
    * end-of-body probe and the body-wide steal integral. */
  final case class Stamp(gate: ContentionGate.Window, probeEnd: Double,
      steal: StealMonitor.Result) {
    /** The fields of a JSON artifact row. */
    def jsonFields: String =
      s"""${gate.jsonFields},"probe_sec_end":$probeEnd,${steal.jsonFields}"""
    /** The same readings as `key=value` text. */
    def textFields: String =
      f"probe=${gate.probeSec}%.3f probe_steal=${gate.steal}%.4f contended=${gate.contended}" +
        f" probe_end=$probeEnd%.3f" +
        f" steal_integral=${steal.stealIntegral}%.4f steal_peak=${steal.stealPeak}%.4f" +
        s" steal_samples=${steal.samples}"
  }

  /** Gates on a calm host, runs `body` under the steal monitor, and
    * end-probes: (the body's value, its wall seconds, its stamp). */
  def record[A](spark: SparkSession, label: String)(body: => A): (A, Double, Stamp) = {
    val gate = ContentionGate.awaitCalm(spark, Threads, label = label)
    val sm = StealMonitor.start()
    val t0 = System.nanoTime()
    val a = body
    val wall = (System.nanoTime() - t0) / 1e9
    val steal = sm.stop()
    (a, wall, Stamp(gate, ContentionGate.probe(spark, Threads), steal))
  }

  private lazy val scaleOut = java.nio.file.Paths.get(
    sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "SCALE_r15.json"))

  /** Appends one JSON row to the scale artifact (`SPARK_GRAFT_SCALE_OUT`,
    * default `SCALE_r15.json`). Rows are appended per probe so a crashed
    * sweep keeps its finished rows, and so repeated or partial sweeps
    * accumulate: the newest row per (probe, k or horizon, sf) is
    * authoritative. Delete the file to start a fresh sweep. */
  def appendRow(line: String): Unit =
    java.nio.file.Files.write(scaleOut,
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
}
