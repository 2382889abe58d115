package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Listener-side tracing for a traced run. Every job is tagged with the
  * `<workload>/<query>/<phase>` job group the benchmark set around its
  * call (streaming jobs carry the query's run id, mapped to a tag with
  * [[tagRun]]; the fan-out sink marks its own jobs through the
  * [[PhaseProp]] local property). Stages and tasks inherit their job's
  * tag. Spans stay in memory and are written as JSON lines by [[writeSpans]].
  *
  * Attach and detach let one run measure the same work traced and
  * untraced, which gives the tracing overhead. */
final class Trace(spark: SparkSession, workload: String) {
  import Trace._

  /** Counters of one tag. */
  final class Agg {
    var jobs, stages, tasks = 0L
    var runMs, cpuNs, shuffleRead, shuffleWrite, scanBytes = 0L
    val jobIntervals = new ConcurrentLinkedQueue[(Long, Long)]()
    def toMap: Map[String, Any] = Map(
      "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
      "exec_run_ms" -> runMs, "exec_cpu_ms" -> cpuNs / 1e6,
      "shuffle_read_bytes" -> shuffleRead, "shuffle_write_bytes" -> shuffleWrite,
      "scan_bytes" -> scanBytes,
      "job_intervals" -> jobIntervals.asScala.toSeq.map { case (s, e) => Seq(s, e) })
  }

  private val spans = new ConcurrentLinkedQueue[String]()
  private val aggs = new ConcurrentHashMap[String, Agg]()
  private val runTags = new ConcurrentHashMap[String, String]()
  private val jobTag = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageTag = new ConcurrentHashMap[Int, String]()
  val progress = new ConcurrentLinkedQueue[(String, StreamingQueryProgress)]()

  private def agg(tag: String): Agg = aggs.computeIfAbsent(tag, _ => new Agg)

  /** Maps a streaming query's run id to the tag its jobs are reported under. */
  def tagRun(runId: java.util.UUID, tag: String): Unit = runTags.put(runId.toString, tag)

  private def tagOf(props: java.util.Properties): String = {
    val group = Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val base = Option(runTags.get(group)).getOrElse(if (group.isEmpty) s"$workload/untagged" else group)
    Option(props).flatMap(p => Option(p.getProperty(PhaseProp))).fold(base)(ph => s"$base/$ph")
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tag = tagOf(e.properties)
      jobTag.put(e.jobId, tag)
      jobStart.put(e.jobId, e.time)
      e.stageIds.foreach(stageTag.put(_, tag))
      agg(tag).synchronized { agg(tag).jobs += 1 }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val tag = Option(jobTag.get(e.jobId)).getOrElse(s"$workload/untagged")
      val start: Long = Option(jobStart.get(e.jobId)).map(_.longValue).getOrElse(e.time)
      agg(tag).jobIntervals.add((start, e.time))
      val ok = e.jobResult == JobSucceeded
      spans.add(Main.Json.writeValueAsString(Map("kind" -> "job", "tag" -> tag, "id" -> e.jobId,
        "start_ms" -> start, "end_ms" -> e.time, "ok" -> ok)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val tag = Option(stageTag.get(s.stageId)).getOrElse(s"$workload/untagged")
      agg(tag).synchronized { agg(tag).stages += 1 }
      spans.add(Main.Json.writeValueAsString(Map("kind" -> "stage", "tag" -> tag, "id" -> s.stageId,
        "name" -> s.name, "tasks" -> s.numTasks,
        "start_ms" -> s.submissionTime.getOrElse(-1L),
        "end_ms" -> s.completionTime.getOrElse(-1L))))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val tag = Option(stageTag.get(e.stageId)).getOrElse(s"$workload/untagged")
      val m = e.taskMetrics
      val a = agg(tag)
      a.synchronized {
        a.tasks += 1
        if (m != null) {
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.scanBytes += m.inputMetrics.bytesRead
        }
      }
    }
  }

  private val queryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      spans.add(Main.Json.writeValueAsString(Map("kind" -> "query_end",
        "tag" -> runTags.getOrDefault(e.runId.toString, ""), "exception" -> e.exception.getOrElse(""))))
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val tag = runTags.getOrDefault(p.runId.toString, s"$workload/stream")
      progress.add((tag, p))
      spans.add(Main.Json.writeValueAsString(Map("kind" -> "progress", "tag" -> tag,
        "progress" -> Main.Json.readTree(p.json))))
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(queryListener)
  }

  def detach(): Unit = {
    org.apache.spark.BusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(queryListener)
  }

  /** Counters per tag, after the listener bus has delivered every event. */
  def aggregates(): Map[String, Map[String, Any]] = {
    org.apache.spark.BusDrain(spark.sparkContext)
    aggs.asScala.map { case (k, a) => k -> a.synchronized(a.toMap) }.toMap
  }

  /** Progress of every streaming batch seen, as flat records. */
  def progressRecords(): Seq[Map[String, Any]] = {
    org.apache.spark.BusDrain(spark.sparkContext)
    progress.asScala.toSeq.map { case (tag, p) => progressRecord(tag, p) }
  }

  def writeSpans(file: java.io.File): Unit = {
    org.apache.spark.BusDrain(spark.sparkContext)
    val w = new java.io.PrintWriter(file, "UTF-8")
    try spans.asScala.foreach(w.println)
    finally w.close()
  }
}

object Trace {
  /** Local property the benchmark's own sink wrapper sets around its writes. */
  val PhaseProp = "perfbench.phase"

  private def isoMs(s: String): Long = java.time.Instant.parse(s).toEpochMilli

  def progressRecord(tag: String, p: StreamingQueryProgress): Map[String, Any] = {
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val ev = Option(p.eventTime).map(_.asScala.toMap).getOrElse(Map.empty[String, String])
    val st = p.stateOperators.headOption
    Map(
      "tag" -> tag, "batch_id" -> p.batchId, "timestamp_ms" -> isoMs(p.timestamp),
      "input_rows" -> p.numInputRows,
      "trigger_ms" -> d.getOrElse("triggerExecution", 0L),
      "add_batch_ms" -> d.getOrElse("addBatch", 0L),
      "query_planning_ms" -> d.getOrElse("queryPlanning", 0L),
      "wal_commit_ms" -> d.getOrElse("walCommit", 0L),
      "commit_offsets_ms" -> d.getOrElse("commitOffsets", 0L),
      "get_batch_ms" -> d.getOrElse("getBatch", 0L),
      "latest_offset_ms" -> d.getOrElse("latestOffset", 0L),
      "state_commit_ms" -> st.map(_.commitTimeMs).getOrElse(0L),
      "state_rows" -> st.map(_.numRowsTotal).getOrElse(0L),
      "state_memory_bytes" -> st.map(_.memoryUsedBytes).getOrElse(0L),
      "rows_dropped_by_watermark" -> p.stateOperators.map(_.numRowsDroppedByWatermark).sum,
      "watermark_ms" -> ev.get("watermark").map(isoMs).getOrElse(-1L),
      "max_event_ms" -> ev.get("max").map(isoMs).getOrElse(-1L))
  }
}
