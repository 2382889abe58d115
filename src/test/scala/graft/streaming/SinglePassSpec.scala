package graft.streaming

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException, Trigger}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** `SensorPipeline.start` runs each micro-batch's stateful plan once,
  * keeps the empty-batch short-circuit (K2), leaves no cached frame
  * behind, and a second start compiles no generated code its session
  * compiled before.
  *
  * The input is a text-file backlog drained with `Trigger.AvailableNow`,
  * one file per micro-batch, as in the perfbench `sensor_replay`
  * workload. Windows are 10 s with a 5 s watermark; file i holds events
  * of window i, 20 s apart, so the first two batches emit nothing, the
  * third closes window 0 and the closing no-data batch closes window 1. */
class SinglePassSpec extends AnyFunSuite with SparkSpec {

  private val t0 = 1700000000000L
  private val sensors = 6

  private def line(offsetMs: Long, sensor: Int, value: String): String =
    s"""{"station_name":"P","station_id":"p${sensor % 3}","sensor_id":"$sensor",""" +
      s""""timestamp":${t0 + offsetMs},"value":"$value"}"""

  private lazy val backlog: Path = {
    val dir = Files.createTempDirectory("single_pass_src")
    for (w <- 0 until 3) {
      val lines = for (k <- 0 until 40; s <- 0 until sensors) yield
        line(w * 20000L + k * 200L, s, if (k % 7 == 3) "<<bad_data>>" else s"${k % 5}.0")
      Files.write(dir.resolve(f"part-$w%02d.json"), lines.mkString("\n").getBytes("UTF-8"))
      dir.resolve(f"part-$w%02d.json").toFile.setLastModified(1700000000000L + w * 1000L)
    }
    dir
  }

  /** One AvailableNow drain of the backlog on a fresh checkpoint. */
  private def drain(isolate: Boolean = true)(write: (DataFrame, Long) => Unit): StreamingQuery = {
    val raw = spark.readStream.format("text").option("maxFilesPerTrigger", 1)
      .load(backlog.toString)
    val q = SensorPipeline.start(SensorPipeline.documents(raw, "5 seconds", "10 seconds"),
      Files.createTempDirectory("single_pass_cp").toString, Trigger.AvailableNow(),
      isolateFailedBatches = isolate)(write)
    try q.awaitTermination()
    catch { case _: StreamingQueryException => () } // read back through q.exception
    finally q.stop()
    q
  }

  private def docs(df: DataFrame): DataFrame =
    df.select(col("window"), col("station"), col("sensor"), col("metrics"))

  test("each micro-batch runs its state once, skips empty batches, and caches nothing after") {
    val partitions = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val written = new ConcurrentLinkedQueue[Row]()
    val emptyWrites = new ConcurrentLinkedQueue[Long]()
    val q = drain() { (batch, batchId) =>
      val rows = docs(batch).collect()
      if (rows.isEmpty) emptyWrites.add(batchId)
      rows.foreach(written.add)
    }
    assert(q.exception.isEmpty)
    val stateful = q.recentProgress.filter(_.stateOperators.nonEmpty)
    assert(stateful.length >= 4, s"expected 3 data batches and a closing one: ${stateful.length}")
    stateful.foreach { p =>
      assert(p.stateOperators.head.numStateStoreInstances === partitions,
        s"batch ${p.batchId} loaded its state ${p.stateOperators.head.numStateStoreInstances} " +
          s"times on $partitions partitions")
    }
    assert(emptyWrites.isEmpty, s"writeBatch saw empty batches ${emptyWrites.asScala}")

    val watermarkMs = java.time.Instant.parse(q.lastProgress.eventTime.get("watermark")).toEpochMilli
    val expected = docs(SensorPipeline.documents(spark.read.text(backlog.toString),
      "5 seconds", "10 seconds")).filter(unix_millis(col("window.end")) <= watermarkMs)
    val got = spark.createDataFrame(written.asScala.toSeq.asJava, expected.schema)
    assert(got.count() === sensors * 2) // windows 0 and 1
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
    assert(spark.sharedState.cacheManager.isEmpty, "a micro-batch frame stayed cached")
  }

  for (isolate <- Seq(true, false)) {
    test(s"a failing batch leaves nothing cached (isolateFailedBatches=$isolate)") {
      val q = drain(isolate) { (batch, _) =>
        if (!batch.isEmpty) sys.error("sink down")
      }
      assert(q.exception.isDefined === !isolate)
      assert(spark.sharedState.cacheManager.isEmpty, "a failed batch's frame stayed cached")
    }
  }

  test("a second start over the same input compiles no generated code") {
    def run(): Unit = drain() { (batch, _) => docs(batch).collect(); () }
    run()
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    run()
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    assert(compiled === 0L, s"the restart compiled $compiled generated classes again")
  }
}
