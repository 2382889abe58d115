package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Dev-only per-stage profiler (optimization-round instrumentation, guide
  * §1.1/§7.1): runs named registry queries under the Bench session config,
  * times min-of-3 after a warm pass, then re-runs once with a stage
  * listener and prints every stage of that run — executor run/CPU time,
  * shuffle read/write bytes, input bytes, task count — in submission
  * order. Eager `materializeOnce` checkpoints run their own jobs inside
  * the query BUILD, so a stage table (not the final plan) is the only
  * view that covers the whole timed region. Not part of the driver
  * contract; never run by Bench/Verify.
  */
object QueryProf {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // A/B harness: extra session confs, comma-separated k=v pairs
    val extra = sys.env.get("SPARK_GRAFT_EXTRA_CONFS").toSeq
      .flatMap(_.split(",")).filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        k.trim -> v.trim
      }.toMap
    val spark = Sessions.local(cpus, extra)
    spark.sparkContext.setLogLevel("ERROR")

    case class Row(id: Int, name: String, tasks: Int, runMs: Long,
      cpuMs: Long, shRead: Long, shWrite: Long, input: Long, records: Long)
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[Row]()
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        rows.add(Row(si.stageId, si.name.takeWhile(_ != '\n').take(70),
          si.numTasks, m.executorRunTime, m.executorCpuTime / 1000000,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.inputMetrics.bytesRead, m.outputMetrics.recordsWritten))
      }
    }

    val names = if (args.nonEmpty) args.toSeq else Seq("doc_containment_pairs")
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      fn(spark, sfDir).count() // warm: codegen + parquet footers off the clock
      spark.catalog.clearCache()
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val t = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        t
      }
      println(f"\n===== $name  min=${times.min}%.3f s  runs=${times.map(t => f"$t%.3f").mkString(",")}")
      rows.clear()
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.removeSparkListener(listener)
      Thread.sleep(200) // let the listener bus drain
      spark.catalog.clearCache()
      println(f"listener-run wall=$wall%.3f s; stages (submission order):")
      println(f"${"stage"}%6s ${"tasks"}%5s ${"run_ms"}%8s ${"cpu_ms"}%8s ${"shR_kb"}%8s ${"shW_kb"}%8s ${"in_kb"}%8s  name")
      rows.toArray(Array.empty[Row]).sortBy(_.id).foreach { r =>
        println(f"${r.id}%6d ${r.tasks}%5d ${r.runMs}%8d ${r.cpuMs}%8d ${r.shRead / 1024}%8d ${r.shWrite / 1024}%8d ${r.input / 1024}%8d  ${r.name}")
      }
    }
    spark.stop()
  }
}
