package graft

import org.apache.spark.sql.SparkSession

import graft.plans.GraftExtensions

/** The one session builder every graft main and the test harness share:
  * `local[cpus]` with the graft extensions, one shuffle partition per
  * core, AQE on, UTC session time zone, no UI, WARN logging. Keeping the
  * confs in one place is what makes `PlanShape`'s digests equal the ones
  * `RegistryAuditSpec` recomputes, and gives `Bench` and `Verify` the
  * same confs.
  *
  * `extra` is applied last, for the few callers that need a conf on top
  * (a longer streaming progress buffer, an A/B conf). */
object Sessions {
  def local(cpus: Int, extra: Map[String, String] = Map.empty): SparkSession = {
    val base = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = extra.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
