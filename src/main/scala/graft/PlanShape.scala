package graft

import graft.plans.PlanDigest

/** Emits the plan-shape artifact (`PlanDiff.CurrentArtifact` by default): one
  * JSON line per registry query with its physical-plan digest — see
  * [[graft.plans.PlanDigest]] for what is recorded and why. The session
  * is the test harness's (`Sessions.local(4)`, as in `SparkSpec`, with
  * materialization off for full plans) so `RegistryAuditSpec`'s shared
  * walk recomputes IDENTICAL digests and can assert the committed
  * artifact is current. Plans are built at sf0.001 like the audit walk;
  * nothing is executed beyond the scalar build-time probes a few
  * adaptive queries run. */
object PlanShape {
  def main(args: Array[String]): Unit = {
    val out = sys.env.getOrElse("SPARK_GRAFT_PLANS_OUT",
      graft.plans.PlanDiff.CurrentArtifact)
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Sessions.local(4)
    // audit through materialization points: a checkpoint prints as an
    // opaque ExistingRDD scan and would hide everything upstream
    sys.props("graft.materialize") = "off"
    try {
      spark.catalog.clearCache()
      // parallel walk, same shape as RegistryAuditSpec.planFacts: plan
      // builds are driver-side Catalyst work, thread-safe on a shared
      // session, and no build-time cache can leak across threads (every
      // cached subtree sits under a build-unique localCheckpoint RDD)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(16)
      implicit val ec = scala.concurrent.ExecutionContext.fromExecutor(pool)
      val lines = try {
        scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(
            graft.queries.Registry.queries.toSeq.sortBy(_._1).map {
              case (name, fn) => scala.concurrent.Future {
                org.apache.spark.sql.SparkSession.setActiveSession(spark)
                PlanDigest.toJsonLine(name, PlanDigest.digestBuilt(fn(spark, dir)))
              }
            }),
          scala.concurrent.duration.Duration(20, "min"))
      } finally pool.shutdown()
      java.nio.file.Files.write(java.nio.file.Paths.get(out),
        (lines.mkString("\n") + "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[planshape] wrote ${lines.size} digests to $out")
    } finally {
      sys.props.remove("graft.materialize")
      spark.stop()
    }
  }
}
