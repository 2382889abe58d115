package graft

import org.apache.spark.sql.SparkSession

/** One shared local session per suite: `graft.Sessions`' confs at 4 cores,
  * the same session `PlanShape` records the plan digests under. */
trait SparkSpec {
  lazy val spark: SparkSession = Sessions.local(4)
}
