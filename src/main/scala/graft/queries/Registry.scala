package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Aggregates every query module into the single SparkEntry contract.
  * Each module exposes `queries` (name → (spark, sfDir) => DataFrame) and
  * `oracle` (name → DuckDB SQL over the same tables); names must stay
  * unique across modules.
  */
object Registry {
  type Q = (SparkSession, String) => DataFrame

  private val modules: Seq[(Map[String, Q], Map[String, String])] = Seq(
    (ParityQueries.queries, ParityQueries.oracle),
    (CorpusQueries.queries, CorpusQueries.oracle),
    (RelationalQueries.queries, RelationalQueries.oracle),
    (TextQueries.queries, TextQueries.oracle),
    (SimilarityQueries.queries, SimilarityQueries.oracle),
    (DedupQueries.queries, DedupQueries.oracle),
    (MultimodalQueries.queries, MultimodalQueries.oracle),
    (AnalyticsQueries.queries, AnalyticsQueries.oracle),
    (PipelineQueries.queries, PipelineQueries.oracle),
    (StatQueries.queries, StatQueries.oracle),
    (TimeSeriesQueries.queries, TimeSeriesQueries.oracle),
    (ExperimentQueries.queries, ExperimentQueries.oracle))

  val queries: Map[String, Q] = modules.map(_._1).reduce(_ ++ _)
  val oracle: Map[String, String] = modules.map(_._2).reduce(_ ++ _)

  require(modules.map(_._1.size).sum == queries.size, "duplicate query names across modules")
  // every registered query carries a DuckDB oracle — a missing entry
  // silently downgrades the driver's check to rows-only
  require(queries.keySet == oracle.keySet,
    s"query/oracle mismatch: ${(queries.keySet diff oracle.keySet) ++ (oracle.keySet diff queries.keySet)}")

  /** The query names a run selects (`graft.Bench`'s
    * `SPARK_GRAFT_BENCH_ONLY`, `graft.Verify`'s third argument). `spec`
    * is a comma-separated list; names are trimmed. Absent or blank
    * selects every query. An unknown name fails, naming itself and the
    * known set: a typo must not select nothing and exit 0 looking like a
    * run. */
  def select(spec: Option[String]): Set[String] = {
    val names = spec.toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty).toSet
    if (names.isEmpty) queries.keySet
    else {
      val unknown = names -- queries.keySet
      require(unknown.isEmpty,
        s"unknown names: ${unknown.toSeq.sorted.mkString(",")} " +
          s"(known: ${queries.keySet.toSeq.sorted.mkString(",")})")
      names
    }
  }
}
