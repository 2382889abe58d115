package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet batch access to the harness testdata (TESTDATA.md).
  *
  * The reference ingests from Kafka (`/root/reference/spark-app/consumer.py:83-90`);
  * in this engine the batch-verifiable source is parquet, and the streaming
  * path (graft.streaming) reuses the same downstream plan over file /
  * MemoryStream sources. Reading with `spark.read.parquet` keeps column
  * pruning + filter pushdown available to Catalyst — at 100 TB the scan is
  * the dominant cost and pruning/pushdown are the first-order optimizations.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Scale-adaptive scan fan-out (optimization guide §2.5 "input skew:
    * one huge unsplittable file", §6 scan-parallelism floor): when a
    * BASE-TABLE SCAN plans fewer partitions than the session's default
    * parallelism, hash-repartition it on `keys` to that parallelism
    * before the expensive downstream map work. At test scale every
    * table here is one sub-split parquet file, so without this every
    * scan-side stage (tokenize, shingle, per-row md5, hash fan-outs)
    * runs ONE task while the other 31 cores idle — measured r15:
    * `jaccard_prefix_join`'s shingle-explode checkpoint was a single
    * 1.08 s task, `orders_bootstrap_ci`'s 20× md5 fan-out a single
    * 2.46 s task. At 100 TB a scan carries thousands of splits, the
    * branch never fires, and the plan is unchanged — the constant is
    * the CLUSTER's core count, not a local tuning.
    *
    * Hash on a caller-named high-cardinality key, never round-robin:
    * deterministic row placement under task retries (SPARK-38388) and
    * no `sortBeforeRepartition` pass. SCAN FRAMES ONLY: the partition
    * probe walks `df.rdd`, which on a shuffle-bearing frame under AQE
    * would materialize query stages at build time. */
  def fanOutNarrowScan(df: DataFrame, keys: Column*): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p, keys: _*) else df
  }

  /** [[documents]] fanned out on doc_id — the read for TEXT-consuming
    * queries (tokenize/shingle/hash pipelines); metadata-only reads
    * (id/source/n_chars joins) stay on the plain scan. */
  def documentsWide(spark: SparkSession, dir: String): DataFrame =
    fanOutNarrowScan(documents(spark, dir), col("doc_id"))

  /** [[orders]] fanned out on o_orderkey — for per-row-hash/fan-out
    * consumers (e.g. the 20-replicate bootstrap). */
  def ordersWide(spark: SparkSession, dir: String): DataFrame =
    fanOutNarrowScan(orders(spark, dir), col("o_orderkey"))

  /** [[embeddings]] fanned out on vec_id — ONLY for decimal-exact
    * consumers (the PCA moment pass); the float-avg Lloyd paths keep
    * their scan partitioning so double-sum accumulation order is
    * untouched. */
  def embeddingsWide(spark: SparkSession, dir: String): DataFrame =
    fanOutNarrowScan(embeddings(spark, dir), col("vec_id"))

  /** `events.ts` has shipped as parquet TIMESTAMP(NANOS) in some testdata
    * generations (Spark 4 rejects NANOS by default — read as long nanos
    * via the legacy conf and convert with exact integer division: `ts div
    * 1000` on longs, since a double division would lose precision above
    * 2^53 ns) and as naive TIMESTAMP(MICROS) in others (read as
    * TIMESTAMP_NTZ under Spark 4's inferTimestampNTZ default). Branch on
    * the type actually read and normalize BOTH to TimestampType (LTZ) —
    * the type the nanos path always produced — so every downstream
    * consumer (windows, watermarks, the DuckDB-oracle output encoding)
    * sees one stable type regardless of which generation is on disk;
    * The NTZ wall-times in the testdata are UTC instants, but a bare
    * NTZ→LTZ cast interprets the wall clock in the SESSION zone — under a
    * non-UTC session that would silently shift every instant by the zone
    * offset (the nanos generation, being epoch-based, never shifts). So
    * the NTZ branch re-zones the wall from UTC into the session zone
    * first; the final cast then lands on the true instant regardless of
    * `spark.sql.session.timeZone`. (Identity under a UTC session; in a
    * non-UTC session the one residual ambiguity is the DST fall-back
    * hour, where a wall time maps to two instants — irrelevant for the
    * UTC-pinned harnesses and strictly better than an always-shifted
    * read.)
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = table(spark, dir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          convert_timezone(lit("UTC"), current_timezone(), col("ts"))
            .cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")
  def lineitem(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame       = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "region")
}
