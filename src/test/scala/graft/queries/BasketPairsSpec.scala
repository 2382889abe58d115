package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** The co-purchase edge fold (`coPurchaseEdgesFrom`: per-order sorted
  * part set, i < j pairs emitted row-locally) must equal the `distinct`
  * + self-join on the order key it replaced, on baskets with repeated
  * (order, part) lines, one-part orders, null parts and null orders. */
class BasketPairsSpec extends AnyFunSuite with SparkSpec {

  private def selfJoinEdges(baskets: DataFrame): DataFrame = {
    val li = baskets.select(col("ok"), col("pk")).distinct()
    li.select(col("ok"), col("pk").as("src"))
      .join(li.select(col("ok"), col("pk").as("dst")), "ok")
      .filter(col("src") < col("dst"))
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("n_orders_joint"))
      .filter(col("n_orders_joint") >= 2)
      .select("src", "dst")
  }

  private def edges(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  private def check(baskets: DataFrame): Seq[(Long, Long)] = {
    val expected = edges(selfJoinEdges(baskets))
    assert(edges(AnalyticsQueries.coPurchaseEdgesFrom(spark, baskets)) === expected)
    expected
  }

  test("planted baskets: repeated lines, one-part orders, null parts and orders") {
    import spark.implicits._
    val lines: Seq[(Option[Long], Option[Long])] = Seq(
      // (1, 2) once, in an order that repeats a line: not an edge
      (10L, 1L), (10L, 1L), (10L, 2L),
      // (3, 4) in two orders, one of them repeating both lines: an edge
      (11L, 3L), (11L, 4L), (11L, 3L), (11L, 4L), (12L, 4L), (12L, 3L),
      // (5, 6) in one order plus a null order: not an edge
      (20L, 5L), (20L, 6L),
      // one-part orders, and a null part next to real ones
      (30L, 7L), (31L, 7L), (32L, 3L), (32L, 4L)
    ).map { case (o, p) => (Some(o), Some(p)) } ++ Seq(
      (None, Some(5L)), (None, Some(6L)), (Some(32L), None), (Some(11L), None))
    val edgesFound = check(lines.toDF("ok", "pk"))
    assert(edgesFound === Seq((3L, 4L)))
  }

  test("seeded baskets") {
    val baskets = spark.range(3000).select(
      pmod(hash(col("id")), lit(500)).cast("long").as("ok"),
      pmod(hash(col("id") + 11), lit(40)).cast("long").as("pk"))
    assert(check(baskets).size > 100)
  }
}
