package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** GlobalWindow must be BYTE-IDENTICAL to the single-partition global
  * window it replaces, for every supported shape — that equivalence is
  * what lets the registry queries swap implementations without their
  * oracle hashes moving. The fixture key is deliberately hostile: heavy
  * ties on the primary sort column (tiebreak does the total-ordering
  * work), a skewed value distribution, and more range partitions than
  * distinct keys (empty partitions). */
class GlobalWindowSpec extends AnyFunSuite with SparkSpec {

  /** 1000 rows, key = hash-scrambled with ~100 distinct primaries. */
  private def fixture: DataFrame =
    spark.range(1000).select(
      (pmod(hash(col("id")), lit(100))).as("k"),
      col("id"),
      (pmod(hash(col("id") + 7), lit(1000)) + 1).cast("long").as("v"))

  test("rowNumber matches the global window for any partition count") {
    val df = fixture
    val expected = df.withColumn("rn",
      row_number().over(Window.orderBy(col("k"), col("id"))).cast("long"))
    for (parts <- Seq(1, 3, 32, 2048)) { // 2048 > distinct keys: empty partitions
      val got = GlobalWindow.rowNumber(df, "rn", parts)(col("k"), col("id"))
      assert(got.except(expected).isEmpty && expected.except(got).isEmpty,
        s"rowNumber diverged at numParts=$parts")
    }
  }

  test("rowNumber matches the global window under DESCENDING order") {
    // the map-side local numbering reads positions off the in-partition
    // sort — a descending order must range-partition AND sort descending
    val df = fixture
    val expected = df.withColumn("rn",
      row_number().over(Window.orderBy(col("k").desc, col("id"))).cast("long"))
    for (parts <- Seq(3, 32)) {
      val got = GlobalWindow.rowNumber(df, "rn", parts)(col("k").desc, col("id"))
      assert(got.except(expected).isEmpty && expected.except(got).isEmpty,
        s"descending rowNumber diverged at numParts=$parts")
    }
  }

  test("rowNumberWithCount carries the exact total") {
    val df = fixture
    val got = GlobalWindow.rowNumberWithCount(df, "rn", "cnt", 8)(
      col("k"), col("id"))
    assert(got.filter(col("cnt") =!= 1000L).count() === 0)
    assert(got.agg(max(col("rn"))).head().getLong(0) === 1000L)
  }

  test("ntile matches windowed ntile including non-dividing bucket counts") {
    val df = fixture
    for (n <- Seq(2, 5, 7, 10, 32, 999, 1000, 1500)) { // 1500 > rows: degenerate
      val expected = df.withColumn("t",
        ntile(n).over(Window.orderBy(col("k"), col("id"))))
      val got = GlobalWindow.ntile(df, n, "t", 16)(col("k"), col("id"))
      assert(got.except(expected).isEmpty && expected.except(got).isEmpty,
        s"ntile($n) diverged")
    }
  }

  test("runningSum matches the inclusive-frame global running sum") {
    val df = fixture
    val w = Window.orderBy(col("k"), col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val expected = df.withColumn("cum", sum(col("v")).over(w))
    val got = GlobalWindow.runningSum(df, col("v"), "cum", 16)(
      col("k"), col("id"))
    assert(got.except(expected).isEmpty && expected.except(got).isEmpty)
  }

  test("rowNumberAndRunningSum agrees with both windows at once") {
    val df = fixture
    val ord = Window.orderBy(col("k"), col("id"))
    val expected = df
      .withColumn("rn", row_number().over(ord).cast("long"))
      .withColumn("cum", sum(col("v")).over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val got = GlobalWindow.rowNumberAndRunningSum(
      df, col("v"), "rn", "cum", 8)(col("k"), col("id"))
    assert(got.except(expected).isEmpty && expected.except(got).isEmpty)
  }

  /** Three groups of seeded random sizes stacked under `g`, each with
    * the same tie-heavy key as [[fixture]]; ids are unique across groups.
    * Returns the frame and the group sizes. */
  private def groupedFixture(seed: Long): (DataFrame, Seq[Int]) = {
    val sizes = Gen.listOfN(3, Gen.chooseNum(1, 400))
      .pureApply(Gen.Parameters.default, Seed(seed))
    val df = sizes.zipWithIndex.map { case (n, g) =>
      spark.range(n).select(lit(g).as("g"),
        pmod(hash(col("id")), lit(37)).as("k"),
        (col("id") + g * 100000L).as("id"))
    }.reduce(_ unionByName _)
    (df, sizes)
  }

  private def sameRows(got: DataFrame, expected: DataFrame,
      cols: Seq[String]): Boolean = {
    val (a, b) = (got.select(cols.map(col): _*), expected.select(cols.map(col): _*))
    a.except(b).isEmpty && b.except(a).isEmpty
  }

  test("groupedRowNumberWithCount equals k independent rowNumber passes") {
    for (seed <- 1L to 3L) {
      val (df, sizes) = groupedFixture(seed)
      val expected = sizes.zipWithIndex.map { case (n, g) =>
        GlobalWindow.rowNumber(df.filter(col("g") === g), "rn", 8)(
          col("k"), col("id")).withColumn("cnt", lit(n.toLong))
      }.reduce(_ unionByName _)
      val got = GlobalWindow.groupedRowNumberWithCount(df, "g", "rn", "cnt", 8)(
        col("k"), col("id"))
      assert(sameRows(got, expected, Seq("g", "k", "id", "rn", "cnt")),
        s"grouped numbering diverged for group sizes $sizes")
    }
  }

  test("groupedNtile equals k independent ntile passes, non-dividing n included") {
    for (seed <- 1L to 3L) {
      val (df, sizes) = groupedFixture(seed)
      val ns = Seq(7, sizes.max + 1) // 7: uneven buckets; max+1: more buckets than rows
      assert(sizes.exists(_ % 7 != 0), s"fixture broken: 7 divides every size in $sizes")
      ns.foreach { n =>
        val expected = sizes.indices.map { g =>
          GlobalWindow.ntile(df.filter(col("g") === g), n, "t", 8)(col("k"), col("id"))
        }.reduce(_ unionByName _)
        val got = GlobalWindow.groupedNtile(df, "g", n, "t", 8)(col("k"), col("id"))
        assert(sameRows(got, expected, Seq("g", "k", "id", "t")),
          s"grouped ntile($n) diverged for group sizes $sizes")
      }
    }
  }

  test("two-phase plan contains no unpartitioned window sort") {
    sys.props("graft.materialize") = "off"
    try {
      val plan = GlobalWindow.rowNumber(fixture, "rn", 8)(col("k"), col("id"))
        .queryExecution.optimizedPlan
      val global = plan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
            if w.partitionSpec.isEmpty && w.orderSpec.nonEmpty => w
      }
      assert(global.isEmpty, s"unpartitioned window sort in:\n$plan")
    } finally sys.props.remove("graft.materialize")
  }
}
