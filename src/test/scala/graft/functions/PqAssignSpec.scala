package graft.functions

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** `graft_pq_assign` must equal the relational assignment it replaced in
  * the IVF-PQ build — a (s, pos) equi-join of vector positions against
  * codeword positions, `sum` of squared differences per (vector, s,
  * code), then `row_number() OVER (PARTITION BY vector, s ORDER BY sqd,
  * code) = 1` — and so must the higher-order-function fallback a session
  * without GraftExtensions uses. The fixture is hostile: components in
  * [-3, 3] so exact distance ties are common, one codeword duplicated
  * under a larger code listed first, a code missing from one subspace,
  * and one short vector that covers subspace 1 only partly and
  * subspace 2 not at all. */
class PqAssignSpec extends AnyFunSuite with SparkSpec {

  private val NSub = 3
  private val SubDim = 4

  private val entries: Seq[(Int, Int, Seq[Long])] = {
    val rnd = new scala.util.Random(17)
    def cw(): Seq[Long] = Seq.fill(SubDim)((rnd.nextInt(5) - 2).toLong)
    val base = for (s <- 0 until NSub; code <- 0 until 5 if !(code == 3 && s == 1))
      yield (code, s, cw())
    val twin = base.find { case (c, s, _) => c == 1 && s == 0 }.get
    // larger codes listed first, and the duplicate of (code 1, s 0) as
    // code 7 ahead of them all: a first-seen tie-break would fail
    twin.copy(_1 = 7) +: base.reverse
  }

  private def book: DataFrame = {
    val entry = StructType(Seq(StructField("code", IntegerType),
      StructField("s", IntegerType), StructField("cw", ArrayType(LongType))))
    spark.createDataFrame(
      java.util.List.of(Row(entries.map { case (c, s, w) => Row(c, s, w) })),
      StructType(Seq(StructField("book", ArrayType(entry)))))
  }

  private def vecs: DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    val full = (0L until 300L).map(id => (id, Seq.fill(NSub * SubDim)((rnd.nextInt(7) - 3).toLong)))
    (full :+ ((300L, Seq(1L, -1L, 2L, 0L, 3L, -2L)))).toDF("id", "rv")
  }

  /** The replaced relational form, (id, s) -> code. */
  private def relational: (Map[(Long, Int), Int], Long) = {
    val points = vecs.select(col("id"), posexplode(col("rv")).as(Seq("pos", "rv")))
      .withColumn("s", floor(col("pos") / SubDim).cast("int"))
    val cbook = book.select(explode(col("book")).as("e"))
      .select(col("e.code").as("code_label"), col("e.s").as("cs"),
        posexplode(col("e.cw")).as(Seq("i", "cw")))
      .withColumn("cw_pos", col("cs") * SubDim + col("i"))
    val d = points.join(broadcast(cbook),
      col("s") === col("cs") && col("pos") === col("cw_pos"))
      .withColumn("d2", (col("rv") - col("cw")) * (col("rv") - col("cw")))
      .groupBy(col("id"), col("s"), col("code_label"))
      .agg(sum(col("d2")).as("sqd"))
    val w = Window.partitionBy(col("id"), col("s")).orderBy(col("sqd"), col("code_label"))
    val ties = d.withColumn("n_at", count(lit(1)).over(
        Window.partitionBy(col("id"), col("s"), col("sqd"))))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("n_at") > 1).count()
    val codes = d.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Int]("s")) -> r.getAs[Int]("code_label"))
      .toMap
    (codes, ties)
  }

  private def assigned(f: DataFrame => DataFrame): Map[Long, Seq[Any]] =
    f(vecs.crossJoin(broadcast(book))).collect()
      .map(r => r.getLong(0) -> r.getSeq[Any](1)).toMap

  private def kernel = assigned(_.selectExpr("id", "graft_pq_assign(rv, book)"))

  test("graft_pq_assign equals the relational sum + row_number argmin") {
    val (expected, ties) = relational
    assert(ties > 50, s"fixture too tame: only $ties tied argmins")
    val got = kernel
    assert(got(0L).length === NSub)
    assert(got(300L).length === NSub && got(300L)(2) == null) // no position in s = 2
    val flat = got.toSeq.flatMap { case (id, codes) =>
      codes.zipWithIndex.collect { case (c: Int, s) => (id, s) -> c }
    }.toMap
    assert(flat === expected)
    // the twin never wins, and code 3 is never chosen in subspace 1
    assert(!flat.values.exists(_ == 7))
    assert(!flat.exists { case ((_, s), c) => s == 1 && c == 3 })
  }

  test("the higher-order-function fallback gives the same codes") {
    val hof = assigned(_.select(col("id"),
      VectorFunctions.pqAssign(col("rv"), col("book"))))
    assert(hof === kernel)
  }

  test("null inputs, type errors and an empty book") {
    val nullRow = spark.sql("SELECT graft_pq_assign(CAST(NULL AS ARRAY<BIGINT>), " +
      "array(named_struct('code', 0, 's', 0, 'cw', array(1L)))) AS c").head()
    assert(nullRow.isNullAt(0))
    val empty = spark.sql("SELECT graft_pq_assign(array(1L, 2L), " +
      "CAST(array() AS ARRAY<STRUCT<code:INT, s:INT, cw:ARRAY<BIGINT>>>)) AS c").head()
    assert(empty.getSeq[Any](0).isEmpty)
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_pq_assign(array(1.0D), array(named_struct('code', 0, " +
        "'s', 0, 'cw', array(1L))))").head()
    }
  }
}
