package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `array<float>` embedding columns, built from Spark's
  * higher-order array functions (`zip_with`/`aggregate`/`transform`) so it
  * runs as codegen'd expressions — no UDF serialization per row.
  *
  * Precision contract: elements are cast to double BEFORE any arithmetic
  * and folded left-to-right, which matches the DuckDB oracle
  * (`list_dot_product` over `::DOUBLE[]` casts) bit-for-bit. A float
  * multiply would round intermediate products to float and break the
  * hash compare.
  */
object VectorFunctions {

  private def toDouble(a: Column): Column = transform(a, _.cast("double"))

  /** Σ aᵢ·bᵢ in double, left-to-right — built-in higher-order fold.
    * Always available, but interpreted (HOFs have no codegen). */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(toDouble(a), toDouble(b), (x, y) => x * y),
      lit(0.0),
      (acc, v) => acc + v)

  /** Bit-identical fast path: the codegen'd [[DotProduct]] expression when
    * the session has GraftExtensions, else the HOF fold. */
  def dotFast(spark: org.apache.spark.sql.SparkSession)(a: Column, b: Column): Column =
    if (spark.catalog.functionExists("graft_dot")) call_function("graft_dot", a, b)
    else dot(a, b)

  /** Σ(rv − cw)² in long over one book entry `e` (struct of code, s, cw)
    * against its slice of `rv`: positions e.s·|cw| onward, only those
    * both arrays have. Exact integer math. */
  def subspaceSqDist(rv: Column, e: Column): Column = {
    val len = size(e("cw"))
    aggregate(
      zip_with(slice(rv, e("s") * len + 1, len), e("cw"),
        (a, b) => coalesce((a - b) * (a - b), lit(0L))),
      lit(0L),
      (acc, d) => acc + d)
  }

  /** [[PqAssign]]'s contract as built-in higher-order functions: per
    * subspace the smallest (distance, code) struct among the entries
    * whose slice starts inside `rv`. Interpreted; the fallback only. */
  def pqAssign(rv: Column, book: Column): Column = {
    val maxS = coalesce(array_max(transform(book, _("s"))), lit(-1))
    val subs = slice(sequence(lit(0), greatest(maxS, lit(0))), lit(1), maxS + 1)
    when(rv.isNotNull, transform(subs, s =>
      array_min(transform(
        filter(book, e => e("s") === s && size(rv) > e("s") * size(e("cw"))),
        e => struct(subspaceSqDist(rv, e).as("d"), e("code").as("code"))))("code")))
  }

  /** The codegen'd [[PqAssign]] when the session has GraftExtensions,
    * else the [[pqAssign]] fold (same result, see PqAssignSpec). */
  def pqAssignFast(spark: org.apache.spark.sql.SparkSession)(rv: Column, book: Column): Column =
    if (spark.catalog.functionExists("graft_pq_assign")) call_function("graft_pq_assign", rv, book)
    else pqAssign(rv, book)

  /** ‖a‖₂ in double. */
  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity in double; NULL-safe only insofar as inputs are
    * non-null, non-zero vectors (guaranteed by the embeddings table). */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Random-hyperplane LSH bucket: for each hyperplane h_j, bit_j =
    * (a·h_j >= 0); bucket = Σ bit_j · 2^j. Hyperplanes are fixed literals
    * so the same function is computable in the SQL oracle. `dotImpl`
    * lets callers pass the codegen'd fast path. */
  def lshBucket(a: Column, hyperplanes: Seq[Seq[Double]],
      dotImpl: (Column, Column) => Column = dot): Column =
    hyperplanes.zipWithIndex.map { case (h, j) =>
      val hCol = array(h.map(lit): _*)
      when(dotImpl(a, hCol) >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Deterministic pseudo-random hyperplanes (seeded — identical across
    * JVM runs by java.util.Random's fixed algorithm), embedded as literals
    * both in the Spark plan and the DuckDB oracle. */
  def hyperplanes(nPlanes: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rnd = new java.util.Random(seed)
    Seq.fill(nPlanes)(Seq.fill(dim)(rnd.nextGaussian()))
  }
}
