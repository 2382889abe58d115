package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Product-quantization code assignment over exact integer residuals:
  * `graft_pq_assign(rv, book)` returns, for every subspace, the code of
  * the nearest codeword to the matching slice of `rv`.
  *
  *  - `rv`: `array<bigint>`, one vector's residual in integer micro-units;
  *  - `book`: `array<struct<code:int, s:int, cw:array<bigint>>>`, one
  *    entry per (code, subspace) that exists. Entry `e` covers positions
  *    `e.s·|e.cw| .. e.s·|e.cw| + |e.cw| − 1` of `rv`.
  *
  * Result: `array<int>` of length 1 + max(s); element s is the argmin of
  * Σ(rv − cw)² (in `long`, exact) over the entries of subspace s, ties to
  * the smaller code, and null when the book has no entry for s. Entries
  * whose slice starts past the end of `rv` are skipped, and a slice that
  * runs past the end sums only the positions both sides have. That is
  * exactly the relational form it replaces: a (s, pos) equi-join of
  * vector positions against codeword positions, `sum` per (s, code),
  * then `row_number() OVER (PARTITION BY s ORDER BY sqd, code) = 1`.
  *
  * Why a custom Expression: the per-vector argmin is a nested loop over a
  * few dozen codewords × 16 positions; as a higher-order-function
  * composition ([[VectorFunctions.pqAssign]], the fallback for sessions
  * without GraftExtensions) every element goes through an interpreted
  * lambda binding. The generated code calls [[PqAssign.assign]], one
  * JIT-compiled loop shared with the interpreted path.
  *
  * Non-null contract: book entries and their fields are non-null; a null
  * `rv` or `book` propagates null via BinaryExpression's null-safe eval.
  */
case class PqAssign(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = true)

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(StructType(Array(
        StructField(_, IntegerType, _, _), StructField(_, IntegerType, _, _),
        StructField(_, ArrayType(LongType, _), _, _))), _)) =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      "graft_pq_assign expects (array<bigint>, array<struct<code:int, s:int, " +
        s"cw:array<bigint>>>), got ${left.dataType} / ${right.dataType}")
  }

  override def nullSafeEval(rv: Any, book: Any): Any =
    PqAssign.assign(rv.asInstanceOf[ArrayData], book.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fn = PqAssign.getClass.getName.stripSuffix("$")
    defineCodeGen(ctx, ev, (rv, book) => s"$fn.assign($rv, $book)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_pq_assign"
}

object PqAssign {

  def assign(rv: ArrayData, book: ArrayData): ArrayData = {
    val nEntries = book.numElements()
    var nSub = 0
    var j = 0
    while (j < nEntries) {
      nSub = math.max(nSub, book.getStruct(j, 3).getInt(1) + 1)
      j += 1
    }
    val best = new Array[Long](nSub)
    val code = new Array[Int](nSub)
    val found = new Array[Boolean](nSub)
    val nRv = rv.numElements()
    j = 0
    while (j < nEntries) {
      val e = book.getStruct(j, 3)
      val s = e.getInt(1)
      val cw = e.getArray(2)
      val len = cw.numElements()
      val off = s * len
      if (s >= 0 && off < nRv) {
        val n = math.min(len, nRv - off)
        var acc = 0L
        var i = 0
        while (i < n) {
          val d = rv.getLong(off + i) - cw.getLong(i)
          acc += d * d
          i += 1
        }
        val c = e.getInt(0)
        if (!found(s) || acc < best(s) || (acc == best(s) && c < code(s))) {
          found(s) = true
          best(s) = acc
          code(s) = c
        }
      }
      j += 1
    }
    val out = new Array[Any](nSub)
    var s = 0
    while (s < nSub) {
      if (found(s)) out(s) = code(s)
      s += 1
    }
    new GenericArrayData(out)
  }
}
