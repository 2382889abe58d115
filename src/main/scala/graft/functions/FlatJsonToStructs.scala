package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, JsonToStructs, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** `from_json` for flat string/bigint objects, parsed straight from the
  * UTF-8 bytes of the input. Installed by [[graft.plans.FlatJsonRule]] in
  * place of an eligible [[JsonToStructs]] (see [[FlatJsonToStructs.accepts]]).
  *
  * Why: Spark's `JsonToStructs` is `CodegenFallback`. Each row goes
  * through a `Reader` over the string and Jackson's token stream into
  * `JacksonParser`'s converters, and the projection holding it leaves
  * whole-stage codegen. The sensor payloads (`SensorOps.sensorSchema`) are
  * five flat fields, so a byte scan does the same work at a fraction of
  * the cost.
  *
  * The fast path takes only this accept set:
  *  - one JSON object, JSON whitespace (space, tab, CR, LF) around tokens,
  *    nothing after the closing brace but whitespace;
  *  - keys unescaped printable ASCII, each a field of the schema, each at
  *    most once;
  *  - a string field holds an unescaped printable-ASCII string or `null`;
  *  - a bigint field holds an integer literal of at most 18 digits (an
  *    optional `-`, no leading zero, fraction or exponent) or `null`;
  *  - the input is at most [[FlatJsonToStructs.MaxFastBytes]] bytes, well
  *    inside Jackson's read constraints.
  * Missing fields are null. Every other input, valid or not, goes to the
  * wrapped `stock` expression, so PERMISSIVE mode, partial results,
  * duplicate keys, escapes and corrupt-record handling stay Spark's own.
  * `FlatJsonSpec` checks the two agree on fuzzed payloads.
  */
case class FlatJsonToStructs(stock: JsonToStructs) extends UnaryExpression {

  override def child: Expression = stock.child
  override def dataType: DataType = stock.dataType
  override def nullable: Boolean = stock.nullable

  @transient private lazy val parser = new FlatJsonToStructs.Parser(dataType.asInstanceOf[StructType])

  /** The fast parse, or Spark's own where the accept set declines. */
  def parse(json: UTF8String): InternalRow = {
    val row = parser.parse(json)
    if (row ne null) row else stock.nullSafeEval(json).asInstanceOf[InternalRow]
  }

  override def nullSafeEval(json: Any): Any = parse(json.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("flatJson", this)
    val in = child.genCode(ctx)
    ev.copy(code = code"""
      |${in.code}
      |InternalRow ${ev.value} = ${in.isNull} ? null : $self.parse(${in.value});
      |boolean ${ev.isNull} = ${ev.value} == null;
      |""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(stock = stock.copy(child = newChild))

  override def prettyName: String = "graft_flat_json"
}

object FlatJsonToStructs {

  /** Inputs longer than this go to Jackson. */
  val MaxFastBytes: Int = 1 << 20

  /** True for a `from_json` the fast path can stand in for: default
    * options and a non-empty flat schema of at most 64 distinctly named
    * string (default collation) or bigint fields, none of them the
    * corrupt-record column. */
  def accepts(j: JsonToStructs): Boolean = j.options.isEmpty && (j.schema match {
    case s: StructType =>
      s.nonEmpty && s.length <= 64 && s.fieldNames.distinct.length == s.length &&
        !s.fieldNames.contains(SQLConf.get.columnNameOfCorruptRecord) &&
        s.fields.forall(f => f.dataType == LongType || f.dataType == StringType)
    case _ => false
  })

  /** The byte scanner: `parse` returns the row, or null where the input is
    * outside the accept set. Stateless, so one instance serves every
    * task thread. */
  final class Parser(schema: StructType) {
    private val names: Array[Array[Byte]] = schema.fieldNames.map(_.getBytes("UTF-8"))
    private val isLong: Array[Boolean] = schema.fields.map(_.dataType == LongType)

    def parse(s: UTF8String): InternalRow = {
      val base = s.getBaseObject
      val off = s.getBaseOffset
      val end = s.numBytes
      if (end > MaxFastBytes) return null
      @inline def at(i: Int): Int = Platform.getByte(base, off + i).toInt
      @inline def isWs(c: Int): Boolean = c == ' ' || c == '\n' || c == '\r' || c == '\t'
      def skipWs(from: Int): Int = {
        var i = from
        while (i < end && isWs(at(i))) i += 1
        i
      }
      // end of an unescaped printable-ASCII string body starting at `from`
      // (the index of its closing quote), or -1
      def stringEnd(from: Int): Int = {
        var i = from
        while (i < end) {
          val c = at(i)
          if (c == '"') return i
          if (c < 0x20 || c > 0x7e || c == '\\') return -1
          i += 1
        }
        -1
      }
      def field(from: Int, until: Int): Int = {
        val n = until - from
        var f = 0
        while (f < names.length) {
          val name = names(f)
          if (name.length == n) {
            var k = 0
            while (k < n && name(k) == at(from + k)) k += 1
            if (k == n) return f
          }
          f += 1
        }
        -1
      }

      val out = new Array[Any](names.length)
      var seen = 0L
      var i = skipWs(0)
      if (i >= end || at(i) != '{') return null
      i = skipWs(i + 1)
      if (i < end && at(i) == '}') i += 1
      else {
        var more = true
        while (more) {
          if (i >= end || at(i) != '"') return null
          val keyEnd = stringEnd(i + 1)
          if (keyEnd < 0) return null
          val f = field(i + 1, keyEnd)
          if (f < 0 || (seen & (1L << f)) != 0) return null
          seen |= 1L << f
          i = skipWs(keyEnd + 1)
          if (i >= end || at(i) != ':') return null
          i = skipWs(i + 1)
          if (i >= end) return null
          if (at(i) == 'n') {
            if (i + 4 > end || at(i + 1) != 'u' || at(i + 2) != 'l' || at(i + 3) != 'l') return null
            i += 4
          } else if (isLong(f)) {
            val neg = at(i) == '-'
            if (neg) i += 1
            val start = i
            var v = 0L
            while (i < end && at(i) >= '0' && at(i) <= '9') {
              v = v * 10 + (at(i) - '0')
              i += 1
            }
            val digits = i - start
            if (digits == 0 || digits > 18 || (digits > 1 && at(start) == '0')) return null
            out(f) = if (neg) -v else v
          } else {
            if (at(i) != '"') return null
            val strEnd = stringEnd(i + 1)
            if (strEnd < 0) return null
            val n = strEnd - i - 1
            val bytes = new Array[Byte](n)
            Platform.copyMemory(base, off + i + 1, bytes, Platform.BYTE_ARRAY_OFFSET, n)
            out(f) = UTF8String.fromBytes(bytes)
            i = strEnd + 1
          }
          // the value must end at a separator: `nullx` and `12a` decline here
          i = skipWs(i)
          if (i >= end) return null
          if (at(i) == ',') i = skipWs(i + 1)
          else if (at(i) == '}') { i += 1; more = false }
          else return null
        }
      }
      if (skipWs(i) != end) return null
      new GenericInternalRow(out)
    }
  }
}
