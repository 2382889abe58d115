package graft.functions

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.ops.SensorOps
import graft.plans.FlatJsonRule

/** [[FlatJsonToStructs]] must equal stock `from_json` (PERMISSIVE) on
  * every input: the payloads the fast path takes and, through its
  * fallback, everything it declines. The stock side runs in a session
  * with [[FlatJsonRule]] excluded, so it is Spark's own `JsonToStructs`;
  * results are compared row by row (a multiset equality both ways, ids
  * are unique). Each comparison runs under whole-stage codegen and under
  * interpreted evaluation. */
class FlatJsonSpec extends AnyFunSuite with SparkSpec {

  private lazy val stock: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.optimizer.excludedRules", FlatJsonRule.ruleName)
    s
  }

  private lazy val interpreted: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.codegen.wholeStage", "false")
    s.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    s
  }

  private val Input = StructType(Seq(StructField("id", LongType), StructField("j", StringType)))

  /** Payloads as an RDD-backed frame: a local relation would be folded by
    * `ConvertToLocalRelation` before the rule runs. */
  private def payloads(s: SparkSession, js: Seq[String]): DataFrame =
    s.createDataFrame(
      s.sparkContext.parallelize(js.zipWithIndex.map { case (j, i) => Row(i.toLong, j) }, 4),
      Input)

  private def fastNodes(df: DataFrame): Seq[FlatJsonToStructs] =
    df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
      case f: FlatJsonToStructs => f
    }))

  private def parsed(s: SparkSession, js: Seq[String], schema: StructType): DataFrame =
    payloads(s, js).select(col("id"), from_json(col("j"), schema).as("s"))

  /** Asserts the fast path ran and that every row equals stock's. */
  private def assertSameAsStock(js: Seq[String], schema: StructType): Unit = {
    val want = parsed(stock, js, schema)
    assert(fastNodes(want).isEmpty, "the stock session must not take the fast path")
    val expected = want.collect().map(r => r.getLong(0) -> r.get(1)).toMap
    for (s <- Seq(spark, interpreted)) {
      val got = parsed(s, js, schema)
      assert(fastNodes(got).nonEmpty, "the rule did not fire")
      val actual = got.collect().map(r => r.getLong(0) -> r.get(1)).toMap
      val diff = js.indices.filter(i => actual(i.toLong) != expected(i.toLong))
      assert(diff.isEmpty, diff.take(5).map(i =>
        s"${Option(js(i)).map(_.take(120))}: stock ${expected(i.toLong)} fast ${actual(i.toLong)}")
        .mkString("differs from stock on:\n", "\n", ""))
    }
  }

  private val perfbenchShaped = Seq(
    """{"station_name":"Station","station_id":"perugia","sensor_id":"12","timestamp":1767225600250,"value":"71.482"}""",
    """{"station_name":"Station","station_id":"terni","sensor_id":"3","timestamp":1767225601000,"value":"<<bad_data>>"}""",
    """{"station_name":"Station","station_id":"assisi","sensor_id":"0","timestamp":0,"value":"0.0"}""")

  private val handWritten = Seq(
    // whitespace variants
    """ { "station_id" : "a" , "timestamp" : 12 } """,
    "{\n\t\"station_id\":\r\n\"a\",\"timestamp\":12}\n",
    "{\"station_id\":\"a\"}\f",
    // the reference producer's json.dumps shape: ", " and ": ", numeric value
    """{"station_name": "Perugia", "station_id": "perugia", "sensor_id": "1", "timestamp": 1700000000000, "value": 12.5}""",
    """{"station_name": "Perugia", "station_id": "perugia", "sensor_id": "1", "timestamp": 1700000000000, "value": "12.5"}""",
    // escapes and non-ASCII
    """{"station_id":"a\"b","timestamp":1}""",
    """{"station_id":"café","timestamp":1}""",
    "{\"station_id\":\"café\",\"timestamp\":1}",
    """{"station_id":"a\\b","timestamp":1}""",
    """{"station_id":"a\/b","timestamp":1}""",
    """{"station_id":"a"}""",
    "{\"station_id\":\"tab\there\"}",
    // unknown, repeated and case-variant keys
    """{"station_id":"a","extra":1}""",
    """{"extra":{"x":[1,2]},"station_id":"a"}""",
    """{"station_id":"a","station_id":"b"}""",
    """{"timestamp":1,"timestamp":2}""",
    """{"Station_Id":"a","TIMESTAMP":3}""",
    // numbers, booleans, objects and arrays in string fields
    """{"station_id":12}""",
    """{"station_id":-1.5e3}""",
    """{"station_id":true,"value":false}""",
    """{"station_id":{"a":1}}""",
    """{"station_id":[1,"x"]}""",
    // bigint field edge cases
    """{"timestamp":1.5}""",
    """{"timestamp":1.0}""",
    """{"timestamp":1e3}""",
    """{"timestamp":1E3}""",
    """{"timestamp":012}""",
    """{"timestamp":00}""",
    """{"timestamp":-0}""",
    """{"timestamp":-}""",
    """{"timestamp":+1}""",
    """{"timestamp":12345678901234567890}""",
    """{"timestamp":999999999999999999}""",
    """{"timestamp":-999999999999999999}""",
    """{"timestamp":9223372036854775807}""",
    """{"timestamp":9223372036854775808}""",
    """{"timestamp":"12"}""",
    """{"timestamp":12a}""",
    """{"timestamp":true}""",
    // nulls, empties, truncation, trailing bytes, other roots
    """{"station_id":null,"timestamp":null}""",
    """{"station_id":nul}""",
    """{"station_id":nullx}""",
    "null",
    "{}",
    "{ }",
    "",
    " ",
    null,
    """{"station_id":"a","timestamp":1""",
    """{"station_id":"a""",
    """{"station_id""",
    "{",
    """{"station_id":"a"} trailing""",
    """{"station_id":"a"}}""",
    """{"station_id":"a"},""",
    """{"station_id":"a"}{"timestamp":1}""",
    """{"station_id":"a",}""",
    """{,"station_id":"a"}""",
    """[{"station_id":"a","timestamp":1}]""",
    "[]",
    "\"station_id\"",
    "12",
    "<<bad_data>>",
    """{'station_id':'a'}""",
    """{station_id:"a"}""")

  test("equals stock from_json on perfbench payloads and hand-written edge cases") {
    assertSameAsStock(perfbenchShaped ++ handWritten, SensorOps.sensorSchema)
  }

  /** Seeded payload fuzz: mostly sensor-shaped objects with one defect
    * drawn from the edge-case families above, plus whole-string noise. */
  private def fuzz(n: Int, seed: Long): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    def pick[A](xs: A*): A = xs(rnd.nextInt(xs.length))
    def ws(): String = if (rnd.nextInt(4) == 0) pick(" ", "  ", "\n", "\t", "\r\n", " \f") else ""
    def str(): String = pick(
      rnd.alphanumeric.take(rnd.nextInt(8)).mkString,
      "<<bad_data>>", f"${rnd.nextDouble() * 100}%.3f", "a\\\"b", "\\u00e9", "é", "\\n", "x y",
      "\\\\", "\u0001")
    def num(): String = pick(
      rnd.nextInt(100000).toString, (rnd.nextLong() % 1000000000000000000L).toString,
      "1767225600" + rnd.nextInt(1000), "0", "-0", "00", "01", "1.5", "2e3", "-", "1" * 19,
      "9" * 18, "-" + "9" * 18, "1" * 20)
    def value(isLong: Boolean): String = rnd.nextInt(12) match {
      case 0 => "null"
      case 1 => pick("true", "false", "{}", "[1]", """{"a":"b"}""", "nul", "nullx")
      case 2 => if (isLong) "\"" + num() + "\"" else num()
      case _ => if (isLong) num() else "\"" + str() + "\""
    }
    val fields = SensorOps.sensorSchema.fields.map(f => f.name -> (f.dataType == LongType)).toSeq
    Seq.fill(n) {
      rnd.nextInt(20) match {
        case 0 => // byte noise over a valid-looking prefix
          val base = perfbenchShaped.head
          base.take(rnd.nextInt(base.length + 1)) + pick("", "}", "]", ",", "x", "\"")
        case _ =>
          val keys = rnd.shuffle(fields).take(1 + rnd.nextInt(fields.length)) ++
            (if (rnd.nextInt(10) == 0) Seq(pick("extra" -> false, "Value" -> false,
              "timestamp" -> true, "station_id" -> false)) else Nil)
          val body = keys.map { case (k, isLong) =>
            ws() + "\"" + k + "\"" + ws() + pick(":", ":", ": ") + ws() + value(isLong) + ws()
          }.mkString(pick(",", ",", ", "))
          ws() + "{" + body + "}" + ws() + (if (rnd.nextInt(30) == 0) pick("x", "}", ",") else "")
      }
    }
  }

  test("equals stock from_json on seeded fuzz") {
    assertSameAsStock(fuzz(20000, 41), SensorOps.sensorSchema)
  }

  test("a one-field bigint schema (the json_extract shape) equals stock") {
    val schema = StructType(Seq(StructField("k", LongType)))
    assertSameAsStock(Seq("""{"k": 83}""", """{"k":-7}""", """{"k": "83"}""", """{"k": 8.3}""",
      """{"j": 1}""", """{"k": null}""", "{}") ++ fuzz(2000, 43), schema)
  }

  test("the rule fires only for a flat string/bigint schema with default options") {
    val df = payloads(spark, perfbenchShaped)
    val sensor = df.select(from_json(col("j"), SensorOps.sensorSchema).as("s"))
    assert(fastNodes(sensor).size === 1)
    // SensorOps.parseJson casts the column to string first, then flattens
    assert(fastNodes(SensorOps.parseJson(df, "j")).size === 1)

    def declined(schema: StructType, options: Map[String, String] = Map.empty): Unit = {
      val p = df.select(from_json(col("j"), schema, options).as("s"))
      assert(fastNodes(p).isEmpty, s"rule fired for $schema / $options")
    }
    declined(StructType(Seq(StructField("a", StringType),
      StructField("b", StructType(Seq(StructField("c", LongType)))))))
    declined(StructType(Seq(StructField("a", IntegerType))))
    declined(StructType(Seq(StructField("a", DoubleType))))
    declined(StructType(Seq(StructField("a", ArrayType(StringType)))))
    declined(StructType(Seq(StructField("a", StringType("UTF8_LCASE")))))
    declined(StructType(Seq(StructField("a", StringType), StructField("a", LongType))))
    declined(StructType(Seq(StructField("a", StringType),
      StructField("_corrupt_record", StringType))))
    declined(SensorOps.sensorSchema, Map("allowNumericLeadingZeros" -> "true"))
    declined(SensorOps.sensorSchema, Map("mode" -> "PERMISSIVE"))
  }

  test("from_json(...).field still prunes the parsed schema") {
    val df = payloads(spark, perfbenchShaped)
    val one = df.select(from_json(col("j"), SensorOps.sensorSchema).getField("timestamp").as("t"))
    val nodes = fastNodes(one)
    assert(nodes.size === 1)
    assert(nodes.head.dataType.asInstanceOf[StructType].fieldNames.toSeq === Seq("timestamp"))
    assert(one.collect().map(_.getLong(0)).toSeq === Seq(1767225600250L, 1767225601000L, 0L))
  }
}
