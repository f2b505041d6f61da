package graft.cdc

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import graft.LocalSpark
import org.apache.spark.sql.{Column, DataFrame, GraftExpressionBridge, Row}
import org.apache.spark.sql.catalyst.expressions.{Expression, JsonToStructs}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** `CdcPayloadFromJson` against Spark's `from_json`, and where
  * `CdcPayloadRule` puts it.
  *
  * Parity: for every input, the expression and `from_json` over a plain
  * `toDF("raw")` give identical rows. Plan shape: the rule fires on the
  * `raw` column of streaming and batch `maxscale-cdc` reads, keeps
  * Spark's JSON schema pruning, and leaves every other `from_json`
  * alone.
  */
class CdcPayloadSpec extends AnyFunSuite {
  private lazy val spark = LocalSpark.spark
  import LocalSpark.spark.implicits._

  // A backslash, kept out of the literals so no escape is processed.
  private val bs = "\\"

  // FIXTURES.md §A: the golden DDL and DML lines of `test.tests`.
  private val goldenDdl =
    """{"namespace": "MaxScaleChangeDataSchema.avro", "type": "record", "name": "ChangeRecord", "table": "tests", "database": "test", "version": 1, "gtid": "0-3000-6", "fields": [{"name": "domain", "type": "int"}, {"name": "server_id", "type": "int"}, {"name": "sequence", "type": "int"}, {"name": "event_number", "type": "int"}, {"name": "timestamp", "type": "int"}, {"name": "event_type", "type": {"type": "enum", "name": "EVENT_TYPES", "symbols": ["insert", "update_before", "update_after", "delete"]}}, {"name": "id", "type": ["null", "int"], "real_type": "int", "length": -1}]}"""
  private def goldenDml(seq: Int, id: Int) =
    s"""{"domain": 0, "server_id": 3000, "sequence": $seq, "event_number": 1, "timestamp": 1700000000, "event_type": "insert", "table_name": "tests", "table_schema": "test", "id": $id}"""
  private val golden = Seq(goldenDdl, goldenDml(7, 1), goldenDml(8, 2))

  /** One column of every type `CdcModel.toStructType` emits. */
  private val typed: StructType = {
    import CdcModel._
    def f(n: String, t: TypeSpec, rt: Option[String] = None) =
      DdlField(n, t, rt, None, unsigned = false)
    def u(t: String) = UnionType(Seq("null", t))
    toStructType(DdlEvent("ns", "record", "ChangeRecord", "t", "d", 1,
      "0-1-1", Seq(
        f("domain", PlainType("int")), f("sequence", PlainType("long")),
        f("i", u("int")), f("l", u("long")), f("f", u("float")),
        f("d", u("double")), f("b", u("boolean")), f("bin", u("bytes")),
        f("dec", PlainType("decimal(12,2)")),
        f("dec2", u("string"), Some("decimal(10,4)")),
        f("day", u("string"), Some("date")),
        f("ts", u("string"), Some("datetime(3)")),
        f("s", u("string")),
        f("e", EnumType("ET", Seq("a", "b"), nullable = true)))))
  }
  private val withCorrupt = typed.add("_corrupt_record", StringType)

  /** The expression built the way `CdcPayloadRule` builds it: over the
    * nullable schema (every schema here is flat). */
  private def payload(c: Column, schema: StructType): Column =
    GraftExpressionBridge.column(CdcPayloadFromJson(
      StructType(schema.map(_.copy(nullable = true))),
      GraftExpressionBridge.expression(c)))

  /** A row as text, byte arrays by content and NaN equal to itself. */
  private def show(v: Any): String = v match {
    case r: Row => r.toSeq.map(show).mkString("{", ",", "}")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("x'", "", "'")
    case null => "null"
    case o => o.toString
  }

  /** Both expressions over `toDF("raw")`, one row per line. */
  private def assertParity(lines: Seq[String], schema: StructType): Unit = {
    val out = lines.toDF("raw").select(col("raw"),
      from_json(col("raw"), schema).as("spark"),
      payload(col("raw"), schema).as("bytes")).collect()
    assert(out.length == lines.length)
    out.foreach { r =>
      assert(show(r.get(2)) == show(r.get(1)),
        s"differs from from_json on ${show(r.getString(0))}")
    }
  }

  private val bom = "\uFEFF"
  private val nul = "\u0000"

  private val edges = Seq(
    // JSON null, missing keys, quoted and out-of-range numbers, floats
    // into int fields
    """{"domain": null, "i": null, "s": null, "b": null, "bin": null}""",
    """{}""", """{"nothing": 1}""",
    """{"domain": "7", "i": "8", "l": "9", "d": "1.5", "f": "NaN", "dec": "3.14", "b": "true"}""",
    """{"domain": 4294967297, "i": -2147483649, "l": 9223372036854775808, "d": 1e400, "f": 1e39, "dec": 12345678901.25}""",
    """{"domain": 1.5, "i": 2.0, "l": 1e3, "sequence": -0, "dec": 1.005, "dec2": 0.00001}""",
    """{"d": NaN, "f": -Infinity, "i": +1, "l": 007}""",
    // objects and arrays under scalar fields, duplicate keys
    """{"i": {"x": 1}, "s": [1, 2], "b": {}, "d": [], "day": {"y": 2}}""",
    """{"s": {"a": [1, {"b": null}]}, "e": ["a"]}""",
    """{"i": 1, "i": 2, "s": "first", "s": "second"}""",
    """{"i": 1, "s": "x", "i": "not a number"}""",
    // escapes and non-ASCII text
    s"""{"s": "t${bs}u00e9st${bs}u2603${bs}ud83d${bs}ude00 ${bs}"q${bs}" ${bs}${bs} ${bs}/ ${bs}t"}""",
    """{"s": "tést ☃ 😀 日本語", "e": "b", "ünï": 1}""",
    s"""{"s": "${bs}u0000 nul escape", "i": 3}""",
    // dates, timestamps, binary, decimals, booleans; base64 that fails
    // on a multi-byte or an ASCII character, before other fields
    """{"dec": "1", "bin": "é"}""", """{"bin": "AQé", "i": 1}""",
    """{"bin": "A!QID", "i": 1, "s": "x"}""",
    """{"day": "2024-02-29", "ts": "2024-02-29 12:34:56.789", "bin": "AQID", "b": false, "dec2": "12.3456"}""",
    """{"day": "not a date", "ts": 1700000000, "bin": 12, "b": 1, "dec": "abc"}""",
    """{"day": 19000, "ts": "2024-13-45T99:99:99", "dec": 1e30}""",
    // malformed JSON and trailing garbage
    """{"i": 1""", """{"i": 1 "s": "x"}""", """{"i": 1, "s": "unterminated}""",
    s"""{"s": "bad ${bs}q escape"}""", """{i: 1}""", """{'i': 1}""",
    """{"i": 1} trailing""", """{"i": 1}{"i": 2}""", """{"i": 1},""",
    // top-level arrays and scalars, empty and blank input
    """[{"i": 1}, {"i": 2}]""", """[]""", """[1, 2]""", "1", "\"s\"",
    "true", "null", "", "   ", "\t\n",
    // a leading BOM, and NUL bytes among the first four
    bom + """{"i": 1, "s": "bom"}""", bom, bom + bom + "{}",
    nul + """{"i": 1}""", "{" + nul + """"i": 1}""", """{"i"""" + nul + ": 1}",
    nul, nul + nul + nul + nul, " " + nul,
    """{"i": 1, "s": "a""" + nul + """b"}""")

  test("parity: golden lines and edge inputs give from_json's rows") {
    val goldenSchema = Protocol.inferSchema(goldenDdl)
    assertParity(golden ++ edges, goldenSchema)
    assertParity(golden ++ edges, goldenSchema.add("_corrupt_record", StringType))
    assertParity(golden ++ edges, typed)
    assertParity(golden ++ edges, withCorrupt)
    // a pruned one-field schema, as OptimizeJsonExprs leaves it
    assertParity(golden ++ edges, StructType(Seq(typed("s"))))
  }

  test("parity: generated lines over every CdcModel type give from_json's rows") {
    import com.fasterxml.jackson.core.io.JsonStringEncoder
    def quote(s: String) =
      "\"" + new String(JsonStringEncoder.getInstance.quoteAsString(s)) + "\""
    val text: Gen[String] = Gen.oneOf(Gen.asciiPrintableStr,
      Gen.listOf(Gen.oneOf('a', 'é', '☃', '日', ' ', '"', '\\', '\n'))
        .map(_.mkString))
    val scalar: Gen[String] = Gen.oneOf(
      Gen.chooseNum(Long.MinValue, Long.MaxValue).map(_.toString),
      Gen.chooseNum(Int.MinValue, Int.MaxValue).map(_.toString),
      Gen.chooseNum(-1e12, 1e12).map(_.toString),
      Gen.chooseNum(-1e6, 1e6).map(d => quote(d.toString)),
      Gen.chooseNum(0L, 1L << 40).map(n => quote(n.toString)),
      text.map(quote),
      Gen.oneOf("true", "false", "null", "1e400", "-0", "0.5",
        "123456789012345678901234567890", "\"2024-02-29\"",
        "\"2024-02-29 12:34:56.5\"", "\"AQID\"", "\"NaN\"", "\"a\""))
    val value: Gen[String] = Gen.frequency(
      12 -> scalar,
      1 -> Gen.listOfN(2, scalar).map(_.mkString("[", ",", "]")),
      1 -> scalar.map(v => s"""{"in": [$v]}"""))
    val key: Gen[String] = Gen.frequency(
      6 -> Gen.oneOf(typed.fieldNames.toSeq), 1 -> Gen.alphaLowerStr)
    val obj: Gen[String] = Gen.listOf(Gen.zip(key, value))
      .map(_.map { case (k, v) => s"${quote(k)}: $v" }.mkString("{", ", ", "}"))
    // Mostly well-formed objects; some cut short, trailed, wrapped in an
    // array, or led by a BOM or a NUL.
    val line: Gen[String] = Gen.frequency(
      20 -> obj,
      1 -> Gen.zip(obj, Gen.chooseNum(0, 40))
        .map { case (o, n) => o.take(math.min(n, o.length - 1)) },
      1 -> obj.map(_ + " x"),
      1 -> obj.map(o => s"[$o]"),
      1 -> obj.map(bom + _),
      1 -> obj.map(nul + _))
    val params = SCTest.Parameters.default.withMinSuccessfulTests(6)
    Seq(typed, withCorrupt).foreach { schema =>
      val p = Prop.forAll(Gen.listOfN(150, line)) { lines =>
        assertParity(lines, schema); true
      }
      val r = SCTest.check(params, p)
      assert(r.passed, r.status)
    }
  }

  // The perfbench table: envelope plus four user columns.
  private val benchDdl =
    """{"namespace": "MaxScaleChangeDataSchema.avro", "type": "record", "name": "ChangeRecord", "table": "tests", "database": "test", "version": 1, "gtid": "", "fields": [{"name": "domain", "type": "int"}, {"name": "server_id", "type": "int"}, {"name": "sequence", "type": "int"}, {"name": "event_number", "type": "int"}, {"name": "timestamp", "type": "int"}, {"name": "event_type", "type": {"type": "enum", "name": "EVENT_TYPES", "symbols": ["insert", "update_before", "update_after", "delete"]}}, {"name": "id", "type": ["null", "int"], "real_type": "int", "length": -1}, {"name": "label", "type": ["null", "string"], "real_type": "varchar", "length": 32}, {"name": "amount", "type": ["null", "long"], "real_type": "bigint", "length": -1}, {"name": "sched_us", "type": ["null", "long"], "real_type": "bigint", "length": -1}]}"""
  private val benchSchema = Protocol.inferSchema(benchDdl)

  /** A replay capture: the schema line, DML lines with ordinary and
    * odd payloads, and two non-DML lines (a BOM-led one and a NUL-led
    * one) that only an unfiltered read decodes. */
  private lazy val capture = {
    def dml(seq: Int, payload: String) =
      s"""{"domain": 0, "server_id": 3000, "sequence": $seq, "event_number": 1, "timestamp": 1700000000, "event_type": "insert", "table_name": "tests", "table_schema": "test"$payload}"""
    val payloads = (1 to 40).map(i =>
      s""", "id": $i, "label": "k$i", "amount": ${i * 1000L}, "sched_us": ${i * 7L}""") ++ Seq(
      """, "id": "41", "label": null, "amount": 1.5""",
      """, "id": 4294967297, "label": "tést ☃", "amount": "x", "sched_us": 1e400""",
      """, "label": {"nested": [1]}, "amount": [2]""",
      """, "id": 44, "id": 45""",
      """, "id": 46, "label": [1, 2], "amount": 1.50""")
    val lines = Seq(benchDdl) ++ payloads.zipWithIndex.map { case (p, i) =>
      dml(100 + i, p) } ++ Seq(bom + """{"id": 1}""", nul + """{"id": 2}""")
    val f = Files.createTempFile("cdc-payload", ".ndjson")
    Files.write(f, lines.mkString("\n").getBytes(UTF_8))
    (f.toString, lines)
  }

  /** The bench's `decoded` shape (perfbench `CdcWorkload.decoded`),
    * plus `raw`, which the reference decodes again. */
  private def decoded(raw: DataFrame): DataFrame = {
    val p = from_json(col("raw"), benchSchema)
    raw.filter(col("event_type") =!= "ddl")
      .select(col("domain"), col("server_id"), col("sequence"),
        col("event_number"), col("event_type"), col("raw"), p.as("p"))
      .select(col("domain"), col("server_id"), col("sequence"),
        col("event_number"), col("event_type"), col("raw"),
        col("p.id").as("id"), col("p.label").as("label"),
        col("p.amount").as("amount"), col("p.sched_us").as("sched_us"))
  }

  private val decodedCols = Seq("id", "label", "amount", "sched_us")

  /** `decoded` recomputed with Spark's `from_json` over a frame that
    * holds the same `raw` values but is no CDC relation. */
  private def reference(copy: DataFrame): Set[String] =
    copy.select(col("sequence"),
      from_json(col("raw"), benchSchema).as("p")).select(col("sequence") +:
      decodedCols.map(c => col(s"p.$c").as(c)): _*).collect().map(show).toSet

  /** (rewritten calls, from_json calls) among a plan's expressions. */
  private def calls(exprs: Seq[Expression]): (Seq[CdcPayloadFromJson], Int) = {
    val all = exprs.flatMap(_.collect { case e => e })
    (all.collect { case c: CdcPayloadFromJson => c },
      all.count(_.isInstanceOf[JsonToStructs]))
  }
  private def optimized(df: DataFrame) =
    calls(df.queryExecution.optimizedPlan.collect { case p => p.expressions }.flatten)
  private def executed(plan: SparkPlan) =
    calls(plan.collect { case p => p.expressions }.flatten)

  private def readBatch: DataFrame = spark.read.format("maxscale-cdc")
    .option("replayFile", capture._1).load()

  test("plan: the bench's decoded shape is rewritten on a streaming replay read") {
    val q = decoded(spark.readStream.format("maxscale-cdc")
        .option("replayFile", capture._1).load())
      .writeStream.format("memory").queryName("cdc_payload_stream")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
      .lastExecution.executedPlan
    val (rewritten, fromJson) = executed(plan)
    assert(rewritten.nonEmpty && fromJson == 0, plan.toString)
    assert(q.asInstanceOf[StreamingQueryWrapper].explainInternal(false)
      .contains("cdc_payload_from_json"))
    val out = spark.table("cdc_payload_stream")
    assert(out.count() == 45)
    val got = out.select(col("sequence") +: decodedCols.map(col): _*)
      .collect().map(show).toSet
    assert(got == reference(out))
  }

  test("plan: the batch replay read is rewritten and decodes BOM and NUL lines like from_json") {
    val df = decoded(readBatch)
    val (rewritten, fromJson) = executed(df.queryExecution.executedPlan)
    assert(rewritten.nonEmpty && fromJson == 0)
    val rows = df.collect()
    assert(rows.length == 45)
    val copy = rows.map(r => (r.getAs[Long]("sequence"), r.getAs[String]("raw")))
      .toSeq.toDF("sequence", "raw")
    assert(rows.map(r => show(Row.fromSeq(Seq(r.getAs[Long]("sequence")) ++
      decodedCols.map(r.getAs[Any])))).toSet == reference(copy))
    // every line, schema and non-DML lines included, against toDF
    val all = readBatch.select(col("raw"), from_json(col("raw"), benchSchema).as("p"))
    assert(optimized(all)._1.nonEmpty)
    val expected = capture._2.toDF("raw")
      .select(col("raw"), from_json(col("raw"), benchSchema).as("p"))
    assert(all.collect().map(show).toSet == expected.collect().map(show).toSet)
    assert(all.filter(col("raw").startsWith(bom)).select("p.id").head.isNullAt(0))
  }

  test("plan: a one-field select keeps Spark's pruned schema on a stream") {
    val q = spark.readStream.format("maxscale-cdc")
      .option("replayFile", capture._1).load()
      .select(from_json(col("raw"), benchSchema).getField("amount").as("amount"))
      .writeStream.format("memory").queryName("cdc_payload_pruned")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val (rewritten, fromJson) = executed(q.asInstanceOf[StreamingQueryWrapper]
      .streamingQuery.lastExecution.executedPlan)
    assert(fromJson == 0)
    assert(rewritten.map(_.schema.fieldNames.toSeq) == Seq(Seq("amount")))
    assert(spark.table("cdc_payload_pruned").filter(col("amount") === 40000L)
      .count() == 1)
  }

  test("plan: no rewrite off a bare CDC raw column, across a union, with options, or for a map or array schema") {
    val dir = Files.createTempDirectory("cdc-payload-parquet").resolve("t").toString
    capture._2.toDF("raw").write.parquet(dir)
    val cdc = readBatch
    val cases = Seq(
      // an RDD, not a local relation, so the call is not folded away
      "toDF" -> spark.sparkContext.parallelize(capture._2, 1).toDF("raw")
        .select(from_json(col("raw"), benchSchema)),
      "parquet" -> spark.read.parquet(dir).select(from_json(col("raw"), benchSchema)),
      "options" -> cdc.select(from_json(col("raw"), benchSchema,
        Map("mode" -> "FAILFAST"))),
      "map" -> cdc.select(from_json(col("raw"),
        MapType(StringType, StringType))),
      "array" -> cdc.select(from_json(col("raw"), ArrayType(benchSchema))),
      "lower" -> cdc.select(from_json(lower(col("raw")), benchSchema)),
      // rand() keeps the projection above the union
      "union" -> cdc.select("raw").union(capture._2.toDF("raw"))
        .select(from_json(col("raw"), benchSchema), rand()))
    cases.foreach { case (name, df) =>
      val (rewritten, fromJson) = optimized(df)
      assert(rewritten.isEmpty && fromJson > 0, name)
    }
    assert(optimized(cdc.select(from_json(col("raw"), benchSchema)))._1.nonEmpty)
  }
}
