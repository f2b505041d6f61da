package graft.cdc

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.apache.spark.sql.types._

/** Unit tests for the pure CDC protocol functions (SURVEY.md §5.2-2).
  * Golden vectors follow the reference's integration fixture: database
  * `test`, table `tests(id int primary key)`, server-id 3000
  * (FIXTURES.md §A; `client_test.go:82-166`).
  */
class ProtocolSpec extends AnyFunSuite {

  /** Run a scalacheck property and assert it passes (plain scalacheck;
    * the scalatestplus bridge isn't in the offline dependency cache). */
  private def check(p: Prop): Unit =
    assert(SCTest.check(SCTest.Parameters.default, p).passed)

  test("auth command is hex(user ':' sha1(password))") {
    // sha1("") = da39a3ee5e6b4b0d3255bfef95601890afd80709;
    // hex("user:") = 757365723a
    assert(Protocol.formatAuthCommand("user", "") ==
      "757365723a" + "da39a3ee5e6b4b0d3255bfef95601890afd80709")
    // sha1("abc") = a9993e364706816aba3e25717850c26c9cd0d89d
    assert(Protocol.formatAuthCommand("max", "abc") ==
      "6d61783a" + "a9993e364706816aba3e25717850c26c9cd0d89d")
  }

  test("register command pins TYPE=JSON") {
    assert(Protocol.formatRegisterCommand("u-1") ==
      "REGISTER UUID=u-1, TYPE=JSON")
  }

  test("request-data command: db.table[.version] [gtid]") {
    assert(Protocol.formatRequestDataCommand("test", "tests") ==
      "REQUEST-DATA test.tests")
    assert(Protocol.formatRequestDataCommand("test", "tests", Some(2)) ==
      "REQUEST-DATA test.tests.2")
    assert(Protocol.formatRequestDataCommand("test", "tests", None,
      Some("0-3000-8")) == "REQUEST-DATA test.tests 0-3000-8")
    assert(Protocol.formatRequestDataCommand("test", "tests", Some(1),
      Some("0-3000-8")) == "REQUEST-DATA test.tests.1 0-3000-8")
  }

  test("error and DML classification by prefix") {
    assert(Protocol.isErrorResponse("ERR no such table"))
    assert(!Protocol.isErrorResponse("OK"))
    assert(Protocol.isDmlEvent("""{"domain":0,"server_id":3000}"""))
    assert(!Protocol.isDmlEvent("""{"namespace":"MaxScaleChangeDataSchema.avro"}"""))
  }

  test("gtid format/parse round-trip") {
    assert(Protocol.formatGtid(0, 3000, 8) == "0-3000-8")
    assert(Protocol.parseGtid("0-3000-8").contains((0, 3000, 8L)))
    assert(Protocol.parseGtid("nonsense").isEmpty)
    check(Prop.forAll(Gen.chooseNum(0, 10), Gen.chooseNum(0, 100000),
      Gen.chooseNum(0L, Long.MaxValue)) { (d: Int, s: Int, q: Long) =>
      Protocol.parseGtid(Protocol.formatGtid(d, s, q)).contains((d, s, q))
    })
  }

  // The golden DDL event for `tests(id int primary key)` —
  // FIXTURES.md §A / client_test.go:82-134.
  private val goldenDdl =
    """{"namespace": "MaxScaleChangeDataSchema.avro", "type": "record",
      |"name": "ChangeRecord", "table": "tests", "database": "test",
      |"version": 1, "gtid": "0-3000-6", "fields": [
      |{"name": "domain", "type": "int"},
      |{"name": "server_id", "type": "int"},
      |{"name": "sequence", "type": "int"},
      |{"name": "event_number", "type": "int"},
      |{"name": "timestamp", "type": "int"},
      |{"name": "event_type", "type": {"type": "enum",
      |  "name": "EVENT_TYPES",
      |  "symbols": ["insert", "update_before", "update_after", "delete"]}},
      |{"name": "id", "type": ["null", "int"], "real_type": "int",
      |  "length": -1}
      |]}""".stripMargin.replace("\n", " ")

  test("DDL decode: three wire shapes of field type") {
    val ddl = Protocol.decodeDdlEvent(goldenDdl)
    assert(ddl.namespace == "MaxScaleChangeDataSchema.avro")
    assert(ddl.table == "tests" && ddl.database == "test")
    assert(ddl.version == 1 && ddl.gtid == "0-3000-6")
    assert(ddl.fields.map(_.name) == Seq("domain", "server_id", "sequence",
      "event_number", "timestamp", "event_type", "id"))
    assert(ddl.fields.head.typeSpec == CdcModel.PlainType("int"))
    assert(ddl.fields(5).typeSpec == CdcModel.EnumType("EVENT_TYPES",
      Seq("insert", "update_before", "update_after", "delete")))
    assert(ddl.fields(6).typeSpec == CdcModel.UnionType(Seq("null", "int")))
    assert(ddl.fields(6).realType.contains("int"))
    assert(ddl.fields(6).length.isEmpty) // -1 ⇒ no length
  }

  test("DDL decode: nullable enum union and JSON-null real_type/length") {
    val ddl = Protocol.decodeDdlEvent(
      """{"fields": [
        |{"name": "status", "type": ["null", {"type": "enum",
        |  "name": "ST", "symbols": ["a", "b"]}],
        |  "real_type": null, "length": null}
        |]}""".stripMargin.replace("\n", " "))
    val f = ddl.fields.head
    // nullable enum keeps its name/symbols instead of flattening to ""
    assert(f.typeSpec ==
      CdcModel.EnumType("ST", Seq("a", "b"), nullable = true))
    // JSON null behaves like an absent key, not Some("null")/Some(0)
    assert(f.realType.isEmpty && f.length.isEmpty)
    val st = CdcModel.toStructType(ddl)
    assert(st("status").nullable)
    assert(st("status").metadata.getStringArray("enum_symbols").toSeq ==
      Seq("a", "b"))
  }

  test("DDL → StructType translation") {
    val st = Protocol.inferSchema(goldenDdl)
    assert(st.fieldNames.toSeq == Seq("domain", "server_id", "sequence",
      "event_number", "timestamp", "event_type", "id"))
    assert(st("domain").dataType == IntegerType && !st("domain").nullable)
    assert(st("event_type").dataType == StringType)
    assert(st("event_type").metadata.getStringArray("enum_symbols").toSeq ==
      Seq("insert", "update_before", "update_after", "delete"))
    assert(st("id").dataType == IntegerType && st("id").nullable)
    assert(st("id").metadata.getString("real_type") == "int")
  }

  test("type mapping: unions, decimals, real_type date/time refinement") {
    def field(ts: CdcModel.TypeSpec, rt: Option[String] = None) =
      CdcModel.DdlField("c", ts, rt, None, unsigned = false)
    def one(ts: CdcModel.TypeSpec, rt: Option[String] = None) =
      CdcModel.toStructType(CdcModel.DdlEvent("ns", "record", "ChangeRecord",
        "t", "d", 1, "0-1-1", Seq(field(ts, rt)))).head
    assert(one(CdcModel.UnionType(Seq("null", "long"))).dataType == LongType)
    assert(one(CdcModel.UnionType(Seq("null", "double"))).dataType == DoubleType)
    assert(one(CdcModel.UnionType(Seq("null", "bytes"))).dataType == BinaryType)
    assert(one(CdcModel.PlainType("decimal(12,2)")).dataType ==
      DecimalType(12, 2))
    assert(one(CdcModel.UnionType(Seq("null", "string")),
      Some("datetime(3)")).dataType == TimestampType)
    assert(one(CdcModel.UnionType(Seq("null", "string")),
      Some("date")).dataType == DateType)
    assert(one(CdcModel.UnionType(Seq("null", "string")),
      Some("decimal(10,4)")).dataType == DecimalType(10, 4))
  }

  // Golden DML insert envelope — client_test.go:152-166.
  private val goldenDml =
    """{"domain": 0, "server_id": 3000, "sequence": 7, "event_number": 1,
      |"timestamp": 1700000000, "event_type": "insert",
      |"table_name": "tests", "table_schema": "test",
      |"id": 1}""".stripMargin.replace("\n", " ")

  test("DML decode: envelope + verbatim raw + gtid") {
    val e = Protocol.decodeDmlEvent(goldenDml)
    assert(e.domain == 0 && e.serverId == 3000 && e.sequence == 7L)
    assert(e.eventNumber == 1 && e.eventType == "insert")
    assert(e.tableName == "tests" && e.tableSchema == "test")
    assert(e.raw == goldenDml)
    assert(e.gtid == "0-3000-7")
  }

  /** The tree decoder `decodeDmlEvent` used before the streaming scan
    * (`readTree` + `path(key).asInt/asLong/asText`), kept as the
    * oracle the scan must agree with. */
  private object TreeDecoder {
    private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def decode(line: String): CdcModel.DmlEvent = {
      val n = mapper.readTree(line)
      CdcModel.DmlEvent(
        domain = n.path("domain").asInt(),
        serverId = n.path("server_id").asInt(),
        sequence = n.path("sequence").asLong(),
        eventNumber = n.path("event_number").asInt(),
        timestamp = n.path("timestamp").asLong(),
        eventType = n.path("event_type").asText(),
        tableName = n.path("table_name").asText(),
        tableSchema = n.path("table_schema").asText(),
        raw = line)
    }
  }

  private def assertParity(line: String): CdcModel.DmlEvent = {
    val e = Protocol.decodeDmlEvent(line)
    assert(e == TreeDecoder.decode(line), s"decoders disagree on $line")
    e
  }

  // A backslash, kept out of the literals so no escape is processed.
  private val bs = "\\"

  test("DML decode: the streaming scan equals the tree decoder") {
    val golden = Seq(goldenDml,
      """{"domain":0,"server_id":3000,"sequence":9,"event_number":2,"timestamp":1,"event_type":"update_after","table_name":"t","table_schema":"d","id":2,"name":"x","score":1.5,"ok":true,"missing":null}""")
    val reordered =
      """{"table_schema": "test", "id": 1, "sequence": 7, "event_type": "insert", "domain": 0, "timestamp": 1700000000, "table_name": "tests", "event_number": 1, "server_id": 3000}"""
    val nestedUser =
      """{"pre": {"domain": 9, "a": [1, {"sequence": 99}], "b": {}}, "list": [[], [{"server_id": 5}]], "domain": 1, "server_id": 3001, "sequence": 12, "event_number": 3, "timestamp": 1700000001, "event_type": "delete", "table_name": "tests", "table_schema": "test", "post": {"table_name": "no", "x": [true, null, 1.5e3]}, "tail": [{"event_type": "no"}]}"""
    val containerUnderKey =
      """{"domain": {"v": 1}, "server_id": [3000], "sequence": {"n": [7]}, "event_number": [], "timestamp": {}, "event_type": {"t": "insert"}, "table_name": ["tests"], "table_schema": {}, "id": 1}"""
    val escaped =
      s"""{"domain": 0, "server_id": 3000, "sequence": 7, "event_number": 1, "timestamp": 1, "event_type": "in${bs}"sert${bs}n", "table_name": "t${bs}u00e9st${bs}u2603${bs}ud83d${bs}ude00", "table_schema": "a${bs}${bs}b${bs}/c${bs}t", "note": "${bs}u0000${bs}"x${bs}""}"""
    val quotedNumbers =
      """{"domain": "1", "server_id": " 3000 ", "sequence": "42", "event_number": "x", "timestamp": "1.5e3", "event_type": 12, "table_name": -0, "table_schema": 2.50, "id": "7"}"""
    val oddScalars =
      """{"domain": 4294967297, "server_id": 1.9e10, "sequence": 123456789012345678901234567890, "event_number": true, "timestamp": -2.5, "event_type": false, "table_name": 1e300, "table_schema": 99999999999999999999, "id": 1}"""
    val duplicated =
      """{"domain": 0, "server_id": 1, "sequence": 1, "event_number": 1, "timestamp": 1, "event_type": "insert", "table_name": "a", "table_schema": "s", "sequence": 2, "table_name": "b", "domain": {"x": 1}, "server_id": 3000}"""
    val absent = """{"domain": 0, "id": 1}"""
    golden.foreach(assertParity)
    assert(assertParity(reordered) == Protocol.decodeDmlEvent(goldenDml)
      .copy(raw = reordered))
    val n = assertParity(nestedUser)
    assert((n.domain, n.serverId, n.sequence) == ((1, 3001, 12L)))
    assert((n.eventType, n.tableName) == (("delete", "tests")))
    val c = assertParity(containerUnderKey)
    assert((c.domain, c.serverId, c.sequence, c.eventType) == ((0, 0, 0L, "")))
    val e = assertParity(escaped)
    assert(e.eventType == "in\"sert\n" && e.tableSchema == "a\\b/c\t")
    assert(e.tableName == "t\u00e9st\u2603\ud83d\ude00")
    val q = assertParity(quotedNumbers)
    assert((q.domain, q.sequence, q.eventNumber) == ((1, 42L, 0)))
    assert(q.eventType == "12" && q.tableName == "0" && q.tableSchema == "2.5")
    assertParity(oddScalars)
    val d = assertParity(duplicated)
    assert((d.domain, d.serverId, d.sequence, d.tableName) ==
      ((0, 3000, 2L, "b")), "the last of a repeated key wins")
    val a = assertParity(absent)
    assert((a.serverId, a.sequence, a.eventType, a.tableName) == ((0, 0L, "", "")))
  }

  test("DML decode: a JSON null under a text key reads as \"null\", as the tree decoder did") {
    val line = """{"domain": 0, "server_id": 3000, "sequence": null, "event_number": 1, "timestamp": 1, "event_type": null, "table_name": null, "table_schema": null}"""
    val e = assertParity(line)
    assert(e.eventType == "null" && e.tableName == "null" &&
      e.tableSchema == "null")
    assert(e.sequence == 0L)
  }

  test("DML decode: malformed JSON throws, as the tree decoder did") {
    val bad = Seq(
      """{"domain": 0, "server_id": 3000""",
      """{"domain": 0 "server_id": 3000}""",
      """{"domain": 0, "server_id": 3000, "user": {"a": [1, 2}}""",
      s"""{"domain": 0, "event_type": "bad ${bs}q escape"}""",
      """{"domain": 0, server_id: 3000}""",
      """{"domain": 0, "note": "unterminated}""")
    bad.foreach { l =>
      intercept[com.fasterxml.jackson.core.JsonProcessingException](
        TreeDecoder.decode(l))
      intercept[com.fasterxml.jackson.core.JsonProcessingException](
        Protocol.decodeDmlEvent(l))
    }
  }

  test("DML decode: generated envelopes decode like the tree decoder") {
    import com.fasterxml.jackson.core.io.JsonStringEncoder
    def quote(s: String) =
      "\"" + new String(JsonStringEncoder.getInstance.quoteAsString(s)) + "\""
    val scalar: Gen[String] = Gen.oneOf(
      Gen.chooseNum(Long.MinValue, Long.MaxValue).map(_.toString),
      Gen.chooseNum(Int.MinValue, Int.MaxValue).map(_.toString),
      Gen.chooseNum(-1e12, 1e12).map(_.toString),
      Gen.chooseNum(0L, 1L << 40).map(n => quote(n.toString)),
      Gen.asciiPrintableStr.map(quote),
      Gen.oneOf("true", "false", "null", "123456789012345678901234567890"))
    val value: Gen[String] = Gen.frequency(
      8 -> scalar,
      1 -> Gen.listOfN(2, scalar).map(_.mkString("[", ",", "]")),
      1 -> Gen.zip(Gen.oneOf(CdcModel.MetadataKeys), scalar)
        .map { case (k, v) => s"""{"$k":{"in":[$v]},"k":$v}""" })
    val field: Gen[String] = Gen.zip(
      Gen.frequency(3 -> Gen.oneOf(CdcModel.MetadataKeys),
        1 -> Gen.alphaLowerStr), value)
      .map { case (k, v) => s"${quote(k)}: $v" }
    check(Prop.forAll(Gen.listOf(field)) { fields =>
      val line = fields.mkString("{", ", ", "}")
      Protocol.decodeDmlEvent(line) == TreeDecoder.decode(line)
    })
  }

  test("tableData strips exactly the 8 envelope keys") {
    assert(Protocol.tableData(goldenDml) == Map("id" -> 1))
    val multi =
      """{"domain":0,"server_id":3000,"sequence":9,"event_number":2,
        |"timestamp":1,"event_type":"update_after","table_name":"t",
        |"table_schema":"d","id":2,"name":"x","score":1.5,"ok":true,
        |"missing":null}""".stripMargin.replace("\n", "")
    assert(Protocol.tableData(multi) ==
      Map("id" -> 2, "name" -> "x", "score" -> 1.5, "ok" -> true,
        "missing" -> null))
  }
}
