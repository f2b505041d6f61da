package graft.cdc

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import com.fasterxml.jackson.core.{JsonFactory, JsonParser, JsonToken}
import com.fasterxml.jackson.core.JsonParser.NumberType
import com.fasterxml.jackson.core.io.{NumberInput, NumberOutput}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import org.apache.spark.sql.types.StructType

import scala.jdk.CollectionConverters._

/** Pure protocol functions of the MaxScale CDC wire format — the
  * unit-testable core of the DSv2 source. Each mirrors a reference
  * behavior by `file:line` (semantics only; the implementation is
  * original Scala on the JDK/Jackson that ships with Spark).
  *
  * Note the reference's `WithDialTimeout`/`WithWriteTimeout` options
  * assign the wrong struct field (`client.go:49-53, 63-67`); that bug
  * is deliberately NOT replicated — our source options mean what they
  * say.
  */
object Protocol {

  private val mapper = new ObjectMapper()
  private val jsonFactory = new JsonFactory()

  /** Auth message: `hex(user ":" sha1(password))` — `client.go:324-347`. */
  def formatAuthCommand(user: String, password: String): String = {
    val sha1 = MessageDigest.getInstance("SHA-1")
      .digest(password.getBytes(UTF_8))
    val payload = user.getBytes(UTF_8) ++ Array(':'.toByte) ++ sha1
    payload.map(b => f"${b & 0xff}%02x").mkString
  }

  /** Registration message — `client.go:211-216`. `TYPE=JSON` pins the
    * JSON wire format (vs AVRO). */
  def formatRegisterCommand(uuid: String): String =
    s"REGISTER UUID=$uuid, TYPE=JSON"

  /** Stream request `REQUEST-DATA db.table[.version] [gtid]` —
    * `client.go:349-369`. */
  def formatRequestDataCommand(database: String, table: String,
      version: Option[Int] = None, gtid: Option[String] = None): String = {
    val target = version match {
      case Some(v) => s"$database.$table.$v"
      case None => s"$database.$table"
    }
    gtid match {
      case Some(g) => s"REQUEST-DATA $target $g"
      case None => s"REQUEST-DATA $target"
    }
  }

  /** Server replies starting with `ERR` are errors — `client.go:25,
    * 393-408`. */
  def isErrorResponse(line: String): Boolean = line.startsWith("ERR")

  /** DML ⇔ line starts with `{"domain":` (field-order-dependent, as in
    * the reference) — `client.go:410-412`. */
  def isDmlEvent(line: String): Boolean = line.startsWith("{\"domain\":")

  /** GTID formatting — `event.go:216-218`. */
  def formatGtid(domain: Int, serverId: Int, sequence: Long): String =
    s"$domain-$serverId-$sequence"

  /** GTID parsing (inverse, for resume offsets). */
  def parseGtid(gtid: String): Option[(Int, Int, Long)] =
    gtid.split("-") match {
      case Array(d, s, q) =>
        try Some((d.toInt, s.toInt, q.toLong))
        catch { case _: NumberFormatException => None }
      case _ => None
    }

  /** Decode one DML line into the envelope + verbatim raw —
    * `client.go:306-314` + `event.go:188-212`.
    *
    * One streaming pass, no JSON tree: the 8 envelope keys are read as
    * they go by and every other value is skipped. Each key converts the
    * way `readTree(line).path(key).asInt/asLong/asText` does, so an
    * absent key reads as 0 or "", a quoted number is parsed, a JSON
    * `null` under a text key reads as "null", an object or array under
    * a key reads as 0 or "", and a repeated key's last value wins.
    * Malformed JSON throws. */
  def decodeDmlEvent(line: String): CdcModel.DmlEvent = {
    var domain, serverId, eventNumber = 0
    var sequence, timestamp = 0L
    var eventType, tableName, tableSchema = ""
    val p = jsonFactory.createParser(line)
    try {
      if (p.nextToken() == JsonToken.START_OBJECT) {
        var key = p.nextFieldName()
        while (key != null) {
          p.nextToken()
          key match {
            case "domain" => domain = intValue(p)
            case "server_id" => serverId = intValue(p)
            case "sequence" => sequence = longValue(p)
            case "event_number" => eventNumber = intValue(p)
            case "timestamp" => timestamp = longValue(p)
            case "event_type" => eventType = textValue(p)
            case "table_name" => tableName = textValue(p)
            case "table_schema" => tableSchema = textValue(p)
            case _ =>
          }
          p.skipChildren() // no-op on a scalar
          key = p.nextFieldName()
        }
      } else p.skipChildren()
    } finally p.close()
    CdcModel.DmlEvent(domain, serverId, sequence, eventNumber, timestamp,
      eventType, tableName, tableSchema, raw = line)
  }

  // JsonNode.asInt() of the value at the parser's current token.
  private def intValue(p: JsonParser): Int = p.currentToken match {
    case JsonToken.VALUE_NUMBER_INT => p.getNumberType match {
      case NumberType.INT => p.getIntValue
      case NumberType.LONG => p.getLongValue.toInt
      case _ => p.getBigIntegerValue.intValue
    }
    case JsonToken.VALUE_NUMBER_FLOAT => p.getDoubleValue.toInt
    case JsonToken.VALUE_STRING => NumberInput.parseAsInt(p.getText, 0)
    case JsonToken.VALUE_TRUE => 1
    case _ => 0
  }

  // JsonNode.asLong()
  private def longValue(p: JsonParser): Long = p.currentToken match {
    case JsonToken.VALUE_NUMBER_INT => p.getNumberType match {
      case NumberType.BIG_INTEGER => p.getBigIntegerValue.longValue
      case _ => p.getLongValue
    }
    case JsonToken.VALUE_NUMBER_FLOAT => p.getDoubleValue.toLong
    case JsonToken.VALUE_STRING => NumberInput.parseAsLong(p.getText, 0L)
    case JsonToken.VALUE_TRUE => 1L
    case _ => 0L
  }

  // JsonNode.asText()
  private def textValue(p: JsonParser): String = p.currentToken match {
    case JsonToken.VALUE_STRING => p.getText
    case JsonToken.VALUE_NUMBER_INT => p.getBigIntegerValue.toString
    case JsonToken.VALUE_NUMBER_FLOAT => NumberOutput.toString(p.getDoubleValue)
    case JsonToken.VALUE_TRUE => "true"
    case JsonToken.VALUE_FALSE => "false"
    case JsonToken.VALUE_NULL => "null"
    case _ => ""
  }

  /** Decode one DDL line — `client.go:316-322` + the three `type` wire
    * shapes of `event.go:58-137`. */
  def decodeDdlEvent(line: String): CdcModel.DdlEvent = {
    val n = mapper.readTree(line)
    val fields = n.path("fields").elements().asScala.map { f =>
      val ts: CdcModel.TypeSpec = f.path("type") match {
        case t if t.isTextual => CdcModel.PlainType(t.asText())
        case t if t.isArray =>
          val members = t.elements().asScala.toSeq
          // A nullable ENUM arrives as ["null", {"type":"enum",...}]:
          // flattening the object with asText would yield "" and drop
          // the enum name/symbols — decode it as a nullable enum.
          members.find(m => m.isObject &&
              m.path("type").asText() == "enum") match {
            case Some(enumNode) =>
              CdcModel.EnumType(enumNode.path("name").asText(),
                enumNode.path("symbols").elements().asScala
                  .map(_.asText()).toSeq,
                nullable = members.exists(m =>
                  m.isTextual && m.asText() == "null"))
            case None =>
              CdcModel.UnionType(members.map(_.asText()))
          }
        case t if t.isObject =>
          CdcModel.EnumType(t.path("name").asText(),
            t.path("symbols").elements().asScala.map(_.asText()).toSeq)
        case t =>
          throw new IllegalArgumentException(s"unsupported field type: $t")
      }
      CdcModel.DdlField(
        name = f.path("name").asText(),
        typeSpec = ts,
        // JSON null must behave like an absent key (a NullNode is a
        // non-null reference: .asText would yield "null", .asInt 0)
        realType = Option(f.get("real_type")).filterNot(_.isNull)
          .map(_.asText()),
        length = Option(f.get("length")).filterNot(_.isNull)
          .map(_.asInt()).filter(_ != -1),
        unsigned = f.path("unsigned").asBoolean(false))
    }.toSeq
    CdcModel.DdlEvent(
      namespace = n.path("namespace").asText(),
      `type` = n.path("type").asText(),
      name = n.path("name").asText(),
      table = n.path("table").asText(),
      database = n.path("database").asText(),
      version = n.path("version").asInt(),
      gtid = n.path("gtid").asText(),
      fields = fields)
  }

  /** DDL line → payload StructType for `from_json` projection. */
  def inferSchema(ddlLine: String): StructType =
    CdcModel.toStructType(decodeDdlEvent(ddlLine))

  /** User-column projection: raw JSON minus the 8 envelope keys —
    * the `TableData()` anti-projection, `event.go:220-236`. */
  def tableData(raw: String): Map[String, Any] = {
    val n = mapper.readTree(raw)
    n.fields().asScala
      .filterNot(e => CdcModel.MetadataKeys.contains(e.getKey))
      .map(e => e.getKey -> jsonValue(e.getValue))
      .toMap
  }

  private def jsonValue(n: JsonNode): Any = n match {
    case _ if n.isNull => null
    case _ if n.isInt => n.asInt()
    case _ if n.isLong => n.asLong()
    case _ if n.isFloatingPointNumber => n.asDouble()
    case _ if n.isBoolean => n.asBoolean()
    case _ if n.isTextual => n.asText()
    case _ => n.toString
  }
}
