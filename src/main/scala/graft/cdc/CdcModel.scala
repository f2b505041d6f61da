package graft.cdc

import org.apache.spark.sql.types._

/** Data model for MaxScale CDC events, re-expressed for Spark.
  *
  * Mirrors the reference semantics (not its code): the event envelope
  * per `event.go:188-212`, the DDL schema record per `event.go:27-56`,
  * and the three wire shapes a field's `type` can take per
  * `event.go:58-137`. The reference delivers these as Go structs on a
  * channel; here the envelope is a fixed Catalyst schema and the DDL
  * record is translated to a `StructType` (SURVEY.md §1.2).
  */
object CdcModel {

  /** One row-change event (envelope). `raw` keeps the verbatim JSON
    * including user columns, exactly like `DMLEvent.Raw`
    * (`event.go:210-211`). */
  final case class DmlEvent(
      domain: Int,
      serverId: Int,
      sequence: Long,
      eventNumber: Int,
      timestamp: Long,
      eventType: String,
      tableName: String,
      tableSchema: String,
      raw: String) {
    /** GTID string, `event.go:216-218`. */
    def gtid: String = s"$domain-$serverId-$sequence"
  }

  /** Schema-change record, `event.go:27-40`. */
  final case class DdlEvent(
      namespace: String,
      `type`: String,
      name: String,
      table: String,
      database: String,
      version: Int,
      gtid: String,
      fields: Seq[DdlField])

  /** One field of a DDL record with its polymorphic `type`
    * (`event.go:46-56`): plain string, Avro union array, or enum. */
  final case class DdlField(
      name: String,
      typeSpec: TypeSpec,
      realType: Option[String],
      length: Option[Int],
      unsigned: Boolean)

  sealed trait TypeSpec
  /** Plain string type, e.g. `"int"` — metadata fields. */
  final case class PlainType(t: String) extends TypeSpec
  /** Avro union, e.g. `["null","long"]` — user columns; `"null"`
    * member ⇒ nullable. */
  final case class UnionType(members: Seq[String]) extends TypeSpec
  /** Enum object `{"type":"enum","name":…,"symbols":[…]}`; `nullable`
    * when it arrived wrapped in a `["null", {enum}]` union. */
  final case class EnumType(name: String, symbols: Seq[String],
      nullable: Boolean = false) extends TypeSpec

  /** The 8 envelope keys stripped by `TableData()` (`event.go:227-234`). */
  val MetadataKeys: Seq[String] = Seq("domain", "server_id", "sequence",
    "event_number", "timestamp", "event_type", "table_name", "table_schema")

  private val decimalRe = """decimal\((\d+),\s*(\d+)\)""".r

  /** Map one Avro/MariaDB type name to a Catalyst type. `realType`
    * (the original MariaDB column type, `event.go:51-52`) refines
    * date/time columns that Avro carries as string/long. */
  def catalystType(avro: String, realType: Option[String]): DataType = {
    realType.map(_.toLowerCase) match {
      case Some("date") => return DateType
      case Some(rt) if rt.startsWith("datetime") ||
        rt.startsWith("timestamp") => return TimestampType
      case Some(decimalRe(p, s)) => return DecimalType(p.toInt, s.toInt)
      case _ =>
    }
    avro match {
      case "int" => IntegerType
      case "long" => LongType
      case "float" => FloatType
      case "double" => DoubleType
      case "boolean" => BooleanType
      case "bytes" => BinaryType
      case decimalRe(p, s) => DecimalType(p.toInt, s.toInt)
      case _ => StringType // string, varchar, char, text, enum symbols
    }
  }

  /** DDL record → Catalyst StructType. Union `["null", T]` ⇒ nullable
    * field; enum ⇒ StringType with its symbols kept in column
    * metadata; `real_type`/`length`/`unsigned` kept in metadata too. */
  def toStructType(ddl: DdlEvent): StructType = StructType(ddl.fields.map {
    f =>
      val mb = new MetadataBuilder()
      f.realType.foreach(mb.putString("real_type", _))
      f.length.foreach(l => mb.putLong("length", l.toLong))
      if (f.unsigned) mb.putBoolean("unsigned", true)
      f.typeSpec match {
        case PlainType(t) =>
          StructField(f.name, catalystType(t, f.realType), nullable = false,
            mb.build())
        case UnionType(members) =>
          val t = members.filterNot(_ == "null").headOption.getOrElse("string")
          StructField(f.name, catalystType(t, f.realType),
            nullable = members.contains("null"), mb.build())
        case EnumType(name, symbols, nullable) =>
          mb.putString("enum_name", name)
          mb.putStringArray("enum_symbols", symbols.toArray)
          StructField(f.name, StringType, nullable, mb.build())
      }
  })
}
