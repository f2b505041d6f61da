package graft.cdc

import com.fasterxml.jackson.core.{JsonFactory, JsonParser}

import graft.cdc.source.MaxScaleCdcTable

import org.apache.spark.sql.GraftExpressionBridge
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, ExprId, Expression, ExprUtils, JsonToStructs, TimeZoneAwareExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.json.{CreateJacksonParser, JacksonParser, JSONOptions}
import org.apache.spark.sql.catalyst.plans.logical.{Join, LeafNode, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.JSON_TO_STRUCT
import org.apache.spark.sql.catalyst.util.{FailFastMode, FailureSafeParser, PermissiveMode}
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation, StreamingDataSourceV2ScanRelation}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, MapType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** `from_json(raw, schema)` over the `raw` column of a `maxscale-cdc`
  * relation, parsed from the row's UTF-8 bytes.
  *
  * Spark's `from_json` (`JsonToStructs`) opens every row through
  * `CreateJacksonParser.utf8String`, which wraps the bytes in an
  * `InputStreamReader` with an 8 KiB decoder buffer. This expression is
  * Spark 4.1's `JsonToStructsEvaluator` for a struct schema with only
  * that one call changed: the parser is `JsonFactory.createParser(byte[],
  * off, len)`, the path `spark.read.json` takes for text. Options,
  * parse mode, the corrupt-record column, `JacksonParser` and
  * `FailureSafeParser` are Spark's own, built once per task.
  *
  * Two things read the byte path differently, and both are undone:
  *  - With exact string parsing on (the default), `JacksonParser` copies
  *    the input bytes of a non-string value under a string field when it
  *    can see them, which it cannot through the reader: `[1, 2]` would
  *    read as `[1, 2]`, not as `from_json`'s re-serialized `[1,2]`. The
  *    parser here is built with it off.
  *  - Jackson's byte bootstrapper strips a leading UTF-8 BOM (the reader
  *    fails on it, so `from_json` gives a row of nulls) and takes NUL
  *    bytes among the first four as UTF-16/32. Those rows go through
  *    `CreateJacksonParser.utf8String` unchanged, and so do rows with a
  *    non-ASCII byte when the schema has a binary field (see
  *    `createParser`).
  * Every other valid UTF-8 input tokenizes the same on both paths, and
  * `raw` is always valid UTF-8: the source builds it with
  * `UTF8String.fromString` from a decoded Java string.
  *
  * `schema` is the nullable schema `JsonToStructs` evaluates with.
  * [[CdcPayloadRule]] puts this expression in place; nothing else
  * builds it.
  */
case class CdcPayloadFromJson(schema: StructType, child: Expression,
    timeZoneId: Option[String] = None)
    extends UnaryExpression with TimeZoneAwareExpression with CodegenFallback {

  override def dataType: DataType = schema
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "cdc_payload_from_json"

  override def withTimeZone(timeZoneId: String): TimeZoneAwareExpression =
    copy(timeZoneId = Option(timeZoneId))

  @transient
  private lazy val parser: FailureSafeParser[UTF8String] = {
    val parsedOptions = new JSONOptions(Map.empty[String, String],
      timeZoneId.get, SQLConf.get.getConf(SQLConf.COLUMN_NAME_OF_CORRUPT_RECORD))
    val mode = parsedOptions.parseMode
    if (mode != PermissiveMode && mode != FailFastMode)
      throw GraftExpressionBridge.parseModeUnsupportedError("from_json", mode)
    ExprUtils.verifyColumnNameOfCorruptRecord(schema,
      parsedOptions.columnNameOfCorruptRecord)
    val actualSchema = StructType(
      schema.filterNot(_.name == parsedOptions.columnNameOfCorruptRecord))
    val createParser =
      CdcPayloadFromJson.createParser(CdcPayloadFromJson.hasBinary(schema)) _
    val rawParser = SQLConf.withExistingConf(readerConf) {
      new JacksonParser(actualSchema, parsedOptions, allowArrayAsStructs = false)
    }
    new FailureSafeParser[UTF8String](
      input => rawParser.parse(input, createParser, identity[UTF8String]),
      mode, schema, parsedOptions.columnNameOfCorruptRecord)
  }

  /** The task's SQL conf with exact string parsing off. Spark's reader
    * path gives a non-string value under a string field re-serialized
    * (`[1,2]` for `[1, 2]`, `1.5` for `1.50`); with exact string parsing
    * on, the byte path would copy the input bytes instead. */
  private def readerConf: SQLConf = {
    val conf = new SQLConf
    SQLConf.get.getAllConfs.foreach { case (k, v) => conf.setConfString(k, v) }
    conf.setConf(SQLConf.JSON_EXACT_STRING_PARSING, false)
    conf
  }

  override protected def nullSafeEval(json: Any): Any = {
    val rows = parser.parse(json.asInstanceOf[UTF8String])
    if (rows.hasNext) rows.next() else null
  }

  override protected def withNewChildInternal(
      newChild: Expression): CdcPayloadFromJson = copy(child = newChild)
}

object CdcPayloadFromJson {
  /** A Jackson parser over the record's bytes, or Spark's reader for a
    * record that starts with a UTF-8 BOM, has a NUL byte in its first
    * four bytes, or, when the schema has a binary field, holds any
    * non-ASCII byte: a base64 decode that fails on a multi-byte
    * character leaves the byte parser inside it, where the reader
    * would have consumed the whole character. */
  def createParser(binary: Boolean)(factory: JsonFactory,
      record: UTF8String): JsonParser = {
    val bb = record.getByteBuffer
    val off = bb.arrayOffset + bb.position
    val len = bb.remaining
    val b = bb.array
    var reader = len >= 3 && b(off) == 0xEF.toByte &&
      b(off + 1) == 0xBB.toByte && b(off + 2) == 0xBF.toByte
    val end = if (binary) len else math.min(len, 4)
    var i = 0
    while (!reader && i < end) {
      reader = b(off + i) == 0 || (binary && b(off + i) < 0)
      i += 1
    }
    if (reader) CreateJacksonParser.utf8String(factory, record)
    else factory.createParser(b, off, len)
  }

  def hasBinary(t: DataType): Boolean = t match {
    case BinaryType => true
    case s: StructType => s.fields.exists(f => hasBinary(f.dataType))
    case a: ArrayType => hasBinary(a.elementType)
    case m: MapType => hasBinary(m.keyType) || hasBinary(m.valueType)
    case _ => false
  }
}

/** Rewrites `from_json(raw, <struct>)` into [[CdcPayloadFromJson]] when
  * `raw` is the bare `raw` column of a `maxscale-cdc` relation and the
  * call has no options. Installed by `graft.GraftExtensions` as a
  * pre-CBO rule, so it runs after Spark's `OptimizeJsonExprs` has
  * pruned the schema to the fields the query reads, on streaming
  * micro-batches and batch replay reads alike. Every other
  * `from_json` is left alone.
  */
object CdcPayloadRule extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!plan.containsPattern(JSON_TO_STRUCT)) return plan
    val raw = rawIds(plan)
    if (raw.isEmpty) plan
    else plan.transformAllExpressionsWithPruning(
        _.containsPattern(JSON_TO_STRUCT)) {
      case j @ JsonToStructs(_: StructType, options, a: AttributeReference, tz)
          if options.isEmpty && raw(a.exprId) =>
        CdcPayloadFromJson(j.dataType.asInstanceOf[StructType], a, tz)
    }
  }

  private def isCdc(leaf: LogicalPlan): Boolean = leaf match {
    case r: StreamingDataSourceV2ScanRelation =>
      r.relation.table.isInstanceOf[MaxScaleCdcTable]
    case r: DataSourceV2ScanRelation =>
      r.relation.table.isInstanceOf[MaxScaleCdcTable]
    case r: DataSourceV2Relation => r.table.isInstanceOf[MaxScaleCdcTable]
    case _ => false
  }

  /** Ids of the attributes that hold a `maxscale-cdc` relation's `raw`
    * values and nothing else. A single-child node or a join passes its
    * children's attributes up unchanged; a union (or any other node
    * that outputs one child's attributes over several children's rows)
    * stops them. */
  private def rawIds(plan: LogicalPlan): Set[ExprId] = plan match {
    case l: LeafNode =>
      if (isCdc(l)) l.output.filter(_.name == "raw").map(_.exprId).toSet
      else Set.empty
    case _ =>
      val below = plan.children.flatMap(rawIds).toSet
      if (plan.children.size == 1 || plan.isInstanceOf[Join]) below
      else below -- plan.output.map(_.exprId)
  }
}
