package graft.cdc.source

import java.util

import graft.cdc.Protocol

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable

/** Spark DSv2 streaming source for MaxScale CDC (`format
  * ("maxscale-cdc")`).
  *
  * One stream = one `database.table` change feed, exactly like the
  * reference client (one TCP conn per table, `client.go:144-162`).
  * The source is therefore a SINGLE input partition per micro-batch —
  * parallelism at 100 TB comes from running one stream per table and
  * from downstream shuffles, not from splitting a serial socket.
  *
  * Options: `host`, `port`, `user`, `password`, `uuid`, `database`,
  * `table`, optional `version`, `gtid` (resume offset, server-side
  * skip), `connectTimeoutMs`, `readTimeoutMs`, `writeTimeoutMs`
  * (handshake write deadline — a non-reading broker with a full TCP
  * buffer fails loudly instead of wedging), `schemaWaitMaxMs`
  * (bound the ERR-wait-for-schema loop; 0 = wait forever like the
  * reference), `maxLinesPerBatch` (admission control: cap lines per
  * micro-batch for bounded batch memory behind a backlog),
  * `maxLineBytes` (bounded line scan, default 1 MiB — the reference's
  * scanner cap, client.go:17/257; a newline-less garbage stream fails
  * loudly instead of OOMing the reader) — or `replayFile` for the
  * NDJSON file replay used in tests.
  *
  * Output schema = the DML envelope (SURVEY.md §1.2) + `raw`
  * (verbatim event JSON, payload projectable with `from_json(raw,
  * Protocol.inferSchema(ddl))`, which `graft.cdc.CdcPayloadRule`
  * rewrites to parse the row's UTF-8 bytes). DDL events are emitted
  * as rows with `event_type = "ddl"` and a null envelope —
  * schema-first, exactly as the reference delivers them on the
  * channel (`client_test.go:135-137`).
  *
  * Where each line is decoded: the driver decodes every DML line once,
  * in `MaxScaleCdcMicroBatchStream.drain()`, and keeps its stream key
  * ("domain-server") and sequence beside the raw line; offsets,
  * commits and the recovered-batch checks read those, never the JSON.
  * The executor decodes each line once more into the envelope row.
  * The input partition ships the raw lines rather than decoded
  * envelopes: Java task serialization of per-line objects costs more
  * than a second tree-free envelope scan (`Protocol.decodeDmlEvent`),
  * and the `raw` column needs the line anyway. The payload is parsed
  * by the query's own `from_json(raw, schema)`, in the same task, on
  * the executor: `CdcPayloadRule` turns that call into
  * `CdcPayloadFromJson`, which reads the `raw` bytes without Spark's
  * per-row 8 KiB reader. So a DML line is parsed once as it arrives
  * and twice in the executor task (envelope scan, payload parse).
  *
  * A malformed DML line fails the query, naming the stream and quoting
  * the line, as the reference's loop ends on a decode error
  * (`client.go:240-246`). A restart resumes from the checkpointed GTID
  * and so meets the same line again.
  */
class MaxScaleCdcProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "maxscale-cdc"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    MaxScaleCdcSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new MaxScaleCdcTable(properties)
}

object MaxScaleCdcSource {
  val Schema: StructType = StructType(Seq(
    StructField("domain", IntegerType),
    StructField("server_id", IntegerType),
    StructField("sequence", LongType),
    StructField("event_number", IntegerType),
    StructField("timestamp", TimestampType),
    StructField("event_type", StringType),
    StructField("table_name", StringType),
    StructField("table_schema", StringType),
    StructField("raw", StringType)))

  /** `database.table`, or the replay file: what a decode error names. */
  def streamName(opts: Map[String, String]): String =
    opts.get("replayfile").map(p => s"replay file $p").getOrElse(
      s"${opts.getOrElse("database", "?")}.${opts.getOrElse("table", "?")}")

  /** [[Protocol.decodeDmlEvent]], with the stream and line in errors. */
  def decodeDml(line: String, stream: String): graft.cdc.CdcModel.DmlEvent =
    try Protocol.decodeDmlEvent(line)
    catch {
      case e: java.io.IOException => throw new java.io.IOException(
        s"maxscale-cdc $stream: malformed DML line: ${line.take(120)}", e)
    }

  def transportFor(opts: Map[String, String]): CdcTransport = {
    opts.get("replayfile") match {
      case Some(path) => new ReplayTransport(path, opts.get("gtid"))
      case None => new SocketTransport(
        host = opts.getOrElse("host", "localhost"),
        port = opts.getOrElse("port", "4001").toInt,
        user = opts.getOrElse("user", ""),
        password = opts.getOrElse("password", ""),
        uuid = opts.getOrElse("uuid", java.util.UUID.randomUUID().toString),
        database = opts.getOrElse("database",
          throw new IllegalArgumentException("option 'database' required")),
        table = opts.getOrElse("table",
          throw new IllegalArgumentException("option 'table' required")),
        version = opts.get("version").map(_.toInt),
        gtid = opts.get("gtid"),
        connectTimeoutMs = opts.getOrElse("connecttimeoutms", "5000").toInt,
        readTimeoutMs = opts.getOrElse("readtimeoutms", "5000").toInt,
        schemaWaitMaxMs = opts.getOrElse("schemawaitmaxms", "0").toLong,
        writeTimeoutMs = opts.getOrElse("writetimeoutms", "5000").toInt,
        maxLineBytes = opts.getOrElse("maxlinebytes",
          SocketTransport.DefaultMaxLineBytes.toString).toInt)
    }
  }
}

final class MaxScaleCdcTable(properties: util.Map[String, String])
    extends Table with SupportsRead {
  import scala.jdk.CollectionConverters._
  private val opts = properties.asScala.map { case (k, v) =>
    k.toLowerCase -> v
  }.toMap
  override def name(): String =
    s"maxscale-cdc:${opts.getOrElse("database", "?")}." +
      s"${opts.getOrElse("table", opts.getOrElse("replayfile", "?"))}"
  override def schema(): StructType = MaxScaleCdcSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = MaxScaleCdcSource.Schema

        override def toMicroBatchStream(loc: String): MicroBatchStream =
          new MaxScaleCdcMicroBatchStream(opts)

        /** Batch read of a CAPTURED log (`spark.read.format(
          * "maxscale-cdc").option("replayFile", …)`): drains the
          * replay transport once — same decode path, same GTID-resume
          * option, no checkpoint machinery. Only meaningful for
          * bounded captures, so live socket feeds are refused: a
          * socket stream has no end for a batch to stop at. */
        override def toBatch: Batch = {
          require(opts.contains("replayfile"),
            "maxscale-cdc batch read requires the 'replayFile' option " +
              "— live socket feeds are streaming-only (readStream)")
          new Batch {
            override def planInputPartitions(): Array[InputPartition] = {
              val t = MaxScaleCdcSource.transportFor(opts)
              val lines = mutable.ArrayBuffer[String]()
              try {
                t.start()
                var got = t.poll()
                while (got.nonEmpty) { lines ++= got; got = t.poll() }
              } finally t.close()
              Array(CdcInputPartition(lines.toArray))
            }
            override def createReaderFactory(): PartitionReaderFactory =
              CdcReaderFactory(MaxScaleCdcSource.streamName(opts))
          }
        }
      }
    }
}

/** Offset = (count of lines delivered, GTID of the last DML line,
  * count of schema/DDL lines delivered) — the line count is the
  * monotone cursor Spark compares, the GTID is the durable resume
  * position, and the DDL count makes recovered batches verifiable
  * (below). On restart the stream reconnects with `REQUEST-DATA …
  * <gtid>` (the reference's `WithGTID` server-side seek,
  * `client.go:122-126`) and drops the inclusive redelivery, so
  * committed data is never re-emitted and uncommitted data is
  * recovered from the server, not from a lost in-memory buffer.
  *
  * Redelivery semantics on resume: DML events are exactly-once by
  * sequence (the server replays from the resume GTID inclusive; the
  * already-delivered head is dropped by sequence comparison); schema
  * DDL records are at-least-once — every (re)connection sends the
  * schema first, exactly like the reference stream.
  *
  * Multi-domain feeds: the offset also carries a per-(domain,
  * server_id) sequence watermark map (`marks`). Sequences are
  * per-replication-stream counters, so redelivery after a restart is
  * deduplicated against the watermark of the SAME "domain-server" key
  * — a single global threshold would misdrop or duplicate events when
  * several replication domains interleave on one feed. Offsets from
  * older checkpoints (no marks) fall back to the single-threshold
  * rule derived from the resume GTID.
  *
  * Recovered-batch stability contract: when a batch [s,e) that was
  * planned before a restart is replayed, its row CONTENT is stable
  * for DML rows (same sequences, from the server's GTID replay). For
  * schema lines the offsets' DDL counts arbitrate: if the original
  * attempt delivered no schema line inside [s,e), re-sent schema
  * lines arriving during recovery are suppressed (they are provably
  * duplicates — a schema precedes every delivered DML, so with a
  * non-empty resume GTID it was already delivered before s), and the
  * recovered batch is byte-stable; if the original batch DID contain
  * schema lines, the recovered slice is verified to contain the same
  * number, and the source fails loudly instead of silently delivering
  * displaced rows to a transactional sink keyed on batch id.
  *
  * Every field is computed from what `drain()` decoded when the line
  * arrived (the stream key and sequence kept beside each buffered
  * line); the GTID string is built only when an offset is made.
  */
final case class CdcOffset(index: Long, lastGtid: String, ddl: Long = -1L,
    marks: Map[String, Long] = Map.empty) extends Offset {
  override def json(): String = {
    // sorted keys → byte-stable offset log entries
    val m =
      if (marks.isEmpty) ""
      else marks.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":$v""" }
        .mkString(""","marks":{""", ",", "}")
    s"""{"n":$index,"gtid":"$lastGtid","ddl":$ddl$m}"""
  }
}

object CdcOffset {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  def parse(json: String): CdcOffset = {
    val node = mapper.readTree(json)
    // ddl defaults to -1 ("unknown") for offsets written by older
    // checkpoints — recovery verification is skipped for those.
    val ddl = if (node.has("ddl")) node.path("ddl").asLong() else -1L
    val marks =
      if (!node.has("marks")) Map.empty[String, Long]
      else {
        val it = node.path("marks").properties().iterator()
        val b = Map.newBuilder[String, Long]
        while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asLong() }
        b.result()
      }
    CdcOffset(node.path("n").asLong(), node.path("gtid").asText(""), ddl, marks)
  }
}

final class MaxScaleCdcMicroBatchStream(opts: Map[String, String])
    extends MicroBatchStream with SupportsAdmissionControl {

  import MaxScaleCdcMicroBatchStream.Buffered

  private val stream = MaxScaleCdcSource.streamName(opts)
  private var transport: CdcTransport = _
  private var started = false
  // Buffered lines with their absolute index [firstIndex, ...], each
  // decoded once on arrival (drain).
  private val buffer = mutable.ArrayDeque[Buffered]()
  private var firstIndex = 0L
  // Newest delivered DML line (null: none since the restore point,
  // whose GTID is restoredGtid). Its GTID is built on demand.
  private var lastDml: Buffered = _
  private var restoredGtid = ""
  private def lastGtid: String =
    if (lastDml == null) restoredGtid else lastDml.gtid
  // One shared "domain-server" key string per replication stream.
  private val streamKeys = mutable.LongMap[String]()
  // Cumulative count of schema/DDL lines delivered since stream origin
  // (carried in CdcOffset.ddl — see the offset contract above).
  private var ddlCount = 0L
  // Per-(domain, server) high-water sequence of delivered DML, carried
  // in CdcOffset.marks (the multi-domain watermark map).
  private val marks = mutable.Map[String, Long]()
  // Dedupe thresholds captured at restore: a redelivered DML at or
  // below its OWN stream's ("domain-server") threshold is dropped.
  private var dedupe: Map[String, Long] = Map.empty
  // Smallest checkpointed offset seen before the transport started =
  // the committed position to resume from.
  private var restore: Option[CdcOffset] = None
  // DDL count at the restore point (-1 = unknown / old checkpoint).
  private var restoreDdl = -1L
  // End offset of a batch planned before a restart that is being
  // recovered from server replay; while the buffer is refilling below
  // this index, re-sent schema lines are suppressed iff the original
  // attempt delivered none in the range (offset contract above).
  private var recoveryTarget: Option[CdcOffset] = None
  // Offset state AT firstIndex (advanced in commit() as the committed
  // prefix is dropped) — the baseline for synthesizing mid-buffer
  // offsets under ReadLimit.maxRows admission control.
  private var baseGtid = ""
  private var baseDdl = 0L
  private val baseMarks = mutable.Map[String, Long]()

  private def ensureStarted(): Unit = synchronized {
    if (!started) {
      val effectiveOpts = restore match {
        case Some(o) if o.lastGtid.nonEmpty => opts + ("gtid" -> o.lastGtid)
        case _ => opts
      }
      restore.foreach { o =>
        firstIndex = o.index
        restoredGtid = o.lastGtid
        restoreDdl = o.ddl
        if (o.ddl >= 0) ddlCount = o.ddl
        dedupe =
          if (o.marks.nonEmpty) o.marks
          else Protocol.parseGtid(o.lastGtid) // pre-marks checkpoint
            .map { case (d, s, q) => Map(s"$d-$s" -> q) }
            .getOrElse(Map.empty)
        marks ++= dedupe
        baseGtid = o.lastGtid
        baseDdl = math.max(o.ddl, 0L)
        baseMarks ++= dedupe
      }
      transport = MaxScaleCdcSource.transportFor(effectiveOpts)
      transport.start()
      started = true
    }
  }

  private def drain(): Unit = synchronized {
    transport.error.foreach(t => throw t)
    transport.poll().foreach { line =>
      if (Protocol.isDmlEvent(line)) {
        val e = MaxScaleCdcSource.decodeDml(line, stream)
        val key = streamKey(e.domain, e.serverId)
        if (e.sequence > dedupe.getOrElse(key, Long.MinValue)) {
          lastDml = Buffered(line, key, e.sequence)
          buffer += lastDml
          marks(key) = math.max(marks.getOrElse(key, Long.MinValue),
            e.sequence)
        } // else: inclusive redelivery of an already-delivered event
      } else {
        // Schema records are at-least-once, EXCEPT while recovering a
        // replayed range whose original attempt contained no schema
        // line (target.ddl == restoreDdl): there the re-sent schema is
        // provably a duplicate of one delivered before the range (a
        // schema precedes every DML), so it is suppressed to keep the
        // recovered batch byte-stable.
        val recovering = recoveryTarget.exists(t =>
          firstIndex + buffer.size < t.index)
        val provableDup = recovering && restoreDdl >= 0 &&
          recoveryTarget.get.ddl == restoreDdl && restore.exists(_.lastGtid.nonEmpty)
        if (!provableDup) {
          buffer += Buffered(line, null, 0L)
          ddlCount += 1
        }
      }
    }
  }

  private def streamKey(domain: Int, serverId: Int): String = {
    val id = (domain.toLong << 32) | (serverId & 0xffffffffL)
    val k = streamKeys.getOrNull(id)
    if (k != null) k
    else { val s = s"$domain-$serverId"; streamKeys(id) = s; s }
  }

  /** Fold the first `n` buffered lines into the watermark map `m`,
    * starting from (`gtid`, `ddl`); returns (gtid, ddl) after them. */
  private def foldPrefix(n: Int, gtid: String, ddl: Long,
      m: mutable.Map[String, Long]): (String, Long) = {
    var last: Buffered = null
    var d = ddl
    buffer.iterator.take(n).foreach { b =>
      if (b.isDml) {
        last = b
        m(b.stream) = math.max(m.getOrElse(b.stream, Long.MinValue),
          b.sequence)
      } else d += 1
    }
    (if (last == null) gtid else last.gtid, d)
  }

  /** Record a checkpointed position as the resume point, if the
    * transport has not connected yet (smallest index wins — the
    * committed start of a recovering batch). */
  private def captureRestore(o: CdcOffset): Unit = synchronized {
    if (!started && restore.forall(_.index > o.index)) restore = Some(o)
  }

  override def initialOffset(): Offset = CdcOffset(0L, "", 0L)

  override def deserializeOffset(json: String): Offset = {
    val o = CdcOffset.parse(json)
    captureRestore(o)
    o
  }

  /** Backpressure: with `maxLinesPerBatch` set, each micro-batch
    * admits at most that many lines (ReadLimit.maxRows) — bounded
    * batch memory and bounded recovery replay regardless of how far
    * the stream is behind, instead of one unbounded catch-up batch. */
  override def getDefaultReadLimit: ReadLimit =
    opts.get("maxlinesperbatch") // keys lowercased by MaxScaleCdcTable
      .map(n => ReadLimit.maxRows(n.toLong))
      .getOrElse(ReadLimit.allAvailable())

  /** Offset fields (gtid / ddl count / watermark map) as of a
    * mid-buffer index: replay the baseline state at firstIndex through
    * the buffered lines below `endIdx`. Only used for capped batches. */
  private def offsetAt(endIdx: Long): CdcOffset = {
    val m = baseMarks.clone()
    val (g, d) = foldPrefix((endIdx - firstIndex).toInt, baseGtid, baseDdl, m)
    CdcOffset(endIdx, g, d, m.toMap)
  }

  /** Admission-control variant — the engine passes the checkpointed
    * start offset here on a clean restart, which is the only hook
    * where the resume GTID is known before the transport connects. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    captureRestore(start.asInstanceOf[CdcOffset])
    ensureStarted(); drain()
    synchronized {
      val avail = firstIndex + buffer.size
      val cap = limit match {
        case mr: org.apache.spark.sql.connector.read.streaming.ReadMaxRows =>
          math.min(avail,
            start.asInstanceOf[CdcOffset].index + mr.maxRows())
        case _ => avail
      }
      if (cap >= avail) CdcOffset(avail, lastGtid, ddlCount, marks.toMap)
      else offsetAt(cap)
    }
  }

  override def latestOffset(): Offset =
    throw new IllegalStateException(
      "latestOffset(start, limit) is used (SupportsAdmissionControl)")

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val startOff = start.asInstanceOf[CdcOffset]
    val endOff = end.asInstanceOf[CdcOffset]
    captureRestore(startOff)
    // If the transport has not connected yet, this call is recovering
    // a batch planned before a restart — its end offset arbitrates the
    // schema-line suppression in drain() (offset contract above).
    synchronized { if (!started) recoveryTarget = Some(endOff) }
    ensureStarted()
    val s = startOff.index
    val e = endOff.index
    // Recovery of a WAL'd-but-uncommitted batch: the buffer refills
    // from the server's GTID replay — wait (bounded) until it covers
    // the requested end offset before slicing.
    val deadline = System.currentTimeMillis() + 30000
    while (synchronized { firstIndex + buffer.size } < e &&
        System.currentTimeMillis() < deadline) {
      drain()
      if (synchronized { firstIndex + buffer.size } < e) Thread.sleep(20)
    }
    synchronized {
      if (firstIndex + buffer.size < e)
        throw new java.io.IOException(
          s"could not recover batch [$s,$e): server redelivered only " +
            s"${firstIndex + buffer.size - s} of ${e - s} lines")
      // Undershoot: a range below the committed/dropped prefix must
      // fail loudly — slice() would silently clamp to wrong rows.
      if (s < firstIndex)
        throw new java.io.IOException(
          s"stale batch request [$s,$e): lines before index $firstIndex " +
            "were already committed and dropped from the buffer")
      val batch = buffer.view.slice((s - firstIndex).toInt,
        (e - firstIndex).toInt)
      // Recovered-batch stability check: when both offsets carry DDL
      // counts, the slice must contain exactly the schema lines the
      // original attempt delivered in [s,e) — otherwise a re-sent
      // schema line has displaced a DML into the next batch, and a
      // transactional sink keyed on batch id would see unstable
      // contents. Fail loudly rather than deliver displaced rows.
      if (startOff.ddl >= 0 && endOff.ddl >= 0) {
        val expected = endOff.ddl - startOff.ddl
        val actual = batch.count(!_.isDml).toLong
        if (actual != expected)
          throw new java.io.IOException(
            s"batch [$s,$e) contains $actual schema lines but the " +
              s"planning attempt delivered $expected — refusing to " +
              "deliver displaced rows to a batch-id-keyed sink")
      }
      Array(CdcInputPartition(batch.map(_.line).toArray))
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    CdcReaderFactory(stream)

  override def commit(end: Offset): Unit = synchronized {
    val e = end.asInstanceOf[CdcOffset].index
    val drop = math.min((e - firstIndex).toInt, buffer.size)
    if (drop > 0) {
      // advance the firstIndex baseline state over the dropped prefix,
      // then drop it in O(drop) (the deque does not shift the rest)
      val (g, d) = foldPrefix(drop, baseGtid, baseDdl, baseMarks)
      baseGtid = g
      baseDdl = d
      buffer.dropInPlace(drop)
    }
    firstIndex = math.max(firstIndex, e)
  }

  override def stop(): Unit = if (transport != null) transport.close()
}

object MaxScaleCdcMicroBatchStream {
  /** A buffered line as decoded on arrival: `stream` is the shared
    * "domain-server" key of a DML line (null for a schema line). */
  private final case class Buffered(line: String, stream: String,
      sequence: Long) {
    def isDml: Boolean = stream != null
    def gtid: String = s"$stream-$sequence"
  }
}

final case class CdcInputPartition(lines: Array[String])
    extends InputPartition

/** Reader factory of the streaming and the batch replay read; `stream`
  * is what a decode error names. */
final case class CdcReaderFactory(stream: String)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new CdcPartitionReader(p.asInstanceOf[CdcInputPartition].lines, stream)
}

/** Decodes one micro-batch of event lines into envelope rows
  * (reference decode dispatch `client.go:289-304`). */
final class CdcPartitionReader(lines: Array[String], stream: String)
    extends PartitionReader[InternalRow] {
  private var i = -1
  override def next(): Boolean = { i += 1; i < lines.length }
  override def get(): InternalRow = {
    val line = lines(i)
    if (Protocol.isDmlEvent(line)) {
      val e = MaxScaleCdcSource.decodeDml(line, stream)
      InternalRow(e.domain, e.serverId, e.sequence, e.eventNumber,
        e.timestamp * 1000000L, // unix secs → µs TimestampType
        UTF8String.fromString(e.eventType),
        UTF8String.fromString(e.tableName),
        UTF8String.fromString(e.tableSchema),
        UTF8String.fromString(line))
    } else {
      InternalRow(null, null, null, null, null,
        UTF8String.fromString("ddl"), null, null,
        UTF8String.fromString(line))
    }
  }
  override def close(): Unit = ()
}
