package graft.sources
import graft.Lineage.LineageOps

import java.io.{BufferedInputStream, BufferedOutputStream,
  ByteArrayOutputStream, DataInputStream, DataOutputStream, File,
  FileInputStream, FileOutputStream}
import java.util
import java.util.UUID
import java.util.zip.{CRC32, CheckedInputStream, CheckedOutputStream}

import scala.collection.JavaConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression,
  GenericInternalRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite,
  Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition,
  PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics,
  SupportsPushDownAggregates, SupportsPushDownFilters,
  SupportsPushDownRequiredColumns, SupportsReportStatistics}
import org.apache.spark.sql.sources
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter,
  DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate,
  Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory,
  StreamingWrite}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** `graft-manifest` — a DSv2 WRITE path (the library's sink-side
  * counterpart of the maxscale-cdc source): an atomic, manifest-gated
  * table format implementing the full connector commit protocol.
  *
  * Write: every task writes a uniquely-named data file (paged COLUMNAR
  * layout: per-page column blocks with per-block CRC32s + a running
  * whole-file CRC32) and reports (file, rows, crc) in
  * its WriterCommitMessage; the DRIVER's `BatchWrite.commit` then
  * atomically publishes `_graft_manifest.json` (schema DDL + committed
  * file list) via write-temp-then-rename. Visibility is manifest-gated:
  * a reader lists the manifest, never the directory — so half-written
  * files from failed/speculative task attempts are invisible by
  * construction, `abort` only has to delete named files, and two
  * engines can hand a table over by exchanging one JSON document.
  * This is the commit design of production table formats (the
  * Iceberg/Delta snapshot idea reduced to a single manifest), and at
  * 100 TB it is what makes a distributed write all-or-nothing without
  * a rename-per-file commit storm: N data files, ONE atomic publish.
  *
  * Read: one InputPartition per manifest entry (reads parallelize per
  * file), each reader re-checksums what it reads and fails loudly on
  * corruption — the read-repair hook a fleet needs. Column pruning
  * (`SupportsPushDownRequiredColumns`) is pushed into the file layout:
  * unreferenced column blocks are SEEKED past, and a zero-column read
  * (`count()`) touches only page headers.
  *
  * Cited scope: the reference (SURVEY Part R) has no write path at
  * all; this is an engine addition declared in SURVEY §2.2.
  */
final class ManifestSinkProvider extends TableProvider
    with DataSourceRegister {
  override def shortName(): String = "graft-manifest"
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val opts = options.asScala.toMap
    val path = ManifestSink.requirePath(opts)
    val asOf = ManifestSink.asOfFromOptions(path, opts)
    // `metadata` reads the table's own manifests as a DataFrame
    // (Iceberg's files/history metadata tables): inspect a 100 TB
    // table's layout without opening one data file
    opts.collectFirst {
      case (k, v) if k.equalsIgnoreCase("metadata") => v.toLowerCase
    } match {
      case Some(kind) =>
        return ManifestMetadataTable.schemaFor(kind)
      case None => ()
    }
    // time travel resolves the SNAPSHOT's schema — a table whose
    // schema evolved across versions reads each version in its own
    // shape
    val branch = opts.collectFirst {
      case (k, v) if k.equalsIgnoreCase("branch") => v }
    val tag = opts.collectFirst {
      case (k, v) if k.equalsIgnoreCase("tag") => v }
    val base = StructType.fromDDL(
      ManifestSink.readRef(path, asOf, branch, tag).schemaDdl)
    // `withRowMeta` appends the physical row-address columns
    // (file name + row ordinal) — what row-level DELETE computes
    // positions from (Iceberg's _file/_pos metadata columns)
    if (opts.exists { case (k, v) =>
        k.equalsIgnoreCase("readChangeFeed") && v.toBoolean })
      return StructType(base.fields
        :+ org.apache.spark.sql.types.StructField(ManifestSink.CdfTypeCol,
          org.apache.spark.sql.types.StringType, nullable = false)
        :+ org.apache.spark.sql.types.StructField(
          ManifestSink.CdfVersionCol,
          org.apache.spark.sql.types.LongType, nullable = false))
    if (opts.exists { case (k, v) =>
        k.equalsIgnoreCase("withRowMeta") && v.toBoolean })
      StructType(base.fields
        :+ org.apache.spark.sql.types.StructField(ManifestSink.MetaFileCol,
          org.apache.spark.sql.types.StringType, nullable = false)
        :+ org.apache.spark.sql.types.StructField(ManifestSink.MetaPosCol,
          org.apache.spark.sql.types.LongType, nullable = false))
    else base
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = properties.asScala.toMap
    val path = ManifestSink.requirePath(opts)
    opts.collectFirst {
      case (k, v) if k.equalsIgnoreCase("metadata") => v.toLowerCase
    } match {
      case Some(kind) => new ManifestMetadataTable(path, kind,
        ManifestSink.asOfFromOptions(path, opts))
      case None => new ManifestTable(schema, path)
    }
  }
}

object ManifestSink {
  val ManifestFile = "_graft_manifest.json"
  val DataSuffix = ".graftrows"
  val DelSuffix = ".graftdel"

  /** Schemas persist RELAXED to nullable — the same normalization
    * Spark's own file sinks apply. A write whose plan proves a column
    * non-null (e.g. an UPDATE setting a literal) must not NARROW the
    * table schema: carried-forward files may still hold NULLs, and a
    * reader that believed the non-null declaration would let codegen
    * dereference them (found the hard way: NPE in the hash-agg fast
    * map on a null group key). */
  def nullableDdl(schema: StructType): String =
    StructType(schema.fields.map(_.copy(nullable = true))).toDDL

  /** Hidden row-address metadata columns exposed by
    * `.option("withRowMeta", "true")` — the physical (file, ordinal)
    * identity row-level DELETE is computed against. */
  val MetaFileCol = "_graft_file"
  val MetaPosCol = "_graft_pos"
  val CdfTypeCol = "_change_type"
  val CdfVersionCol = "_change_version"

  /** Columnar page bounds: a page closes at this many rows or this
    * many buffered encoded bytes, whichever first — bounds writer
    * memory while keeping column blocks big enough that a pruned
    * read's seeks are coarse-grained. */
  val PageRows = 4096
  val PageBytes: Long = 1L << 20

  /** Per-file zone map for one integral-typed column (long/int/
    * short/byte/date/timestamp, all carried as Long): the min/max a
    * filtered scan prunes whole files against — Iceberg's
    * lower_bounds/upper_bounds at single-document scale. */
  final case class ColStat(col: String, min: Long, max: Long)

  /** Per-file NULL count for one column (ANY type — unlike zone maps,
    * null counts are type-agnostic): Iceberg's null_value_counts at
    * single-document scale. Two prunes fall out, both safe under
    * row-level deletes (deletes only remove rows, so "no nulls" and
    * "all null" both survive masking): `IS NULL` skips files with
    * n = 0, `IS NOT NULL` skips files whose every row is null — and
    * COUNT(col) answers from the manifest alone on delete-free
    * chains. */
  final case class ColNull(col: String, n: Long)

  /** Per-file bloom filter for one column, declared at write time via
    * `.option("bloomFilterColumns", "a,b")` — the file-skip structure
    * for POINT lookups on scattered keys, the case zone maps
    * fundamentally cannot serve (a hash-distributed key's min/max
    * spans every file; its bloom does not). Parquet/Iceberg ship the
    * same idea (parquet bloom pages / puffin blobs). Conservative by
    * construction: a bloom can only prove ABSENCE, so pruning can
    * never change results; every filter stays engine-applied.
    * Integral/date/timestamp columns key on the same physical Long
    * the zone maps carry; STRING columns (which zone maps skip
    * entirely) key on FNV-1a64 of the UTF-8 bytes. The hash scheme is
    * part of the on-disk contract, like Iceberg pinning murmur3. */
  final case class ColBloom(col: String, k: Int, bits: Int,
      data: Array[Byte]) {
    def mightContain(key: Long): Boolean = {
      val h1 = mix64(key)
      val h2 = mix64(key + 0x9E3779B97F4A7C15L) | 1L
      var i = 0
      while (i < k) {
        val pos = java.lang.Long
          .remainderUnsigned(h1 + i.toLong * h2, bits.toLong).toInt
        if ((data(pos >>> 3) & (1 << (pos & 7))) == 0) return false
        i += 1
      }
      true
    }
  }

  /** Default bloom geometry: 64 Ki bits (8 KiB) per column per file,
    * 7 probes — ~1 % false-positive rate at ~6.5 k distinct keys per
    * file, and still useful well past that (a saturated bloom only
    * stops pruning, never mis-prunes). `bloomFilterBits` overrides
    * per write for known file cardinalities. */
  val BloomBits: Int = 1 << 16
  val BloomK: Int = 7

  /** splitmix64 finalizer — full-avalanche 64-bit mix (public domain
    * constant set; same family as [[bucketOf]]). */
  def mix64(v: Long): Long = {
    var z = v + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def fnv64(bytes: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** Writer-side insert: same probe positions as
    * [[ColBloom.mightContain]]. */
  def bloomSet(data: Array[Byte], bits: Int, k: Int, key: Long): Unit = {
    val h1 = mix64(key)
    val h2 = mix64(key + 0x9E3779B97F4A7C15L) | 1L
    var i = 0
    while (i < k) {
      val pos = java.lang.Long
        .remainderUnsigned(h1 + i.toLong * h2, bits.toLong).toInt
      data(pos >>> 3) = (data(pos >>> 3) | (1 << (pos & 7))).toByte
      i += 1
    }
  }

  /** Probe-time canonical key for a pushed filter literal: integral
    * shapes via [[litLong]] (the writer's physical Long), strings via
    * the writer's FNV-1a64-of-UTF-8. Unknown shapes answer None → no
    * pruning. */
  def bloomKey(v: Any): Option[Long] = v match {
    case s: String =>
      Some(fnv64(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    case u: org.apache.spark.unsafe.types.UTF8String =>
      Some(fnv64(u.getBytes))
    case other => litLong(other)
  }

  /** May `f` match any row of a file with these blooms? Only equality
    * shapes consult a bloom (EqualTo / null-safe equality / In —
    * membership is all a bloom answers); everything else is
    * conservative true. Blooms index NON-NULL values only, so null
    * predicates never prune here. */
  def bloomMayMatch(blooms: Seq[ColBloom], f: sources.Filter): Boolean = {
    def bf(c: String) = blooms.find(_.col == c)
    f match {
      case sources.EqualTo(c, v) => (bf(c), bloomKey(v)) match {
        case (Some(b), Some(key)) => b.mightContain(key)
        case _ => true
      }
      case sources.EqualNullSafe(c, v) if v != null =>
        (bf(c), bloomKey(v)) match {
          case (Some(b), Some(key)) => b.mightContain(key)
          case _ => true
        }
      case sources.In(c, vs) => bf(c) match {
        case Some(b) =>
          // prune only when EVERY value canonicalizes and none is
          // possibly present
          val ks = vs.toSeq.map(bloomKey)
          !ks.forall(_.isDefined) || ks.flatten.exists(b.mightContain)
        case None => true
      }
      case sources.And(l, r) =>
        bloomMayMatch(blooms, l) && bloomMayMatch(blooms, r)
      case _ => true
    }
  }

  /** A positional delete file attached to one data file (the
    * merge-on-read half of row-level DELETE — Iceberg's positional
    * delete / delete-vector idea at single-document scale): `n`
    * physical row ordinals of the data file, written
    * `[n:int][pos:long]*`, CRC32'd. Multiple delete files on one
    * entry are disjoint by construction (a later DELETE only sees
    * live rows), so their counts are additive and the live row count
    * stays exact metadata. */
  final case class DelFile(name: String, n: Long, crc: Long)

  /** `schemaDdl = None` means "written with the manifest's current
    * schema"; `Some` records the file's OWN schema after the table
    * evolved across appends — the reader resolves columns by NAME per
    * file and fills missing ones with NULL (the parquet evolution
    * contract, applied to this format). `part`/`pspec` record the
    * file's partition value under the transform it was WRITTEN with
    * (per-entry, so appends that change the partition spec never
    * mis-prune old files). */
  final case class Entry(name: String, rows: Long, crc: Long,
      stats: Seq[ColStat] = Nil, schemaDdl: Option[String] = None,
      part: Option[Long] = None, pspec: Option[String] = None,
      blooms: Seq[ColBloom] = Nil, deletes: Seq[DelFile] = Nil,
      seq: Option[Long] = None, colIds: Option[Seq[ColId]] = None,
      nulls: Seq[ColNull] = Nil) {
    /** Live rows after merge-on-read POSITIONAL deletes — exact,
      * because delete files on one entry never overlap. (Equality
      * deletes are not counted here: their match count is unknown
      * until read — that is the price of their O(metadata) write.) */
    def liveRows: Long = rows - deletes.map(_.n).sum
  }

  /** An EQUALITY delete (Iceberg v2's second delete flavor): "every
    * row whose `col` is in `values`, in any data file committed at a
    * sequence number BELOW `seq`, is deleted". Writing one is pure
    * manifest surgery — no table scan, no data IO: the O(metadata)
    * DELETE for a 100 TB table, at the cost of read-time filtering
    * and an unknown match count (COUNT(*) pushdown declines while
    * any equality delete is live; compaction re-exactifies). The
    * sequence bound is what makes later re-inserts of the same key
    * visible — exactly Iceberg's sequence-number semantics. Values
    * are canonicalized like the zone maps/blooms: integral shapes as
    * their physical Long, strings as-is. */
  final case class EqDelete(col: String, seq: Long, values: Seq[String])

  /** A stable FIELD ID for one column (the Iceberg rename design at
    * single-document scale): ids, not names, are a column's identity.
    * `Manifest.colIds` maps the CURRENT schema's names to ids;
    * `Entry.colIds` (written only by a RENAME COLUMN commit) freezes
    * the name→id mapping a file's recorded schema was valid under, so
    * the reader can resolve "current name ↔ name in this file" purely
    * through the id. Tables that were never renamed carry neither —
    * resolution stays pure name-based, bit-identical to before. */
  final case class ColId(name: String, id: Int)

  /** `txns` maps a streaming query id to the last epoch it committed
    * (Delta's txnAppId → txnVersion): the idempotence token of the
    * streaming sink, carried forward by every commit (see
    * [[commitSnapshot]]). */
  final case class Manifest(schemaDdl: String, files: Seq[Entry],
      version: Long = 0L, eqDeletes: Seq[EqDelete] = Nil,
      colIds: Seq[ColId] = Nil, lastColId: Int = -1,
      committedAt: Long = 0L, txns: Map[String, Long] = Map.empty)

  /** Current name→id mapping, synthesized positionally for tables
    * that never declared one (any consistent assignment is valid
    * while every entry is in current-name space). */
  def currentColIds(m: Manifest): Seq[ColId] =
    if (m.colIds.nonEmpty) m.colIds
    else StructType.fromDDL(m.schemaDdl).fieldNames.zipWithIndex
      .map { case (n, i) => ColId(n, i) }.toSeq

  /** Rewrite every id-frozen entry into the manifest's CURRENT name
    * space — per-entry schema, zone-map stats, bloom columns, and the
    * partition spec all resolve file-local name → field id → current
    * name. Runs on every manifest READ (the single choke point), so
    * the rest of the engine — scan planning, pruning, eq-delete
    * masks, commit paths that re-publish entries — only ever sees
    * current names and needs no id awareness. A field whose id was
    * dropped from the current schema keeps its values unreachable
    * under a reserved name (it can never collide with a live column).
    * No-op (and allocation-free) for never-renamed tables. */
  private def normalize(m: Manifest): Manifest =
    if (m.files.forall(_.colIds.isEmpty)) m
    else {
      val byId = currentColIds(m).map(c => c.id -> c.name).toMap
      val files = m.files.map { e =>
        e.colIds match {
          case None => e
          case Some(frozen) =>
            val idOf = frozen.map(c => c.name -> c.id).toMap
            def cur(fileLocal: String): String =
              idOf.get(fileLocal).flatMap(byId.get).getOrElse(
                s"__graft_dropped_${idOf.getOrElse(fileLocal, -1)}_$fileLocal")
            val ddl = e.schemaDdl.map { d =>
              val fs = StructType.fromDDL(d)
              StructType(fs.fields.map(f => f.copy(name = cur(f.name)))).toDDL
            }
            e.copy(
              schemaDdl = ddl,
              stats = e.stats.map(s => s.copy(col = cur(s.col))),
              blooms = e.blooms.map(b => b.copy(col = cur(b.col))),
              nulls = e.nulls.map(x => x.copy(col = cur(x.col))),
              pspec = e.pspec.map { ps =>
                val spec = parsePartSpec(ps)
                val t = cur(spec.col)
                spec match {
                  case IdentityPart(_) => IdentityPart(t).describe
                  case DaysPart(_) => DaysPart(t).describe
                  case BucketPart(n, _) => BucketPart(n, t).describe
                }
              },
              colIds = None)
        }
      }
      m.copy(files = files)
    }

  // ---- Partition transforms (Iceberg-style hidden partitioning) ----

  /** Every row of a NULL-partition file has NULL in the partition
    * column (the transform can't produce this value: days/identity of
    * real data never reach Long.MinValue, bucket ids are >= 0). */
  val NullPart: Long = Long.MinValue
  val MicrosPerDay: Long = 86400000000L

  /** A write-path partition transform, declared via
    * `.option("partitionedBy", "days(ts)" | "bucket(16, user_id)" |
    * "identity(col)")`. Rows route to one data file per distinct
    * transform value per task; the value is recorded in the manifest
    * entry and the SCAN prunes whole files against pushed filters:
    * `days` gives day-grain time-range pruning, `identity` exact
    * value pruning, and `bucket` hash-scatter pruning on equality —
    * the case zone maps fundamentally cannot serve (a hashed key's
    * min/max spans every file). Integral-typed columns only
    * (long/int/short/byte/date/timestamp), declared: the testbed's
    * partition keys are keys and timestamps, and a conservative
    * no-prune answer is always available for anything else. */
  sealed trait PartSpec {
    def col: String
    def describe: String
    /** Transform of a non-null column value (timestamps as micros). */
    def apply(v: Long): Long
  }
  final case class IdentityPart(col: String) extends PartSpec {
    def describe = s"identity($col)"
    def apply(v: Long): Long = v
  }
  final case class DaysPart(col: String) extends PartSpec {
    def describe = s"days($col)"
    def apply(v: Long): Long = Math.floorDiv(v, MicrosPerDay)
  }
  final case class BucketPart(n: Int, col: String) extends PartSpec {
    def describe = s"bucket($n, $col)"
    def apply(v: Long): Long = bucketOf(v, n).toLong
  }

  /** The write-time and prune-time sides MUST share this hash —
    * it is part of the on-disk contract (like Iceberg's bucket
    * transform pinning murmur3). Finalizer of splitmix64: full
    * avalanche, so consecutive keys scatter. */
  def bucketOf(v: Long, n: Int): Int = {
    var z = v + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    Math.floorMod(z ^ (z >>> 31), n.toLong).toInt
  }

  def parsePartSpec(s: String): PartSpec = {
    val t = s.trim
    val ident = "([A-Za-z_][A-Za-z0-9_]*)"
    val days = s"days\\s*\\(\\s*$ident\\s*\\)".r
    val bucket = s"bucket\\s*\\(\\s*(\\d+)\\s*,\\s*$ident\\s*\\)".r
    val id = s"identity\\s*\\(\\s*$ident\\s*\\)".r
    t match {
      case days(c) => DaysPart(c)
      case bucket(n, c) => BucketPart(n.toInt, c)
      case id(c) => IdentityPart(c)
      case bare if bare.matches(ident) => IdentityPart(bare)
      case _ => throw new IllegalArgumentException(
        s"graft-manifest: cannot parse partitionedBy '$s' — expected " +
          "days(col), bucket(n, col), or identity(col)")
    }
  }

  /** May a file whose partition value is `part` under `spec` contain
    * a row matching `f`? Conservative: unknown filter shapes answer
    * true. A non-null partition proves the column non-null file-wide
    * (IsNull prunes); the null partition proves it null file-wide
    * (every value predicate prunes). */
  def partMayMatch(spec: PartSpec, part: Long, f: sources.Filter): Boolean = {
    val c = spec.col
    if (part == NullPart) f match {
      case sources.IsNull(`c`) => true
      case sources.IsNotNull(`c`) => false
      case sources.EqualTo(`c`, _) => false
      case sources.GreaterThan(`c`, _) => false
      case sources.GreaterThanOrEqual(`c`, _) => false
      case sources.LessThan(`c`, _) => false
      case sources.LessThanOrEqual(`c`, _) => false
      case sources.In(`c`, _) => false
      case sources.And(l, r) =>
        partMayMatch(spec, part, l) && partMayMatch(spec, part, r)
      case _ => true
    } else spec match {
      case IdentityPart(_) => f match {
        case sources.IsNull(`c`) => false
        case sources.And(l, r) =>
          partMayMatch(spec, part, l) && partMayMatch(spec, part, r)
        case _ => mayMatch(Seq(ColStat(c, part, part)), f)
      }
      case DaysPart(_) => f match {
        case sources.IsNull(`c`) => false
        case sources.And(l, r) =>
          partMayMatch(spec, part, l) && partMayMatch(spec, part, r)
        case _ =>
          // a day-partition file holds micros in [d*day, (d+1)*day)
          mayMatch(Seq(ColStat(c, part * MicrosPerDay,
            part * MicrosPerDay + MicrosPerDay - 1)), f)
      }
      case BucketPart(n, _) => f match {
        case sources.IsNull(`c`) => false
        case sources.EqualTo(`c`, v) =>
          litLong(v).forall(l => bucketOf(l, n).toLong == part)
        case sources.In(`c`, vs) =>
          // prune only when EVERY value parses and none hits this bucket
          val ls = vs.toSeq.map(litLong)
          !ls.forall(_.isDefined) ||
            ls.flatten.exists(l => bucketOf(l, n).toLong == part)
        case sources.And(l, r) =>
          partMayMatch(spec, part, l) && partMayMatch(spec, part, r)
        case _ => true
      }
    }
  }

  /** Conservative zone-map test: may `f` match any row of a file with
    * these stats? Unknown columns/shapes answer true (no pruning);
    * only provably-empty files are skipped, so pruning can never
    * change results — the engine still applies every filter. */
  /** Filter literal as the Long the zone maps/partitions carry:
    * integrals as-is, timestamp shapes as epoch micros (matching the
    * writer's physical getLong on Timestamp[NTZ] columns), dates as
    * epoch days. Unknown shapes answer None → no pruning. */
  def litLong(v: Any): Option[Long] = v match {
    case t: java.sql.Timestamp =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils
        .fromJavaTimestamp(t))
    case i: java.time.Instant =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils
        .instantToMicros(i))
    case l: java.time.LocalDateTime =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils
        .localDateTimeToMicros(l))
    case d: java.sql.Date =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils
        .fromJavaDate(d).toLong)
    case d: java.time.LocalDate => Some(d.toEpochDay)
    case n: java.lang.Number => Some(n.longValue())
    case _ => None
  }

  def mayMatch(stats: Seq[ColStat], f: sources.Filter): Boolean = {
    def stat(col: String) = stats.find(_.col == col)
    def lit(v: Any): Option[Long] = litLong(v)
    f match {
      case sources.EqualTo(c, v) =>
        (stat(c), lit(v)) match {
          case (Some(s), Some(l)) => s.min <= l && l <= s.max
          case _ => true
        }
      case sources.GreaterThan(c, v) =>
        (stat(c), lit(v)) match {
          case (Some(s), Some(l)) => s.max > l
          case _ => true
        }
      case sources.GreaterThanOrEqual(c, v) =>
        (stat(c), lit(v)) match {
          case (Some(s), Some(l)) => s.max >= l
          case _ => true
        }
      case sources.LessThan(c, v) =>
        (stat(c), lit(v)) match {
          case (Some(s), Some(l)) => s.min < l
          case _ => true
        }
      case sources.LessThanOrEqual(c, v) =>
        (stat(c), lit(v)) match {
          case (Some(s), Some(l)) => s.min <= l
          case _ => true
        }
      case sources.And(l, r) => mayMatch(stats, l) && mayMatch(stats, r)
      case _ => true
    }
  }

  /** Conservative null-count test: may `f` match any row of a file
    * with these null counts? Entries without the column's count (old
    * manifests, evolved schemas) answer true. Safe under row-level
    * deletes: deletes only remove rows, so a file with zero nulls
    * still has zero nulls, and an all-null file stays all-null. */
  def nullsMayMatch(e: Entry, f: sources.Filter): Boolean = f match {
    case sources.IsNull(c) =>
      e.nulls.find(_.col == c).forall(_.n > 0)
    case sources.IsNotNull(c) =>
      e.nulls.find(_.col == c).forall(_.n < e.rows)
    case sources.And(l, r) => nullsMayMatch(e, l) && nullsMayMatch(e, r)
    case _ => true
  }

  /** May this manifest entry's file contain any row matching every
    * pushed filter? Zone maps AND the file's own partition transform
    * both get a veto; either answering "provably empty" skips the
    * file. An unparseable/absent pspec never prunes (conservative). */
  def entryMayMatch(e: Entry, filters: Seq[sources.Filter]): Boolean =
    filters.forall(f => mayMatch(e.stats, f)) &&
      filters.forall(f => bloomMayMatch(e.blooms, f)) &&
      filters.forall(f => nullsMayMatch(e, f)) && {
      (e.pspec, e.part) match {
        case (Some(ps), Some(p)) =>
          try {
            val spec = parsePartSpec(ps)
            filters.forall(f => partMayMatch(spec, p, f))
          } catch { case _: IllegalArgumentException => true }
        case _ => true
      }
    }

  /** Archived snapshot manifests: every commit first copies the
    * current base manifest to `_graft_manifest.v<N>.json`, so the
    * table's history is a chain of immutable snapshot documents and
    * `option("asOfVersion", N)` time-travels the read (the Iceberg
    * snapshot-log idea at single-document scale). The data-file sweep
    * only removes files referenced by NO manifest — base, archive,
    * branch or tag — so archived versions stay READABLE until
    * [[vacuum]] prunes them. */
  def archiveManifestFile(version: Long) = s"_graft_manifest.v$version.json"

  /** Small-file compaction (the lakehouse OPTIMIZE verb): rewrite the
    * CURRENT table state into `targetFiles` files and commit it as a
    * new snapshot. Safe against itself by the commit protocol alone:
    * the read plan lists the old manifest's files, the new files get
    * task-unique names, and the overwrite commit archives the old
    * manifest (which still references the old files, so the sweep
    * keeps them) — compaction is just another snapshot, time travel
    * to the pre-compaction layout keeps working until vacuum. */
  def compact(spark: org.apache.spark.sql.SparkSession, dir: String,
      targetFiles: Int): Unit =
    spark.read.format("graft-manifest").load(dir)
      .repartition(targetFiles)
      .write.mode("overwrite").format("graft-manifest").save(dir)

  /** Z-ORDER cluster rewrite (the Delta/Iceberg `OPTIMIZE … ZORDER BY`
    * verb): rewrite the current snapshot range-partitioned by the
    * Morton interleave of TWO integral columns, so the manifest's
    * per-file zone maps become tight on BOTH columns at once — after
    * the rewrite a range predicate on EITHER column prunes whole
    * files where a single-column sort would only serve one of them.
    * Each dimension is min/max-scaled into 12 bits (two bounded
    * driver scalars — the established census pattern), interleaved by
    * [[graft.functions.ZOrder.zvalue]] (pure bitwise BIGINT, stays in
    * codegen), then ONE range shuffle + rewrite. The prior layout
    * stays time-travelable; empty/all-null dimensions degrade to a
    * plain [[compact]]. */
  def zorder(spark: org.apache.spark.sql.SparkSession, dir: String,
      colA: String, colB: String, targetFiles: Int): Unit = {
    import org.apache.spark.sql.functions._
    val df = spark.read.format("graft-manifest").load(dir)
    val b = df.agg(
      min(col(colA).cast("long")), max(col(colA).cast("long")),
      min(col(colB).cast("long")), max(col(colB).cast("long"))).head()
    if (b.isNullAt(0) || b.isNullAt(2)) { compact(spark, dir, targetFiles); return }
    // DECIMAL(38,0) arithmetic: (value-lo)*4095 overflows BIGINT once
    // the column range exceeds Long.MaxValue/4095 (and hi-lo itself
    // overflows for near-full-range keys), which would scramble the
    // Morton keys and silently void the clustering. Widened to decimal
    // (≤24 digits, exact) with integral `div`, the result is the exact
    // 0..4095 bucket for ANY BIGINT range.
    def scaled(c: String, lo: Long, hi: Long) =
      if (hi == lo) lit(0L)
      else expr(
        s"(((CAST(`$c` AS DECIMAL(38,0)) - ${lo}) * 4095) div " +
          s"(CAST(${hi} AS DECIMAL(38,0)) - ${lo}))")
    df.withColumn("_gx", scaled(colA, b.getLong(0), b.getLong(1)))
      .withColumn("_gy", scaled(colB, b.getLong(2), b.getLong(3)))
      .withColumn("_gz", graft.functions.ZOrder.zvalue("_gx", "_gy", 12))
      .repartitionByRange(targetFiles, col("_gz"))
      .drop("_gx", "_gy", "_gz")
      .write.mode("overwrite").format("graft-manifest").save(dir)
  }

  /** Row-level DELETE, merge-on-read (the Iceberg positional-delete /
    * delete-vector design at single-document scale): rows matching
    * `condition` (a SQL predicate over the table's columns) are NOT
    * rewritten out of their data files — each task writes a tiny
    * positional delete file (`[n:int][ordinal:long]*`, CRC32'd) next
    * to the data file it masks, and ONE atomic manifest commit
    * attaches them. At 100 TB this is the difference between a
    * GDPR-delete touching kilobytes of delete vectors and rewriting
    * terabytes of data; [[compact]] later materializes the deletes
    * (its reader applies them, its writer emits clean files, and the
    * overwrite snapshot drops the delete refs).
    *
    * Mechanics: the scan's hidden `withRowMeta` columns give every
    * live row its physical (file, ordinal) address; the filtered
    * addresses are written from EXECUTORS by the scan tasks
    * themselves (see [[commitDeletes]]; positions-per-file is bounded
    * by file row count — the same boundedness argument as Iceberg
    * DVs); only (file, count, crc) metadata reaches the driver
    * commit. Because the scan hides already-deleted rows, successive
    * DELETEs produce DISJOINT position sets — counts stay additive,
    * and the manifest's live row count stays exact (COUNT(*) pushdown
    * included). The commit archives the prior snapshot first, so time
    * travel still reads the pre-delete state.
    *
    * Returns the number of rows deleted (0 → no-op, no new
    * snapshot). */
  def delete(spark: org.apache.spark.sql.SparkSession, dir: String,
      condition: String): Long = {
    import org.apache.spark.sql.functions.col
    commitDeletes(dir,
      spark.read.format("graft-manifest")
        .option("withRowMeta", "true").load(dir)
        .filter(condition)
        .select(col(MetaFileCol).as("_1"), col(MetaPosCol).as("_2")))
  }

  /** MERGE / upsert: every target row whose key matches a source row
    * is masked with a delete vector, then the WHOLE source is
    * appended — matched keys get the source's version, new keys
    * insert (the WHEN MATCHED THEN UPDATE / WHEN NOT MATCHED THEN
    * INSERT core of SQL MERGE, built from the two primitives this
    * format already has). Two snapshots (delete, then append) rather
    * than one, declared: the intermediate state is the
    * delete-applied table, so NO reader ever observes a duplicate
    * key — and both states are time-travelable. The source must be
    * key-unique (the Delta/Iceberg MERGE cardinality contract;
    * duplicate source keys would both insert), and must NOT read the
    * target table itself (the source plan is lazily re-evaluated
    * after the delete snapshot commits — a self-referential source
    * would see its own rows masked; feed it a materialized frame
    * instead). Returns (rows updated-in-place i.e. masked, rows
    * appended).
    *
    * The source is evaluated exactly TWICE: once for the semi-join
    * keys, once for the append. The keys are not de-duplicated — a
    * LEFT SEMI join emits each target row at most once however often
    * its key repeats on the right. The appended row count is not a
    * third `count()` job either: it is the sum of `rows` over the
    * head manifest's entries stamped with the append's own sequence
    * number (`seq == version`), exact metadata the commit already
    * wrote. */
  def merge(spark: org.apache.spark.sql.SparkSession, dir: String,
      source: org.apache.spark.sql.DataFrame,
      keyCols: Seq[String]): (Long, Long) = {
    import org.apache.spark.sql.functions.col
    val meta = spark.read.format("graft-manifest")
      .option("withRowMeta", "true").load(dir)
    val addr = meta
      .join(source.select(keyCols.map(col): _*), keyCols, "left_semi")
      .select(col(MetaFileCol).as("_1"), col(MetaPosCol).as("_2"))
    val nDel = commitDeletes(dir, addr)
    source.write.mode("append").format("graft-manifest").save(dir)
    val head = readManifest(dir)
    val nIns = head.files.filter(_.seq.contains(head.version)).map(_.rows).sum
    (nDel, nIns)
  }

  /** Row-level UPDATE, merge-on-read: rows matching `condition` are
    * masked with delete vectors and their REWRITTEN versions (each
    * `set` entry is `column -> SQL expression`, evaluated against the
    * old row) are appended — copy-on-write of exactly the matched
    * rows, nothing else. The matched set (data columns + row
    * addresses) is materialized EAGERLY via `localCheckpoint` in ONE
    * scan before anything commits: both the delete addresses and the
    * appended payload derive from that frozen frame, so the rewrite
    * can never re-read the table it is masking (the self-referential
    * hazard [[merge]] documents) and pays one scan, not two.
    * Update volume — not table volume — bounds the materialization.
    * Returns the number of rows updated. */
  def update(spark: org.apache.spark.sql.SparkSession, dir: String,
      condition: String, set: Map[String, String]): Long = {
    import org.apache.spark.sql.functions.{col, expr}
    val schema = StructType.fromDDL(readManifest(dir).schemaDdl)
    set.keys.foreach { c =>
      if (!schema.fieldNames.contains(c))
        throw new IllegalArgumentException(
          s"graft-manifest: UPDATE sets unknown column '$c' (table has " +
            s"${schema.fieldNames.mkString("(", ", ", ")")})")
    }
    val matched = spark.read.format("graft-manifest")
      .option("withRowMeta", "true").load(dir)
      .filter(condition)
      .lineageCut(true) // freeze: addresses + payload from ONE scan
    val n = commitDeletes(dir,
      matched.select(col(MetaFileCol).as("_1"), col(MetaPosCol).as("_2")))
    if (n > 0) {
      val rewritten = matched.select(schema.fields.map { f =>
        set.get(f.name)
          .map(e => expr(e).cast(f.dataType).as(f.name))
          .getOrElse(col(f.name))
      }.toSeq: _*)
      rewritten.write.mode("append").format("graft-manifest").save(dir)
    }
    n
  }

  /** EQUALITY delete: pure manifest surgery, NO table scan and NO
    * data IO — the O(metadata) DELETE (Iceberg v2 equality deletes).
    * Every row whose `col` equals one of `values`, in any file
    * committed BEFORE this delete (sequence-number bound), is masked
    * at READ time; files appended afterwards are untouched, so a
    * later re-insert of the same key is visible — Iceberg's
    * sequence-number semantics. Trade-off vs the positional
    * [[delete]]: zero write cost, but the match count is unknown
    * until read (COUNT(*) pushdown declines while any equality
    * delete is live) and every read pays a set-membership filter;
    * [[compact]] materializes and re-exactifies. Integral/date/
    * timestamp/string key columns only (same canonicalization as
    * zone maps and blooms). */
  def deleteEq(dir: String, col: String, values: Seq[Any]): Unit =
    commitSnapshot(dir) { (head, version) =>
      val merged = head.getOrElse(throw nothingCommitted(dir))
      val schema = StructType.fromDDL(merged.schemaDdl)
      val f = schema.fields.find(_.name == col).getOrElse(
        throw new IllegalArgumentException(
          s"graft-manifest: deleteEq column '$col' not in table schema " +
            schema.fieldNames.mkString("(", ", ", ")")))
      import org.apache.spark.sql.types._
      f.dataType match {
        case LongType | IntegerType | ShortType | ByteType | DateType |
             TimestampType | TimestampNTZType | StringType => ()
        case dt => throw new IllegalArgumentException(
          s"graft-manifest: deleteEq column '$col' has unsupported type " +
            s"${dt.sql} — integral/date/timestamp/string only")
      }
      val canon: Seq[String] = values.map {
        case s: String => s
        case other => litLong(other).getOrElse(
          throw new IllegalArgumentException(
            s"graft-manifest: deleteEq value '$other' cannot be " +
              "canonicalized")).toString
      }
      Manifest(merged.schemaDdl, merged.files, version,
        merged.eqDeletes :+ EqDelete(col, version, canon))
    }

  /** SQL TRUNCATE: publish an empty snapshot. Prior base archived
    * (time travel keeps working until vacuum); equality deletes are
    * dropped — they applied to the replaced state. */
  def truncate(dir: String): Unit = {
    commitSnapshot(dir) { (prior, version) =>
      Manifest(prior.getOrElse(throw nothingCommitted(dir)).schemaDdl, Nil,
        version)
    }
    sweep(dir, data = true)
  }

  /** ROLLBACK to an archived snapshot, audit-preserving (the Iceberg
    * `rollback_to_snapshot` verb): the target version's manifest is
    * re-published as a NEW version — history keeps both the bad
    * commits and the rollback itself, and every intermediate state
    * stays time-travelable until vacuum. O(metadata): the target's
    * file list (including its delete vectors and equality deletes,
    * seq numbers verbatim) is re-committed; no data file is touched.
    * Streaming progress is NOT rolled back: the head's transaction
    * tokens carry forward, so a stream does not re-apply the epochs
    * whose rows the rollback removed. Rolling back to the CURRENT
    * version is a no-op (no new commit). Returns the new base
    * version. */
  def rollback(dir: String, toVersion: Long): Long = {
    val prior = readManifest(dir)
    if (toVersion == prior.version) return prior.version
    val target = readAsOf(dir, Some(toVersion))
    commitSnapshot(dir)((_, v) =>
      Manifest(target.schemaDdl, target.files, v, target.eqDeletes))
  }

  // ---- Branches: the Write-Audit-Publish surface -------------------
  //
  // A branch is an independent manifest CHAIN over the same data
  // directory (the Iceberg branch/WAP design): `createBranch` forks
  // the current base state O(metadata); batch writes with
  // `option("branch", name)` commit to the branch chain only — the
  // main table never sees staged files until `fastForward` publishes
  // the branch state as a NEW base version (the rollback commit
  // shape, audit-preserving). Reads with `option("branch", name)`
  // audit the staged state. Branch surface is batch-only by
  // declaration: streaming writes, row-level ops and time travel stay
  // on the base chain.

  def branchManifestFile(name: String) =
    s"_graft_manifest.branch-$name.json"
  def branchArchiveFile(name: String, version: Long) =
    s"_graft_manifest.branch-$name.v$version.json"
  def requireBranchName(name: String): String = {
    require(name.matches("[A-Za-z0-9_]+"),
      s"graft-manifest: branch name '$name' — [A-Za-z0-9_]+ only")
    name
  }

  def readBranch(dir: String, name: String): Manifest = {
    val f = new File(dir, branchManifestFile(requireBranchName(name)))
    if (!f.exists()) throw new IllegalArgumentException(
      s"graft-manifest: no branch '$name' under $dir — createBranch " +
        "first (or it was fast-forwarded/dropped)")
    readManifestFile(f)
  }

  // A TAG is a NAMED IMMUTABLE snapshot reference (the Iceberg tag
  // beside the branch): `createTag` freezes the current base manifest
  // as `_graft_manifest.tag-<name>.json` O(metadata); reads with
  // `option("tag", name)` time-travel BY NAME in that snapshot's own
  // schema; retention (vacuum / expire_snapshots) never drops a tag
  // and keeps every file it references (tag docs are part of
  // [[listAllManifests]]' referenced set). Tags are read-only by
  // construction — writes with a tag option are refused, there is no
  // chain to commit to.

  def tagManifestFile(name: String) =
    s"_graft_manifest.tag-${requireBranchName(name)}.json"

  /** Freeze the CURRENT base manifest as tag `name`, O(metadata).
    * Returns the tagged version. */
  def createTag(dir: String, name: String): Long = {
    val f = new File(dir, tagManifestFile(name))
    if (f.exists()) throw new IllegalArgumentException(
      s"graft-manifest: tag '$name' already exists under $dir")
    val base = readManifest(dir)
    writeManifestAs(dir, tagManifestFile(name), base)
    base.version
  }

  def readTag(dir: String, name: String): Manifest = {
    val f = new File(dir, tagManifestFile(name))
    if (!f.exists()) throw new IllegalArgumentException(
      s"graft-manifest: no tag '$name' under $dir — createTag first " +
        "(or it was dropped)")
    readManifestFile(f)
  }

  /** Drop a tag: the name stops resolving; files only the tag kept
    * referenced are swept by the next commit/vacuum. Returns whether
    * the tag existed — a typo'd name must not be silently swallowed
    * (reads fail loudly on unknown tags; drops report it). */
  def dropTag(dir: String, name: String): Boolean = {
    val f = new File(dir, tagManifestFile(name))
    f.exists() && f.delete()
  }

  /** Resolve a read to a manifest: branch chain or tag if named, else
    * the base chain (with optional time travel). Any two at once is a
    * contradiction — refused. */
  def readRef(dir: String, asOf: Option[Long],
      branch: Option[String],
      tag: Option[String] = None): Manifest = (branch, tag) match {
    case (Some(_), Some(_)) => throw new IllegalArgumentException(
      "graft-manifest: branch and tag are mutually exclusive")
    case (Some(b), None) =>
      require(asOf.isEmpty,
        "graft-manifest: asOfVersion and branch are mutually exclusive")
      readBranch(dir, b)
    case (None, Some(t)) =>
      require(asOf.isEmpty,
        "graft-manifest: asOfVersion and tag are mutually exclusive")
      readTag(dir, t)
    case (None, None) => readAsOf(dir, asOf)
  }

  /** Fork the current base state as branch `name`, O(metadata).
    * Returns the forked version (the branch chain continues from
    * it). */
  def createBranch(dir: String, name: String): Long = {
    requireBranchName(name)
    val f = new File(dir, branchManifestFile(name))
    if (f.exists()) throw new IllegalArgumentException(
      s"graft-manifest: branch '$name' already exists under $dir")
    val base = readManifest(dir)
    writeManifestAs(dir, branchManifestFile(name), base)
    base.version
  }

  /** PUBLISH a branch: re-commit its state as a NEW base version (the
    * [[rollback]] commit shape — history keeps the pre-publish base,
    * O(metadata), no data file moves), then retire the branch chain.
    * Returns the new base version. */
  def fastForward(dir: String, name: String): Long = {
    val b = readBranch(dir, name)
    val v = commitSnapshot(dir)((_, v) =>
      Manifest(b.schemaDdl, b.files, v, b.eqDeletes))
    dropBranch(dir, name)
    v
  }

  /** Abandon a branch: drop its manifest chain. Data files only the
    * branch referenced become unreferenced and are swept by the next
    * commit/vacuum. */
  def dropBranch(dir: String, name: String): Unit = {
    requireBranchName(name)
    Option(new File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName == branchManifestFile(name) ||
        f.getName.matches(
          s"_graft_manifest\\.branch-$name\\.v\\d+\\.json"))
      .foreach(_.delete())
  }

  /** The O(metadata) route for SQL DELETE: a predicate that is ONE
    * equality or IN on a single column with non-null literals maps
    * to [[deleteEq]] (no scan, no IO). Anything else returns None
    * and takes the positional-vector route. */
  /** Column types [[deleteEq]] can canonicalize. Checked at PLAN time
    * (canDeleteWhere) so an equality delete on e.g. a BOOLEAN or
    * DOUBLE column falls through to the positional-delete /
    * row-level-rewrite paths instead of failing after acceptance. */
  private[graft] def eqDeleteSupported(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType | IntegerType | ShortType | ByteType | DateType |
           TimestampType | TimestampNTZType | StringType => true
      case _ => false
    }
  }

  private[graft] def eqDeletePlan(
      filters: Array[sources.Filter],
      schema: StructType): Option[(String, Seq[Any])] = {
    def ok(c: String): Boolean =
      schema.fields.find(_.name == c).exists(f => eqDeleteSupported(f.dataType))
    filters.toSeq match {
      case Seq(sources.EqualTo(c, v)) if v != null && ok(c) =>
        Some((c, Seq(v)))
      case Seq(sources.In(c, vs))
          if vs.nonEmpty && vs.forall(_ != null) && ok(c) =>
        Some((c, vs.toSeq))
      case _ => None
    }
  }

  /** Translate Spark's pushed DELETE filters (implicitly ANDed) to a
    * SQL condition for the positional-delete scan. Conservative:
    * None for anything not provably expressible (the caller then
    * DECLINES the delete rather than guessing). */
  private[graft] def filtersToCondition(
      filters: Array[sources.Filter]): Option[String] = {
    def lit(v: Any): Option[String] = v match {
      case null => None
      // Backslash FIRST: Spark's default parser (escapedStringLiterals
      // =false) interprets \n/\t/\\ inside quoted literals, so an
      // unescaped backslash would round-trip to a DIFFERENT string and
      // the positional delete would mask the wrong rows.
      case s: String =>
        Some("'" + s.replace("\\", "\\\\").replace("'", "''") + "'")
      case _: Long | _: Int | _: Short | _: Byte => Some(v.toString)
      case b: Boolean => Some(b.toString)
      case d: java.sql.Date => Some(s"DATE'$d'")
      case d: java.time.LocalDate => Some(s"DATE'$d'")
      case _ => None // timestamps/floats: tz + text-form hazards, declined
    }
    def one(f: sources.Filter): Option[String] = f match {
      case sources.AlwaysTrue() => Some("true")
      case sources.AlwaysFalse() => Some("false")
      case sources.EqualTo(c, v) => lit(v).map(l => s"(`$c` = $l)")
      case sources.GreaterThan(c, v) => lit(v).map(l => s"(`$c` > $l)")
      case sources.GreaterThanOrEqual(c, v) =>
        lit(v).map(l => s"(`$c` >= $l)")
      case sources.LessThan(c, v) => lit(v).map(l => s"(`$c` < $l)")
      case sources.LessThanOrEqual(c, v) => lit(v).map(l => s"(`$c` <= $l)")
      case sources.In(c, vs) if vs.nonEmpty =>
        val ls = vs.map(lit)
        if (ls.exists(_.isEmpty)) None
        else Some(s"(`$c` IN (${ls.flatten.mkString(", ")}))")
      case sources.IsNull(c) => Some(s"(`$c` IS NULL)")
      case sources.IsNotNull(c) => Some(s"(`$c` IS NOT NULL)")
      case sources.StringStartsWith(c, p)
          // Backslash guarded too: it is LIKE's pattern-escape char,
          // so a prefix containing it would not mean "literal prefix".
          if !p.contains("%") && !p.contains("_") && !p.contains("\\") =>
        lit(p + "%").map(l => s"(`$c` LIKE $l)")
      case sources.And(l, r) =>
        for (a <- one(l); b <- one(r)) yield s"($a AND $b)"
      case sources.Or(l, r) =>
        for (a <- one(l); b <- one(r)) yield s"($a OR $b)"
      case sources.Not(x) => one(x).map(s => s"(NOT $s)")
      case _ => None
    }
    val parts = filters.toSeq.map(one)
    if (parts.isEmpty) Some("true")
    else if (parts.exists(_.isEmpty)) None
    else Some(parts.flatten.mkString(" AND "))
  }

  /** CHANGE DATA FEED over the snapshot chain (Delta's
    * `readChangeFeed` / Iceberg's changelog table at single-document
    * scale): every row-level change committed AFTER snapshot
    * `fromVersion`, up to and including `toVersion`, as a frame of
    * the table's columns plus `_change_type` ("insert" | "delete")
    * and `_change_version` (the snapshot that committed the change).
    * An UPDATE surfaces as delete(old row) at its delete snapshot +
    * insert(new row) at its append snapshot (this format's UPDATE
    * and MERGE are two-snapshot by design); a compaction-style full
    * rewrite surfaces as full delete + full insert (physical
    * snapshot diff — declared: the same shape Delta emits without
    * CDC-aware writers).
    *
    * Cost is proportional to CHANGED data, not table size: each
    * version step diffs the two manifests (kilobyte documents) on
    * the driver, proves files with identical content + delete state
    * unchanged ([[changedFiles]]), and plans ONLY the differing
    * files on both sides (the `restrictFiles` scan option) — the
    * anti-join on the physical row address (file, ordinal) then
    * shuffles just those files' rows. A 100 TB table that appended
    * one shard reads one shard. Unchanged-files-never-opened is
    * pinned in ManifestSinkSpec by corrupting an unchanged file
    * mid-chain; schema evolution across the range resolves by name
    * (pre-evolution rows surface NULL for later columns). */
  def changes(spark: org.apache.spark.sql.SparkSession, dir: String,
      fromVersion: Long,
      toVersion: Long): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val current = readManifest(dir).version
    require(fromVersion >= 0 && fromVersion < toVersion &&
      toVersion <= current,
      s"graft-manifest: changes range ($fromVersion, $toVersion] must " +
        s"satisfy 0 <= from < to <= current ($current)")
    val addr = Seq(MetaFileCol, MetaPosCol)
    def readSide(v: Long,
        names: Seq[String]): Option[org.apache.spark.sql.DataFrame] =
      if (names.isEmpty) None
      else Some(spark.read.format("graft-manifest")
        .option("asOfVersion", v.toString)
        .option("withRowMeta", "true")
        .option("restrictFiles", names.mkString(","))
        .load(dir))
    val parts = ((fromVersion + 1) to toVersion).flatMap { v =>
      val curr = readAsOf(dir, Some(v))
      val prev = if (v > 1) Some(readAsOf(dir, Some(v - 1))) else None
      val currDf = readSide(v,
        prev.map(changedFiles(curr, _)).getOrElse(curr.files.map(_.name)))
      val prevDf = prev.flatMap(p => readSide(v - 1, changedFiles(p, curr)))
      // a row is a change iff its physical address is visible on one
      // side only; a file in both restricted sets (same bytes, more
      // delete vectors) contributes exactly its newly-masked rows
      def side(a: Option[org.apache.spark.sql.DataFrame],
          b: Option[org.apache.spark.sql.DataFrame], kind: String) =
        a.map { af =>
          b.map(bf => af.join(bf.select(addr.map(col): _*), addr,
              "left_anti"))
            .getOrElse(af)
            .drop(addr: _*)
            .withColumn("_change_type", lit(kind))
            .withColumn("_change_version", lit(v))
        }
      side(currDf, prevDf, "insert").toSeq ++
        side(prevDf, currDf, "delete").toSeq
    }
    parts.reduceOption((a, b) => a.unionByName(b, allowMissingColumns = true))
      .getOrElse {
        val schema =
          StructType.fromDDL(readAsOf(dir, Some(toVersion)).schemaDdl)
            .add("_change_type", org.apache.spark.sql.types.StringType)
            .add("_change_version", org.apache.spark.sql.types.LongType)
        spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
      }
  }

  /** Files of `a` whose VISIBLE row set differs from their state in
    * `b`: new/removed names, changed bytes (rows, crc), a changed
    * positional-delete stack, or a changed set of APPLICABLE
    * equality deletes (sequence-bounded). Pure manifest arithmetic —
    * the pruning proof that lets [[changes]] never open unchanged
    * files. */
  private[graft] def changedFiles(a: Manifest, b: Manifest): Seq[String] = {
    def sig(m: Manifest, e: Entry) =
      (e.name, e.rows, e.crc,
        e.deletes.map(d => (d.name, d.n, d.crc)).toSet,
        m.eqDeletes.filter(_.seq > e.seq.getOrElse(0L))
          .map(d => (d.col, d.seq, d.values.toList)).toSet)
    val bs = b.files.map(e => sig(b, e)).toSet
    a.files.filterNot(e => bs(sig(a, e))).map(_.name)
  }

  /** THE snapshot commit. Under [[withCommitLock]] it reads the head
    * (None before a table's first commit), checks that every `inputs`
    * file is still in it, archives the head as
    * `_graft_manifest.v<N>.json`, and publishes `build(head, N + 1)`
    * with a stamped commit time. Callers run their Spark jobs BEFORE:
    * only metadata is read and written under the lock. Because the head
    * is read here, a commit is rebased onto whatever committed while its
    * job ran. The inputs are the files the job's output refers to
    * (DELETE targets, copy-on-write replaced files); if a concurrent
    * commit removed one, the commit deletes the files it `written`,
    * publishes nothing and throws an IllegalStateException naming it.
    *
    * Every commit carries the head's transaction tokens (`txns`)
    * forward, whatever `build` returns: an overwrite, truncate or
    * rollback replaces the data, not a stream's progress. A `txn` of
    * (query id, epoch) is the streaming sink's idempotence token: when
    * the head already records that epoch or a later one for the query
    * (a batch re-delivered after a crash between the engine's offset
    * log and its commit log), the commit deletes `written` and
    * publishes nothing; otherwise the new snapshot records it. Returns
    * the new version, or the head's when nothing was published. */
  def commitSnapshot(dir: String, inputs: Iterable[String] = Nil,
      written: Iterable[String] = Nil, txn: Option[(String, Long)] = None)(
      build: (Option[Manifest], Long) => Manifest): Long =
    withCommitLock(dir) {
      val baseFile = new File(dir, ManifestFile)
      val head =
        if (baseFile.exists()) Some(readManifestFile(baseFile)) else None
      val txns = head.fold(Map.empty[String, Long])(_.txns)
      def discard(): Unit = written.foreach(w => new File(dir, w).delete())
      lazy val live = head.toSeq.flatMap(_.files.map(_.name)).toSet
      inputs.find(n => !live(n)).foreach { n =>
        discard()
        throw new IllegalStateException(
          s"graft-manifest: $n is no longer in the table at $dir — a " +
            "concurrent commit replaced or removed it; nothing committed")
      }
      if (txn.exists { case (q, e) => txns.get(q).exists(_ >= e) }) {
        discard()
        head.fold(0L)(_.version)
      } else {
        val version = head.fold(1L)(_.version + 1)
        val m = build(head, version).copy(txns = txns ++ txn)
        head.foreach(p =>
          writeManifestAs(dir, archiveManifestFile(p.version), p))
        stampAndPublish(dir, m)
        version
      }
    }

  /** The snapshot a write of `entries` publishes at `version` over
    * `prior`. Overwrite starts the file list empty, dropping the
    * replaced state's equality deletes (compaction materializes them
    * this way: its reader applied them); append carries the prior
    * files (annotated with their schema when the write evolved it) and
    * equality deletes forward. New files enter at THIS commit's
    * sequence number, out of reach of earlier equality deletes
    * (re-inserts stay visible). */
  private def withEntries(prior: Option[Manifest], ddl: String,
      entries: Seq[Entry], overwrite: Boolean, version: Long): Manifest = {
    val stamped = entries.map(_.copy(seq = Some(version)))
    prior.filter(_ => !overwrite) match {
      case Some(p) =>
        Manifest(ddl, carried(p, ddl) ++ stamped, version, p.eqDeletes)
      case None => Manifest(ddl, stamped, version)
    }
  }

  /** Commit a batch or streaming write of `entries` to the base chain;
    * `txn` as in [[commitSnapshot]]. Returns the version. */
  def commitWrite(dir: String, ddl: String, entries: Seq[Entry],
      overwrite: Boolean, txn: Option[(String, Long)] = None): Long =
    commitSnapshot(dir, written = entries.map(_.name), txn = txn)(
      (head, version) => withEntries(head, ddl, entries, overwrite, version))

  /** Commit a batch write of `entries` to branch `name` only (the WAP
    * staging path), under the table's commit lock: the branch head is
    * the prior state (createBranch first — a dangling branch write is
    * refused), it is archived on the branch's own chain, and the BASE
    * manifest is untouched. Returns the branch version. */
  def commitBranch(dir: String, name: String, ddl: String,
      entries: Seq[Entry], overwrite: Boolean): Long =
    withCommitLock(dir) {
      val prior = readBranch(dir, name)
      writeManifestAs(dir, branchArchiveFile(name, prior.version), prior)
      val version = prior.version + 1
      writeManifestAs(dir, branchManifestFile(name),
        withEntries(Some(prior), ddl, entries, overwrite, version))
      version
    }

  private[sources] def nothingCommitted(dir: String) =
    new IllegalArgumentException(
      s"graft-manifest: no $ManifestFile under $dir — nothing committed")

  /** Shared DELETE commit core: `hits` is a frame of (_1 = data file
    * name, _2 = physical row ordinal) addresses to mask, each address
    * at most once.
    *
    * Every input partition of `hits` writes ONE delete file per (data
    * file, partition) it holds hits for; only (data file, delete file,
    * count, crc) reaches the driver. No shuffle gathers a file's hits
    * first: a manifest scan never splits a file, so when no exchange
    * sits between the scan and `hits` (DELETE, UPDATE, a broadcast
    * semi-join MERGE) each file's hits already arrive in one
    * partition. After a shuffled join one data file can get several
    * delete files in one commit — the format allows that
    * (`Entry.deletes` is a list, [[Entry.liveRows]] sums it, and the
    * positions stay disjoint because each address occurs once in
    * `hits`). The job runs over `queryExecution.toRdd`, not a typed
    * `Dataset` collect, whose result path allocates a 1 MiB output
    * chunk per task — and here every scan task is a result task. */
  private def commitDeletes(dir: String,
      hits: org.apache.spark.sql.DataFrame): Long = {
    val written: Array[(String, String, Long, Long)] =
      hits.queryExecution.toRdd.mapPartitions { it =>
        val byFile = scala.collection.mutable.LinkedHashMap
          .empty[String, scala.collection.mutable.ArrayBuffer[Long]]
        it.foreach { r =>
          byFile.getOrElseUpdate(r.getUTF8String(0).toString,
            scala.collection.mutable.ArrayBuffer.empty[Long]) += r.getLong(1)
        }
        byFile.iterator.map { case (dataFile, ps) =>
          val name = s"$dataFile.${UUID.randomUUID()}$DelSuffix"
          val crc = new CRC32()
          val out = new DataOutputStream(new CheckedOutputStream(
            new BufferedOutputStream(
              new FileOutputStream(new File(dir, name))), crc))
          try {
            out.writeInt(ps.size)
            ps.sorted.foreach(out.writeLong)
          } finally out.close()
          (dataFile, name, ps.size.toLong, crc.getValue)
        }
      }.collect()
    if (written.isEmpty) return 0L
    val byData = written.groupBy(_._1)
    commitSnapshot(dir, byData.keys, written.map(_._2)) {
      (head, version) =>
        val merged = head.get
        val entries = merged.files.map { e =>
          byData.get(e.name) match {
            case Some(ws) => e.copy(deletes =
              e.deletes ++ ws.map(w => DelFile(w._2, w._3, w._4)))
            case None => e
          }
        }
        Manifest(merged.schemaDdl, entries, version, merged.eqDeletes)
    }
    sweep(dir, data = false)
    written.map(_._3).sum
  }

  /** Delete the files that no manifest — base, archive, branch or
    * tag — references: delete files always (a DELETE that lost a
    * commit race, refs retired by compaction + vacuum), data files too
    * when `data` (failed or speculative attempts, replaced data). */
  def sweep(dir: String, data: Boolean): Unit = {
    val refs = referencedFiles(dir)
    dirFiles(dir).filter { f =>
      val n = f.getName
      (n.endsWith(DelSuffix) || data && n.endsWith(DataSuffix)) && !refs(n)
    }.foreach(_.delete())
  }

  /** Names of the data and delete files any manifest document under
    * `dir` references, parsing each document once. */
  private def referencedFiles(dir: String): Set[String] =
    listAllManifests(dir).map(readManifestFile).flatMap(_.files.flatMap(e =>
      e.name +: e.deletes.map(_.name))).toSet

  private def dirFiles(dir: String): Array[File] =
    Option(new File(dir).listFiles()).getOrElse(Array.empty)

  /** Orphan-file cleanup (Iceberg's `remove_orphan_files` verb — the
    * third maintenance knob beside [[vacuum]]/[[expireSnapshots]]):
    * data/delete files sitting in the table directory that NO
    * manifest — base, archive, branch or tag — references.
    * These are failed-commit leftovers (a job wrote its files, died
    * before publishing the manifest) or stray uploads; retention
    * sweeps never touch them because they were never committed. The
    * `olderThanMillis` mtime guard keeps an IN-FLIGHT write's
    * not-yet-committed files safe (Iceberg's same default posture);
    * `dryRun` lists without deleting. Returns ONE (name, deleted)
    * pair per orphan FOUND, from a SINGLE listing pass — so a
    * caller's found/removed counters always derive from the same
    * snapshot of the directory (a dry pass followed by a real pass
    * could straddle a concurrent commit and disagree). Under dryRun
    * every `deleted` is false; otherwise `deleted` is the ACTUAL
    * delete result — a file whose delete fails (permissions,
    * concurrent handle) stays found-but-not-removed, so the caller's
    * removed-count never overstates what happened on disk. Sorted by
    * name. O(listing + manifest metadata) at any table size — never
    * reads a data byte. */
  def removeOrphans(dir: String, olderThanMillis: Long,
      dryRun: Boolean): Seq[(String, Boolean)] = {
    val refs = referencedFiles(dir)
    dirFiles(dir)
      .filter(f => (f.getName.endsWith(DataSuffix) ||
        f.getName.endsWith(DelSuffix)) &&
        !refs(f.getName) && f.lastModified() < olderThanMillis)
      .sortBy(_.getName).toSeq
      .map(f => (f.getName, !dryRun && f.delete()))
  }

  /** TIME-based retention (Iceberg's `expire_snapshots(older_than)`
    * verb, beside the count-based [[vacuum]]): drop archived snapshot
    * manifests whose commit time — the manifest document's mtime; the
    * atomic rename that published it set it — is before
    * `olderThanMillis`, then sweep data/delete files no remaining
    * manifest references. The current base is never expired
    * regardless of age, and branch chains stay referencing (an open
    * WAP audit keeps every file it can see, exactly as under
    * [[vacuum]]). Returns the number of archived snapshots dropped. */
  def expireSnapshots(dir: String, olderThanMillis: Long): Long = {
    val victims = dirFiles(dir)
      .filter(f => f.getName.matches("_graft_manifest\\.v\\d+\\.json") &&
        f.lastModified() < olderThanMillis)
    victims.foreach(_.delete())
    sweep(dir, data = true)
    victims.length.toLong
  }

  /** Drop archived snapshots older than `keepVersions` behind the
    * current base, then sweep data files no remaining manifest
    * references — the retention knob that bounds time-travel storage. */
  def vacuum(dir: String, keepVersions: Int): Unit = {
    val base = readManifest(dir)
    val cutoff = base.version - keepVersions
    dirFiles(dir)
      .filter { f =>
        f.getName.matches("_graft_manifest\\.v\\d+\\.json") &&
          f.getName.stripPrefix("_graft_manifest.v")
            .stripSuffix(".json").toLong < cutoff
      }.foreach(_.delete())
    sweep(dir, data = true)
  }

  /** Every manifest document under `dir`: base, archived snapshots,
    * branch chains and tags. */
  def listAllManifests(dir: String): Seq[File] =
    dirFiles(dir)
      .filter(f => f.getName == ManifestFile ||
        f.getName.matches("_graft_manifest\\.v\\d+\\.json") ||
        // branch chains keep their staged files referenced — a sweep
        // during an open audit must not delete staged data
        f.getName.matches(
          "_graft_manifest\\.branch-[A-Za-z0-9_]+(\\.v\\d+)?\\.json") ||
        // tag docs pin their snapshot's files against retention — a
        // named release must survive vacuum/expire until dropped
        f.getName.matches("_graft_manifest\\.tag-[A-Za-z0-9_]+\\.json"))
      .sortBy(_.getName).toSeq

  /** The current table state: the base manifest. */
  def readAll(dir: String): Manifest = readManifest(dir)

  /** `m`'s entries as carried into a manifest whose schema is `ddl`:
    * an entry written under `m`'s schema keeps it on record when the
    * two differ, so readers resolve its columns by name. */
  def carried(m: Manifest, ddl: String): Seq[Entry] =
    if (m.schemaDdl == ddl) m.files
    else m.files.map(e =>
      if (e.schemaDdl.isEmpty) e.copy(schemaDdl = Some(m.schemaDdl)) else e)

  def requirePath(opts: Map[String, String]): String =
    opts.collectFirst { case (k, v) if k.equalsIgnoreCase("path") => v }
      .getOrElse(throw new IllegalArgumentException(
        "graft-manifest requires a 'path' option"))

  private def mapper = new ObjectMapper()

  /** Atomic publish: temp file + rename (same-directory rename is the
    * atomicity primitive every local/HDFS-like FS guarantees). */
  def writeManifestAs(dir: String, fileName: String, m: Manifest): Unit = {
    val root = mapper.createObjectNode()
    root.put("schemaDdl", m.schemaDdl)
    root.put("version", m.version)
    if (m.committedAt > 0L) root.put("committedAt", m.committedAt): Unit
    val arr = root.putArray("files")
    m.files.foreach { e =>
      val n = arr.addObject()
      n.put("name", e.name); n.put("rows", e.rows); n.put("crc", e.crc)
      if (e.stats.nonEmpty) {
        val st = n.putArray("stats")
        e.stats.foreach { cs =>
          val o = st.addObject()
          o.put("col", cs.col); o.put("min", cs.min); o.put("max", cs.max)
        }
      }
      e.schemaDdl.foreach(d => n.put("schema", d))
      e.part.foreach(p => n.put("part", p))
      e.pspec.foreach(sp => n.put("pspec", sp))
      if (e.blooms.nonEmpty) {
        val bl = n.putArray("blooms")
        e.blooms.foreach { b =>
          val o = bl.addObject()
          o.put("col", b.col); o.put("k", b.k); o.put("bits", b.bits)
          o.put("data", java.util.Base64.getEncoder.encodeToString(b.data))
        }
      }
      if (e.deletes.nonEmpty) {
        val dl = n.putArray("deletes")
        e.deletes.foreach { d =>
          val o = dl.addObject()
          o.put("name", d.name); o.put("n", d.n); o.put("crc", d.crc)
        }
      }
      e.seq.foreach(sq => n.put("seq", sq))
      e.colIds.foreach { ids =>
        val ci = n.putArray("colIds")
        ids.foreach { c =>
          val o = ci.addObject(); o.put("name", c.name); o.put("id", c.id)
        }
      }
      if (e.nulls.nonEmpty) {
        val nl = n.putArray("nulls")
        e.nulls.foreach { c =>
          val o = nl.addObject(); o.put("col", c.col); o.put("n", c.n)
        }
      }
    }
    if (m.colIds.nonEmpty) {
      val ci = root.putArray("colIds")
      m.colIds.foreach { c =>
        val o = ci.addObject(); o.put("name", c.name); o.put("id", c.id)
      }
      root.put("lastColId", m.lastColId)
    }
    if (m.eqDeletes.nonEmpty) {
      val ed = root.putArray("eqDeletes")
      m.eqDeletes.foreach { d =>
        val o = ed.addObject()
        o.put("col", d.col); o.put("seq", d.seq)
        val va = o.putArray("values")
        d.values.foreach(va.add)
      }
    }
    if (m.txns.nonEmpty) {
      val tx = root.putObject("txns")
      m.txns.toSeq.sortBy(_._1).foreach { case (q, e) => tx.put(q, e) }
    }
    val tmp = new File(dir, s".$fileName.${UUID.randomUUID()}.tmp")
    val out = new FileOutputStream(tmp)
    try out.write(mapper.writerWithDefaultPrettyPrinter()
      .writeValueAsBytes(root))
    finally out.close()
    val dst = new File(dir, fileName)
    if (!tmp.renameTo(dst)) {
      // an IO failure: rename(2) replaces an existing target, so this
      // never means another committer won (see withCommitLock)
      tmp.delete()
      throw new IllegalStateException(
        s"graft-manifest: could not publish $dst")
    }
  }

  /** [[stampAndPublish]] `m` under the commit lock; returns the minted
    * committedAt. Table creation publishes v0 this way, every later
    * base-chain commit goes through [[commitSnapshot]]. */
  def writeManifest(dir: String, m: Manifest): Long =
    withCommitLock(dir)(stampAndPublish(dir, m))

  /** Publish `m` as the base, stamping its commit time under a
    * MONOTONIC clock: committedAt = max(now, prior base's stamp + 1),
    * so timestamp time travel ([[versionAt]]) never sees two
    * snapshots share an instant even when commits land within one
    * millisecond. Archive/branch/tag copies go through
    * [[writeManifestAs]] directly and PRESERVE the stamp they carry —
    * an archived snapshot keeps the commit time it was published
    * with. Callers hold [[withCommitLock]], so two committers never
    * read the same prior stamp. */
  private def stampAndPublish(dir: String, m: Manifest): Long = {
    val prev = {
      val f = new File(dir, ManifestFile)
      if (f.exists()) readStamp(f)._2 else 0L
    }
    val stamp = math.max(System.currentTimeMillis(), prev + 1)
    writeManifestAs(dir, ManifestFile, m.copy(committedAt = stamp))
    stamp
  }

  /** Run `body` SERIALIZED per table directory: a JVM-wide monitor for
    * same-process committers plus an OS file lock
    * (`.graft_commit.lock`) for cross-process ones. The file lock is
    * not reentrant — `body` must not take it again. */
  private def withCommitLock[A](dir: String)(body: => A): A = {
    // Monitor identity must match the OS lock's identity: canonical
    // path (resolves '.', '..' and symlinks), not absolute path — two
    // same-JVM writers addressing one table dir via different
    // spellings must take the SAME monitor, or the second one hits
    // OverlappingFileLockException on the shared lock file instead of
    // serializing behind the first.
    val monitor = commitMonitors.computeIfAbsent(
      new File(dir).getCanonicalPath, _ => new Object)
    monitor.synchronized {
      val ch = java.nio.channels.FileChannel.open(
        new File(dir, ".graft_commit.lock").toPath,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        val lock = ch.lock()
        try body finally lock.release()
      } finally ch.close()
    }
  }

  /** Per-table-directory commit monitors (same-JVM serialization; the
    * file lock in [[withCommitLock]] covers cross-process). */
  private val commitMonitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  def readManifestFile(f: File): Manifest = {
    val root = mapper.readTree(f)
    val files = root.get("files").elements().asScala.map { n =>
      val stats = if (n.has("stats"))
        n.get("stats").elements().asScala.map { o =>
          ColStat(o.get("col").asText(), o.get("min").asLong(),
            o.get("max").asLong())
        }.toSeq
      else Nil
      val blooms = if (n.has("blooms"))
        n.get("blooms").elements().asScala.map { o =>
          ColBloom(o.get("col").asText(), o.get("k").asInt(),
            o.get("bits").asInt(),
            java.util.Base64.getDecoder.decode(o.get("data").asText()))
        }.toSeq
      else Nil
      val deletes = if (n.has("deletes"))
        n.get("deletes").elements().asScala.map { o =>
          DelFile(o.get("name").asText(), o.get("n").asLong(),
            o.get("crc").asLong())
        }.toSeq
      else Nil
      val entryColIds = if (n.has("colIds"))
        Some(n.get("colIds").elements().asScala.map(o =>
          ColId(o.get("name").asText(), o.get("id").asInt())).toSeq)
      else None
      val nulls = if (n.has("nulls"))
        n.get("nulls").elements().asScala.map { o =>
          ColNull(o.get("col").asText(), o.get("n").asLong())
        }.toSeq
      else Nil
      Entry(n.get("name").asText(), n.get("rows").asLong(),
        n.get("crc").asLong(), stats,
        if (n.has("schema")) Some(n.get("schema").asText()) else None,
        if (n.has("part")) Some(n.get("part").asLong()) else None,
        if (n.has("pspec")) Some(n.get("pspec").asText()) else None,
        blooms, deletes,
        if (n.has("seq")) Some(n.get("seq").asLong()) else None,
        entryColIds, nulls)
    }.toSeq
    val v = if (root.has("version")) root.get("version").asLong() else 0L
    val eqDeletes = if (root.has("eqDeletes"))
      root.get("eqDeletes").elements().asScala.map { o =>
        EqDelete(o.get("col").asText(), o.get("seq").asLong(),
          o.get("values").elements().asScala.map(_.asText()).toSeq)
      }.toSeq
    else Nil
    val colIds = if (root.has("colIds"))
      root.get("colIds").elements().asScala.map(o =>
        ColId(o.get("name").asText(), o.get("id").asInt())).toSeq
    else Nil
    val lastId = if (root.has("lastColId")) root.get("lastColId").asInt()
      else if (colIds.nonEmpty) colIds.map(_.id).max else -1
    val txns = if (root.has("txns"))
      root.get("txns").fields().asScala
        .map(e => e.getKey -> e.getValue.asLong()).toMap
    else Map.empty[String, Long]
    normalize(
      Manifest(root.get("schemaDdl").asText(), files, v, eqDeletes,
        colIds, lastId,
        if (root.has("committedAt")) root.get("committedAt").asLong()
        else 0L, txns))
  }

  /** Just (version, committedAt) from a manifest document — the two
    * top-level fields timestamp resolution needs. A STREAMING parse
    * that stops as soon as both fields are seen ([[writeManifestAs]]
    * emits schemaDdl, version, committedAt BEFORE the files array, so
    * a stamped document costs a few tokens, not a full-document
    * parse; pre-clock documents skip the files subtree token-wise
    * without building a tree). Immutable VERSIONED documents
    * (`…​.v<N>.json` — archives and branch versions, written once and
    * never rewritten) are additionally cached by (path, mtime,
    * length), so a long archive chain pays the parse once across
    * resolutions. MUTABLE documents are never cached: the live base
    * manifest, branch HEADS (`…​.branch-<name>.json`, rewritten in
    * place on every branch commit — two rewrites within the
    * filesystem's mtime resolution that produce equal-length JSON
    * would serve a stale stamp) and tag docs. */
  private def readStamp(f: File): (Long, Long) = {
    val cacheable = f.getName.matches(".*\\.v\\d+\\.json")
    val key = if (cacheable)
      (f.getAbsolutePath, f.lastModified(), f.length()) else null
    if (cacheable) {
      val hit = stampCache.get(key)
      if (hit != null) return hit
    }
    val p = mapper.getFactory.createParser(f)
    var v = 0L; var c = 0L; var seenV = false; var seenC = false
    try {
      if (p.nextToken() ==
          com.fasterxml.jackson.core.JsonToken.START_OBJECT) {
        var t = p.nextToken()
        while (t != null &&
            t != com.fasterxml.jackson.core.JsonToken.END_OBJECT &&
            !(seenV && seenC)) {
          val name = p.currentName()
          p.nextToken()
          name match {
            case "version" => v = p.getLongValue; seenV = true
            case "committedAt" => c = p.getLongValue; seenC = true
            case _ => p.skipChildren(): Unit
          }
          t = p.nextToken()
        }
      }
    } finally p.close()
    if (cacheable) stampCache.put(key, (v, c)): Unit
    (v, c)
  }

  /** (path, mtime, length) → (version, committedAt) for immutable
    * archive/branch/tag documents — see [[readStamp]]. */
  private val stampCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long), (Long, Long)]()

  /** TIMESTAMP time travel (Iceberg/Delta `TIMESTAMP AS OF`): the
    * snapshot visible at wall-clock `millis` = the highest version
    * among base + archives whose committedAt ≤ millis. committedAt is
    * stamped by [[writeManifest]]'s monotonic clock. Documents
    * written before the clock existed carry no stamp and are NOT
    * reachable by timestamp (an archive file's mtime is when it was
    * ARCHIVED — the NEXT commit's instant — so treating it as a
    * commit time would systematically misresolve; `VERSION AS OF`
    * still reads them). A chain with no stamped document at all, and
    * reads before the first stamped commit, are refused loudly —
    * "empty table", "pre-clock table" and "you asked before history
    * starts" are three different answers. */
  def versionAt(dir: String, millis: Long): Long = {
    val docs = Option(new File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName == ManifestFile ||
        f.getName.matches("_graft_manifest\\.v\\d+\\.json")).toSeq
    if (docs.isEmpty) throw new IllegalArgumentException(
      s"graft-manifest: no manifest under $dir — nothing committed")
    val stamped = docs.map(readStamp).filter(_._2 > 0L)
    if (stamped.isEmpty) throw new IllegalArgumentException(
      s"graft-manifest: no snapshot under $dir carries a commit " +
        "stamp (table predates the commit clock) — use asOfVersion")
    val visible = stamped.filter(_._2 <= millis)
    if (visible.isEmpty) throw new IllegalArgumentException(
      s"graft-manifest: no snapshot committed at or before $millis " +
        s"under $dir — history starts later")
    visible.map(_._1).max
  }

  /** The commit time stamped on snapshot `version` (base or archive).
    * Routed through [[readAsOf]] so a vacuumed or never-committed
    * version fails with the standard "vacuumed or never committed"
    * message, not a raw FileNotFoundException. */
  def commitTimeOf(dir: String, version: Long): Long =
    readAsOf(dir, Some(version)).committedAt

  /** `asOfTimestamp` option value → epoch millis: pure digits are
    * millis; anything else parses as a 'yyyy-MM-dd[ HH:mm:ss[.SSS]]'
    * wall-clock instant in the SESSION TIME ZONE
    * (`spark.sql.session.timeZone`) — the same zone Spark's SQL
    * `TIMESTAMP AS OF` literal resolves through, so the two surfaces
    * of the feature pick the same snapshot in non-UTC sessions.
    * Date-only form means midnight of that day. Unparseable values
    * fail with the graft-manifest message, not a raw
    * DateTimeParseException. */
  def parseAsOfTimestamp(v: String): Long =
    if (v.forall(_.isDigit)) v.toLong
    else try {
      val zone = java.time.ZoneId.of(
        org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)
      val t = v.trim
      val ldt =
        if (t.length == 10) java.time.LocalDate.parse(t).atStartOfDay()
        else java.time.LocalDateTime.parse(t.replace(' ', 'T'))
      ldt.atZone(zone).toInstant.toEpochMilli
    } catch {
      case e: java.time.format.DateTimeParseException =>
        throw new IllegalArgumentException(
          s"graft-manifest: cannot parse asOfTimestamp '$v' — use " +
            "epoch millis, 'yyyy-MM-dd', or 'yyyy-MM-dd HH:mm:ss[.SSS]' " +
            "(resolved in the session time zone)", e)
    }

  /** Merge the two time-travel reader options into one version pin:
    * `asOfVersion` wins alone, `asOfTimestamp` resolves through
    * [[versionAt]]; both at once is a contradiction — refused BEFORE
    * any resolution work (the user gets the exclusivity error, not
    * whatever versionAt would have said about the timestamp). */
  def asOfFromOptions(dir: String,
      opts: Map[String, String]): Option[Long] = {
    val byVersion = opts.collectFirst {
      case (k, v) if k.equalsIgnoreCase("asOfVersion") => v.toLong }
    val tsOpt = opts.collectFirst {
      case (k, v) if k.equalsIgnoreCase("asOfTimestamp") => v }
    require(byVersion.isEmpty || tsOpt.isEmpty,
      "graft-manifest: asOfVersion and asOfTimestamp are mutually " +
        "exclusive")
    byVersion.orElse(
      tsOpt.map(v => versionAt(dir, parseAsOfTimestamp(v))))
  }

  /** Snapshot read: the base manifest by default, or exactly one
    * archived/base snapshot for `asOfVersion`. */
  def readAsOf(dir: String, asOfVersion: Option[Long]): Manifest =
    asOfVersion match {
      case None => readManifest(dir)
      case Some(v) =>
        val base = readManifest(dir)
        if (base.version == v) base
        else {
          val f = new File(dir, archiveManifestFile(v))
          if (!f.exists()) throw new IllegalArgumentException(
            s"graft-manifest: no snapshot v$v under $dir — vacuumed or " +
              s"never committed (current is v${base.version})")
          readManifestFile(f)
        }
    }

  def readManifest(dir: String): Manifest = {
    val f = new File(dir, ManifestFile)
    if (!f.exists()) throw nothingCommitted(dir)
    readManifestFile(f)
  }
}

final class ManifestTable(tableSchema: StructType, path: String,
    asOfDefault: Option[Long] = None,
    defaultPartitionedBy: Option[String] = None)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {

  /** The physical row address as DSv2 METADATA columns — what SQL
    * row-level operations (UPDATE / MERGE INTO) group and what
    * `SELECT _graft_file, _graft_pos FROM t` exposes without the
    * `withRowMeta` option. A table read WITH that option has real
    * columns of the same names; data columns win the conflict (the
    * SupportsMetadataColumns contract). */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = ManifestSink.MetaFileCol
        override def dataType(): org.apache.spark.sql.types.DataType =
          org.apache.spark.sql.types.StringType
        override def isNullable: Boolean = false
      },
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = ManifestSink.MetaPosCol
        override def dataType(): org.apache.spark.sql.types.DataType =
          org.apache.spark.sql.types.LongType
        override def isNullable: Boolean = false
      })

  /** SQL UPDATE / MERGE INTO (and DELETE with predicates the
    * metadata paths can't take): group-based COPY-ON-WRITE at FILE
    * granularity. Spark's row-level rewrite plans a runtime filter
    * on `_graft_file` (only files containing matched rows are read),
    * the scan records exactly the file set it planned, and the write
    * commits ONE snapshot that swaps those files for their rewritten
    * versions — untouched files are carried forward, the prior state
    * stays time-travelable. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(asOfDefault.isEmpty,
      "graft-manifest: no row-level operations on a VERSION AS OF read")
    () => new ManifestRowLevelOperation(info.command(), tableSchema, path,
      defaultPartitionedBy)
  }

  /** SQL `DELETE FROM` (via GraftCatalog): a single-column
    * equality/IN predicate routes through the O(metadata) EQUALITY
    * delete — no scan, no IO, correct at any table size; any other
    * expressible predicate routes through merge-on-read positional
    * delete vectors (kilobytes written, nothing rewritten). A
    * predicate the translator can't express is declined in
    * `canDeleteWhere`, so Spark reports it instead of silently
    * deleting the wrong rows. */
  override def canDeleteWhere(filters: Array[sources.Filter]): Boolean =
    asOfDefault.isEmpty &&
      (ManifestSink.eqDeletePlan(filters, tableSchema).isDefined ||
        ManifestSink.filtersToCondition(filters).isDefined)

  override def deleteWhere(filters: Array[sources.Filter]): Unit = {
    require(asOfDefault.isEmpty,
      "graft-manifest: cannot DELETE from a VERSION AS OF read")
    ManifestSink.eqDeletePlan(filters, tableSchema) match {
      case Some((c, values)) => ManifestSink.deleteEq(path, c, values)
      case None =>
        val cond = ManifestSink.filtersToCondition(filters).getOrElse(
          throw new UnsupportedOperationException(
            s"graft-manifest: cannot express DELETE predicate " +
              filters.mkString("[", ", ", "]")))
        ManifestSink.delete(
          org.apache.spark.sql.SparkSession.active, path, cond)
    }
  }

  /** SQL `TRUNCATE TABLE`: an empty snapshot — prior state archived
    * (still time-travelable until vacuum), equality deletes dropped
    * with the state they applied to. */
  override def truncateTable(): Boolean = {
    require(asOfDefault.isEmpty,
      "graft-manifest: cannot TRUNCATE a VERSION AS OF read")
    ManifestSink.truncate(path)
    true
  }
  override def name(): String = s"graft-manifest:$path"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.STREAMING_WRITE,
      TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns
        with SupportsPushDownFilters
        with SupportsPushDownAggregates {
      private val asOf = ManifestSink
        .asOfFromOptions(path, options.asScala.toMap)
        .orElse(asOfDefault) // SQL VERSION/TIMESTAMP AS OF via catalog
      // audit read of a WAP branch chain (mutually exclusive with
      // time travel — readRef refuses the combination)
      private val branchOpt = Option(options.get("branch"))
      // named-snapshot read of an immutable tag (readRef refuses
      // combining it with asOfVersion or branch)
      private val tagOpt = Option(options.get("tag"))
      // streaming change-data-feed read (schema gains the two CDF
      // columns in inferSchema; batch CDF stays ManifestSink.changes)
      private val cdf = options.getBoolean("readChangeFeed", false)
      // `restrictFiles` plans ONLY the named manifest entries — the
      // change-data-feed pruning hook ([[ManifestSink.changes]]): a
      // version-step diff proves most files unchanged from the
      // manifests alone, and this option is how those files are
      // never opened
      private val restrict: Option[Set[String]] =
        Option(options.get("restrictFiles"))
          .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      private var required: StructType = tableSchema
      private var zoneFilters: Array[sources.Filter] = Array.empty
      private var aggPushed: Option[Seq[ManifestAggScan.Spec]] = None
      // COUNT(*) / MIN(col) / MAX(col) with no grouping and no
      // filters are answered from the MANIFEST alone — row counts and
      // per-file zone-map min/max are already durable metadata, so a
      // 100 TB aggregate opens ZERO data files (Iceberg's
      // metadata-aggregate idea). Strictly conservative:
      //  - count: exact under positional deletes (liveRows), but a
      //    live EQUALITY delete makes it an upper bound — decline.
      //  - min/max: a row-level delete of ANY kind could have masked
      //    the extreme row, so decline unless every file is
      //    delete-free; every live file must carry the column's stat
      //    (a missing stat is indistinguishable from an un-statted
      //    writer), and the type must be one the zone maps
      //    canonicalize to physical Long. NULLs are already right:
      //    stats cover non-null values, min/max ignore NULLs.
      // Anything else (filters, grouping, CDF/restricted reads, other
      // aggregates) declines and takes the normal scan path.
      private def aggSpecs(
          agg: org.apache.spark.sql.connector.expressions.aggregate
            .Aggregation): Option[Seq[ManifestAggScan.Spec]] = {
        import org.apache.spark.sql.connector.expressions.aggregate.{
          CountStar, Max, Min}
        import org.apache.spark.sql.types._
        if (agg.groupByExpressions().nonEmpty || zoneFilters.nonEmpty ||
          restrict.nonEmpty || cdf) return None
        def colOf(e: org.apache.spark.sql.connector.expressions
            .Expression): Option[String] = e match {
          case nr: org.apache.spark.sql.connector.expressions
              .NamedReference if nr.fieldNames.length == 1 =>
            Some(nr.fieldNames()(0))
          case _ => None
        }
        def statable(c: String): Boolean =
          tableSchema.fieldNames.contains(c) &&
            (tableSchema(c).dataType match {
              case LongType | IntegerType | ShortType | ByteType |
                   DateType | TimestampType | TimestampNTZType => true
              case _ => false
            })
        val specs = agg.aggregateExpressions().toSeq.map {
          case _: CountStar =>
            Some(ManifestAggScan.Spec("count", null, LongType))
          case mn: Min => colOf(mn.column()).filter(statable)
            .map(c => ManifestAggScan.Spec("min", c,
              tableSchema(c).dataType))
          case mx: Max => colOf(mx.column()).filter(statable)
            .map(c => ManifestAggScan.Spec("max", c,
              tableSchema(c).dataType))
          // COUNT(col) = Σ (rows − null_count(col)) — any column TYPE
          // qualifies (null counts are type-agnostic), but only on
          // delete-free chains with the count durable in every entry.
          case ct: org.apache.spark.sql.connector.expressions.aggregate
              .Count if !ct.isDistinct =>
            colOf(ct.column())
              .filter(c => tableSchema.fieldNames.contains(c))
              .map(c => ManifestAggScan.Spec("countcol", c, LongType))
          case _ => None
        }
        if (specs.exists(_.isEmpty)) return None
        val s = specs.flatten
        val m = ManifestSink.readRef(path, asOf, branchOpt, tagOpt)
        if (m.eqDeletes.nonEmpty) return None
        val minMaxCols = s.collect {
          case sp if sp.kind == "min" || sp.kind == "max" => sp.col
        }
        if (minMaxCols.nonEmpty) {
          val ok = m.files.forall(e =>
            e.deletes.isEmpty && e.liveRows == e.rows) &&
            minMaxCols.forall(c =>
              m.files.forall(e => e.stats.exists(_.col == c)))
          if (!ok) return None
        }
        val countCols = s.collect {
          case sp if sp.kind == "countcol" => sp.col
        }
        if (countCols.nonEmpty) {
          val ok = m.files.forall(e =>
            e.deletes.isEmpty && e.liveRows == e.rows) &&
            countCols.forall(c =>
              m.files.forall(e => e.nulls.exists(_.col == c)))
          if (!ok) return None
        }
        Some(s)
      }
      override def supportCompletePushDown(
          agg: org.apache.spark.sql.connector.expressions.aggregate
            .Aggregation): Boolean = aggSpecs(agg).isDefined
      override def pushAggregation(
          agg: org.apache.spark.sql.connector.expressions.aggregate
            .Aggregation): Boolean = {
        aggPushed = aggSpecs(agg)
        aggPushed.isDefined
      }
      // Catalyst hands down the projected column set; the paged
      // columnar file layout turns this into TRUE skipped bytes (the
      // reader seeks past unreferenced column blocks) — at 100 TB a
      // 2-column read of a 20-column table does ~10% of the IO.
      // Pruning is TOP-LEVEL only: a nested-pruned struct (st.y of
      // st(x,y)) is widened back to the stored field, because column
      // blocks encode whole top-level values — Spark projects the
      // nested path above the scan.
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = StructType(requiredSchema.fieldNames.map {
          case nm @ ManifestSink.MetaFileCol if !tableSchema.fieldNames
              .contains(nm) => // requested via SupportsMetadataColumns
            org.apache.spark.sql.types.StructField(nm,
              org.apache.spark.sql.types.StringType, nullable = false)
          case nm @ ManifestSink.MetaPosCol if !tableSchema.fieldNames
              .contains(nm) =>
            org.apache.spark.sql.types.StructField(nm,
              org.apache.spark.sql.types.LongType, nullable = false)
          case nm => tableSchema(nm)
        })
      // Zone-map pruning is FILE-granular and conservative, so every
      // filter stays engine-applied (all filters returned as
      // residual); the comparisons are additionally used to skip
      // whole files whose manifest min/max prove them empty — the
      // Iceberg manifest-pruning idea at single-document scale.
      override def pushFilters(
          filters: Array[sources.Filter]): Array[sources.Filter] = {
        zoneFilters = filters
        filters
      }
      override def pushedFilters(): Array[sources.Filter] = zoneFilters
      override def build(): Scan =
        if (aggPushed.isDefined)
          new ManifestAggScan(path, asOf, branchOpt, tagOpt,
            aggPushed.get)
        else new ManifestScan(tableSchema, required, path, asOf, zoneFilters,
          options.getBoolean("groupByPartition", false), restrict,
          options.getBoolean("ignoreChanges", false), branchOpt, cdf,
          tagOpt)
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(info.options.get("tag") == null,
      "graft-manifest: tags are immutable — write to a branch or the " +
        "base chain, then create_tag the committed state")
    new ManifestWriteBuilder(info.schema(), path, info.queryId(),
      // a catalog table's declared PARTITIONED BY transform is the
      // write default; an explicit write option still overrides
      Option(info.options.get("partitionedBy"))
        .orElse(defaultPartitionedBy),
      Option(info.options.get("bloomFilterColumns")),
      Option(info.options.get("bloomFilterBits")),
      Option(info.options.get("branch")))
  }
}

final class ManifestWriteBuilder(schema: StructType, path: String,
    queryId: String, partitionedBy: Option[String],
    bloomFilterColumns: Option[String] = None,
    bloomFilterBits: Option[String] = None,
    branch: Option[String] = None)
    extends WriteBuilder with SupportsTruncate {
  private var truncateFirst = false
  override def truncate(): WriteBuilder = { truncateFirst = true; this }
  override def build(): Write = {
    // validate the bloom declaration on the DRIVER, before any task
    // runs: named columns must exist and be string/integral-shaped
    val bloomCols: Seq[String] = bloomFilterColumns
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)
    val bloomBits: Int = bloomFilterBits.map(_.trim.toInt)
      .getOrElse(ManifestSink.BloomBits)
    if (bloomBits <= 0 || bloomBits % 8 != 0)
      throw new IllegalArgumentException(
        s"graft-manifest: bloomFilterBits must be a positive multiple " +
          s"of 8, got $bloomBits")
    bloomCols.foreach { c =>
      val f = schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"graft-manifest: bloomFilterColumns column '$c' not in " +
            s"write schema ${schema.fieldNames.mkString("(", ", ", ")")}"))
      import org.apache.spark.sql.types._
      f.dataType match {
        case LongType | IntegerType | ShortType | ByteType | DateType |
             TimestampType | TimestampNTZType | StringType => ()
        case dt => throw new IllegalArgumentException(
          s"graft-manifest: bloomFilterColumns column '$c' has " +
            s"unsupported type ${dt.sql} — integral/date/timestamp/" +
            "string only")
      }
    }
    // validate the partition transform on the DRIVER, before any task
    // runs: the spec must parse and name an integral-typed column
    partitionedBy.foreach { s =>
      val spec = ManifestSink.parsePartSpec(s)
      val f = schema.fields.find(_.name == spec.col).getOrElse(
        throw new IllegalArgumentException(
          s"graft-manifest: partitionedBy column '${spec.col}' not in " +
            s"write schema ${schema.fieldNames.mkString("(", ", ", ")")}"))
      import org.apache.spark.sql.types._
      f.dataType match {
        case LongType | IntegerType | ShortType | ByteType | DateType |
             TimestampType | TimestampNTZType => ()
        case dt => throw new IllegalArgumentException(
          s"graft-manifest: partitionedBy column '${spec.col}' has " +
            s"unsupported type ${dt.sql} — integral/date/timestamp only")
      }
      spec match {
        case ManifestSink.DaysPart(_) =>
          if (f.dataType != TimestampType &&
              f.dataType != TimestampNTZType)
            throw new IllegalArgumentException(
              "graft-manifest: days(...) needs a timestamp column " +
                s"('${spec.col}' is ${f.dataType.sql}; use identity " +
                "for dates — they are already day-grained)")
        case ManifestSink.BucketPart(n, _) =>
          if (n <= 0) throw new IllegalArgumentException(
            s"graft-manifest: bucket count must be positive, got $n")
        case _ => ()
      }
    }
    branch.foreach(ManifestSink.requireBranchName)
    new Write {
      override def toBatch: BatchWrite =
        new ManifestBatchWrite(schema, path, truncateFirst, partitionedBy,
          bloomCols, bloomBits, branch)
      override def toStreaming: StreamingWrite = {
        // the branch surface is batch-only by declaration: streaming
        // idempotence tokens live on the base chain
        require(branch.isEmpty,
          "graft-manifest: streaming writes cannot target a branch")
        new ManifestStreamingWrite(schema, path, queryId, partitionedBy,
          bloomCols, bloomBits)
      }
    }
  }
}

/** Streaming (append-mode) manifest sink: each epoch is one snapshot
  * commit, keyed by (query id, epoch) — the exactly-once half the
  * engine cannot provide alone. `queryId` is the id the checkpoint
  * persists (Spark passes the query's `id`, not its `runId`), so it
  * survives a restart. When a crash lands between the offset WAL and
  * the engine's commit log, the batch is re-executed and this sink is
  * handed the SAME epoch again with freshly-named data files; the head
  * already records that epoch for the query, so
  * [[ManifestSink.commitSnapshot]] deletes the duplicate attempt's
  * files instead of double-publishing (Structured Streaming's
  * idempotent sink; Delta keeps the same token as txnAppId/txnVersion).
  * An epoch whose tasks wrote no file commits nothing.
  */
final class ManifestStreamingWrite(schema: StructType, path: String,
    queryId: String,
    partitionedBy: Option[String] = None,
    bloomCols: Seq[String] = Nil,
    bloomBits: Int = ManifestSink.BloomBits)
    extends StreamingWrite {

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    val dir = new File(path)
    if (!dir.exists()) dir.mkdirs()
    new ManifestStreamingWriterFactory(ManifestSink.nullableDdl(schema),
      path, partitionedBy,
      bloomCols, bloomBits)
  }

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val entries = messages.collect { case m: ManifestCommitMessage =>
      m.files }.toSeq.flatten
    if (entries.nonEmpty)
      ManifestSink.commitWrite(path, ManifestSink.nullableDdl(schema),
        entries, overwrite = false, Some(queryId -> epochId))
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    messages.collect { case m: ManifestCommitMessage =>
      m.files.foreach(e => new File(path, e.name).delete()) }
}

final class ManifestStreamingWriterFactory(schemaDdl: String, path: String,
    partitionedBy: Option[String] = None,
    bloomCols: Seq[String] = Nil,
    bloomBits: Int = ManifestSink.BloomBits)
    extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new ManifestDataWriter(StructType.fromDDL(schemaDdl), path, partitionId,
      taskId, partitionedBy, bloomCols, bloomBits)
}

final class ManifestBatchWrite(schema: StructType, path: String,
    truncateFirst: Boolean, partitionedBy: Option[String] = None,
    bloomCols: Seq[String] = Nil,
    bloomBits: Int = ManifestSink.BloomBits,
    branch: Option[String] = None)
    extends BatchWrite {

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory = {
    val dir = new File(path)
    if (!dir.exists()) dir.mkdirs()
    new ManifestWriterFactory(ManifestSink.nullableDdl(schema), path,
      partitionedBy,
      bloomCols, bloomBits)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val entries = messages.collect { case m: ManifestCommitMessage =>
      m.files }.toSeq.flatten
    val ddl = ManifestSink.nullableDdl(schema)
    branch match {
      case Some(b) =>
        ManifestSink.commitBranch(path, b, ddl, entries, truncateFirst)
      case None =>
        ManifestSink.commitWrite(path, ddl, entries, truncateFirst)
        ManifestSink.sweep(path, data = true)
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.collect { case m: ManifestCommitMessage =>
      m.files.foreach(e => new File(path, e.name).delete()) }
}

/** One message per task; `files` has one entry per data file the task
  * produced — exactly one unpartitioned, one per distinct partition
  * value under a partition transform. */
final case class ManifestCommitMessage(files: Seq[ManifestSink.Entry])
    extends WriterCommitMessage

final class ManifestWriterFactory(schemaDdl: String, path: String,
    partitionedBy: Option[String] = None,
    bloomCols: Seq[String] = Nil,
    bloomBits: Int = ManifestSink.BloomBits)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new ManifestDataWriter(StructType.fromDDL(schemaDdl), path, partitionId,
      taskId, partitionedBy, bloomCols, bloomBits)
}

/** Writes the paged COLUMNAR layout: rows buffer per column until the
  * page fills ([[ManifestSink.PageRows]] rows or ~1 MiB of encoded
  * bytes), then one page is emitted as
  * `[rowCount:int][numCols:int][(blockLen:int, blockCrc:long)*][block*]`
  * where each column block is the page's values for ONE column,
  * length-prefixed single-field UnsafeRow encoded. A pruned read can
  * therefore seek past every unreferenced block — column pruning is
  * skipped IO, not a post-read projection. Per-block CRC32s catch
  * corruption on pruned reads; the whole-file CRC32 in the manifest
  * entry (headers + all blocks) catches it on full reads. Every
  * attempt writes a UNIQUE file name, so speculative or retried
  * attempts can never collide; only the committed name reaches the
  * driver. */
final class ManifestDataWriter(schema: StructType, path: String,
    partitionId: Int, taskId: Long, partitionedBy: Option[String] = None,
    bloomCols: Seq[String] = Nil,
    bloomBits: Int = ManifestSink.BloomBits)
    extends DataWriter[InternalRow] {
  private val spec = partitionedBy.map(ManifestSink.parsePartSpec)
  // partition-value extractor: timestamps read as micros, dates as
  // days — the same physical getLong/getInt access the zone maps use
  private val partGet: InternalRow => Long = spec.map { sp =>
    val i = schema.fieldNames.indexOf(sp.col)
    val get: InternalRow => Long = schema.fields(i).dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.TimestampNTZType =>
        (r: InternalRow) => r.getLong(i)
      case org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.DateType =>
        (r: InternalRow) => r.getInt(i).toLong
      case org.apache.spark.sql.types.ShortType =>
        (r: InternalRow) => r.getShort(i).toLong
      case _ => (r: InternalRow) => r.getByte(i).toLong
    }
    (r: InternalRow) =>
      if (r.isNullAt(i)) ManifestSink.NullPart else sp(get(r))
  }.getOrElse((_: InternalRow) => 0L)
  // one open file per distinct partition value seen by THIS task.
  // Writer memory is bounded by (open partitions) × (page buffer);
  // at scale the caller aligns tasks with the transform first
  // (repartition on the partition expression — then each task sees
  // ~1 partition value), exactly Spark's dynamic-partition-write
  // contract. Insertion order keeps commit deterministic per task.
  private val writers =
    scala.collection.mutable.LinkedHashMap.empty[Long, ManifestFileWriter]

  private def writerFor(part: Long): ManifestFileWriter =
    writers.getOrElseUpdate(part,
      new ManifestFileWriter(schema, path, partitionId, taskId,
        if (spec.isEmpty) None else Some(part),
        spec.map(_.describe), bloomCols, bloomBits))

  override def write(record: InternalRow): Unit =
    writerFor(partGet(record)).write(record)

  override def commit(): WriterCommitMessage = {
    // an empty unpartitioned task still publishes its (empty) file —
    // the pre-partitioning behavior; a partitioned task that saw no
    // rows publishes nothing
    if (spec.isEmpty && writers.isEmpty) writerFor(0L)
    ManifestCommitMessage(writers.values.map(_.finish()).toSeq)
  }

  override def abort(): Unit = writers.values.foreach(_.abortDelete())
  override def close(): Unit = writers.values.foreach(_.close())
}

/** The per-file writing core (one instance per produced data file). */
final class ManifestFileWriter(schema: StructType, path: String,
    partitionId: Int, taskId: Long, part: Option[Long],
    pspec: Option[String], bloomCols: Seq[String] = Nil,
    bloomBits: Int = ManifestSink.BloomBits) {
  private val name =
    f"part-$partitionId%05d-$taskId-${UUID.randomUUID()}${ManifestSink.DataSuffix}"
  private val file = new File(path, name)
  private val fileCrc = new CRC32()
  private val out = new DataOutputStream(new CheckedOutputStream(
    new BufferedOutputStream(new FileOutputStream(file)), fileCrc))
  // Per-column field encoders (optimization r13, guide §1.2 "per-task
  // work"): the generic path paid, per row and column, an
  // UnsafeProjection call + a getBytes COPY + a DataOutputStream
  // writeInt that pushed the length one byte at a time through the
  // CRC stream. Fixed-width columns now hand-encode the identical
  // 16-byte single-field UnsafeRow (8B null bitset + 8B value slot,
  // native byte order — byte-for-byte what UnsafeRowWriter emits)
  // plus the 4-byte big-endian length prefix into ONE reusable 20-byte
  // buffer written (and CRC'd) in a single call; only var-length
  // columns build a projection, and they stream the row's bytes directly
  // (UnsafeRow.writeToStream) instead of copying them out first. The
  // on-disk format is UNCHANGED. Each encoder returns the bytes it
  // appended so the page-size check is a running counter, not a
  // per-row sum over column buffers.
  private val writeToStreamBuf = new Array[Byte](4096)
  private val colWrite: Array[InternalRow => Int] = {
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.Platform
    val OFF = Platform.BYTE_ARRAY_OFFSET
    def fixed(i: Int)(put: (Array[Byte], InternalRow) => Unit)
        : InternalRow => Int = {
      val buf = new Array[Byte](20)
      buf(3) = 16 // big-endian int length prefix = 16
      (r: InternalRow) => {
        if (r.isNullAt(i)) {
          Platform.putLong(buf, OFF + 4L, 1L)  // null bit 0 set
          Platform.putLong(buf, OFF + 12L, 0L) // zeroed value slot
        } else {
          Platform.putLong(buf, OFF + 4L, 0L)
          Platform.putLong(buf, OFF + 12L, 0L)
          put(buf, r)
        }
        colOuts(i).write(buf, 0, 20)
        20
      }
    }
    schema.fields.zipWithIndex.map { case (f, i) =>
      f.dataType match {
        case LongType | TimestampType | TimestampNTZType =>
          fixed(i)((b, r) => Platform.putLong(b, OFF + 12L, r.getLong(i)))
        case IntegerType | DateType =>
          fixed(i)((b, r) => Platform.putInt(b, OFF + 12L, r.getInt(i)))
        case ShortType =>
          fixed(i)((b, r) => Platform.putShort(b, OFF + 12L, r.getShort(i)))
        case ByteType =>
          fixed(i)((b, r) => Platform.putByte(b, OFF + 12L, r.getByte(i)))
        case BooleanType =>
          fixed(i)((b, r) =>
            Platform.putBoolean(b, OFF + 12L, r.getBoolean(i)))
        case DoubleType =>
          // NaN-normalized exactly like UnsafeRowWriter.write(double)
          fixed(i)((b, r) => {
            var v = r.getDouble(i)
            if (java.lang.Double.isNaN(v)) v = Double.NaN
            Platform.putDouble(b, OFF + 12L, v)
          })
        case FloatType =>
          fixed(i)((b, r) => {
            var v = r.getFloat(i)
            if (java.lang.Float.isNaN(v)) v = Float.NaN
            Platform.putFloat(b, OFF + 12L, v)
          })
        case _ =>
          // a single-field extractor: generic over every var-length
          // Spark type (nested included) without a per-type codec
          val proj = UnsafeProjection.create(
            Seq[Expression](BoundReference(i, f.dataType, f.nullable)))
          (r: InternalRow) => {
            val u = proj(r)
            val n = u.getSizeInBytes
            colOuts(i).writeInt(n)
            u.writeToStream(colOuts(i), writeToStreamBuf)
            n + 4
          }
      }
    }
  }
  private val colBufs = Array.fill(schema.length)(new ByteArrayOutputStream())
  private val colCrcs = Array.fill(schema.length)(new CRC32())
  private val colOuts = colBufs.zip(colCrcs).map { case (b, c) =>
    new DataOutputStream(new CheckedOutputStream(b, c)) }
  // zone-map accumulators for integral-typed columns (all carried as
  // Long; the getter matches the physical accessor per type)
  private val statGet: Array[InternalRow => Long] =
    schema.fields.zipWithIndex.map { case (f, i) =>
      f.dataType match {
        case org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.TimestampType |
             org.apache.spark.sql.types.TimestampNTZType =>
          (r: InternalRow) => r.getLong(i)
        case org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.DateType =>
          (r: InternalRow) => r.getInt(i).toLong
        case org.apache.spark.sql.types.ShortType =>
          (r: InternalRow) => r.getShort(i).toLong
        case org.apache.spark.sql.types.ByteType =>
          (r: InternalRow) => r.getByte(i).toLong
        case _ => null
      }
    }
  private val statMin = Array.fill(schema.length)(Long.MaxValue)
  private val statMax = Array.fill(schema.length)(Long.MinValue)
  private val statSeen = Array.fill(schema.length)(false)
  private val nullCnt = new Array[Long](schema.length)
  // per-file bloom accumulators for the declared columns: integral
  // shapes key on the same physical Long the zone maps carry, strings
  // on FNV-1a64 of the UTF-8 bytes (nulls never enter a bloom)
  private val bloomIdx: Array[Int] =
    bloomCols.map(c => schema.fieldNames.indexOf(c)).toArray
  private val bloomGet: Array[InternalRow => Long] = bloomIdx.map { i =>
    schema.fields(i).dataType match {
      case org.apache.spark.sql.types.StringType =>
        (r: InternalRow) => ManifestSink.fnv64(r.getUTF8String(i).getBytes)
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.TimestampNTZType =>
        (r: InternalRow) => r.getLong(i)
      case org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.DateType =>
        (r: InternalRow) => r.getInt(i).toLong
      case org.apache.spark.sql.types.ShortType =>
        (r: InternalRow) => r.getShort(i).toLong
      case _ => (r: InternalRow) => r.getByte(i).toLong
    }
  }
  private val bloomData: Array[Array[Byte]] =
    bloomIdx.map(_ => new Array[Byte](bloomBits / 8))
  // per-PAGE zone maps (reset at every flush): the row-group-skip
  // granularity — a filtered reader seeks past whole pages these
  // bounds prove empty
  private val pageMin = Array.fill(schema.length)(Long.MaxValue)
  private val pageMax = Array.fill(schema.length)(Long.MinValue)
  private val pageSeen = Array.fill(schema.length)(false)
  private var pageRows = 0
  private var pageBytes = 0L
  private var rows = 0L

  def write(record: InternalRow): Unit = {
    var i = 0
    while (i < colWrite.length) {
      pageBytes += colWrite(i)(record)
      if (record.isNullAt(i)) nullCnt(i) += 1
      else if (statGet(i) != null) {
        val v = statGet(i)(record)
        if (v < statMin(i)) statMin(i) = v
        if (v > statMax(i)) statMax(i) = v
        statSeen(i) = true
        if (v < pageMin(i)) pageMin(i) = v
        if (v > pageMax(i)) pageMax(i) = v
        pageSeen(i) = true
      }
      i += 1
    }
    var bi = 0
    while (bi < bloomIdx.length) {
      if (!record.isNullAt(bloomIdx(bi)))
        ManifestSink.bloomSet(bloomData(bi), bloomBits, ManifestSink.BloomK,
          bloomGet(bi)(record))
      bi += 1
    }
    pageRows += 1
    rows += 1
    if (pageRows == ManifestSink.PageRows ||
        pageBytes >= ManifestSink.PageBytes)
      flushPage()
  }

  private def flushPage(): Unit = {
    out.writeInt(pageRows)
    out.writeInt(colBufs.length)
    var i = 0
    while (i < colBufs.length) {
      out.writeInt(colBufs(i).size)
      out.writeLong(colCrcs(i).getValue)
      i += 1
    }
    // page zone-map section: (colIdx, min, max) for every integral
    // column that saw a non-null value in THIS page
    val nStats = pageSeen.count(identity)
    out.writeInt(nStats)
    i = 0
    while (i < colBufs.length) {
      if (pageSeen(i)) {
        out.writeInt(i)
        out.writeLong(pageMin(i))
        out.writeLong(pageMax(i))
      }
      i += 1
    }
    i = 0
    while (i < colBufs.length) {
      colBufs(i).writeTo(out)
      colBufs(i).reset()
      colCrcs(i).reset()
      pageMin(i) = Long.MaxValue
      pageMax(i) = Long.MinValue
      pageSeen(i) = false
      i += 1
    }
    pageRows = 0
    pageBytes = 0L
  }

  def finish(): ManifestSink.Entry = {
    if (pageRows > 0) flushPage()
    out.close()
    val stats = schema.fields.indices.collect {
      case i if statSeen(i) =>
        ManifestSink.ColStat(schema(i).name, statMin(i), statMax(i))
    }
    val blooms = bloomCols.indices.map(bi =>
      ManifestSink.ColBloom(bloomCols(bi), ManifestSink.BloomK, bloomBits,
        bloomData(bi)))
    val nulls = schema.fields.indices.map(i =>
      ManifestSink.ColNull(schema(i).name, nullCnt(i)))
    ManifestSink.Entry(name, rows, fileCrc.getValue, stats, None, part,
      pspec, blooms, nulls = nulls)
  }

  def abortDelete(): Unit = { out.close(); file.delete() }
  def close(): Unit = out.close()
}

final class ManifestScan(fullSchema: StructType, prunedSchema: StructType,
    path: String, asOfVersion: Option[Long] = None,
    zoneFilters: Array[sources.Filter] = Array.empty,
    groupByPartition: Boolean = false,
    restrictFiles: Option[Set[String]] = None,
    ignoreChanges: Boolean = false,
    branch: Option[String] = None,
    readChangeFeed: Boolean = false,
    tag: Option[String] = None)
    extends Scan with SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning {
  override def readSchema(): StructType = prunedSchema

  /** Storage-partitioned-join support (`option("groupByPartition",
    * "true")`): when every live file carries the SAME
    * `identity(col)` transform, files are planned as one input
    * partition PER PARTITION VALUE (each exposing its key via
    * `HasPartitionKey`) and the scan reports
    * `KeyGroupedPartitioning(identity(col))` — so a join of two
    * manifest tables co-partitioned on the join key runs with ZERO
    * shuffle on either side (Spark's storage-partitioned join,
    * `spark.sql.sources.v2.bucketing.enabled`). At 100 TB this is
    * the difference between shuffling both fact tables and shuffling
    * nothing. Falls back silently to per-file planning when the
    * layout doesn't qualify; grouping alone is semantically neutral
    * either way. */
  private lazy val manifest =
    ManifestSink.readRef(path, asOfVersion, branch, tag)
  private lazy val entries: Seq[ManifestSink.Entry] =
    manifest.files.filter(e => restrictFiles.forall(_(e.name)) &&
      ManifestSink.entryMayMatch(e, zoneFilters.toSeq))
  private lazy val identityCol: Option[String] =
    if (!groupByPartition || entries.isEmpty) None
    else {
      val specs = entries.map(_.pspec)
      if (specs.exists(_.isEmpty) || specs.distinct.size != 1) None
      else try {
        ManifestSink.parsePartSpec(specs.head.get) match {
          case ManifestSink.IdentityPart(c) => Some(c)
          case _ => None
        }
      } catch { case _: IllegalArgumentException => None }
    }
  private lazy val groups: Seq[(Option[Long], Seq[ManifestSink.Entry])] =
    entries.groupBy(_.part).toSeq
      .map { case (k, es) => (k, es) }
      .sortBy(_._1.getOrElse(Long.MinValue))

  /** CBO feed: row count from the manifest (durable, exact after
    * zone-map pruning of whole files) and on-disk bytes scaled by the
    * column-pruning fraction — what lets Catalyst choose a broadcast
    * join against a small manifest table without scanning it. */
  override def estimateStatistics(): Statistics = {
    val rows = entries.map(_.liveRows).sum
    val bytes = entries.map(e =>
      new File(s"$path/${e.name}").length()).sum
    val frac = math.max(1, prunedSchema.length).toDouble /
      math.max(1, fullSchema.length)
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(math.max(1L, (bytes * frac).toLong))
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows)
    }
  }
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    identityCol match {
      case Some(c) =>
        new org.apache.spark.sql.connector.read.partitioning
          .KeyGroupedPartitioning(
            Array(org.apache.spark.sql.connector.expressions.Expressions
              .identity(c)),
            groups.size)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning
          .UnknownPartitioning(entries.size)
    }

  private def singlePartition(e: ManifestSink.Entry): ManifestInputPartition =
    ManifestInputPartition(s"$path/${e.name}", e.rows, e.crc,
      e.schemaDdl.getOrElse(manifest.schemaDdl), e.deletes,
      // only equality deletes committed AFTER this file entered
      // apply to it (sequence-number bound; pre-seq files = 0)
      manifest.eqDeletes.filter(_.seq > e.seq.getOrElse(0L)))

  override def toBatch: Batch = {
    // a batch read cannot attribute change versions — silent NULL
    // change columns would look like data; refuse loudly
    require(!readChangeFeed,
      "graft-manifest: readChangeFeed is a STREAMING read " +
        "(spark.readStream) — for batch change rows use " +
        "ManifestSink.changes(spark, dir, from, to)")
    batchImpl
  }
  private lazy val batchImpl: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] =
      identityCol match {
        case Some(c) =>
          // the partition-key row must carry the COLUMN's type
          val dt = fullSchema(c).dataType
          def typed(v: Option[Long]): Any = v match {
            case None | Some(ManifestSink.NullPart) => null
            case Some(l) => dt match {
              case org.apache.spark.sql.types.IntegerType |
                   org.apache.spark.sql.types.DateType => l.toInt
              case org.apache.spark.sql.types.ShortType => l.toShort
              case org.apache.spark.sql.types.ByteType => l.toByte
              case _ => l
            }
          }
          groups.map { case (k, es) =>
            ManifestGroupedPartition(es.map(singlePartition),
              Array[Any](typed(k))): InputPartition
          }.toArray
        case None =>
          entries.map(e => singlePartition(e): InputPartition).toArray
      }
    override def createReaderFactory(): PartitionReaderFactory =
      new ManifestReaderFactory(fullSchema.toDDL, prunedSchema.fieldNames,
        zoneFilters)
  }

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(asOfVersion.isEmpty,
      "graft-manifest: cannot stream from a VERSION AS OF read")
    require(tag.isEmpty,
      "graft-manifest: cannot stream from a tag — a tag is one frozen " +
        "snapshot, there are no future versions to plan batches from")
    if (readChangeFeed)
      new ManifestCdfMicroBatchStream(path,
        StructType(fullSchema.fields.filterNot(f =>
          f.name == ManifestSink.CdfTypeCol ||
            f.name == ManifestSink.CdfVersionCol)).toDDL,
        prunedSchema.fieldNames, ignoreChanges)
    else
      new ManifestMicroBatchStream(path, fullSchema.toDDL,
        prunedSchema.fieldNames, zoneFilters, ignoreChanges)
  }
}

/** Offset of the manifest streams: a base-chain snapshot version. */
final case class ManifestVersionOffset(version: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = s"""{"version":$version}"""
}

/** The manifest streams' shared offsets: snapshot VERSIONS — durable,
  * totally ordered, checkpoint-replayable because manifests are
  * immutable. The first batch plans the starting snapshot
  * ([[initial]]), later ones each version step of (start, end]
  * ([[step]]), from manifests alone (no data IO). */
abstract class ManifestVersionStream(path: String)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

  /** Partitions of the whole table as of version `e`. */
  protected def initial(m: ManifestSink.Manifest, e: Long): Seq[InputPartition]

  /** Partitions of version step `v`, from its manifest and v − 1's. */
  protected def step(prev: ManifestSink.Manifest, curr: ManifestSink.Manifest,
      v: Long): Seq[InputPartition]

  override def initialOffset(): Offset = ManifestVersionOffset(-1L)
  override def latestOffset(): Offset =
    ManifestVersionOffset(ManifestSink.readManifest(path).version)
  override def deserializeOffset(json: String): Offset =
    ManifestVersionOffset(
      new ObjectMapper().readTree(json).get("version").asLong())

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[ManifestVersionOffset].version
    val e = end.asInstanceOf[ManifestVersionOffset].version
    if (e <= s) Array.empty
    else if (s < 0) initial(ManifestSink.readAsOf(path, Some(e)), e).toArray
    else (s + 1 to e).flatMap { v =>
      step(ManifestSink.readAsOf(path, Some(v - 1)),
        ManifestSink.readAsOf(path, Some(v)), v)
    }.toArray
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Streaming SOURCE over the manifest table (the Delta-source shape:
  * stream OUT of the lakehouse): the first batch is the full table as
  * of the then-current version (the initial snapshot), every later
  * batch is exactly the files APPENDED by versions (start, end]. A
  * non-append commit (DELETE/UPDATE/overwrite/compaction) fails the
  * stream loudly — those rows were already emitted and a pure
  * append-stream cannot retract them — unless
  * `option("ignoreChanges", "true")` declares the Delta-style
  * trade-off (newly ADDED files still flow; masked rows are not
  * retracted, rewritten rows may re-emit). Retention caveat, same as
  * Delta: `vacuum` must keep every version an active checkpoint has
  * not yet read past. */
final class ManifestMicroBatchStream(path: String, tableSchemaDdl: String,
    prunedFieldNames: Array[String], zoneFilters: Array[sources.Filter],
    ignoreChanges: Boolean)
    extends ManifestVersionStream(path) {

  private def partOf(m: ManifestSink.Manifest,
      en: ManifestSink.Entry): InputPartition =
    ManifestInputPartition(s"$path/${en.name}", en.rows, en.crc,
      en.schemaDdl.getOrElse(m.schemaDdl), en.deletes,
      m.eqDeletes.filter(_.seq > en.seq.getOrElse(0L)))

  override protected def initial(m: ManifestSink.Manifest,
      e: Long): Seq[InputPartition] =
    m.files.filter(en => ManifestSink.entryMayMatch(en, zoneFilters.toSeq))
      .map(partOf(m, _))

  override protected def step(prev: ManifestSink.Manifest,
      curr: ManifestSink.Manifest, v: Long): Seq[InputPartition] = {
    val changed = ManifestSink.changedFiles(prev, curr)
    if (changed.nonEmpty && !ignoreChanges)
      throw new IllegalStateException(
        s"graft-manifest streaming source: version $v of $path is not " +
          s"append-only (${changed.size} files changed or removed under " +
          "already-emitted rows) — restart from a fresh checkpoint or " +
          "declare option(\"ignoreChanges\", \"true\")")
    val prevNames = prev.files.map(_.name).toSet
    curr.files.filter(en => !prevNames.contains(en.name))
      .filter(en => ManifestSink.entryMayMatch(en, zoneFilters.toSeq))
      // the entry AS OF its commit version: later delete state
      // must not leak into a replayed batch
      .map(partOf(curr, _))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ManifestReaderFactory(tableSchemaDdl, prunedFieldNames, zoneFilters)
}

/** Partition of the streaming CHANGE feed: an ordinary manifest
  * partition plus the change row's constant (type, version) tag. */
final case class CdfInputPartition(inner: ManifestInputPartition,
    changeType: String, version: Long) extends InputPartition

/** Streaming CHANGE-DATA-FEED source (the Delta `readChangeFeed`
  * stream shape — the lakehouse as a CDC SOURCE): offsets are
  * snapshot versions like the append stream, but each version step
  * emits CHANGE ROWS, deletes included:
  *
  *  - the initial batch is the starting snapshot as `insert` rows;
  *  - a file added by version v emits its (as-of-v-visible) rows as
  *    `insert`;
  *  - a file removed by v emits its (as-of-v−1-visible) rows as
  *    `delete`;
  *  - a file whose DELETE-VECTOR stack grew emits exactly the rows at
  *    the DELTA vectors' positions as `delete` (stacks are
  *    append-only and disjoint by the DELETE contract, so
  *    pass-prev-mask-then-hit-delta is exact, computed per partition
  *    with zero cross-partition state); a new applicable EQUALITY
  *    delete emits the rows it masks the same way;
  *  - a compaction / copy-on-write commit retires old file names and
  *    introduces new ones, so surviving rows re-emit as delete+insert
  *    at their new physical addresses — the feed is ADDRESS-level,
  *    exactly the batch [[ManifestSink.changes]] contract (consumers
  *    keyed on logical ids treat the pair as a no-op move); a
  *    SAME-NAME byte rewrite (impossible under task-unique file
  *    naming) is refused defensively unless `ignoreChanges`.
  *
  * Planning is pure manifest arithmetic; only changed files are ever
  * opened — the restrictFiles doctrine of the batch
  * [[ManifestSink.changes]], whose output this stream matches
  * step for step (pinned in ManifestSinkSpec). */
final class ManifestCdfMicroBatchStream(path: String,
    tableSchemaDdl: String, prunedFieldNames: Array[String],
    ignoreChanges: Boolean)
    extends ManifestVersionStream(path) {

  private def applicableEq(m: ManifestSink.Manifest, en: ManifestSink.Entry) =
    m.eqDeletes.filter(_.seq > en.seq.getOrElse(0L))

  private def partOf(m: ManifestSink.Manifest, en: ManifestSink.Entry,
      kind: String, v: Long,
      cdfDel: Seq[ManifestSink.DelFile] = Nil,
      cdfEq: Seq[ManifestSink.EqDelete] = Nil): InputPartition =
    CdfInputPartition(ManifestInputPartition(s"$path/${en.name}",
      en.rows, en.crc, en.schemaDdl.getOrElse(m.schemaDdl), en.deletes,
      applicableEq(m, en), cdfDel, cdfEq), kind, v)

  override protected def initial(m: ManifestSink.Manifest,
      e: Long): Seq[InputPartition] =
    m.files.map(partOf(m, _, "insert", e))

  override protected def step(prev: ManifestSink.Manifest,
      curr: ManifestSink.Manifest, v: Long): Seq[InputPartition] = {
    val prevBy = prev.files.map(en => en.name -> en).toMap
    val currBy = curr.files.map(en => en.name -> en).toMap
    val adds = curr.files.filterNot(en => prevBy.contains(en.name))
      .map(partOf(curr, _, "insert", v))
    val removes = prev.files.filterNot(en => currBy.contains(en.name))
      .map(partOf(prev, _, "delete", v))
    val deltas = curr.files.flatMap { en =>
      prevBy.get(en.name).toSeq.flatMap { pe =>
        if (pe.rows != en.rows || pe.crc != en.crc) {
          if (ignoreChanges) Nil
          else throw new IllegalStateException(
            s"graft-manifest change feed: version $v of $path " +
              s"rewrote file ${en.name} in place (compaction or " +
              "copy-on-write) — no row-level change is attributable; " +
              "restart from a fresh checkpoint or declare " +
              "option(\"ignoreChanges\", \"true\")")
        } else {
          val prevDelNames = pe.deletes.map(_.name).toSet
          val deltaDel =
            en.deletes.filterNot(d => prevDelNames.contains(d.name))
          val prevEq = applicableEq(prev, pe).toSet
          val deltaEq =
            applicableEq(curr, en).filterNot(prevEq.contains)
          if (deltaDel.isEmpty && deltaEq.isEmpty) Nil
          // the row must have been VISIBLE in v−1 (prev masks) and
          // be hit by the delta — exactly the newly-deleted rows
          else Seq(partOf(prev, pe, "delete", v, deltaDel, deltaEq))
        }
      }
    }
    adds ++ removes ++ deltas
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new CdfReaderFactory(tableSchemaDdl, prunedFieldNames)
}

/** Wraps the ordinary manifest reader, appending the change row's
  * constant `_change_type` / `_change_version` columns in whatever
  * positions the pruned projection requested them. */
final class CdfReaderFactory(tableSchemaDdl: String,
    prunedFieldNames: Array[String]) extends PartitionReaderFactory {
  override def createReader(
      partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[CdfInputPartition]
    val innerNames = prunedFieldNames.filterNot(n =>
      n == ManifestSink.CdfTypeCol || n == ManifestSink.CdfVersionCol)
    val inner = new ManifestReaderFactory(tableSchemaDdl, innerNames)
      .createReader(p.inner)
    val tableSchema = StructType.fromDDL(tableSchemaDdl)
    val typeUtf8 =
      org.apache.spark.unsafe.types.UTF8String.fromString(p.changeType)
    val out = new GenericInternalRow(prunedFieldNames.length)
    // per-slot copier: CDF constants, or (inner ordinal, data type)
    val copiers: Array[InternalRow => Any] =
      prunedFieldNames.map { n =>
        if (n == ManifestSink.CdfTypeCol) (_: InternalRow) => typeUtf8
        else if (n == ManifestSink.CdfVersionCol)
          (_: InternalRow) => p.version
        else {
          val i = innerNames.indexOf(n)
          val dt = tableSchema(n).dataType
          (r: InternalRow) => r.get(i, dt)
        }
      }
    new PartitionReader[InternalRow] {
      override def next(): Boolean = inner.next()
      override def get(): InternalRow = {
        val r = inner.get()
        var j = 0
        while (j < copiers.length) { out.update(j, copiers(j)(r)); j += 1 }
        out
      }
      override def close(): Unit = inner.close()
    }
  }
}

/** Group-based COPY-ON-WRITE row-level operation (SQL UPDATE / MERGE
  * INTO / rewritten DELETE) at FILE granularity — the Iceberg
  * copy-on-write shape:
  *
  *  1. Spark's row-level rewrite asks for `_graft_file` as a
  *     required metadata attribute and (via
  *     [[org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering]])
  *     pushes a RUNTIME `IN(_graft_file, …)` filter computed from the
  *     rows the condition/source actually matches — so only AFFECTED
  *     files are read and rewritten, never the whole table.
  *  2. The scan records exactly the file set it finally planned
  *     (post runtime filtering); Spark feeds every surviving row of
  *     those groups (carry-over + updated/merged) to the write.
  *  3. The write commits ONE snapshot: recorded files swapped out,
  *     rewritten files stamped with the new sequence number,
  *     untouched files carried forward, prior state archived (time
  *     travel until vacuum). Delete vectors and applicable equality
  *     deletes of replaced files were APPLIED by the scan, so the
  *     rewrite materializes them for the files it touches.
  *
  * An unparseable runtime predicate is ignored (a superset read is
  * always safe — worst case a full rewrite, never a wrong one).
  */
final class ManifestRowLevelOperation(
    cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command,
    tableSchema: StructType, path: String,
    defaultPartitionedBy: Option[String])
    extends org.apache.spark.sql.connector.write.RowLevelOperation {
  import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}

  /** Set by the scan at planning time; read by the write at commit. */
  @volatile private var replacedFiles: Option[Set[String]] = None

  override def command()
      : org.apache.spark.sql.connector.write.RowLevelOperation.Command = cmd

  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(Expressions.column(ManifestSink.MetaFileCol))

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns {
      private var required: StructType = tableSchema
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema
      override def build(): Scan = new CowScan(required)
    }

  private final class CowScan(pruned: StructType) extends Scan
      with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {
    private var restrict: Option[Set[String]] = None

    override def readSchema(): StructType = pruned
    override def filterAttributes(): Array[NamedReference] =
      Array(Expressions.column(ManifestSink.MetaFileCol))

    override def filter(predicates: Array[org.apache.spark.sql.connector
        .expressions.filter.Predicate]): Unit = {
      def names(p: org.apache.spark.sql.connector.expressions.filter
          .Predicate): Option[Set[String]] = {
        val ch = p.children()
        def isFileRef(e: org.apache.spark.sql.connector.expressions
            .Expression): Boolean = e match {
          case r: NamedReference =>
            r.fieldNames().mkString(".") == ManifestSink.MetaFileCol
          case _ => false
        }
        def lit(e: org.apache.spark.sql.connector.expressions
            .Expression): Option[String] = e match {
          case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
            Option(l.value()).map(_.toString)
          case _ => None
        }
        p.name() match {
          case "IN" | "=" if ch.nonEmpty && isFileRef(ch.head) =>
            val vs = ch.tail.map(lit)
            if (vs.exists(_.isEmpty)) None else Some(vs.flatten.toSet)
          case _ => None
        }
      }
      val parsed = predicates.toSeq.flatMap(names(_))
      // predicates are ANDed: intersect what parsed; ignoring an
      // unparseable predicate only widens the read — always safe
      parsed.reduceOption(_ intersect _).foreach(s => restrict = Some(s))
    }

    override def toBatch: Batch = new Batch {
      private lazy val planned: Array[InputPartition] = {
        val m = ManifestSink.readManifest(path)
        val entries = m.files.filter(e => restrict.forall(_(e.name)))
        replacedFiles = Some(entries.map(_.name).toSet)
        entries.map { e =>
          ManifestInputPartition(s"$path/${e.name}", e.rows, e.crc,
            e.schemaDdl.getOrElse(m.schemaDdl), e.deletes,
            m.eqDeletes.filter(_.seq > e.seq.getOrElse(0L)))
            : InputPartition
        }.toArray
      }
      override def planInputPartitions(): Array[InputPartition] = planned
      override def createReaderFactory(): PartitionReaderFactory =
        new ManifestReaderFactory(ManifestSink.nullableDdl(tableSchema),
          pruned.fieldNames)
    }
  }

  override def newWriteBuilder(
      info: LogicalWriteInfo): WriteBuilder = new WriteBuilder {
    override def build(): Write = new Write {
      override def toBatch: BatchWrite = new CowBatchWrite(info.schema())
    }
  }

  private final class CowBatchWrite(schema: StructType) extends BatchWrite {
    override def createBatchWriterFactory(
        info: PhysicalWriteInfo): DataWriterFactory = {
      val dir = new File(path)
      if (!dir.exists()) dir.mkdirs()
      // rewritten files keep the table's declared partition transform
      // (catalog tables), so pruning survives the rewrite
      new ManifestWriterFactory(ManifestSink.nullableDdl(schema), path,
        defaultPartitionedBy)
    }

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val newEntries = messages.collect { case m: ManifestCommitMessage =>
        m.files }.toSeq.flatten
      val replaced = replacedFiles.getOrElse {
        if (newEntries.nonEmpty) throw new IllegalStateException(
          "graft-manifest: row-level write committed without a planned " +
            "scan — cannot identify replaced files")
        Set.empty[String]
      }
      if (replaced.isEmpty && newEntries.isEmpty) return // matched nothing
      val ddl = ManifestSink.nullableDdl(schema)
      ManifestSink.commitSnapshot(path, replaced,
        newEntries.map(_.name)) { (head, version) =>
        val merged = head.getOrElse(throw ManifestSink.nothingCommitted(path))
        ManifestSink.Manifest(ddl,
          ManifestSink.carried(merged, ddl).filterNot(e => replaced(e.name)) ++
            newEntries.map(_.copy(seq = Some(version))),
          version, merged.eqDeletes)
      }
      ManifestSink.sweep(path, data = true)
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit =
      messages.collect { case m: ManifestCommitMessage =>
        m.files.foreach(e => new File(path, e.name).delete()) }
  }
}

/** One input partition per partition VALUE (SPJ grouping): all the
  * value's files, read back to back; the key is exposed to Spark via
  * `HasPartitionKey` so co-partitioned joins skip the shuffle. */
final case class ManifestGroupedPartition(
    parts: Seq[ManifestInputPartition], key: Array[Any])
    extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow = new GenericInternalRow(key)
}

final case class ManifestInputPartition(file: String, rows: Long, crc: Long,
    fileSchemaDdl: String,
    deletes: Seq[ManifestSink.DelFile] = Nil,
    eqDels: Seq[ManifestSink.EqDelete] = Nil,
    // change-data-feed DELTA selection: when either is non-empty the
    // reader emits ONLY rows that pass the normal masks above AND are
    // hit by one of these (the "newly deleted this version" rows —
    // delta delete vectors are disjoint from prior ones by the DELETE
    // contract, so pass-then-hit is exact)
    cdfDeletes: Seq[ManifestSink.DelFile] = Nil,
    cdfEqDels: Seq[ManifestSink.EqDelete] = Nil) extends InputPartition

/** Complete COUNT(*) pushdown: one partition, one row, computed from
  * the manifest's durable per-file row counts — no data file is ever
  * opened. */
/** Metadata-only aggregate scan: COUNT(*) from durable per-file row
  * counts, MIN/MAX from the zone-map stats — one emitted row, zero
  * data files opened (planning already proved the stats complete and
  * the files delete-free; see the ScanBuilder's aggSpecs). Stat longs
  * decode back through the same physical-Long canonicalization the
  * writer used. */
object ManifestAggScan {
  final case class Spec(kind: String, col: String,
      dt: org.apache.spark.sql.types.DataType)
}

final class ManifestAggScan(path: String, asOfVersion: Option[Long],
    branch: Option[String], tag: Option[String],
    specs: Seq[ManifestAggScan.Spec])
    extends Scan {
  override def readSchema(): StructType = StructType(specs.map { s =>
    org.apache.spark.sql.types.StructField(
      if (s.kind == "count") "count_star" else s"${s.kind}_${s.col}",
      s.dt, nullable = s.kind != "count" && s.kind != "countcol")
  })
  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] = {
      import org.apache.spark.sql.types._
      val m = ManifestSink.readRef(path, asOfVersion, branch, tag)
      def decode(dt: DataType, v: Option[Long]): Any = v match {
        case None => null
        case Some(l) => dt match {
          case IntegerType | DateType => l.toInt
          case ShortType => l.toShort
          case ByteType => l.toByte
          case _ => l // Long / Timestamp / TimestampNTZ store the
                      // physical long verbatim
        }
      }
      val values: Seq[Any] = specs.map {
        case ManifestAggScan.Spec("count", _, _) =>
          m.files.map(_.liveRows).sum
        case ManifestAggScan.Spec("min", c, dt) =>
          decode(dt,
            m.files.flatMap(_.stats.find(_.col == c)).map(_.min)
              .minOption)
        case ManifestAggScan.Spec("max", c, dt) =>
          decode(dt,
            m.files.flatMap(_.stats.find(_.col == c)).map(_.max)
              .maxOption)
        case ManifestAggScan.Spec("countcol", c, _) =>
          m.files.map(e => e.rows - e.nulls.find(_.col == c).get.n).sum
        case sp => throw new IllegalStateException(
          s"graft-manifest: unplannable pushed aggregate $sp")
      }
      Array(ManifestAggPartition(values))
    }
    override def createReaderFactory(): PartitionReaderFactory =
      new PartitionReaderFactory {
        override def createReader(
            partition: InputPartition): PartitionReader[InternalRow] = {
          val vs = partition.asInstanceOf[ManifestAggPartition].values
          new PartitionReader[InternalRow] {
            private var emitted = false
            override def next(): Boolean =
              if (emitted) false else { emitted = true; true }
            override def get(): InternalRow = InternalRow.fromSeq(vs)
            override def close(): Unit = ()
          }
        }
      }
  }
}

final case class ManifestAggPartition(values: Seq[Any])
    extends InputPartition

final class ManifestReaderFactory(tableSchemaDdl: String,
    prunedNames: Array[String],
    zoneFilters: Array[sources.Filter] = Array.empty)
    extends PartitionReaderFactory {
  override def createReader(
      partition: InputPartition): PartitionReader[InternalRow] = {
    partition match {
      case g: ManifestGroupedPartition =>
        // SPJ grouping: the value's files, read back to back
        return new PartitionReader[InternalRow] {
          private val it = g.parts.iterator
          private var cur: PartitionReader[InternalRow] = _
          @annotation.tailrec
          override def next(): Boolean =
            if (cur != null && cur.next()) true
            else {
              if (cur != null) cur.close()
              cur = null
              if (!it.hasNext) false
              else { cur = createReader(it.next()); next() }
            }
          override def get(): InternalRow = cur.get()
          override def close(): Unit = if (cur != null) cur.close()
        }
      case _ => ()
    }
    val p = partition.asInstanceOf[ManifestInputPartition]
    val tableSchema = StructType.fromDDL(tableSchemaDdl)
    val fileSchema = StructType.fromDDL(p.fileSchemaDdl)
    // schema evolution: requested columns resolve by NAME per file;
    // a column the file predates reads as NULL. Type changes are not
    // evolution — fail loudly rather than reinterpret bytes.
    // Sentinels: -2 = the hidden file-name column, -3 = the hidden
    // physical-row-ordinal column (withRowMeta).
    val neededIdx = prunedNames.map { nm =>
      if (nm == ManifestSink.MetaFileCol) -2
      else if (nm == ManifestSink.MetaPosCol) -3
      else {
        val i = fileSchema.fieldNames.indexOf(nm)
        if (i >= 0 &&
            fileSchema.fields(i).dataType != tableSchema(nm).dataType)
          throw new java.io.IOException(
            s"graft-manifest: column $nm type changed across appends " +
              s"(file ${fileSchema.fields(i).dataType.sql} vs table " +
              s"${tableSchema(nm).dataType.sql}) — type evolution is " +
              "not supported")
        i
      }
    }
    val outTypes = prunedNames.map {
      // row-address metadata columns have fixed types and exist in
      // every file by construction — never consult the table schema
      // (the SupportsMetadataColumns path requests them without
      // their being table columns)
      case ManifestSink.MetaFileCol => org.apache.spark.sql.types.StringType
      case ManifestSink.MetaPosCol => org.apache.spark.sql.types.LongType
      case nm => tableSchema(nm).dataType
    }
    new ManifestPartitionReader(p, fileSchema, neededIdx, outTypes,
      zoneFilters)
  }
}

/** Page-at-a-time reader. Needed column blocks are read and
  * CRC-verified; every other block is SKIPPED (`DataInputStream.skip`
  * → `FileInputStream.skip` → lseek past the bytes — pruning is real
  * IO avoidance). Full reads (no pruning) additionally verify the
  * manifest's whole-file CRC at EOF; pruned reads verify the per-block
  * CRCs of what they read plus the total row count — the same contract
  * parquet gives (corruption in a column you never read is not your
  * failure). A zero-column read (`count()`) touches only page headers. */
final class ManifestPartitionReader(p: ManifestInputPartition,
    fileSchema: StructType, neededFileIdx: Array[Int],
    outTypes: Array[org.apache.spark.sql.types.DataType],
    zoneFilters: Array[sources.Filter] = Array.empty)
    extends PartitionReader[InternalRow] {
  // pruned ⇔ some FILE column goes unread, or page-level zone maps
  // may skip whole pages (either way the whole-file CRC can't be
  // verified; per-block CRCs still cover everything read); a column
  // missing from the file (idx -1) reads nothing
  private val pruned =
    neededFileIdx.count(_ >= 0) < fileSchema.length ||
      zoneFilters.nonEmpty
  private val fileCrc = new CRC32()
  private val in = new DataInputStream(if (pruned)
    new BufferedInputStream(new FileInputStream(p.file))
  else
    new CheckedInputStream(
      new BufferedInputStream(new FileInputStream(p.file)), fileCrc))
  // file-column-index → output slot (-1 = skipped); handles a pruned
  // schema whose field order differs from the file's column order
  private val slotOf: Array[Int] = {
    val m = Array.fill(fileSchema.length)(-1)
    neededFileIdx.zipWithIndex.foreach { case (c, j) =>
      if (c >= 0) m(c) = j }
    m
  }
  private val oneCol = neededFileIdx.map(_ => new UnsafeRow(1))
  // Typed mutable output row + per-column setters (optimization r13,
  // guide §1.2 "per-task work"): the generic path ran, per row and
  // column, UnsafeRow.get(0, dataType) — a DataType dispatch — and
  // boxed every primitive into a GenericInternalRow slot. The
  // SpecificInternalRow holds primitives in typed slots and each
  // column's decode is resolved to one monomorphic setter up front.
  private val row = new org.apache.spark.sql.catalyst.expressions
    .SpecificInternalRow(outTypes.toSeq)
  private val colSet: Array[UnsafeRow => Unit] = {
    import org.apache.spark.sql.types._
    outTypes.zipWithIndex.map { case (dt, j) =>
      dt match {
        case LongType | TimestampType | TimestampNTZType =>
          (u: UnsafeRow) => if (u.isNullAt(0)) row.setNullAt(j)
            else row.setLong(j, u.getLong(0))
        case IntegerType | DateType =>
          (u: UnsafeRow) => if (u.isNullAt(0)) row.setNullAt(j)
            else row.setInt(j, u.getInt(0))
        case DoubleType =>
          (u: UnsafeRow) => if (u.isNullAt(0)) row.setNullAt(j)
            else row.setDouble(j, u.getDouble(0))
        case FloatType =>
          (u: UnsafeRow) => if (u.isNullAt(0)) row.setNullAt(j)
            else row.setFloat(j, u.getFloat(0))
        case ShortType =>
          (u: UnsafeRow) => if (u.isNullAt(0)) row.setNullAt(j)
            else row.setShort(j, u.getShort(0))
        case ByteType =>
          (u: UnsafeRow) => if (u.isNullAt(0)) row.setNullAt(j)
            else row.setByte(j, u.getByte(0))
        case BooleanType =>
          (u: UnsafeRow) => if (u.isNullAt(0)) row.setNullAt(j)
            else row.setBoolean(j, u.getBoolean(0))
        case StringType =>
          (u: UnsafeRow) => if (u.isNullAt(0)) row.setNullAt(j)
            else row.update(j, u.getUTF8String(0))
        case other =>
          (u: UnsafeRow) => if (u.isNullAt(0)) row.setNullAt(j)
            else row.update(j, u.get(0, other))
      }
    }
  }
  private var blocks: Array[Array[Byte]] = _
  private var offs: Array[Int] = _
  private var pageRows = 0
  private var rowInPage = 0
  private var seen = 0L
  // merge-on-read: physical ordinals masked by this file's delete
  // files (CRC + count verified at load; disjoint by the DELETE
  // contract). `seen` IS the current physical ordinal.
  private def loadDelBits(
      dels: Seq[ManifestSink.DelFile]): java.util.BitSet =
    if (dels.isEmpty) null
    else {
      val bs = new java.util.BitSet()
      val parent = new File(p.file).getParentFile
      dels.foreach { d =>
        val crc = new CRC32()
        val din = new DataInputStream(new CheckedInputStream(
          new BufferedInputStream(
            new FileInputStream(new File(parent, d.name))), crc))
        val n = try {
          val n0 = din.readInt()
          var i = 0
          while (i < n0) { bs.set(din.readLong().toInt); i += 1 }
          n0
        } finally din.close()
        if (n != d.n || crc.getValue != d.crc)
          throw new java.io.IOException(
            s"graft-manifest: delete file ${d.name} corrupt " +
              s"(read $n positions crc ${crc.getValue}, manifest says " +
              s"${d.n} crc ${d.crc})")
      }
      bs
    }
  private val delBits: java.util.BitSet = loadDelBits(p.deletes)
  // CDF delta selection (see ManifestInputPartition): rows must pass
  // the masks above AND be hit by one of these
  private val cdfBits: java.util.BitSet = loadDelBits(p.cdfDeletes)
  private val cdfSelecting =
    p.cdfDeletes.nonEmpty || p.cdfEqDels.nonEmpty
  private val fileNameUtf8 =
    org.apache.spark.unsafe.types.UTF8String
      .fromString(new File(p.file).getName)
  // equality-delete masks: value sets per mask, reading their key
  // columns even when the projection doesn't (a mask column the file
  // predates is NULL file-wide and never matches — dropped here).
  // Masks on one column share that column's block buffer.
  private def buildEqMasks(dels: Seq[ManifestSink.EqDelete])
      : Array[(Int, java.util.HashSet[Object])] =
    dels.flatMap { d =>
      val i = fileSchema.fieldNames.indexOf(d.col)
      if (i < 0) None
      else {
        val set = new java.util.HashSet[Object]()
        fileSchema.fields(i).dataType match {
          case org.apache.spark.sql.types.StringType =>
            d.values.foreach(v => set.add(
              org.apache.spark.unsafe.types.UTF8String.fromString(v)))
          case _ =>
            d.values.foreach(v => set.add(Long.box(v.toLong)))
        }
        Some((i, set))
      }
    }.toArray
  private val eqMasks = buildEqMasks(p.eqDels)
  private val cdfEqMasks = buildEqMasks(p.cdfEqDels)
  // distinct file columns the masks need, with their own read buffers
  private val maskCols: Array[Int] =
    (eqMasks.map(_._1) ++ cdfEqMasks.map(_._1)).distinct
  private val maskColPos: Array[Int] = {
    val m = Array.fill(fileSchema.length)(-1)
    maskCols.zipWithIndex.foreach { case (c, i) => m(c) = i }
    m
  }
  private val maskBlocks = new Array[Array[Byte]](maskCols.length)
  private val maskOffs = new Array[Int](maskCols.length)
  private val maskOne = maskCols.map(_ => new UnsafeRow(1))
  // physical-Long extractor per mask column (strings handled apart)
  private val maskGet: Array[UnsafeRow => Object] = maskCols.map { c =>
    fileSchema.fields(c).dataType match {
      case org.apache.spark.sql.types.StringType =>
        (u: UnsafeRow) => u.getUTF8String(0)
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.TimestampNTZType =>
        (u: UnsafeRow) => Long.box(u.getLong(0))
      case org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.DateType =>
        (u: UnsafeRow) => Long.box(u.getInt(0).toLong)
      case org.apache.spark.sql.types.ShortType =>
        (u: UnsafeRow) => Long.box(u.getShort(0).toLong)
      case _ => (u: UnsafeRow) => Long.box(u.getByte(0).toLong)
    }
  }

  /** Peek the current row's mask-column values (no offset advance):
    * true iff some applicable equality delete matches. NULL key
    * values never match (SQL equality semantics). */
  private def eqMaskedPeek(): Boolean = maskPeek(eqMasks)
  private def maskPeek(
      masks: Array[(Int, java.util.HashSet[Object])]): Boolean = {
    if (masks.isEmpty) return false
    var mi = 0
    while (mi < masks.length) {
      val (c, set) = masks(mi)
      val pos = maskColPos(c)
      val b = maskBlocks(pos)
      val off = maskOffs(pos)
      val len = ((b(off) & 0xff) << 24) | ((b(off + 1) & 0xff) << 16) |
        ((b(off + 2) & 0xff) << 8) | (b(off + 3) & 0xff)
      maskOne(pos).pointTo(b,
        org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + off + 4, len)
      if (!maskOne(pos).isNullAt(0) &&
          set.contains(maskGet(pos)(maskOne(pos)))) return true
      mi += 1
    }
    false
  }

  /** Advance every mask-column buffer past the current row. */
  private def advanceMasks(): Unit = {
    var i = 0
    while (i < maskCols.length) {
      val b = maskBlocks(i)
      val off = maskOffs(i)
      val len = ((b(off) & 0xff) << 24) | ((b(off + 1) & 0xff) << 16) |
        ((b(off + 2) & 0xff) << 8) | (b(off + 3) & 0xff)
      maskOffs(i) = off + 4 + len
      i += 1
    }
  }

  /** Reads the next page header + needed blocks; false at EOF.
    * Pages whose zone maps prove the pushed filters can't match are
    * SKIPPED whole — header read, every block seeked past, rows
    * counted but never decoded (the parquet row-group-skip shape). */
  @annotation.tailrec
  private def nextPage(): Boolean = {
    val nRows = try in.readInt() catch {
      case _: java.io.EOFException => -1 }
    if (nRows < 0) {
      if (seen != p.rows || (!pruned && fileCrc.getValue != p.crc))
        throw new java.io.IOException(
          s"graft-manifest checksum mismatch in ${p.file}: " +
            s"read $seen rows crc ${fileCrc.getValue}, " +
            s"manifest says ${p.rows} rows crc ${p.crc}")
      false
    } else {
      val nCols = in.readInt()
      if (nCols != fileSchema.length) throw new java.io.IOException(
        s"graft-manifest page header corrupt in ${p.file}: " +
          s"$nCols columns, file schema has ${fileSchema.length}")
      val lens = new Array[Int](nCols)
      val crcs = new Array[Long](nCols)
      var c = 0
      while (c < nCols) { lens(c) = in.readInt(); crcs(c) = in.readLong(); c += 1 }
      // page zone-map section
      val nStats = in.readInt()
      var pageStats: List[ManifestSink.ColStat] = Nil
      var st = 0
      while (st < nStats) {
        val idx = in.readInt()
        val mn = in.readLong()
        val mx = in.readLong()
        pageStats = ManifestSink.ColStat(fileSchema(idx).name, mn, mx) ::
          pageStats
        st += 1
      }
      val skipPage = zoneFilters.nonEmpty &&
        !zoneFilters.forall(f => ManifestSink.mayMatch(pageStats, f))
      if (skipPage) {
        var c2 = 0
        while (c2 < nCols) {
          var toSkip = lens(c2).toLong
          while (toSkip > 0) {
            val sk = in.skip(toSkip)
            if (sk <= 0) { in.readByte(); toSkip -= 1 } else toSkip -= sk
          }
          c2 += 1
        }
        seen += nRows
        nextPage()
      } else {
      if (blocks == null) {
        blocks = new Array[Array[Byte]](neededFileIdx.length)
        offs = new Array[Int](neededFileIdx.length)
      }
      c = 0
      while (c < nCols) {
        val j = slotOf(c)
        val mj = if (c < maskColPos.length) maskColPos(c) else -1
        if (j >= 0 || mj >= 0) {
          val b = new Array[Byte](lens(c))
          in.readFully(b)
          val blockCrc = new CRC32()
          blockCrc.update(b)
          if (blockCrc.getValue != crcs(c)) throw new java.io.IOException(
            s"graft-manifest checksum mismatch in ${p.file}: column " +
              s"block ${fileSchema(c).name} crc ${blockCrc.getValue}, " +
              s"page header says ${crcs(c)}")
          if (j >= 0) { blocks(j) = b; offs(j) = 0 }
          // a masked column shares the bytes under its own offset
          if (mj >= 0) { maskBlocks(mj) = b; maskOffs(mj) = 0 }
        } else {
          var toSkip = lens(c).toLong
          while (toSkip > 0) {
            val s = in.skip(toSkip)
            if (s <= 0) { in.readByte(); toSkip -= 1 } else toSkip -= s
          }
        }
        c += 1
      }
      pageRows = nRows
      rowInPage = 0
      true
      }
    }
  }

  /** Advance every buffered column block past the current row
    * WITHOUT decoding — the merge-on-read skip for deleted rows. */
  private def skipRowBytes(): Unit = {
    var j = 0
    while (j < neededFileIdx.length) {
      if (neededFileIdx(j) >= 0) {
        val b = blocks(j)
        val off = offs(j)
        val len = ((b(off) & 0xff) << 24) | ((b(off + 1) & 0xff) << 16) |
          ((b(off + 2) & 0xff) << 8) | (b(off + 3) & 0xff)
        offs(j) = off + 4 + len
      }
      j += 1
    }
    advanceMasks()
  }

  @annotation.tailrec
  override def next(): Boolean = {
    if (rowInPage == pageRows) { if (!nextPage()) return false }
    if ((delBits != null && delBits.get(seen.toInt)) || eqMaskedPeek()) {
      // row is deleted (positional vector or equality mask): advance
      // the buffers, never materialize it
      skipRowBytes()
      rowInPage += 1
      seen += 1
      next()
    } else if (cdfSelecting &&
        !((cdfBits != null && cdfBits.get(seen.toInt)) ||
          maskPeek(cdfEqMasks))) {
      // CDF delta partition: the row survives in the NEW version too,
      // so it is not a change — skip without materializing
      skipRowBytes()
      rowInPage += 1
      seen += 1
      next()
    } else {
      val phys = seen
      var j = 0
      while (j < neededFileIdx.length) {
        neededFileIdx(j) match {
          case -2 => row.update(j, fileNameUtf8)
          case -3 => row.update(j, phys)
          case i if i < 0 =>
            // column newer than this file: schema evolution reads NULL
            row.update(j, null)
          case _ =>
            val b = blocks(j)
            val off = offs(j)
            val len = ((b(off) & 0xff) << 24) |
              ((b(off + 1) & 0xff) << 16) |
              ((b(off + 2) & 0xff) << 8) | (b(off + 3) & 0xff)
            oneCol(j).pointTo(b,
              org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + off + 4,
              len)
            colSet(j)(oneCol(j))
            offs(j) = off + 4 + len
        }
        j += 1
      }
      advanceMasks()
      rowInPage += 1
      seen += 1
      true
    }
  }

  override def get(): InternalRow = row

  override def close(): Unit = in.close()
}

/** Metadata tables (the Iceberg `files` / `history` idea): the
  * table's own manifests exposed as a DataFrame via
  * `.option("metadata", "files" | "history")` — layout inspection,
  * small-file audits, and snapshot forensics over a 100 TB table
  * without opening a single data file. Rows are computed on the
  * DRIVER at plan time (manifests are kilobyte documents by design)
  * and shipped in one partition.
  *
  *  - `files`: one row per data file of the (optionally
  *    `asOfVersion`-selected) snapshot — physical rows, live rows
  *    after delete vectors, CRC, partition transform + value, delete
  *    file count, bloom columns.
  *  - `history`: one row per snapshot in the version chain (archives
  *    + current base) — file count, physical/live rows, total delete
  *    files; what vacuum retention trades away.
  */
object ManifestMetadataTable {
  def schemaFor(kind: String): StructType = kind match {
    case "files" => StructType.fromDDL(
      "file_name STRING, rows BIGINT, live_rows BIGINT, crc BIGINT, " +
        "part BIGINT, pspec STRING, n_delete_files INT, " +
        "n_deleted BIGINT, bloom_cols STRING")
    case "history" => StructType.fromDDL(
      "version BIGINT, committed_at BIGINT, n_files BIGINT, " +
        "n_rows BIGINT, n_live BIGINT, n_delete_files BIGINT")
    // the Iceberg `refs` metadata table: every named reference on the
    // table — the base chain, open WAP branches, immutable tags
    case "refs" => StructType.fromDDL(
      "ref_name STRING, ref_type STRING, version BIGINT, " +
        "n_files BIGINT, n_live BIGINT")
    // the Iceberg `partitions` metadata table: one row per live
    // partition value — the layout census a 100 TB compaction/
    // retention planner reads without opening a data file
    case "partitions" => StructType.fromDDL(
      "pspec STRING, part BIGINT, n_files BIGINT, n_rows BIGINT, " +
        "n_live BIGINT, n_delete_files BIGINT")
    case other => throw new IllegalArgumentException(
      s"graft-manifest: unknown metadata table '$other' — " +
        "expected files, history, refs or partitions")
  }

  def rowsFor(path: String, kind: String,
      asOf: Option[Long]): Seq[Seq[Any]] = kind match {
    case "files" =>
      ManifestSink.readAsOf(path, asOf).files.map { e =>
        Seq[Any](e.name, e.rows, e.liveRows, e.crc,
          e.part.map(Long.box).orNull, e.pspec.orNull,
          e.deletes.size, e.deletes.map(_.n).sum,
          if (e.blooms.isEmpty) null
          else e.blooms.map(_.col).mkString(","))
      }
    case "history" =>
      val dir = new java.io.File(path)
      val snaps =
        Option(dir.listFiles()).getOrElse(Array.empty)
          .filter(_.getName.matches("_graft_manifest\\.v\\d+\\.json"))
          .map(f => ManifestSink.readManifestFile(f)).toSeq ++
          (if (new java.io.File(dir, ManifestSink.ManifestFile).exists())
            Seq(ManifestSink.readManifest(path))
          else Nil)
      snaps.sortBy(_.version).map { m =>
        Seq[Any](m.version,
          if (m.committedAt > 0L) Long.box(m.committedAt) else null,
          m.files.size.toLong, m.files.map(_.rows).sum,
          m.files.map(_.liveRows).sum,
          m.files.map(_.deletes.size.toLong).sum)
      }
    case "refs" =>
      require(asOf.isEmpty,
        "graft-manifest: refs lists CURRENT references — asOfVersion " +
          "does not apply")
      val dir = new java.io.File(path)
      def row(name: String, tpe: String, m: ManifestSink.Manifest) =
        Seq[Any](name, tpe, m.version, m.files.size.toLong,
          m.files.map(_.liveRows).sum)
      val base =
        if (new java.io.File(dir, ManifestSink.ManifestFile).exists())
          Seq(row("main", "base", ManifestSink.readManifest(path)))
        else Nil
      val named = Option(dir.listFiles()).getOrElse(Array.empty).toSeq
        .flatMap { f =>
          val n = f.getName
          val br = "_graft_manifest\\.branch-([A-Za-z0-9_]+)\\.json".r
          val tg = "_graft_manifest\\.tag-([A-Za-z0-9_]+)\\.json".r
          n match {
            case br(b) =>
              Some(row(b, "branch", ManifestSink.readManifestFile(f)))
            case tg(t) =>
              Some(row(t, "tag", ManifestSink.readManifestFile(f)))
            case _ => None
          }
        }
      (base ++ named).sortBy(r => (r(1).toString, r(0).toString))
    case "partitions" =>
      ManifestSink.readAsOf(path, asOf).files
        .groupBy(e => (e.pspec, e.part))
        .toSeq
        .sortBy { case ((ps, pv), _) =>
          (ps.getOrElse(""), pv.getOrElse(Long.MinValue)) }
        .map { case ((ps, pv), es) =>
          Seq[Any](ps.orNull, pv.map(Long.box).orNull,
            es.size.toLong, es.map(_.rows).sum,
            es.map(_.liveRows).sum,
            es.map(_.deletes.size.toLong).sum)
        }
    case other => throw new IllegalArgumentException(
      s"graft-manifest: unknown metadata table '$other'")
  }
}

final class ManifestMetadataTable(path: String, kind: String,
    asOf: Option[Long]) extends Table with SupportsRead {
  override def name(): String = s"graft-manifest:$path#$kind"
  override def schema(): StructType = ManifestMetadataTable.schemaFor(kind)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder = new ScanBuilder {
    override def build(): Scan = new Scan {
      override def readSchema(): StructType =
        ManifestMetadataTable.schemaFor(kind)
      override def toBatch: Batch = new Batch {
        override def planInputPartitions(): Array[InputPartition] =
          Array(ManifestMetadataPartition(
            ManifestMetadataTable.rowsFor(path, kind, asOf)))
        override def createReaderFactory(): PartitionReaderFactory =
          new PartitionReaderFactory {
            override def createReader(
                partition: InputPartition): PartitionReader[InternalRow] = {
              val rows =
                partition.asInstanceOf[ManifestMetadataPartition].rows
              new PartitionReader[InternalRow] {
                private val it = rows.iterator
                private var cur: InternalRow = _
                override def next(): Boolean =
                  if (!it.hasNext) false
                  else {
                    cur = InternalRow.fromSeq(it.next().map {
                      case s: String =>
                        org.apache.spark.unsafe.types.UTF8String
                          .fromString(s)
                      case v => v
                    })
                    true
                  }
                override def get(): InternalRow = cur
                override def close(): Unit = ()
              }
            }
          }
      }
    }
  }
}

final case class ManifestMetadataPartition(rows: Seq[Seq[Any]])
    extends InputPartition
