package graft.sources

import java.io.File
import java.util.{Collections, Iterator => JIterator}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** SQL-callable MAINTENANCE procedures for the `graft-manifest`
  * lakehouse (the Iceberg `CALL catalog.system.…` surface, on
  * Spark 4's native `ProcedureCatalog` + `CALL` statement):
  *
  *   CALL g.system.compact(`table` => 'db.t', target_files => 4);
  *   CALL g.system.vacuum('db.t', 2);
  *   CALL g.system.sweep_deletes('db.t');
  *
  * `SHOW PROCEDURES IN g.system` / `DESCRIBE PROCEDURE …` work too.
  * Each procedure is pure manifest surgery plus (for compact) one
  * Spark job; its result set is a single driver-built row returned
  * through a [[LocalScan]] — Spark's analyzer turns that into a
  * `LocalRelation`, so `CALL` composes with plain SQL over its
  * output. Maintenance thereby needs NO Scala entry point: the same
  * SQL an operator would run against Iceberg
  * (`CALL cat.system.rewrite_data_files(...)`) drives this format.
  *
  * The table argument is the catalog-relative `namespace.table`
  * string — procedures resolve it against the SAME warehouse the
  * catalog serves, so there are still no paths in SQL.
  */
private[sources] object GraftProcedures {

  /** One-row result surfaced to SQL through the analyzer's
    * LocalScan→LocalRelation conversion. */
  private final class RowScan(schema: StructType, row: InternalRow)
      extends LocalScan {
    override def readSchema(): StructType = schema
    override def rows(): Array[InternalRow] = Array(row)
  }

  private def result(schema: StructType, values: Any*): JIterator[Scan] =
    Collections.singletonList[Scan](new RowScan(schema,
      new GenericInternalRow(values.toArray))).iterator()

  /** A procedure whose every parameter is a required IN argument. */
  private final class Proc(procName: String, procDescription: String,
      params: Seq[(String, DataType, String)],
      outSchema: StructType,
      body: (String => String, InternalRow) => JIterator[Scan])(
      resolve: String => String)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = procName
    override def description(): String = procDescription
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false // mutates table state
    override def parameters(): Array[ProcedureParameter] =
      params.map { case (n, t, c) =>
        ProcedureParameter.in(n, t).comment(c).build()
      }.toArray
    override def call(input: InternalRow): JIterator[Scan] =
      body(resolve, input)
  }

  private def countFiles(dir: String, suffix: String): Long =
    Option(new File(dir).listFiles()).getOrElse(Array.empty)
      .count(_.getName.endsWith(suffix)).toLong

  private def countArchives(dir: String): Long =
    Option(new File(dir).listFiles()).getOrElse(Array.empty)
      .count(_.getName.matches("_graft_manifest\\.v\\d+\\.json")).toLong

  /** `resolve` maps a catalog-relative `ns.table` string to the
    * table directory (supplied by [[GraftCatalog]]). */
  def load(name: String, resolve: String => String): UnboundProcedure =
    name.toLowerCase match {
      case "compact" => new Proc(
        "compact",
        "Rewrite the current snapshot into `target_files` data files " +
          "(the OPTIMIZE verb); prior layout stays time-travelable",
        Seq(
          ("table", StringType, "catalog-relative namespace.table"),
          ("target_files", IntegerType, "data-file count to rewrite to")),
        StructType(Seq(
          StructField("files_before", LongType, nullable = false),
          StructField("files_after", LongType, nullable = false),
          StructField("version", LongType, nullable = false))),
        (resolve, in) => {
          val dir = resolve(in.getUTF8String(0).toString)
          val before = ManifestSink.readManifest(dir).files.size.toLong
          ManifestSink.compact(SparkSession.active, dir, in.getInt(1))
          val m = ManifestSink.readManifest(dir)
          result(StructType(Seq(
            StructField("files_before", LongType, nullable = false),
            StructField("files_after", LongType, nullable = false),
            StructField("version", LongType, nullable = false))),
            before, m.files.size.toLong, m.version)
        })(resolve)

      case "vacuum" => new Proc(
        "vacuum",
        "Drop archived snapshots older than `keep_versions` behind the " +
          "base, then sweep data/delete files nothing references — the " +
          "time-travel retention knob",
        Seq(
          ("table", StringType, "catalog-relative namespace.table"),
          ("keep_versions", IntegerType,
            "archived versions to keep behind the base")),
        StructType(Seq(
          StructField("archives_removed", LongType, nullable = false),
          StructField("data_files_removed", LongType, nullable = false),
          StructField("base_version", LongType, nullable = false))),
        (resolve, in) => {
          val dir = resolve(in.getUTF8String(0).toString)
          val (a0, d0) = (countArchives(dir),
            countFiles(dir, ManifestSink.DataSuffix))
          ManifestSink.vacuum(dir, in.getInt(1))
          result(StructType(Seq(
            StructField("archives_removed", LongType, nullable = false),
            StructField("data_files_removed", LongType, nullable = false),
            StructField("base_version", LongType, nullable = false))),
            a0 - countArchives(dir),
            d0 - countFiles(dir, ManifestSink.DataSuffix),
            ManifestSink.readManifest(dir).version)
        })(resolve)

      case "sweep_deletes" => new Proc(
        "sweep_deletes",
        "Remove positional-delete files no manifest references " +
          "(lost-race or compaction-retired delete vectors)",
        Seq(("table", StringType, "catalog-relative namespace.table")),
        StructType(Seq(
          StructField("delete_files_removed", LongType, nullable = false))),
        (resolve, in) => {
          val dir = resolve(in.getUTF8String(0).toString)
          val before = countFiles(dir, ManifestSink.DelSuffix)
          ManifestSink.sweep(dir, data = false)
          result(StructType(Seq(
            StructField("delete_files_removed", LongType,
              nullable = false))),
            before - countFiles(dir, ManifestSink.DelSuffix))
        })(resolve)

      case "rollback" => new Proc(
        "rollback",
        "Re-publish archived snapshot `version` as a NEW version " +
          "(audit-preserving rollback — bad commits stay " +
          "time-travelable until vacuum); O(metadata), no data file " +
          "is touched",
        Seq(
          ("table", StringType, "catalog-relative namespace.table"),
          ("version", LongType, "archived snapshot version to restore")),
        StructType(Seq(
          StructField("from_version", LongType, nullable = false),
          StructField("restored_version", LongType, nullable = false),
          StructField("new_version", LongType, nullable = false))),
        (resolve, in) => {
          val dir = resolve(in.getUTF8String(0).toString)
          val from = ManifestSink.readManifest(dir).version
          val to = in.getLong(1)
          val nv = ManifestSink.rollback(dir, to)
          result(StructType(Seq(
            StructField("from_version", LongType, nullable = false),
            StructField("restored_version", LongType, nullable = false),
            StructField("new_version", LongType, nullable = false))),
            from, to, nv)
        })(resolve)

      case "zorder" => new Proc(
        "zorder",
        "Rewrite the current snapshot range-partitioned by the Morton " +
          "interleave of two integral columns (OPTIMIZE ZORDER BY): " +
          "zone maps become tight on BOTH columns; prior layout stays " +
          "time-travelable",
        Seq(
          ("table", StringType, "catalog-relative namespace.table"),
          ("col_a", StringType, "first cluster column (integral)"),
          ("col_b", StringType, "second cluster column (integral)"),
          ("target_files", IntegerType, "data-file count to rewrite to")),
        StructType(Seq(
          StructField("files_before", LongType, nullable = false),
          StructField("files_after", LongType, nullable = false),
          StructField("version", LongType, nullable = false))),
        (resolve, in) => {
          val dir = resolve(in.getUTF8String(0).toString)
          val before = ManifestSink.readManifest(dir).files.size.toLong
          ManifestSink.zorder(SparkSession.active, dir,
            in.getUTF8String(1).toString, in.getUTF8String(2).toString,
            in.getInt(3))
          val m = ManifestSink.readManifest(dir)
          result(StructType(Seq(
            StructField("files_before", LongType, nullable = false),
            StructField("files_after", LongType, nullable = false),
            StructField("version", LongType, nullable = false))),
            before, m.files.size.toLong, m.version)
        })(resolve)

      case "create_branch" => new Proc(
        "create_branch",
        "Fork the current snapshot as a WAP branch (O(metadata)): " +
          "batch writes with option('branch', name) stage against it, " +
          "reads with the same option audit it, fast_forward publishes",
        Seq(
          ("table", StringType, "catalog-relative namespace.table"),
          ("name", StringType, "branch name, [A-Za-z0-9_]+")),
        StructType(Seq(
          StructField("forked_version", LongType, nullable = false))),
        (resolve, in) => {
          val dir = resolve(in.getUTF8String(0).toString)
          val v = ManifestSink.createBranch(dir,
            in.getUTF8String(1).toString)
          result(StructType(Seq(
            StructField("forked_version", LongType, nullable = false))),
            v)
        })(resolve)

      case "fast_forward" => new Proc(
        "fast_forward",
        "PUBLISH a WAP branch: re-commit its state as a new base " +
          "version (audit-preserving, O(metadata)) and retire the " +
          "branch chain",
        Seq(
          ("table", StringType, "catalog-relative namespace.table"),
          ("name", StringType, "branch name to publish")),
        StructType(Seq(
          StructField("new_version", LongType, nullable = false))),
        (resolve, in) => {
          val dir = resolve(in.getUTF8String(0).toString)
          val v = ManifestSink.fastForward(dir,
            in.getUTF8String(1).toString)
          result(StructType(Seq(
            StructField("new_version", LongType, nullable = false))),
            v)
        })(resolve)

      case "drop_branch" => new Proc(
        "drop_branch",
        "Abandon a WAP branch: drop its manifest chain; staged files " +
          "it alone referenced are swept by the next commit/vacuum",
        Seq(
          ("table", StringType, "catalog-relative namespace.table"),
          ("name", StringType, "branch name to drop")),
        StructType(Seq(
          StructField("dropped", BooleanType, nullable = false))),
        (resolve, in) => {
          val dir = resolve(in.getUTF8String(0).toString)
          ManifestSink.dropBranch(dir, in.getUTF8String(1).toString)
          result(StructType(Seq(
            StructField("dropped", BooleanType, nullable = false))),
            true)
        })(resolve)

      case "create_tag" => new Proc(
        "create_tag",
        "Freeze the current snapshot as a NAMED IMMUTABLE tag " +
          "(O(metadata)): reads with option('tag', name) time-travel " +
          "by name; vacuum/expire never drop a tagged snapshot's files",
        Seq(
          ("table", StringType, "catalog-relative namespace.table"),
          ("name", StringType, "tag name, [A-Za-z0-9_]+")),
        StructType(Seq(
          StructField("tagged_version", LongType, nullable = false))),
        (resolve, in) => {
          val dir = resolve(in.getUTF8String(0).toString)
          val v = ManifestSink.createTag(dir,
            in.getUTF8String(1).toString)
          result(StructType(Seq(
            StructField("tagged_version", LongType, nullable = false))),
            v)
        })(resolve)

      case "drop_tag" => new Proc(
        "drop_tag",
        "Drop a tag: the name stops resolving; files only the tag " +
          "kept referenced are swept by the next commit/vacuum; " +
          "`dropped` is false when no such tag existed",
        Seq(
          ("table", StringType, "catalog-relative namespace.table"),
          ("name", StringType, "tag name to drop")),
        StructType(Seq(
          StructField("dropped", BooleanType, nullable = false))),
        (resolve, in) => {
          val dir = resolve(in.getUTF8String(0).toString)
          val existed =
            ManifestSink.dropTag(dir, in.getUTF8String(1).toString)
          result(StructType(Seq(
            StructField("dropped", BooleanType, nullable = false))),
            existed)
        })(resolve)

      case "expire_snapshots" => new Proc(
        "expire_snapshots",
        "Drop archived snapshots committed before `older_than` (the " +
          "time-based retention knob beside count-based vacuum), then " +
          "sweep data/delete files nothing references; the current " +
          "base and open branch chains are never expired",
        Seq(
          ("table", StringType, "catalog-relative namespace.table"),
          ("older_than", TimestampType,
            "expire snapshots committed before this instant")),
        StructType(Seq(
          StructField("archives_removed", LongType, nullable = false),
          StructField("data_files_removed", LongType, nullable = false),
          StructField("base_version", LongType, nullable = false))),
        (resolve, in) => {
          val dir = resolve(in.getUTF8String(0).toString)
          val d0 = countFiles(dir, ManifestSink.DataSuffix)
          // TimestampType arrives as epoch MICROS
          val removed =
            ManifestSink.expireSnapshots(dir, in.getLong(1) / 1000L)
          result(StructType(Seq(
            StructField("archives_removed", LongType, nullable = false),
            StructField("data_files_removed", LongType, nullable = false),
            StructField("base_version", LongType, nullable = false))),
            removed,
            d0 - countFiles(dir, ManifestSink.DataSuffix),
            ManifestSink.readManifest(dir).version)
        })(resolve)

      case "remove_orphans" => new Proc(
        "remove_orphans",
        "Delete data/delete files in the table directory that no " +
          "manifest (base, archive, branch or tag) references " +
          "— failed-commit leftovers retention sweeps never touch. " +
          "`older_than` (file mtime) protects in-flight writes; " +
          "`dry_run` reports without deleting",
        Seq(
          ("table", StringType, "catalog-relative namespace.table"),
          ("older_than", TimestampType,
            "only files last modified before this instant are touched"),
          ("dry_run", BooleanType, "list orphans without deleting")),
        StructType(Seq(
          StructField("orphans_found", LongType, nullable = false),
          StructField("files_removed", LongType, nullable = false))),
        (resolve, in) => {
          val dir = resolve(in.getUTF8String(0).toString)
          val dry = in.getBoolean(2)
          // TimestampType arrives as epoch MICROS. Both counters come
          // from ONE removeOrphans pass — `found` from the listing,
          // `removed` from the same pass's ACTUAL delete results (a
          // file whose delete fails is found-but-not-removed) — so
          // non-dry calls pay the manifest listing once and the two
          // counters always describe the same directory snapshot.
          val cutoff = in.getLong(1) / 1000L
          val pairs = ManifestSink.removeOrphans(dir, cutoff,
            dryRun = dry)
          val found = pairs.length.toLong
          val removed = pairs.count(_._2).toLong
          result(StructType(Seq(
            StructField("orphans_found", LongType, nullable = false),
            StructField("files_removed", LongType, nullable = false))),
            found, removed)
        })(resolve)

      case other => throw new UnsupportedOperationException(
        s"graft-manifest: unknown procedure '$other' — " +
          "compact / create_branch / create_tag / drop_branch / " +
          "drop_tag / expire_snapshots / fast_forward / " +
          "remove_orphans / rollback / vacuum / sweep_deletes / zorder")
    }

  val names: Seq[String] = Seq("compact", "create_branch", "create_tag",
    "drop_branch", "drop_tag",
    "expire_snapshots", "fast_forward", "remove_orphans", "rollback",
    "sweep_deletes", "vacuum", "zorder")
}
