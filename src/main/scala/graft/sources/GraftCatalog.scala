package graft.sources

import java.io.File
import java.util

import scala.collection.JavaConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A DSv2 TABLE CATALOG over the `graft-manifest` format — the piece
  * that turns the connector into a SQL-native lakehouse: register
  * `spark.sql.catalog.<name> = graft.sources.GraftCatalog` (+
  * `.warehouse = <root>`) and plain SQL drives the whole table
  * lifecycle with no paths in queries:
  *
  *   CREATE NAMESPACE g.db;
  *   CREATE TABLE g.db.t (k BIGINT, v STRING);       -- empty v0 manifest
  *   CREATE TABLE g.db.p (...) PARTITIONED BY (days(ts));
  *   INSERT INTO g.db.t SELECT ...;                  -- append snapshot
  *   INSERT OVERWRITE g.db.t SELECT ...;             -- truncate snapshot
  *   SELECT * FROM g.db.t VERSION AS OF 1;           -- time travel
  *   ALTER TABLE g.db.t ADD COLUMN w BIGINT;         -- metadata-only
  *   ALTER TABLE g.db.t RENAME TO g.db.t2; DROP TABLE g.db.t2;
  *
  * Layout: one directory per namespace under the warehouse root, one
  * manifest-table directory per table — the catalog is pure
  * path-mapping plus manifest surgery, all state lives in the table
  * format itself (kilobyte documents; no metastore process). A
  * `PARTITIONED BY` transform is recorded in a `_graft_table.json`
  * sidecar and applied as the write-path default, so every INSERT
  * routes rows through the declared transform and scans prune on it.
  * `ALTER TABLE ADD COLUMN` is O(metadata): prior snapshot archived,
  * existing entries annotated with the schema they were written
  * under (the reader resolves columns by NAME per file — old files
  * surface NULL for the new column), nothing rewritten.
  */
final class GraftCatalog extends TableCatalog with SupportsNamespaces
    with ProcedureCatalog with FunctionCatalog {

  private var catalogName: String = _
  private var warehouse: String = _

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"graft catalog '$name' needs spark.sql.catalog.$name.warehouse"))
    new File(warehouse, "default").mkdirs()
  }

  override def name(): String = catalogName
  override def defaultNamespace(): Array[String] = Array("default")

  private def nsDir(ns: Array[String]): File =
    new File((warehouse +: ns.toSeq).mkString("/"))
  private def tableDir(ident: Identifier): File =
    new File(nsDir(ident.namespace()), ident.name())
  private def isTable(dir: File): Boolean =
    new File(dir, ManifestSink.ManifestFile).exists()
  private def wipe(f: File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(wipe)
    f.delete()
  }

  // ---- tables ----

  override def listTables(ns: Array[String]): Array[Identifier] = {
    val d = nsDir(ns)
    if (!d.isDirectory) throw new NoSuchNamespaceException(ns)
    Option(d.listFiles()).getOrElse(Array.empty)
      .filter(isTable).map(f => Identifier.of(ns, f.getName)).sortBy(_.name)
  }

  override def tableExists(ident: Identifier): Boolean =
    isTable(tableDir(ident))

  override def loadTable(ident: Identifier): Table = {
    val dir = tableDir(ident)
    if (!isTable(dir)) {
      // Iceberg-style SQL METADATA TABLES: `SELECT * FROM g.db.t.files`
      // parses as namespace [db, t] + name files — if the parent
      // namespace path IS a table, serve its metadata table (driver-
      // computed from the manifests, zero data files opened).
      if ((ident.name() == "files" || ident.name() == "history" ||
          ident.name() == "refs" || ident.name() == "partitions") &&
          ident.namespace().length >= 1) {
        val parent = tableDir(Identifier.of(
          ident.namespace().dropRight(1), ident.namespace().last))
        if (isTable(parent))
          return new ManifestMetadataTable(parent.toString, ident.name(),
            None)
      }
      throw new NoSuchTableException(ident)
    }
    val m = ManifestSink.readManifest(dir.toString)
    new ManifestTable(StructType.fromDDL(m.schemaDdl), dir.toString,
      defaultPartitionedBy = readSidecar(dir))
  }

  /** SQL `VERSION AS OF n` — the snapshot read in its OWN schema. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    val v = version.toLong
    val m = ManifestSink.readAsOf(dir.toString, Some(v))
    new ManifestTable(StructType.fromDDL(m.schemaDdl), dir.toString,
      asOfDefault = Some(v))
  }

  /** SQL `TIMESTAMP AS OF ts` — Spark hands epoch MICROS; resolve to
    * the snapshot visible at that instant via the manifest commit
    * clock and read it in its OWN schema. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    val v = ManifestSink.versionAt(dir.toString, timestamp / 1000L)
    val m = ManifestSink.readAsOf(dir.toString, Some(v))
    new ManifestTable(StructType.fromDDL(m.schemaDdl), dir.toString,
      asOfDefault = Some(v))
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val dir = tableDir(ident)
    if (isTable(dir)) throw new TableAlreadyExistsException(ident)
    if (!nsDir(ident.namespace()).isDirectory)
      throw new NoSuchNamespaceException(ident.namespace())
    dir.mkdirs()
    partitions.toSeq match {
      case Nil => ()
      case Seq(t) => writeSidecar(dir, pspecOf(t, schema))
      case many => throw new UnsupportedOperationException(
        s"graft-manifest tables take at most one partition transform, " +
          s"got ${many.size}")
    }
    ManifestSink.writeManifest(dir.toString,
      ManifestSink.Manifest(ManifestSink.nullableDdl(schema), Nil, 0L))
    loadTable(ident)
  }

  /** ADD/DROP/RENAME COLUMN are pure manifest surgery: archive,
    * annotate existing entries with the schema they were written
    * under, publish the evolved schema as a new snapshot. No data
    * file is touched. RENAME works through stable FIELD IDS (the
    * Iceberg design): the rename commit freezes every entry's
    * name→id mapping, the table schema carries the id under its new
    * name, and readers re-resolve "current name ↔ name in this file"
    * by id — old snapshots keep time-traveling under their own
    * names, and a column's values follow it through any number of
    * renames. */
  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    var sidecarRenames = Map.empty[String, String]
    // Some(Some(spec)) = set the default transform, Some(None) =
    // clear it, None = untouched by this ALTER batch
    var newPartSpec: Option[Option[String]] = None
    ManifestSink.commitSnapshot(dir.toString) {
      (head, version) =>
      val m = head.getOrElse(throw new NoSuchTableException(ident))
      var schema = StructType.fromDDL(m.schemaDdl)
      // `origIds` freezes entries (their names are PRE-change current —
      // readManifest normalized them); the mutable copy tracks this
      // batch's changes for the published schema
      val origIds = ManifestSink.currentColIds(m)
      var colIds = origIds
      var lastId = math.max(m.lastColId,
        origIds.map(_.id).foldLeft(-1)(math.max))
      var eqDel = m.eqDeletes
      var renamed = false
      changes.foreach {
        case add: TableChange.AddColumn =>
          if (add.fieldNames().length != 1)
            throw new UnsupportedOperationException(
              "graft-manifest: only top-level ADD COLUMN is supported")
          if (!add.isNullable)
            throw new UnsupportedOperationException(
              "graft-manifest: added columns must be nullable — existing " +
                "files have no values for them")
          schema = schema.add(add.fieldNames()(0), add.dataType(),
            nullable = true)
          lastId += 1 // ids are never reused, even after drops
          colIds = colIds :+ ManifestSink.ColId(add.fieldNames()(0), lastId)
        case del: TableChange.DeleteColumn =>
          // metadata-only, same doctrine as ADD COLUMN: readers resolve
          // columns per file, so a dropped column simply stops being
          // projected — no data file is rewritten, and time travel
          // still reads it in the old snapshots' own schema.
          if (del.fieldNames().length != 1)
            throw new UnsupportedOperationException(
              "graft-manifest: only top-level DROP COLUMN is supported")
          val name = del.fieldNames()(0)
          if (!schema.fieldNames.contains(name))
            throw new IllegalArgumentException(
              s"graft-manifest: no column '$name' to drop")
          if (schema.fields.length == 1)
            throw new UnsupportedOperationException(
              "graft-manifest: cannot drop the last column")
          schema = StructType(schema.fields.filterNot(_.name == name))
          colIds = colIds.filterNot(_.name == name)
        case ren: TableChange.RenameColumn =>
          if (ren.fieldNames().length != 1)
            throw new UnsupportedOperationException(
              "graft-manifest: only top-level RENAME COLUMN is supported")
          val from = ren.fieldNames()(0)
          val to = ren.newName()
          if (!schema.fieldNames.contains(from))
            throw new IllegalArgumentException(
              s"graft-manifest: no column '$from' to rename")
          if (schema.fieldNames.contains(to))
            throw new IllegalArgumentException(
              s"graft-manifest: cannot rename '$from' to '$to' — column " +
                "already exists")
          schema = StructType(schema.fields.map(f =>
            if (f.name == from) f.copy(name = to) else f))
          colIds = colIds.map(c =>
            if (c.name == from) c.copy(name = to) else c)
          // live equality deletes track the field, not the spelling
          eqDel = eqDel.map(d => if (d.col == from) d.copy(col = to) else d)
          sidecarRenames += (from -> to)
          renamed = true
        // PARTITION-SPEC EVOLUTION (the Iceberg spec-evolution idea at
        // sidecar scale): ALTER TABLE … SET TBLPROPERTIES
        // ('partitionedBy' = 'days(ts)') changes the DEFAULT transform
        // future inserts route by; existing files keep their own
        // per-ENTRY spec (the reader prunes per entry, so mixed layouts
        // never mis-prune — that safety is pinned since the transform
        // landed). UNSET removes the default (inserts stop routing).
        // Metadata-only both ways: nothing is rewritten.
        case set: TableChange.SetProperty
            if set.property == "partitionedBy" =>
          val spec = ManifestSink.parsePartSpec(set.value)
          if (!schema.fieldNames.contains(spec.col))
            throw new IllegalArgumentException(
              s"graft-manifest: partition column '${spec.col}' is not " +
                "a table column")
          newPartSpec = Some(Some(set.value))
        case rm: TableChange.RemoveProperty
            if rm.property == "partitionedBy" =>
          newPartSpec = Some(None)
        case other => throw new UnsupportedOperationException(
          s"graft-manifest: unsupported table change $other")
      }
      val ddl = ManifestSink.nullableDdl(schema)
      val annotated = ManifestSink.carried(m, ddl).map { e =>
        if (!renamed) e
        else {
          // freeze this file's recorded names against the PRE-change
          // ids so any future read re-resolves them by id
          val byName = origIds.map(c => c.name -> c.id).toMap
          val names =
            StructType.fromDDL(e.schemaDdl.getOrElse(m.schemaDdl)).fieldNames
          e.copy(colIds = Some(names.map(n =>
            ManifestSink.ColId(n, byName.getOrElse(n, -1))).toSeq))
        }
      }
      val carryIds = renamed || m.colIds.nonEmpty
      ManifestSink.Manifest(ddl, annotated, version, eqDel,
        if (carryIds) colIds else Nil,
        if (carryIds) lastId else -1)
    }
    // the declared partition transform follows the rename too
    if (sidecarRenames.nonEmpty) readSidecar(dir).foreach { ps =>
      val spec = ManifestSink.parsePartSpec(ps)
      sidecarRenames.get(spec.col).foreach { to =>
        val rewritten = spec match {
          case ManifestSink.IdentityPart(_) => ManifestSink.IdentityPart(to)
          case ManifestSink.DaysPart(_) => ManifestSink.DaysPart(to)
          case ManifestSink.BucketPart(n, _) => ManifestSink.BucketPart(n, to)
        }
        writeSidecar(dir, rewritten.describe)
      }
    }
    newPartSpec.foreach {
      case Some(spec) => writeSidecar(dir, spec)
      case None =>
        new File(dir, SidecarFile).delete(): Unit
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = tableDir(ident)
    if (!isTable(dir)) false
    else { wipe(dir); true }
  }

  override def renameTable(oldIdent: Identifier,
      newIdent: Identifier): Unit = {
    val from = tableDir(oldIdent)
    if (!isTable(from)) throw new NoSuchTableException(oldIdent)
    val to = tableDir(newIdent)
    if (isTable(to)) throw new TableAlreadyExistsException(newIdent)
    if (!nsDir(newIdent.namespace()).isDirectory)
      throw new NoSuchNamespaceException(newIdent.namespace())
    if (!from.renameTo(to)) throw new IllegalStateException(
      s"graft-manifest: rename $from -> $to failed")
  }

  // ---- procedures (SQL-callable maintenance, CALL g.system.…) ----

  /** Maps a procedure's catalog-relative `ns.table` argument to the
    * table directory — the same path-mapping the catalog serves, so
    * maintenance SQL carries no paths either. */
  private def resolveTable(ref: String): String = {
    val parts = ref.split('.')
    if (parts.length != 2) throw new IllegalArgumentException(
      s"graft-manifest procedure: table must be 'namespace.table', " +
        s"got '$ref'")
    val ident = Identifier.of(Array(parts(0)), parts(1))
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    dir.toString
  }

  private val ProcNamespace = Array("system")

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    if (!ident.namespace().sameElements(ProcNamespace))
      throw new UnsupportedOperationException(
        s"graft-manifest: procedures live in the 'system' namespace " +
          s"(CALL $catalogName.system.<proc>), got $ident")
    GraftProcedures.load(ident.name(), resolveTable)
  }

  override def listProcedures(ns: Array[String]): Array[Identifier] =
    if (ns.sameElements(ProcNamespace))
      GraftProcedures.names.map(Identifier.of(ProcNamespace, _)).toArray
    else Array.empty

  // ---- functions (catalog-scoped SQL functions, g.system.…) ----

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction = {
    if (!ident.namespace().sameElements(ProcNamespace))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchFunctionException(ident)
    try GraftFunctions.load(ident.name())
    catch {
      case _: UnsupportedOperationException =>
        throw new org.apache.spark.sql.catalyst.analysis
          .NoSuchFunctionException(ident)
    }
  }

  override def listFunctions(ns: Array[String]): Array[Identifier] =
    if (ns.sameElements(ProcNamespace))
      GraftFunctions.names.map(Identifier.of(ProcNamespace, _)).toArray
    else Array.empty

  override def functionExists(ident: Identifier): Boolean =
    ident.namespace().sameElements(ProcNamespace) &&
      GraftFunctions.names.contains(ident.name().toLowerCase)

  // ---- namespaces (directories under the warehouse root) ----

  override def listNamespaces(): Array[Array[String]] =
    Option(new File(warehouse).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && !isTable(f))
      .map(f => Array(f.getName)).sortBy(_.head)

  override def listNamespaces(ns: Array[String]): Array[Array[String]] = {
    if (ns.isEmpty) return listNamespaces()
    if (!nsDir(ns).isDirectory) throw new NoSuchNamespaceException(ns)
    Array.empty // single-level namespaces, declared
  }

  override def namespaceExists(ns: Array[String]): Boolean =
    ns.isEmpty || nsDir(ns).isDirectory

  override def loadNamespaceMetadata(
      ns: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(ns)) throw new NoSuchNamespaceException(ns)
    Map.empty[String, String].asJava
  }

  override def createNamespace(ns: Array[String],
      metadata: util.Map[String, String]): Unit = {
    if (namespaceExists(ns))
      throw new NamespaceAlreadyExistsException(ns)
    nsDir(ns).mkdirs()
  }

  override def alterNamespace(ns: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft-manifest namespaces carry no metadata to alter")

  override def dropNamespace(ns: Array[String],
      cascade: Boolean): Boolean = {
    val d = nsDir(ns)
    if (!d.isDirectory) return false
    val tables = Option(d.listFiles()).getOrElse(Array.empty).filter(isTable)
    if (tables.nonEmpty && !cascade)
      throw new IllegalStateException(
        s"graft-manifest: namespace ${ns.mkString(".")} is not empty " +
          s"(${tables.length} tables) — use CASCADE")
    wipe(d)
    true
  }

  // ---- partition-transform sidecar ----

  private def pspecOf(t: Transform, schema: StructType): String = {
    val spec = t.name() match {
      case "identity" | "days" =>
        s"${t.name()}(${t.references()(0).fieldNames().mkString(".")})"
      case "bucket" =>
        val n = t.arguments().collectFirst {
          case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
            l.value().toString.toInt
        }.getOrElse(throw new UnsupportedOperationException(
          s"graft-manifest: bucket transform without a bucket count: $t"))
        s"bucket($n, ${t.references()(0).fieldNames().mkString(".")})"
      case other => throw new UnsupportedOperationException(
        s"graft-manifest: unsupported partition transform '$other' — " +
          "identity/days/bucket only")
    }
    ManifestSink.parsePartSpec(spec) // driver-side validation, fail early
    spec
  }

  private val SidecarFile = "_graft_table.json"

  private def writeSidecar(dir: File, pspec: String): Unit = {
    val node = new ObjectMapper().createObjectNode()
    node.put("partitionedBy", pspec)
    java.nio.file.Files.write(new File(dir, SidecarFile).toPath,
      node.toString.getBytes("UTF-8"))
  }

  private def readSidecar(dir: File): Option[String] = {
    val f = new File(dir, SidecarFile)
    if (!f.exists()) None
    else Option(new ObjectMapper().readTree(f).get("partitionedBy"))
      .map(_.asText())
  }
}
