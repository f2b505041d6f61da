package graft.ops
import graft.Lineage.LineageOps

import graft.Tables
import graft.Tables.moneySum
import org.apache.spark.sql.functions._

/** Scans / sources (SURVEY.md §2.2 "Scans / sources / sinks").
  *
  * These exist to prove the scan path is scale-correct: `scan_pruned`
  * must show only two columns in `ReadSchema`, `scan_pushdown` must
  * show the shipdate range under `PushedFilters` — i.e. Catalyst pushes
  * both projection and predicate into the vectorized Parquet reader,
  * which is what makes a 100 TB scan feasible (read 2 columns of a
  * 16-column table, skip row groups by min/max stats).
  */
object ScanOps extends OpPack {

  /** Per-PROCESS scratch root for every sink op below: two concurrent
    * driver JVMs (sbt test alongside Verify, two Verify runs) must
    * never share sink scratch — one run's overwrite-truncate commit
    * would delete the other's committed files mid-read. The pid
    * component isolates processes; within one JVM the path is stable,
    * so intra-run reuse (the shared catalog warehouse, version chains
    * across queries) still works. */
  val scratchRoot: String =
    s"${sys.props("java.io.tmpdir")}/graft-scratch-" +
      java.lang.ProcessHandle.current().pid()

  /** Recursive scratch-dir delete shared by every sink op that needs
    * a fresh directory (version chains survive /tmp across SF runs —
    * the zorder gotcha — so each run starts clean). */
  private def rmRf(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(rmRf)
    f.delete(): Unit
  }

  def queries: Map[String, Q] = Map(
    "scan_parquet" -> ((s, dir) => {
      // Count-shaped full-scan: the aggregate is computed per input
      // partition (partial) then merged — no wide shuffle of raw rows.
      Tables(s, dir, "lineitem").agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("l_orderkey")).as("n_orders"),
        sum(col("l_linenumber").cast("long")).as("sum_linenumber"))
    }),

    "scan_pruned" -> ((s, dir) => {
      // Column-pruned scan: ReadSchema must contain exactly these cols.
      Tables(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        // (l_orderkey, l_linenumber) is NOT unique in the testdata —
        // total order needs every output column.
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    }),

    "scan_pushdown" -> ((s, dir) => {
      // Predicate pushed to Parquet (PushedFilters: [GreaterThanOrEqual,
      // LessThan] on l_shipdate) → row-group skipping at scale.
      Tables(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01") &&
                col("l_shipdate") <  lit("1997-07-01"))
        .select(col("l_orderkey"), col("l_linenumber"),
                col("l_shipdate").cast("date").as("ship_date"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("ship_date"))
    }),

    // CSV sink + source roundtrip (header + explicit read schema): the
    // text-format leg of the source/sink surface. The oracle reads the
    // original parquet, so a pass proves write→read fidelity.
    "scan_csv_roundtrip" -> ((s, dir) => {
      val scratch = s"$scratchRoot/csv-nation"
      Tables(s, dir, "nation").write.mode("overwrite")
        .option("header", "true").csv(scratch)
      s.read.schema("n_nationkey INT, n_name STRING, n_regionkey INT")
        .option("header", "true").csv(scratch)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        .orderBy(col("n_nationkey"))
    }),

    // JSON-lines sink + source roundtrip. Doubles survive exactly: the
    // writer emits shortest-roundtrip decimal text, the reader parses
    // it back to the identical bits the oracle reads from parquet.
    "scan_json_roundtrip" -> ((s, dir) => {
      val scratch = s"$scratchRoot/json-supplier"
      Tables(s, dir, "supplier").write.mode("overwrite").json(scratch)
      s.read
        .schema("s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE")
        .json(scratch)
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
          col("s_acctbal"))
        .orderBy(col("s_suppkey"))
    }),

    // ORC sink + source roundtrip: the third file format of the
    // source/sink surface (columnar like parquet — doubles roundtrip
    // bit-exactly through the binary encoding). Oracle reads the
    // original parquet, so a pass proves write→read fidelity.
    "scan_orc_roundtrip" -> ((s, dir) => {
      val scratch = s"$scratchRoot/orc-customer"
      Tables(s, dir, "customer").write.mode("overwrite").orc(scratch)
      s.read.orc(scratch)
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          col("c_acctbal"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))
    }),

    // Avro container sink + source roundtrip through the repo's OWN
    // `graft-avro` DSv2 (no spark-avro connector ships here — the
    // source is built on avro-core directly; AvroSource.scala). One
    // container per write task, one InputPartition per container on
    // read, column pruning = the Avro resolving decoder skipping
    // unprojected fields byte-wise. Oracle reads the original
    // parquet, so a pass proves write→read fidelity across long/
    // string/double/timestamp — dates and micros carry the same
    // physical values Spark uses internally, so the trip is
    // bit-exact. (Arrays, nulls, narrow ints, truncate semantics and
    // the per-file parallelism contract are pinned in
    // AvroSourceSpec.)
    "scan_avro_roundtrip" -> ((s, dir) => {
      val scratch = s"$scratchRoot/avro-orders"
      Tables(s, dir, "orders").write.format("graft-avro")
        .mode("overwrite").save(scratch)
      s.read.format("graft-avro").load(scratch)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
        .orderBy(col("o_orderkey"))
    }),

    // Bucketed table sink: orders hashed into 8 buckets on o_custkey
    // (sorted within buckets). The group-by on the bucket key then
    // plans with NO Exchange — the bucketed scan already satisfies the
    // required hash distribution (pinned in BucketingSpec). At 100 TB
    // this is the layout that amortizes the shuffle of every future
    // join/agg on the key into the single write.
    "sink_bucketed" -> ((s, dir) => {
      // A fresh session's catalog doesn't know tables a previous JVM
      // left in the warehouse dir, and CREATE refuses a stale
      // location — clean both before writing.
      s.sql("DROP TABLE IF EXISTS graft_orders_bucketed")
      val loc = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), "graft_orders_bucketed")
      val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
      Tables(s, dir, "orders").write.mode("overwrite")
        .bucketBy(8, "o_custkey").sortBy("o_custkey")
        .saveAsTable("graft_orders_bucketed")
      s.table("graft_orders_bucketed")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n"),
          moneySum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("o_custkey"))
    }),

    // Hive-style partitioned parquet sink, read back with a filter on
    // the partition column: the read plan prunes to ONE directory
    // (PartitionFilters, no data files of other priorities touched) —
    // the layout that makes per-partition 100 TB reads cheap.
    "sink_partitioned" -> ((s, dir) => {
      val scratch = s"$scratchRoot/part-orders"
      val src = Tables(s, dir, "orders")
      src.write.mode("overwrite")
        .partitionBy("o_orderpriority").parquet(scratch)
      // explicit schema: an EMPTY write leaves no files to infer from
      // (partition column moves last in the on-disk layout)
      val diskSchema = org.apache.spark.sql.types.StructType(
        src.schema.fields.filter(_.name != "o_orderpriority") :+
          src.schema("o_orderpriority"))
      s.read.schema(diskSchema).parquet(scratch)
        .filter(col("o_orderpriority") === "1-URGENT")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("o_orderstatus"))
    }),

    // Schema evolution on read: two parquet batches land in the same
    // dataset with different schemas (batch 1 adds c_acctbal), read
    // back with mergeSchema — old files surface the new column as
    // null. This is the append-only data-lake reality at 100 TB: a
    // century of files never gets rewritten when a column is added;
    // the merged read costs one footer pass, no data rewrite. Oracle
    // reconstructs the same union from the original parquet.
    "scan_schema_evolution" -> ((s, dir) => {
      val scratch = s"$scratchRoot/evolve-customer"
      val c = Tables(s, dir, "customer")
      c.select(lit(0).as("batch"), col("c_custkey"), col("c_name"))
        .write.mode("overwrite").parquet(scratch)
      c.select(lit(1).as("batch"), col("c_custkey"), col("c_name"),
          col("c_acctbal"))
        .write.mode("append").parquet(scratch)
      s.read.option("mergeSchema", "true").parquet(scratch)
        .select(col("batch"), col("c_custkey"), col("c_name"),
          col("c_acctbal"))
        .orderBy(col("batch"), col("c_custkey"))
    }),

    // Dirty-data ingest: an NDJSON feed where every 20th line is
    // corrupted (deterministically, at write) read back in PERMISSIVE
    // mode — malformed lines survive as rows with null fields instead
    // of killing the 100 TB job, and the per-lang/corrupt census is
    // exactly checkable. (FAILFAST is the other documented choice;
    // PERMISSIVE + audit counts is what a pipeline actually runs.)
    "scan_json_corrupt" -> ((s, dir) => {
      val scratch = s"$scratchRoot/json-corrupt"
      Tables(s, dir, "documents")
        .select(when(col("doc_id") % 20 === 0,
            concat(lit("{broken"), col("doc_id")))
          .otherwise(to_json(struct(col("doc_id"), col("lang"))))
          .as("value"))
        .write.mode("overwrite").text(scratch)
      s.read.schema("doc_id BIGINT, lang STRING")
        .option("mode", "PERMISSIVE").json(scratch)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang").asc_nulls_first)
    }),

    // Raw-text (line-oriented) sink + source roundtrip: the ingest
    // format of every log/NDJSON feed (and of the CDC replay
    // transport). Fields ride a ctrl-A (U+0001) delimited line out and are
    // split back on read; the oracle reads the original parquet, so a
    // pass proves line encode→decode fidelity.
    "scan_text_roundtrip" -> ((s, dir) => {
      val scratch = s"$scratchRoot/text-docs"
      // null-safe field serialization: concat_ws silently DROPS null
      // fields, which would shift every later column on decode - the
      // sentinel keeps the field count fixed and round-trips NULL
      def nf(c: org.apache.spark.sql.Column) =
        coalesce(c.cast("string"), lit("<NULL>"))
      Tables(s, dir, "documents")
        .select(concat_ws("\u0001", nf(col("doc_id")), nf(col("lang")),
          nf(col("n_chars"))).as("value"))
        .write.mode("overwrite").text(scratch)
      s.read.text(scratch)
        .select(split(col("value"), "\u0001").as("fs"))
        .select(
          expr("nullif(element_at(fs, 1), '<NULL>')").cast("long")
            .as("doc_id"),
          expr("nullif(element_at(fs, 2), '<NULL>')").as("lang"),
          expr("nullif(element_at(fs, 3), '<NULL>')").cast("long")
            .as("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // Raw-asset ingestion via Spark's built-in `binaryFile` source —
    // the multimodal on-ramp (image/audio shards land as FILES long
    // before they are columns; this is the scan that turns a bucket
    // of blobs into (path, length, content) rows, partitioned by
    // file). Fixture: every 100th document's text (BOUNDED at
    // doc_id < 50000 — ≤500 blobs at ANY corpus size, so the driver
    // loop that writes the scaffolding never scales with the data;
    // the oracle applies the identical cap); the distributed scan
    // reads bytes back, and byte length + md5(content) must equal
    // the oracle's octet_length + md5 over the source strings —
    // proving the bytes survived the file round-trip untouched. At
    // 100 TB this scan is files-parallel and never buffers more than
    // one blob per task.
    "scan_binaryfile" -> ((s, dir) => {
      val scratch =
        new java.io.File(s"$scratchRoot/binfiles")
      rmRf(scratch); scratch.mkdirs()
      Tables(s, dir, "documents")
        .filter(col("doc_id") % 100 === 0 && col("doc_id") < 50000)
        .select(col("doc_id"), col("text")).collect()
        .foreach { r =>
          // NULL text lands as an empty blob (coalesce in the oracle)
          java.nio.file.Files.write(
            new java.io.File(scratch, s"doc_${r.getLong(0)}.bin").toPath,
            Option(r.getString(1)).getOrElse("")
              .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
      s.read.format("binaryFile").load(scratch.toString)
        .select(
          regexp_extract(col("path"), "doc_(\\d+)\\.bin", 1)
            .cast("long").as("doc_id"),
          col("length"),
          md5(col("content")).as("content_md5"))
        .orderBy(col("doc_id"))
    }),

    // XML sink + source roundtrip (Spark 4's built-in XML source —
    // formerly spark-xml): write region as <row> elements, read back
    // with an explicit schema + rowTag. The fourth file-format leg of
    // the source/sink surface (columnar parquet/orc, delimited csv,
    // json lines, raw text, xml trees); the oracle reads the original
    // parquet, so a pass proves write→read fidelity through the XML
    // encoding.
    "scan_xml_roundtrip" -> ((s, dir) => {
      val scratch = s"$scratchRoot/xml-region"
      Tables(s, dir, "region").write.mode("overwrite")
        .option("rowTag", "region").format("xml").save(scratch)
      s.read.schema("r_regionkey INT, r_name STRING")
        .option("rowTag", "region").format("xml").load(scratch)
        .select(col("r_regionkey"), col("r_name"))
        .orderBy(col("r_regionkey"))
    }),

    // Z-order (Morton-curve) layout: interleave 12 bits of customer
    // key and 12 bits of floor(price) into one sort key, then report
    // per-file-bucket (z >> 12) min/max of BOTH dimensions — the
    // two-dimensional clustering that lets parquet min/max stats prune
    // files for predicates on EITHER column after a single
    // repartitionByRange(z) write. The z expression is a constant-
    // folded codegen'd `aggregate`, no UDF (graft.functions.ZOrder;
    // bit-equality with the Scala reference pinned in PropertySpec).
    "layout_zorder" -> ((s, dir) => {
      Tables(s, dir, "orders")
        .withColumn("x", pmod(col("o_custkey"), lit(4096)))
        .withColumn("y",
          pmod(floor(col("o_totalprice")).cast("long"), lit(4096)))
        .withColumn("z", graft.functions.ZOrder.zvalue("x", "y", 12))
        .groupBy(shiftright(col("z"), 12).as("zbucket"))
        .agg(count(lit(1)).as("n"),
          min(col("x")).as("min_x"), max(col("x")).as("max_x"),
          min(col("y")).as("min_y"), max(col("y")).as("max_y"))
        .orderBy(col("zbucket"))
    }),

    // Hilbert-curve layout (the locality-better alternative to
    // layout_zorder: consecutive Hilbert keys are always GRID-ADJACENT,
    // where the Morton curve takes long diagonal jumps — tighter
    // per-file min/max envelopes for the same write cost; this is the
    // clustering Delta/Iceberg OPTIMIZE ZORDER's successors use). The
    // 5-level xy2d state machine (reflect+swap per level) is generated
    // as ONE SQL text ([[hilbertSql]]) run verbatim in both engines
    // (only the integer-div token differs) — 5 chained projections of
    // pure CASE arithmetic, constant-folded codegen, no UDF, no joins:
    // computing keys for a 100 TB rewrite is a scan-speed map. Bucket
    // report mirrors layout_zorder for a direct envelope comparison.
    // Curve bijectivity + unit-step adjacency pinned in HilbertSpec.
    "layout_hilbert" -> ((s, dir) => {
      Tables(s, dir, "orders").createOrReplaceTempView("orders_hilbert")
      s.sql(hilbertSql("div", "orders_hilbert"))
    }),

    // DSv2 WRITE path roundtrip: the graft-manifest atomic sink
    // (graft.sources.ManifestSink — task-unique data files + ONE
    // atomically-renamed manifest; visibility is manifest-gated, so
    // failed/speculative attempts are invisible by construction).
    // The oracle reads the original parquet: a pass proves the full
    // connector commit protocol (writer factory → task commit
    // messages → driver publish → per-file checksummed read-back)
    // loses and corrupts nothing. Commit/abort/orphan/corruption
    // semantics pinned in ManifestSinkSpec.
    "sink_manifest" -> ((s, dir) => {
      val scratch =
        s"$scratchRoot/manifest-supplier"
      Tables(s, dir, "supplier").write.mode("overwrite")
        .format("graft-manifest").save(scratch)
      s.read.format("graft-manifest").load(scratch)
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
          col("s_acctbal"))
        .orderBy(col("s_suppkey"))
    }),

    // AGGREGATE pushdown through the graft-manifest connector
    // (SupportsPushDownAggregates, complete mode): ungrouped
    // unfiltered MIN/MAX/COUNT answer from the manifest's durable
    // per-file row counts and zone-map stats — zero data files opened
    // at 100 TB (ManifestSinkSpec proves the zero-IO claim by
    // corrupting every data file first). The oracle computes the same
    // aggregates over the ORIGINAL parquet, so a pass proves the
    // writer's stats and the scan's decode agree with the data.
    "sink_manifest_agg_pushdown" -> ((s, dir) => {
      val scratch =
        s"$scratchRoot/manifest-aggpd"
      Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
        .write.mode("overwrite").format("graft-manifest").save(scratch)
      s.read.format("graft-manifest").load(scratch)
        .agg(min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"),
          min(col("o_custkey")).as("min_cust"),
          max(col("o_custkey")).as("max_cust"),
          min(col("o_orderdate")).as("min_date"),
          max(col("o_orderdate")).as("max_date"),
          count(lit(1)).as("n_rows"))
    }),

    // NULL-COUNT file statistics through the graft-manifest connector
    // (Iceberg's null_value_counts at single-document scale): every
    // committed file records per-column null counts, so IS NULL scans
    // skip null-free files, IS NOT NULL scans skip all-null files —
    // BEFORE planning, on columns of ANY type (zone maps only cover
    // integrals) — and COUNT(col) answers from the manifest alone on
    // delete-free chains (zero data files opened; ManifestSinkSpec
    // proves it by corrupting every data file first). The write below
    // range-splits on o_orderstatus so the derived nullable column is
    // all-null in some files and null-free in others; the oracle
    // recomputes from the original parquet, proving pruning loses
    // nothing.
    "sink_manifest_nullcount" -> ((s, dir) => {
      val scratch =
        s"$scratchRoot/manifest-nullcount"
      Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          when(col("o_orderstatus") === "F",
            expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
            .as("done_cents"))
        .repartitionByRange(4, col("o_orderstatus"), col("o_orderkey"))
        .write.mode("overwrite").format("graft-manifest").save(scratch)
      val t = s.read.format("graft-manifest").load(scratch)
      t.filter(col("done_cents").isNotNull)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("done_cents")).as("sum_cents"),
          min(col("o_orderkey")).as("min_key"))
        .orderBy(col("o_orderstatus"))
    }),

    // Column pruning through the graft-manifest connector: the paged
    // COLUMNAR file layout + SupportsPushDownRequiredColumns turn a
    // 2-of-6-column read into genuinely skipped bytes (the reader
    // seeks past unreferenced column blocks — ManifestSinkSpec pins
    // both the pruned physical readSchema and the skip-IO behavior).
    // The oracle reads the original parquet, so a pass proves the
    // pruned decode path loses nothing.
    "sink_manifest_pruned" -> ((s, dir) => {
      val scratch =
        s"$scratchRoot/manifest-orders"
      Tables(s, dir, "orders").write.mode("overwrite")
        .format("graft-manifest").save(scratch)
      s.read.format("graft-manifest").load(scratch)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
            .as("price_cents"))
        .orderBy(col("o_orderstatus"))
    }),

    // Snapshot DIFF over the manifest sink's version chain: two batch
    // commits to the same table, then `asOfVersion` time-travel reads
    // of BOTH snapshots anti-joined into a symmetric added/removed
    // report — the audit query a versioned table format exists to
    // answer ("what changed between v1 and v2?"). The two snapshots
    // are modulo-defined subsets of orders, so the oracle derives the
    // same diff from the parquet with pure predicates.
    "sink_manifest_diff" -> ((s, dir) => {
      val scratch =
        s"$scratchRoot/manifest-diff"
      // fresh table per run: asOfVersion below names versions 1 and 2
      // absolutely, so the version chain must start from empty
      rmRf(new java.io.File(scratch))
      val orders = Tables(s, dir, "orders")
      orders.filter(col("o_orderkey") % 3 =!= 0).write.mode("overwrite")
        .format("graft-manifest").save(scratch) // v1
      orders.filter(col("o_orderkey") % 5 =!= 0).write.mode("overwrite")
        .format("graft-manifest").save(scratch) // v2
      val v1 = s.read.format("graft-manifest")
        .option("asOfVersion", "1").load(scratch)
        .select(col("o_orderkey"), col("o_orderstatus"))
      val v2 = s.read.format("graft-manifest")
        .option("asOfVersion", "2").load(scratch)
        .select(col("o_orderkey"), col("o_orderstatus"))
      val added = v2.join(v1.select("o_orderkey"), Seq("o_orderkey"),
        "left_anti").withColumn("change", lit("added"))
      val removed = v1.join(v2.select("o_orderkey"), Seq("o_orderkey"),
        "left_anti").withColumn("change", lit("removed"))
      added.unionAll(removed)
        .groupBy(col("change"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy(col("change"), col("o_orderstatus"))
    }),

    // CHANGE DATA FEED over the manifest sink's snapshot chain
    // (Delta readChangeFeed / Iceberg changelog at single-document
    // scale): four commits — initial load, append, positional
    // DELETE, row-level UPDATE — then `ManifestSink.changes(1, 5)`
    // emits every row-level change after v1 tagged with
    // (_change_version, _change_type); the UPDATE surfaces as
    // delete(old) at its delete snapshot (v4) + insert(new) at its
    // append snapshot (v5) — the format's two-snapshot UPDATE shape. Each version step diffs the two
    // manifests on the DRIVER, proves unchanged files unchanged from
    // metadata alone, and plans ONLY differing files via the
    // restrictFiles scan option — CDF cost is proportional to
    // CHANGED data, not table size (a 100 TB table that appended one
    // shard reads one shard; pinned in ManifestSinkSpec by
    // corrupting an unchanged file mid-chain). The commits are
    // modulo-defined, so the oracle derives the identical feed from
    // the parquet with pure predicates.
    "sink_manifest_cdf" -> ((s, dir) => {
      val scratch =
        s"$scratchRoot/manifest-cdf"
      // fresh table per run: the version range below names snapshots
      // 1..4 absolutely, so the chain must start from empty
      rmRf(new java.io.File(scratch))
      val base = Tables(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      base.filter(col("o_orderkey") % 3 === 0).write.mode("overwrite")
        .format("graft-manifest").save(scratch) // v1: initial load
      base.filter(col("o_orderkey") % 3 === 1).write.mode("append")
        .format("graft-manifest").save(scratch) // v2: append
      graft.sources.ManifestSink.delete(s, scratch,
        "o_custkey % 7 = 0")                    // v3: delete vectors
      graft.sources.ManifestSink.update(s, scratch,
        "o_orderkey % 11 = 0",
        Map("o_orderstatus" -> "'X'"))          // v4+v5: update
      // row-level no-ops (0 rows matched on degenerate input) publish
      // NO snapshot, so the upper bound is the chain's actual head —
      // v5 on the testdata, possibly v2 on an empty corpus
      val cur = graft.sources.ManifestSink.readManifest(scratch).version
      graft.sources.ManifestSink.changes(s, scratch, 1L, cur)
        .groupBy(col("_change_version").as("change_version"),
          col("_change_type").as("change_type"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"),
          sum(col("cents")).as("sum_cents"))
        .orderBy(col("change_version"), col("change_type"),
          col("o_orderstatus"))
    }),

    // STREAMING change data feed run to completion as a batch
    // equivalent (the registered-query face of the operator pinned in
    // ManifestSinkSpec "streaming change feed"): the CDF stream tails
    // a manifest table's snapshot chain — initial snapshot as inserts,
    // then per-version insert/delete rows for append, delete-vector
    // and equality-delete commits — into a second manifest table
    // under ONE checkpoint across two restarts, so a replayed or
    // skipped change breaks the hash. Offsets are snapshot VERSIONS
    // and each batch plans only the files the covered versions
    // changed — at 100 TB the feed costs CHANGED data, not table
    // size. The commits are modulo-defined, so the oracle derives
    // the identical feed from the parquet with pure predicates.
    "stream_manifest_cdf" -> ((s, dir) => {
      val base = s"$scratchRoot/mcdf"
      Seq("src", "out", "ckpt")
        .foreach(t => rmRf(new java.io.File(s"$base-$t")))
      val sup = Tables(s, dir, "supplier").select(
        col("s_suppkey"), col("s_nationkey"),
        expr("CAST(round(s_acctbal * 100) AS BIGINT)").as("cents"))
      def runOnce(): Unit = {
        val q = s.readStream.format("graft-manifest")
          .option("readChangeFeed", "true").load(s"$base-src")
          .writeStream.format("graft-manifest")
          .option("checkpointLocation", s"$base-ckpt").start(s"$base-out")
        try q.processAllAvailable() finally q.stop()
      }
      sup.filter(col("s_suppkey") % 2 === 0).write.mode("overwrite")
        .format("graft-manifest").save(s"$base-src")  // v1: initial
      runOnce()              // snapshot arrives as inserts @v1
      sup.filter(col("s_suppkey") % 2 === 1).write.mode("append")
        .format("graft-manifest").save(s"$base-src")  // v2: append
      graft.sources.ManifestSink.delete(s, s"$base-src",
        "s_suppkey % 4 = 0")                          // v3: vectors
      runOnce()              // restart: v2+v3 exactly once
      graft.sources.ManifestSink.deleteEq(s"$base-src", "s_suppkey",
        Seq(1L, 3L))                                  // v4: eq-delete
      runOnce()              // restart: the eq-delete exactly once
      s.read.format("graft-manifest").load(s"$base-out")
        .groupBy(col("_change_version").as("change_version"),
          col("_change_type").as("change_type"))
        .agg(count(lit(1)).as("n"),
          min(col("s_suppkey")).as("min_key"),
          max(col("s_suppkey")).as("max_key"),
          sum(col("cents")).as("sum_cents"))
        .orderBy(col("change_version"), col("change_type"))
    }),

    // Streaming SOURCE over the manifest table (the Delta-source
    // shape — stream OUT of the lakehouse): offsets are snapshot
    // VERSIONS, the first batch is the initial snapshot, every later
    // batch is exactly the files APPENDED by the covered versions
    // (pure manifest arithmetic at plan time, no data IO). This
    // query runs the stream END TO END twice over one checkpoint —
    // initial snapshot, stop, append a second commit, RESTART — into
    // a second manifest table; the oracle over the full parquet
    // passes only if every row flowed EXACTLY once across the
    // restart (a replay or a skip breaks the hash). Non-append
    // commits fail the stream loudly unless ignoreChanges declares
    // the Delta-style trade-off — pinned in ManifestSinkSpec.
    "sink_manifest_stream_tail" -> ((s, dir) => {
      val base = s"$scratchRoot/mstream"
      Seq("src", "out", "ckpt").foreach(t => rmRf(new java.io.File(s"$base-$t")))
      val supplier = Tables(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"), col("s_acctbal"))
      def runOnce(): Unit = {
        val q = s.readStream.format("graft-manifest").load(s"$base-src")
          .writeStream.format("graft-manifest")
          .option("checkpointLocation", s"$base-ckpt").start(s"$base-out")
        try q.processAllAvailable() finally q.stop()
      }
      supplier.filter(col("s_suppkey") % 2 === 0).write.mode("overwrite")
        .format("graft-manifest").save(s"$base-src")  // v1
      runOnce()                                       // initial snapshot
      supplier.filter(col("s_suppkey") % 2 === 1).write.mode("append")
        .format("graft-manifest").save(s"$base-src")  // v2
      runOnce()                                       // restart: tail only
      s.read.format("graft-manifest").load(s"$base-out")
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(round(s_acctbal * 100) AS BIGINT)"))
            .as("bal_cents"),
          min(col("s_suppkey")).as("min_key"),
          max(col("s_suppkey")).as("max_key"))
        .orderBy(col("s_nationkey"))
    }),

    // SQL-NATIVE lakehouse through the GraftCatalog (DSv2
    // TableCatalog over the manifest format): the whole lifecycle —
    // CREATE NAMESPACE / CREATE TABLE … PARTITIONED BY (bucket) /
    // three INSERT INTO snapshots / metadata-only ALTER TABLE ADD
    // COLUMN / VERSION AS OF time travel — driven by plain
    // `spark.sql` with NO paths in queries; catalog state is pure
    // path-mapping + manifest surgery (no metastore process). The
    // commits are modulo-defined, so the oracle derives the final
    // two-snapshot report from parquet with pure predicates. DDL/
    // DML/rename/drop/namespace semantics pinned in GraftCatalogSpec.
    "sink_manifest_catalog" -> ((s, dir) => {
      val wh = s"$scratchRoot/catalog-wh"
      rmRf(new java.io.File(wh))
      s.conf.set("spark.sql.catalog.graftsql", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.graftsql.warehouse", wh)
      Tables(s, dir, "orders").createOrReplaceTempView("graft_cat_src")
      s.sql("CREATE NAMESPACE IF NOT EXISTS graftsql.db")
      s.sql("CREATE TABLE graftsql.db.ot (o_orderkey BIGINT, " +
        "o_custkey BIGINT, o_orderstatus STRING, cents BIGINT) " +
        "PARTITIONED BY (bucket(8, o_custkey))")            // v0
      def ins(m: Int, extra: String = "") = s.sql(
        "INSERT INTO graftsql.db.ot SELECT o_orderkey, o_custkey, " +
          s"o_orderstatus, CAST(round(o_totalprice * 100) AS BIGINT)$extra " +
          s"FROM graft_cat_src WHERE o_orderkey % 3 = $m")
      ins(0)                                                // v1
      ins(1)                                                // v2
      s.sql("ALTER TABLE graftsql.db.ot ADD COLUMN flag BIGINT") // v3
      s.sql("INSERT INTO graftsql.db.ot SELECT o_orderkey, o_custkey, " +
        "o_orderstatus, CAST(round(o_totalprice * 100) AS BIGINT), 1 " +
        "FROM graft_cat_src WHERE o_orderkey % 3 = 2")      // v4
      s.sql("""
        SELECT 'current' AS snap, o_orderstatus,
          count(*) AS n, sum(cents) AS sum_cents,
          sum(coalesce(flag, 0)) AS n_flagged
        FROM graftsql.db.ot GROUP BY o_orderstatus
        UNION ALL
        SELECT 'v1', o_orderstatus, count(*), sum(cents), 0
        FROM graftsql.db.ot VERSION AS OF 1 GROUP BY o_orderstatus
        ORDER BY snap, o_orderstatus""")
    }),

    // SQL ROW-LEVEL DML through the catalog: MERGE INTO and UPDATE
    // run as group-based COPY-ON-WRITE row-level operations
    // (SupportsRowLevelOperations + runtime `IN(_graft_file, …)`
    // group filtering — only files containing matched rows are read
    // and rewritten, the rest carry forward; ManifestSinkSpec/
    // GraftCatalogSpec pin the file-granular swap). The commits are
    // modulo-defined, so the oracle replays MERGE's matched/
    // not-matched arithmetic and UPDATE's CASE over the parquet.
    "sink_manifest_sql_merge" -> ((s, dir) => {
      val wh = s"$scratchRoot/catalog-wh"
      s.conf.set("spark.sql.catalog.graftsql", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.graftsql.warehouse", wh)
      Tables(s, dir, "orders").createOrReplaceTempView("graft_merge_src")
      s.sql("CREATE NAMESPACE IF NOT EXISTS graftsql.dml")
      s.sql("DROP TABLE IF EXISTS graftsql.dml.mt")
      s.sql("CREATE TABLE graftsql.dml.mt (k BIGINT, st STRING, " +
        "cents BIGINT)")
      s.sql("INSERT INTO graftsql.dml.mt SELECT o_orderkey, " +
        "o_orderstatus, CAST(round(o_totalprice * 100) AS BIGINT) " +
        "FROM graft_merge_src WHERE o_orderkey % 2 = 0")
      s.sql("""
        MERGE INTO graftsql.dml.mt t
        USING (SELECT o_orderkey AS k, o_orderstatus AS st,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS cents
               FROM graft_merge_src WHERE o_orderkey % 4 IN (1, 2)) s
        ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET t.cents = t.cents + 1
        WHEN NOT MATCHED THEN INSERT (k, st, cents)
          VALUES (s.k, s.st, s.cents)""")
      s.sql("UPDATE graftsql.dml.mt SET st = 'X' WHERE k % 10 = 0")
      s.sql("""
        SELECT st AS o_orderstatus, count(*) AS n,
          CAST(sum(cents) AS BIGINT) AS sum_cents,
          min(k) AS min_key, max(k) AS max_key
        FROM graftsql.dml.mt GROUP BY st ORDER BY st""")
    }),

    // SQL-CALLABLE MAINTENANCE through the catalog's
    // ProcedureCatalog (the Iceberg `CALL cat.system.…` surface on
    // Spark 4's native CALL statement): compact / vacuum /
    // sweep_deletes are invoked as plain SQL, each returning a
    // driver-built result row through LocalScan→LocalRelation, so
    // maintenance composes with queries. The cycle — three
    // single-file INSERTs, OPTIMIZE to 2 files, retention vacuum,
    // orphan sweep — has fully construction-determined procedure
    // outputs (3→2 files, v0..v3 archives dropped, 3 old data files
    // swept, 0 orphans), and the final aggregate proves the data
    // survived the whole maintenance cycle byte-identical to the
    // parquet. CALL semantics pinned in GraftCatalogSpec.
    "sink_manifest_call" -> ((s, dir) => {
      val wh = s"$scratchRoot/catalog-wh"
      s.conf.set("spark.sql.catalog.graftsql", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.graftsql.warehouse", wh)
      Tables(s, dir, "orders").createOrReplaceTempView("graft_call_src")
      s.sql("CREATE NAMESPACE IF NOT EXISTS graftsql.maint")
      s.sql("DROP TABLE IF EXISTS graftsql.maint.ot")
      s.sql("CREATE TABLE graftsql.maint.ot (k BIGINT, st STRING, " +
        "cents BIGINT)")                                    // v0
      (0 until 3).foreach { m =>                            // v1..v3
        s.sql("INSERT INTO graftsql.maint.ot " +
          "SELECT /*+ REPARTITION(1) */ o_orderkey, o_orderstatus, " +
          "CAST(round(o_totalprice * 100) AS BIGINT) " +
          s"FROM graft_call_src WHERE o_orderkey % 3 = $m")
      }
      val c = s.sql("CALL graftsql.system.compact(" +
        "`table` => 'maint.ot', target_files => 2)")        // v4
        .selectExpr("'1_compact' AS step", "files_before AS a",
          "files_after AS b", "version AS c")
      val v = s.sql("CALL graftsql.system.vacuum('maint.ot', 0)")
        .selectExpr("'2_vacuum' AS step", "archives_removed AS a",
          "data_files_removed AS b", "base_version AS c")
      val w = s.sql("CALL graftsql.system.sweep_deletes('maint.ot')")
        .selectExpr("'3_sweep' AS step", "delete_files_removed AS a",
          "CAST(0 AS BIGINT) AS b", "CAST(0 AS BIGINT) AS c")
      val data = s.sql("""
        SELECT concat('4_data_', st) AS step, count(*) AS a,
          CAST(sum(cents) AS BIGINT) AS b, max(k) AS c
        FROM graftsql.maint.ot GROUP BY st""")
      c.unionAll(v).unionAll(w).unionAll(data).orderBy("step")
    }),

    // Audit-preserving snapshot ROLLBACK through the SQL surface
    // (`CALL g.system.rollback` — the Iceberg rollback_to_snapshot
    // verb): three inserts build v1..v3, a predicate DELETE (delete
    // vectors, v4) simulates the bad commit, rollback re-publishes v3
    // as v5. Pinned: the procedure's (from, restored, new) triple;
    // the CURRENT read equals the pre-delete state (the delete is
    // undone); `VERSION AS OF 4` still reads the deleted state — the
    // bad commit remains time-travelable until vacuum. Rollback is
    // O(metadata): the target's file list is re-committed verbatim,
    // no data file moves — at 100 TB the undo of a terabyte-scale bad
    // write is one manifest rename chain.
    "sink_manifest_rollback" -> ((s, dir) => {
      val wh = s"$scratchRoot/catalog-wh"
      s.conf.set("spark.sql.catalog.graftsql", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.graftsql.warehouse", wh)
      Tables(s, dir, "orders").createOrReplaceTempView("graft_rb_src")
      s.sql("CREATE NAMESPACE IF NOT EXISTS graftsql.maint")
      s.sql("DROP TABLE IF EXISTS graftsql.maint.rb")
      s.sql("CREATE TABLE graftsql.maint.rb (k BIGINT, cents BIGINT)")
      (0 until 3).foreach { m =>                            // v1..v3
        s.sql("INSERT INTO graftsql.maint.rb " +
          "SELECT /*+ REPARTITION(1) */ o_orderkey, " +
          "CAST(round(o_totalprice * 100) AS BIGINT) " +
          s"FROM graft_rb_src WHERE o_orderkey % 3 = $m")
      }
      s.sql("DELETE FROM graftsql.maint.rb WHERE k % 5 = 0") // v4
      val r = s.sql("CALL graftsql.system.rollback(" +
        "`table` => 'maint.rb', version => CAST(3 AS BIGINT))") // v5
        .selectExpr("'1_rollback' AS step", "from_version AS a",
          "restored_version AS b", "new_version AS c")
      val cur = s.sql("SELECT '2_current' AS step, count(*) AS a, " +
        "CAST(sum(cents) AS BIGINT) AS b, max(k) AS c " +
        "FROM graftsql.maint.rb")
      val bad = s.sql("SELECT '3_asof_deleted' AS step, count(*) AS a, " +
        "CAST(sum(cents) AS BIGINT) AS b, max(k) AS c " +
        "FROM graftsql.maint.rb VERSION AS OF 4")
      r.unionAll(cur).unionAll(bad).orderBy("step")
    }),

    // TIME-based snapshot retention (the Iceberg
    // `expire_snapshots(older_than => ts)` verb — the knob ops teams
    // actually set; count-based vacuum is the other): three commits
    // build v1..v3, the v1 archive is aged two days back, expiry at
    // now-1h drops EXACTLY it and sweeps its now-orphaned data file;
    // the fresh v2 archive stays time-travelable and the base
    // survives byte-identical (the oracle recomputes both reads from
    // the parquet source). O(metadata) at 100 TB: age check + unlink
    // on kilobyte manifest documents, never a data scan.
    "sink_manifest_expire" -> ((s, dir) => {
      import graft.sources.ManifestSink
      val sink = s"$scratchRoot/expire-sink"
      // fresh dir each run: versions and the swept-file count are
      // construction-determined only from an empty chain
      rmRf(new java.io.File(sink))
      val o = Tables(s, dir, "orders").select(
        col("o_orderkey").as("k"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      def write(m: Int, mode: String): Unit =
        o.filter(col("k") % 3 === m).repartition(1)
          .write.format("graft-manifest").mode(mode).save(sink)
      write(0, "overwrite")                                  // v1
      write(1, "overwrite")                                  // v2 — v1's
                                                             // file archive-only
      write(2, "append")                                     // v3
      assert(new java.io.File(sink, "_graft_manifest.v1.json")
        .setLastModified(System.currentTimeMillis() - 2 * 86400000L))
      val removed = ManifestSink.expireSnapshots(sink,
        System.currentTimeMillis() - 3600000L)
      val fs = new java.io.File(sink).listFiles()
      val expired = s.range(1).selectExpr("'1_expired' AS step",
        s"CAST($removed AS BIGINT) AS a",
        s"CAST(${fs.count(_.getName.endsWith(ManifestSink.DataSuffix))} " +
          "AS BIGINT) AS b",
        s"CAST(${fs.count(_.getName.matches("_graft_manifest\\.v\\d+\\.json"))} " +
          "AS BIGINT) AS c")
      def agg(df: org.apache.spark.sql.DataFrame, step: String) =
        df.selectExpr(s"'$step' AS step", "count(*) AS a",
          "CAST(sum(cents) AS BIGINT) AS b", "max(k) AS c")
      val cur = agg(s.read.format("graft-manifest").load(sink),
        "2_current")
      val fresh = agg(s.read.format("graft-manifest")
        .option("asOfVersion", 2).load(sink), "3_asof_fresh")
      expired.unionAll(cur).unionAll(fresh).orderBy("step")
    }),

    // Orphan-file cleanup (Iceberg's `remove_orphan_files` — the
    // third maintenance verb beside count-based vacuum and time-based
    // expire_snapshots): a failed job's files land in the table dir
    // but are never committed, so NO retention sweep ever touches
    // them (sweeps walk manifests; these are in no manifest). Build a
    // 2-file table, plant 3 strays (2 aged = failed commit days ago,
    // 1 fresh = in-flight write happening NOW), then: dry run finds
    // the 2 aged (mtime guard spares the fresh one — Iceberg's
    // default posture, deleting an in-flight write corrupts the
    // commit that's about to publish it), real run deletes exactly
    // them, and the table reads back byte-identical (the oracle
    // recomputes it from the source). O(listing + manifest metadata)
    // at any table size — never reads a data byte.
    "sink_manifest_orphans" -> ((s, dir) => {
      import graft.sources.ManifestSink
      import java.nio.file.{Files, Paths}
      val sink = s"$scratchRoot/orphans-sink"
      rmRf(new java.io.File(sink))
      Tables(s, dir, "orders").select(
          col("o_orderkey").as("k"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        .filter(col("k") % 2 === 0).repartition(2)
        .write.format("graft-manifest").mode("overwrite").save(sink)
      val committed = new java.io.File(sink).listFiles()
        .filter(_.getName.endsWith(ManifestSink.DataSuffix)).head
      val aged = System.currentTimeMillis() - 2 * 86400000L
      def stray(name: String, old: Boolean): Unit = {
        Files.copy(committed.toPath, Paths.get(sink, name)): Unit
        if (old) assert(new java.io.File(sink, name).setLastModified(aged))
      }
      stray("stray-a" + ManifestSink.DataSuffix, old = true)
      stray("stray-b" + ManifestSink.DelSuffix, old = true)
      stray("stray-c" + ManifestSink.DataSuffix, old = false) // in-flight
      def nFiles() = new java.io.File(sink).listFiles()
        .count(f => f.getName.endsWith(ManifestSink.DataSuffix) ||
          f.getName.endsWith(ManifestSink.DelSuffix)).toLong
      val cutoff = System.currentTimeMillis() - 3600000L
      val dry = ManifestSink.removeOrphans(sink, cutoff, dryRun = true)
      val row1 = s.range(1).selectExpr("'1_dry' AS step",
        s"CAST(${dry.length} AS BIGINT) AS a", "CAST(0 AS BIGINT) AS b",
        s"CAST(${nFiles()} AS BIGINT) AS c")
      val gone = ManifestSink.removeOrphans(sink, cutoff, dryRun = false)
        .count(_._2)
      val row2 = s.range(1).selectExpr("'2_removed' AS step",
        s"CAST($gone AS BIGINT) AS a",
        s"CAST($gone AS BIGINT) AS b",
        s"CAST(${nFiles()} AS BIGINT) AS c")
      val row3 = s.read.format("graft-manifest").load(sink)
        .selectExpr("'3_current' AS step", "count(*) AS a",
          "CAST(sum(cents) AS BIGINT) AS b", "max(k) AS c")
      row1.unionAll(row2).unionAll(row3).orderBy("step")
    }),

    // TIMESTAMP time travel (Iceberg/Delta `TIMESTAMP AS OF` beside
    // the existing VERSION AS OF): every base publish stamps a
    // committedAt under a MONOTONIC commit clock (max(now, prev+1) —
    // same-millisecond commits still order), archives preserve the
    // stamp they were published with, and a read at instant t
    // resolves to the highest version with committedAt ≤ t. The
    // query pins the semantics construction-free of wall-clock luck:
    // it reads each boundary BY THE STAMP READ BACK from the chain
    // (at(v2) ⇒ exactly v2's state, at(v2)−1 ⇒ v1's), so outputs are
    // orders-recomputable at any execution speed. O(metadata):
    // resolution reads kilobyte manifests, never data.
    "sink_manifest_asof_time" -> ((s, dir) => {
      import graft.sources.ManifestSink
      val sink = s"$scratchRoot/asoftime-sink"
      rmRf(new java.io.File(sink))
      val o = Tables(s, dir, "orders").select(
        col("o_orderkey").as("k"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      def write(m: Int, mode: String): Unit =
        o.filter(col("k") % 3 === m).repartition(1)
          .write.format("graft-manifest").mode(mode).save(sink)
      write(0, "overwrite")                                  // v1
      write(1, "append")                                     // v2
      write(2, "append")                                     // v3
      val t2 = ManifestSink.commitTimeOf(sink, 2L)
      def agg(ts: Long, step: String) =
        s.read.format("graft-manifest")
          .option("asOfTimestamp", ts.toString).load(sink)
          .selectExpr(s"'$step' AS step", "count(*) AS a",
            "CAST(sum(cents) AS BIGINT) AS b", "max(k) AS c")
      agg(t2, "1_at_v2")
        .unionAll(agg(t2 - 1, "2_before_v2"))
        .unionAll(s.read.format("graft-manifest").load(sink)
          .selectExpr("'3_current' AS step", "count(*) AS a",
            "CAST(sum(cents) AS BIGINT) AS b", "max(k) AS c"))
        .orderBy("step")
    }),

    // NAMED IMMUTABLE snapshot TAGS (the Iceberg tag beside the WAP
    // branch — "the snapshot we trained release N on", pinned by name
    // instead of a version number someone has to remember): v1 is
    // frozen as tag `release_v1` (O(metadata) — one kilobyte manifest
    // copy), two more commits move the base (v3 OVERWRITES, so v1's
    // file leaves the live state entirely), then ZERO-retention
    // vacuum drops every archive — and the tag still reads the exact
    // v1 state, because tag docs pin their files against retention
    // sweeps (listAllManifests includes them). Pinned here: the
    // tagged version, archives-gone-after-vacuum, the tag read ==
    // the v1 subset, the current read == the v3 subset. Writes to a
    // tag and streaming from a tag are refused (GraftCatalogSpec).
    // At 100 TB a release pin costs one manifest copy and holds its
    // terabytes against GC until dropped.
    "sink_manifest_tag" -> ((s, dir) => {
      import graft.sources.ManifestSink
      val sink = s"$scratchRoot/tag-sink"
      rmRf(new java.io.File(sink))
      val o = Tables(s, dir, "orders").select(
        col("o_orderkey").as("k"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      def write(m: Int, mode: String): Unit =
        o.filter(col("k") % 3 === m).repartition(1)
          .write.format("graft-manifest").mode(mode).save(sink)
      write(0, "overwrite")                                 // v1
      val tagged = ManifestSink.createTag(sink, "release_v1")
      write(1, "append")                                    // v2
      write(2, "overwrite")                                 // v3
      ManifestSink.vacuum(sink, 0)                          // drop archives
      val fs = new java.io.File(sink).listFiles()
      val head = s.range(1).selectExpr("'1_tagged' AS step",
        s"CAST($tagged AS BIGINT) AS a",
        s"CAST(${fs.count(_.getName.matches("_graft_manifest\\.v\\d+\\.json"))} " +
          "AS BIGINT) AS b",
        s"CAST(${fs.count(_.getName.matches("_graft_manifest\\.tag-.+\\.json"))} " +
          "AS BIGINT) AS c")
      def agg(df: org.apache.spark.sql.DataFrame, step: String) =
        df.selectExpr(s"'$step' AS step", "count(*) AS a",
          "CAST(sum(cents) AS BIGINT) AS b", "max(k) AS c")
      val tagRead = agg(s.read.format("graft-manifest")
        .option("tag", "release_v1").load(sink), "2_tag_read")
      val cur = agg(s.read.format("graft-manifest").load(sink),
        "3_current")
      head.unionAll(tagRead).unionAll(cur).orderBy("step")
    }),

    // The `refs` METADATA TABLE (Iceberg's refs — "what names exist
    // on this table and what do they see"): one row per reference —
    // the base chain, every open WAP branch, every immutable tag —
    // with file/live-row counts, driver-computed from kilobyte
    // manifest documents, ZERO data files opened (the files/history
    // doctrine). The cycle is modulo-defined (base %3=0, branch
    // stages +%3=1, tag freezes the pre-append base, base appends
    // %3=2), so the oracle recomputes every ref's live count from
    // parquet predicates; versions are projected out (branch-chain
    // version arithmetic is an implementation detail, counts are the
    // contract).
    "sink_manifest_refs" -> ((s, dir) => {
      import graft.sources.ManifestSink
      val sink = s"$scratchRoot/refs-sink"
      rmRf(new java.io.File(sink))
      val o = Tables(s, dir, "orders").select(
        col("o_orderkey").as("k"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      def write(m: Int, mode: String, branch: Option[String]): Unit = {
        val w = o.filter(col("k") % 3 === m).repartition(1)
          .write.format("graft-manifest").mode(mode)
        branch.fold(w)(b => w.option("branch", b)).save(sink)
      }
      write(0, "overwrite", None)                          // base v1
      ManifestSink.createBranch(sink, "audit")
      write(1, "append", Some("audit"))                    // staged
      ManifestSink.createTag(sink, "rel")                  // pins v1
      write(2, "append", None)                             // base v2
      s.read.format("graft-manifest").option("metadata", "refs")
        .load(sink)
        .select(col("ref_name"), col("ref_type"), col("n_files"),
          col("n_live"))
        .orderBy(col("ref_type"), col("ref_name"))
    }),

    // WRITE-AUDIT-PUBLISH on the manifest table (the Iceberg
    // branch/WAP pattern — the production data-quality gate): the
    // main table serves v1 while a staging batch commits to a BRANCH
    // chain (`option("branch", "audit")` on the write — the base
    // manifest is untouched, O(metadata) fork via createBranch);
    // auditors read the branch with the same option; fastForward then
    // publishes the branch state as a new base version (the rollback
    // commit shape — no data file moves, history keeps the
    // pre-publish base). Pinned here: main ISOLATION during the
    // audit, the staged union visible on the branch, and the
    // published state after fast-forward. At 100 TB the gate costs
    // two manifest renames — the staged terabytes never move.
    "sink_manifest_wap" -> ((s, dir) => {
      import graft.sources.ManifestSink
      val sink = s"$scratchRoot/wap-sink"
      // fresh dir each run: a surviving branch file from a prior run
      // would make createBranch refuse (branches are not idempotent)
      rmRf(new java.io.File(sink))
      val o = Tables(s, dir, "orders").select(
        col("o_orderkey").as("k"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      o.filter(col("k") % 3 =!= 0).write.format("graft-manifest")
        .mode("overwrite").save(sink)                        // base v1
      ManifestSink.createBranch(sink, "audit")
      o.filter(col("k") % 3 === 0).write.format("graft-manifest")
        .option("branch", "audit").mode("append").save(sink) // branch v2
      def agg(df: org.apache.spark.sql.DataFrame, step: String) =
        df.selectExpr(s"'$step' AS step", "count(*) AS n",
          "CAST(sum(cents) AS BIGINT) AS sum_cents", "max(k) AS max_k")
      // the during-audit aggregates must be MATERIALIZED before the
      // publish — a lazy plan re-read after fastForward would see the
      // published base (and a retired branch); localCheckpoint pins
      // the 1-row frames eagerly
      val main = agg(s.read.format("graft-manifest").load(sink),
        "1_main_during_audit").lineageCut(true)
      val staged = agg(s.read.format("graft-manifest")
        .option("branch", "audit").load(sink), "2_branch_staged")
        .lineageCut(true)
      val v = ManifestSink.fastForward(sink, "audit")
      val pub = agg(s.read.format("graft-manifest").load(sink),
        s"3_published_v$v")
      main.unionAll(staged).unionAll(pub).orderBy("step")
    }),

    // Z-ORDER maintenance on the manifest table (the OPTIMIZE ZORDER
    // BY verb, layout_zorder's key machinery applied to the
    // connector): a hash-scattered 4-file layout (every file spans
    // BOTH full value ranges — zone maps prune nothing) is rewritten
    // range-partitioned on the Morton interleave of (key, cents), so
    // per-file min/max becomes tight on both columns and a range
    // predicate on either prunes whole files (planned-partition
    // reduction pinned in ManifestSinkSpec). The oracle re-computes
    // the filtered slice from the parquet directly, proving the
    // rewrite moved bytes without bending a value; file count and
    // version pin the rewrite's snapshot arithmetic.
    "sink_manifest_zorder" -> ((s, dir) => {
      import graft.sources.ManifestSink
      val sink = s"$scratchRoot/zorder-sink"
      // fresh dir each run: the snapshot version in the output is
      // construction-determined only from an empty chain
      rmRf(new java.io.File(sink))
      val src = Tables(s, dir, "orders").select(
        col("o_orderkey").as("k"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      src.repartition(4).write.mode("overwrite")
        .format("graft-manifest").save(sink)                 // v1 scatter
      ManifestSink.zorder(s, sink, "k", "cents", 4)          // v2 zorder
      val b = src.agg(min(col("k")), max(col("k"))).head()
      // empty corpus: no bounds — any threshold yields the same empty
      // slice, and zorder itself already degraded to a plain compact
      val thr =
        if (b.isNullAt(0)) 0L
        else b.getLong(0) + (b.getLong(1) - b.getLong(0)) / 4
      val m = ManifestSink.readManifest(sink)
      s.read.format("graft-manifest").load(sink)
        .filter(col("k") < thr)
        .agg(count(lit(1)).as("n_rows"),
          sum(col("cents")).as("sum_cents"), max(col("k")).as("max_k"))
        .withColumn("n_files", lit(m.files.size.toLong))
        .withColumn("version", lit(m.version))
    }),

    // Catalog-scoped SQL FUNCTIONS (DSv2 FunctionCatalog — the
    // Iceberg `system.bucket` shape): `graftsql.system.bucket(8, k)`
    // computes the format's PINNED on-disk bucket transform
    // (splitmix64 finalizer) from plain SQL, magic-method-bound so
    // Catalyst inlines it in codegen. The query proves the function
    // IS the write path: customer routed through a declared
    // bucket(8, c_custkey) table, every row's metadata `_graft_file`
    // joined to the files metadata table's partition value, and the
    // SQL function must agree with where the writer physically put
    // every row — n_consistent == n_rows, which is what the parquet
    // oracle asserts. Function semantics pinned in GraftCatalogSpec.
    "fn_catalog_bucket" -> ((s, dir) => {
      val wh = s"$scratchRoot/catalog-wh"
      s.conf.set("spark.sql.catalog.graftsql", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.graftsql.warehouse", wh)
      Tables(s, dir, "customer").createOrReplaceTempView("graft_fn_src")
      s.sql("CREATE NAMESPACE IF NOT EXISTS graftsql.fn")
      s.sql("DROP TABLE IF EXISTS graftsql.fn.cust")
      s.sql("CREATE TABLE graftsql.fn.cust (c_custkey BIGINT, " +
        "c_nationkey BIGINT) PARTITIONED BY (bucket(8, c_custkey))")
      s.sql("INSERT INTO graftsql.fn.cust " +
        "SELECT c_custkey, c_nationkey FROM graft_fn_src")
      s.read.format("graft-manifest").option("metadata", "files")
        .load(s"$wh/fn/cust").selectExpr("file_name", "part")
        .createOrReplaceTempView("graft_fn_files")
      s.sql("""
        SELECT count(*) AS n_rows,
          CAST(sum(CASE WHEN graftsql.system.bucket(8, t.c_custkey) = f.part
            THEN 1 ELSE 0 END) AS BIGINT) AS n_consistent,
          CAST(sum(t.c_custkey) AS BIGINT) AS sum_keys,
          CAST(sum(t.c_nationkey) AS BIGINT) AS sum_nations
        FROM graftsql.fn.cust t
        JOIN graft_fn_files f ON t._graft_file = f.file_name""")
    }),

    // `graftsql.system.fnv64(s)`: the FNV-1a64-over-UTF-8 string
    // canonicalization the format's blooms and equality deletes key
    // on, exposed to SQL — an operator can pre-compute or audit
    // string-key routing without Scala. The query proves the hash
    // injective on the whole document corpus (count of distinct
    // hashes == count of distinct texts — a collision would break
    // bloom/eq-delete correctness assumptions, so this doubles as a
    // data audit); the oracle derives both sides from text equality.
    "fn_catalog_fnv" -> ((s, dir) => {
      val wh = s"$scratchRoot/catalog-wh"
      s.conf.set("spark.sql.catalog.graftsql", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.graftsql.warehouse", wh)
      Tables(s, dir, "documents").createOrReplaceTempView("graft_fnv_src")
      // fnv64 is the format's NON-NULL hash contract (the write path
      // never hashes nulls — bloom/eq-delete keys skip them), so the
      // audit filters nulls rather than defining fnv64(NULL)
      s.sql("""
        SELECT count(*) AS n_docs,
          count(DISTINCT graftsql.system.fnv64(text)) AS n_hashes,
          count(DISTINCT text) AS n_texts
        FROM graft_fnv_src WHERE text IS NOT NULL""")
    }),

    // `graftsql.system.dot(a, b)`: embedding dot product as a
    // catalog function — the FunctionCatalog route to the same
    // arithmetic as the session-extension `dot_product` expression
    // (one left-to-right double accumulation). Top-10 by inner
    // product against probe vec_id=0, rank-only output; the ORDER
    // BY + LIMIT subquery keeps the TakeOrderedAndProject shape
    // (per-partition top-10, driver merge) — no global sort at any
    // corpus size. Oracle = DuckDB list_dot_product brute force.
    "fn_catalog_dot" -> ((s, dir) => {
      val wh = s"$scratchRoot/catalog-wh"
      s.conf.set("spark.sql.catalog.graftsql", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.graftsql.warehouse", wh)
      Tables(s, dir, "embeddings").createOrReplaceTempView("graft_dot_src")
      s.sql("""
        WITH p AS (SELECT embedding AS probe
                   FROM graft_dot_src WHERE vec_id = 0),
        scored AS (
          SELECT e.vec_id, graftsql.system.dot(e.embedding, p.probe) AS sim
          FROM graft_dot_src e CROSS JOIN p WHERE e.vec_id <> 0),
        top AS (SELECT * FROM scored ORDER BY sim DESC, vec_id ASC LIMIT 10)
        SELECT CAST(row_number() OVER (ORDER BY sim DESC, vec_id ASC) AS INT)
            AS rank, vec_id
        FROM top ORDER BY rank""")
    }),

    // Zone-map file pruning through the graft-manifest connector:
    // every committed file carries per-column min/max for integral
    // columns in the manifest (Iceberg's lower/upper bounds at
    // single-document scale), and SupportsPushDownFilters prunes
    // whole files the stats prove empty BEFORE any partition is
    // planned — with a range-clustered write, a key-range read opens
    // a fraction of the files at any table size. Pruning is
    // conservative (file-granular, every filter stays
    // engine-applied), so results are provably unchanged — which is
    // exactly what the oracle on the original parquet checks.
    // File-skip behavior pinned in ManifestSinkSpec.
    "sink_manifest_zonemap" -> ((s, dir) => {
      val scratch =
        s"$scratchRoot/manifest-zonemap"
      Tables(s, dir, "orders")
        .repartitionByRange(4, col("o_orderkey"))
        .write.mode("overwrite").format("graft-manifest").save(scratch)
      s.read.format("graft-manifest").load(scratch)
        .filter(col("o_orderkey") < 200)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy(col("o_orderstatus"))
    }),

    // Per-file BLOOM-FILTER file skipping through the graft-manifest
    // connector: `.option("bloomFilterColumns", "o_custkey")` makes
    // every committed file carry an 8 KiB bloom of its non-null key
    // set (parquet bloom pages / Iceberg puffin blobs at
    // single-document scale), and equality/IN filters prune whole
    // files the bloom proves empty BEFORE planning. This is the
    // point-lookup case zone maps fundamentally cannot serve: the
    // write below HASH-scatters o_custkey, so every file's min/max
    // spans the whole key range (zone maps prune nothing), yet each
    // custkey's rows land in exactly ONE file — the bloom skips the
    // rest. Conservative (blooms only prove absence; every filter
    // stays engine-applied), so results are provably unchanged —
    // which is what the oracle on the original parquet checks.
    // File-skip behavior + string-key blooms pinned in
    // ManifestSinkSpec.
    "sink_manifest_bloom" -> ((s, dir) => {
      val scratch =
        s"$scratchRoot/manifest-bloom"
      Tables(s, dir, "orders")
        .repartition(4, col("o_custkey"))
        .write.mode("overwrite").format("graft-manifest")
        .option("bloomFilterColumns", "o_custkey")
        .save(scratch)
      s.read.format("graft-manifest").load(scratch)
        .filter(col("o_custkey").isin(1, 2, 4, 7))
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
            .as("price_cents"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy(col("o_custkey"))
    }),

    // Row-level DELETE on the manifest table, merge-on-read
    // (Iceberg's positional-delete / delete-vector design at
    // single-document scale): `ManifestSink.delete(dir, predicate)`
    // writes tiny per-file positional delete files from EXECUTORS and
    // commits them in ONE atomic manifest snapshot — no data file is
    // rewritten, so at 100 TB a GDPR-delete costs kilobytes of delete
    // vectors instead of terabytes of rewrite. Two stacked deletes
    // compose (the scan hides already-deleted rows, so position sets
    // are disjoint and live counts stay exact — COUNT(*) pushdown
    // included); the read back applies the vectors. The oracle
    // applies the same two predicates to the original parquet,
    // proving merge-on-read masking loses and leaks nothing.
    // Mask/compose/compact/travel/corruption behavior pinned in
    // ManifestSinkSpec.
    "sink_manifest_mor" -> ((s, dir) => {
      val scratch =
        s"$scratchRoot/manifest-mor"
      rmRf(new java.io.File(scratch))
      Tables(s, dir, "orders")
        .repartition(4)
        .write.mode("overwrite").format("graft-manifest").save(scratch)
      graft.sources.ManifestSink.delete(s, scratch, "o_orderkey % 7 = 0")
      graft.sources.ManifestSink.delete(s, scratch, "o_custkey % 5 = 1")
      s.read.format("graft-manifest").load(scratch)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
            .as("price_cents"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy(col("o_orderstatus"))
    }),

    // Metadata tables on the manifest sink (Iceberg's `files` table):
    // `.option("metadata", "files")` reads the table's OWN manifests
    // as a DataFrame — layout inspection of a 100 TB table (file row
    // counts, partition values, delete-vector masking) without
    // opening one data file. The write routes one file per region
    // (identity transform) and a DELETE masks odd nation keys, so
    // the metadata's (part, rows, live_rows, n_deleted) is fully
    // determined by the DATA — which is exactly what the oracle
    // recomputes from the parquet. History table pinned in
    // ManifestSinkSpec.
    "sink_manifest_files" -> ((s, dir) => {
      val scratch =
        s"$scratchRoot/manifest-files"
      rmRf(new java.io.File(scratch))
      Tables(s, dir, "nation")
        .select(col("n_nationkey"), col("n_regionkey"), col("n_name"))
        .repartition(1)
        .write.mode("overwrite").format("graft-manifest")
        .option("partitionedBy", "identity(n_regionkey)")
        .save(scratch)
      graft.sources.ManifestSink.delete(s, scratch, "n_nationkey % 2 = 1")
      s.read.format("graft-manifest").option("metadata", "files")
        .load(scratch)
        .select(col("part"), col("rows").as("n_rows"),
          col("live_rows"), col("n_deleted"))
        .orderBy(col("part"))
    }),

    // STORAGE-PARTITIONED JOIN through the manifest connector: both
    // fact extracts are written co-partitioned (identity transform on
    // the same derived key), and `groupByPartition` plans one input
    // partition per partition VALUE with its key exposed via
    // HasPartitionKey + KeyGroupedPartitioning — under
    // spark.sql.sources.v2.bucketing.enabled a join of the two tables
    // runs with ZERO shuffle on either side (pinned by plan in
    // ManifestSinkSpec). At 100 TB this replaces shuffling two fact
    // tables with shuffling nothing. Grouping is semantically
    // neutral, which is what the oracle (plain parquet join) proves.
    "sink_manifest_spj" -> ((s, dir) => {
      val dirO = s"$scratchRoot/manifest-spj-o"
      val dirL = s"$scratchRoot/manifest-spj-l"
      Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"))
        .withColumn("pb", col("o_orderkey") % 16)
        .repartition(col("pb"))
        .write.mode("overwrite").format("graft-manifest")
        .option("partitionedBy", "identity(pb)").save(dirO)
      Tables(s, dir, "lineitem")
        .select(col("l_orderkey"),
          expr("CAST(round(l_quantity) AS BIGINT)").as("qty"))
        .withColumn("pb", col("l_orderkey") % 16)
        .repartition(col("pb"))
        .write.mode("overwrite").format("graft-manifest")
        .option("partitionedBy", "identity(pb)").save(dirL)
      val o = s.read.format("graft-manifest")
        .option("groupByPartition", "true").load(dirO)
      val l = s.read.format("graft-manifest")
        .option("groupByPartition", "true").load(dirL)
        .select(col("pb").as("pb2"), col("l_orderkey"), col("qty"))
      o.join(l, col("pb") === col("pb2") &&
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), sum(col("qty")).as("sum_qty"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy(col("o_orderstatus"))
    }),

    // EQUALITY deletes on the manifest table (Iceberg v2's second
    // delete flavor): `ManifestSink.deleteEq(dir, col, values)` is
    // pure manifest surgery — NO table scan, NO data IO, the
    // O(metadata) DELETE for a 100 TB table. Rows with matching keys
    // in files committed BEFORE the delete are masked at READ time;
    // the sequence-number bound keeps a LATER re-insert of the same
    // keys visible (appended here with transformed prices, exactly
    // the Iceberg semantics). Oracle recomputes the final state
    // relationally from the parquet.
    "sink_manifest_eqdelete" -> ((s, dir) => {
      val scratch =
        s"$scratchRoot/manifest-eqdel"
      rmRf(new java.io.File(scratch))
      val base = Tables(s, dir, "orders").select(
        col("o_orderkey"), col("o_orderstatus"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)")
          .as("price_cents"))
      base.repartition(4)
        .write.mode("overwrite").format("graft-manifest").save(scratch)
      graft.sources.ManifestSink.deleteEq(scratch, "o_orderkey",
        (1L to 50L).map(Long.box))
      base.filter(col("o_orderkey").between(1, 25))
        .withColumn("price_cents", col("price_cents") * 3 + 1)
        .repartition(2)
        .write.mode("append").format("graft-manifest").save(scratch)
      s.read.format("graft-manifest").load(scratch)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("price_cents")).as("sum_cents"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy(col("o_orderstatus"))
    }),

    // Row-level UPDATE on the manifest table: matched rows are masked
    // with delete vectors and their rewritten versions appended —
    // copy-on-write of exactly the touched rows, with the matched set
    // frozen (localCheckpoint) so the rewrite can never re-read the
    // table it is masking. A 100 TB point-update costs one pruned
    // scan + the rewritten rows. Oracle applies the same CASE to the
    // original parquet.
    "sink_manifest_update" -> ((s, dir) => {
      val scratch =
        s"$scratchRoot/manifest-update"
      rmRf(new java.io.File(scratch))
      Tables(s, dir, "orders").select(
        col("o_orderkey"), col("o_orderstatus"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)")
          .as("price_cents"))
        .repartition(4)
        .write.mode("overwrite").format("graft-manifest").save(scratch)
      graft.sources.ManifestSink.update(s, scratch,
        "o_orderkey % 4 = 2",
        Map("price_cents" -> "price_cents * 2 + 1",
          "o_orderstatus" -> "'U'"))
      s.read.format("graft-manifest").load(scratch)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("price_cents")).as("sum_cents"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy(col("o_orderstatus"))
    }),

    // MERGE / upsert on the manifest table, built from the format's
    // two primitives: matched target keys are MASKED with delete
    // vectors (merge-on-read, no rewrite), then the whole source
    // APPENDS — WHEN MATCHED THEN UPDATE / WHEN NOT MATCHED THEN
    // INSERT semantics in two snapshots whose intermediate state
    // never shows a duplicate key. The CDC-warehouse shape: tonight's
    // changed-rows feed upserted into a 100 TB table at the cost of
    // delete vectors + the new rows. Oracle recomputes the merge
    // relationally on the original parquet.
    "sink_manifest_merge" -> ((s, dir) => {
      val scratch =
        s"$scratchRoot/manifest-merge"
      rmRf(new java.io.File(scratch))
      val base = Tables(s, dir, "orders").select(
        col("o_orderkey"), col("o_orderstatus"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)")
          .as("price_cents"))
      base.filter(col("o_orderkey") % 3 =!= 0).repartition(4)
        .write.mode("overwrite").format("graft-manifest").save(scratch)
      val source = base.filter(col("o_orderkey") % 2 === 0)
        .withColumn("price_cents", col("price_cents") + lit(7L))
      graft.sources.ManifestSink.merge(s, scratch, source,
        Seq("o_orderkey"))
      s.read.format("graft-manifest").load(scratch)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("price_cents")).as("sum_cents"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy(col("o_orderstatus"))
    }),

    // Small-file compaction on the manifest table (the lakehouse
    // OPTIMIZE verb — a streaming CDC sink accretes one file per
    // task per epoch; compaction is what keeps the file count, and
    // with it planning cost, bounded): two appends leave 8 files,
    // compact() rewrites the current state into 2 and commits it as
    // just another snapshot (old layout stays time-travelable until
    // vacuum). The oracle reads the original parquet, proving the
    // rewrite loses and corrupts nothing; file counts + version
    // chain pinned in ManifestSinkSpec.
    "sink_manifest_compact" -> ((s, dir) => {
      val scratch =
        s"$scratchRoot/manifest-compact"
      rmRf(new java.io.File(scratch))
      val li = Tables(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          expr("CAST(round(l_quantity) AS BIGINT)").as("qty"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)")
            .as("price_cents"))
      li.filter(col("l_orderkey") % 2 === 0).repartition(4)
        .write.mode("overwrite").format("graft-manifest").save(scratch)
      li.filter(col("l_orderkey") % 2 =!= 0).repartition(4)
        .write.mode("append").format("graft-manifest").save(scratch)
      graft.sources.ManifestSink.compact(s, scratch, 2)
      s.read.format("graft-manifest").load(scratch)
        .groupBy(expr("l_orderkey % 7").as("bucket"))
        .agg(count(lit(1)).as("n"), sum(col("qty")).as("sum_qty"),
          sum(col("price_cents")).as("sum_cents"))
        .orderBy(col("bucket"))
    }),

    // Hidden partitioning on the manifest sink (Iceberg's transform
    // idea): `.option("partitionedBy", "days(ts)")` routes rows to
    // one file per day at WRITE time, records the day in each
    // manifest entry, and the SCAN prunes whole files against pushed
    // ts predicates — day-grain partition elimination with zero
    // reader-side bookkeeping. The oracle reads the original parquet,
    // proving pruning is pure elimination (never drops a matching
    // row). File-skip proof (pruned files truncated to nothing, read
    // still exact) pinned in ManifestSinkSpec "days(ts) partitioning".
    "sink_manifest_partitioned" -> ((s, dir) => {
      val scratch =
        s"$scratchRoot/manifest-partitioned"
      Tables(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"))
        .repartition(expr("CAST(ts AS DATE)")) // align tasks with days
        .write.mode("overwrite").format("graft-manifest")
        .option("partitionedBy", "days(ts)").save(scratch)
      s.read.format("graft-manifest").load(scratch)
        .filter(col("ts") >= lit("2024-01-10 00:00:00").cast("timestamp")
          && col("ts") < lit("2024-01-15 00:00:00").cast("timestamp"))
        .groupBy(expr("CAST(ts AS DATE)").as("day"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"),
          min(col("event_id")).as("min_ev"),
          max(col("event_id")).as("max_ev"))
        .orderBy(col("day"))
    }),

    // The `partitions` METADATA table (Iceberg's partitions table at
    // single-document scale): one row per live partition value with
    // file/row/delete tallies, driver-computed from the manifest —
    // the layout census a compaction or retention planner reads on a
    // 100 TB table with ZERO data files opened. The write aligns
    // tasks with days, so the oracle's literal n_files = 1 per day
    // doubles as a layout pin: one day, one task, one file.
    "sink_manifest_partitions" -> ((s, dir) => {
      val scratch =
        s"$scratchRoot/manifest-partmeta"
      Tables(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"))
        .repartition(expr("CAST(ts AS DATE)"))
        .write.mode("overwrite").format("graft-manifest")
        .option("partitionedBy", "days(ts)").save(scratch)
      s.read.format("graft-manifest").option("metadata", "partitions")
        .load(scratch)
        .select(
          expr("date_add(DATE '1970-01-01', CAST(part AS INT))")
            .as("day"),
          col("n_files"), col("n_rows"), col("n_live"))
        .orderBy(col("day"))
    }),

    // Bucket partitioning on the manifest sink: `bucket(8, key)`
    // hash-scatters rows at write time and equality/IN predicates
    // prune to the literal's bucket at read time — the pruning case
    // zone maps fundamentally cannot serve (a hashed key's min/max
    // spans every file). The write-side and prune-side share one
    // pinned hash (ManifestSink.bucketOf — the on-disk contract, like
    // Iceberg pinning murmur3). Equality-opens-one-bucket proof in
    // ManifestSinkSpec "bucket(n, key) partitioning".
    "sink_manifest_bucket" -> ((s, dir) => {
      val scratch =
        s"$scratchRoot/manifest-bucket"
      Tables(s, dir, "customer").write.mode("overwrite")
        .format("graft-manifest")
        .option("partitionedBy", "bucket(8, c_custkey)").save(scratch)
      s.read.format("graft-manifest").load(scratch)
        .filter(col("c_custkey").isin(42L, 57L, 101L))
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          col("c_acctbal"))
        .orderBy(col("c_custkey"))
    }),

    // Literal time-range scan on the events fact table — THE 100 TB
    // access pattern for a CDC-fed log (read five days out of years).
    // Exists to pin that the ts type normalization in graft.Tables
    // (ns-legacy / µs-NTZ parquet → TimestampType) never costs the
    // pushdown: the range must reach `PushedFilters` on the scan for
    // row-group pruning (PlanShapeSpec "scan_events_pushdown").
    "scan_events_pushdown" -> ((s, dir) => {
      Tables(s, dir, "events")
        .filter(col("ts") >= lit("2024-01-10 00:00:00").cast("timestamp") &&
                col("ts") <  lit("2024-01-15 00:00:00").cast("timestamp"))
        .select(col("event_id"), col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"))
        .orderBy(col("event_id"), col("ts_us"))
    }),

    // Row-level lineage from the parquet reader's hidden `_metadata`
    // struct — file name + in-file row index with ZERO bookkeeping
    // cost (computed from scan offsets, no join against any index).
    // At 100 TB this is how dedup keep-lists and audit trails name
    // exact source rows. The testdata writes documents with doc_id ==
    // in-file row position, so the oracle can assert full alignment
    // while Spark derives row_index independently from parquet
    // offsets — a real cross-engine check of the metadata machinery
    // (DuckDB's file_row_number confirms the same alignment).
    "scan_provenance" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          col("_metadata.file_name").as("file_name"),
          col("_metadata.row_index").as("row_idx"))
        .groupBy(col("file_name"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("row_idx") === col("doc_id"), 1L).otherwise(0L))
            .as("n_aligned"),
          min(col("row_idx")).as("min_idx"),
          max(col("row_idx")).as("max_idx"))
        .orderBy(col("file_name"))
    })
  )

  /** The Hilbert xy2d state machine (order 5, 32×32 grid) as chained
    * CTE projections of pure CASE arithmetic — the classic per-level
    * quadrant-bit + reflect-and-swap rotation, unrolled for s = 16, 8,
    * 4, 2, 1 so both engines run the IDENTICAL generated text (only
    * the integer-div token differs, the holtSql convention). `h5`
    * carries (x0, y0, d): original cell coords + Hilbert key. */
  private[graft] def hilbertCtes(divOp: String, table: String): String = {
    val steps = Seq(16, 8, 4, 2, 1).zipWithIndex.map { case (sz, k) =>
      s"""h${k + 1} AS (
         |  SELECT x0, y0,
         |    CASE WHEN ry = 1 THEN x
         |         WHEN rx = 1 THEN 31 - y ELSE y END AS x,
         |    CASE WHEN ry = 1 THEN y
         |         WHEN rx = 1 THEN 31 - x ELSE x END AS y,
         |    d + ${sz * sz} * (CASE WHEN rx = 0 AND ry = 0 THEN 0
         |      WHEN rx = 0 AND ry = 1 THEN 1
         |      WHEN rx = 1 AND ry = 1 THEN 2 ELSE 3 END) AS d
         |  FROM (SELECT x0, y0, x, y, d,
         |      (x $divOp $sz) % 2 AS rx, (y $divOp $sz) % 2 AS ry
         |    FROM h$k) s$k)""".stripMargin
    }
    s"""WITH h0 AS (
       |  SELECT o_custkey % 32 AS x0,
       |    CAST(floor(o_totalprice) AS BIGINT) % 32 AS y0,
       |    o_custkey % 32 AS x,
       |    CAST(floor(o_totalprice) AS BIGINT) % 32 AS y,
       |    CAST(0 AS BIGINT) AS d
       |  FROM $table),
       |${steps.mkString(",\n")}""".stripMargin
  }

  private[graft] def hilbertSql(divOp: String, table: String): String =
    hilbertCtes(divOp, table) + "\n" +
      s"""SELECT CAST(d $divOp 32 AS BIGINT) AS hbucket,
         |  count(*) AS n,
         |  min(x0) AS min_x, max(x0) AS max_x,
         |  min(y0) AS min_y, max(y0) AS max_y
         |FROM h5 GROUP BY hbucket ORDER BY hbucket""".stripMargin

  def oracle: Map[String, String] = Map(
    "layout_hilbert" -> hilbertSql("//", "orders"),

    // row_index == doc_id is a verified property of the testdata
    // files (duckdb file_row_number agrees at every sf), so the
    // expected n_aligned is simply the row count
    "scan_provenance" ->
      """SELECT 'documents.parquet' AS file_name,
        |  count(*) AS n_rows,
        |  count(*) AS n_aligned,
        |  CAST(0 AS BIGINT) AS min_idx,
        |  CAST(max(doc_id) AS BIGINT) AS max_idx
        |FROM documents""".stripMargin,

    "scan_parquet" ->
      """SELECT count(*) AS n_rows,
        |       count(DISTINCT l_orderkey) AS n_orders,
        |       CAST(sum(l_linenumber) AS BIGINT) AS sum_linenumber
        |FROM lineitem""".stripMargin,

    "scan_pruned" ->
      """SELECT l_orderkey, l_linenumber, l_quantity
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, l_quantity""".stripMargin,

    "scan_pushdown" ->
      """SELECT l_orderkey, l_linenumber, CAST(l_shipdate AS DATE) AS ship_date
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate <  TIMESTAMP '1997-07-01'
        |ORDER BY l_orderkey, l_linenumber, ship_date""".stripMargin,

    "sink_manifest" ->
      """SELECT s_suppkey, s_name, s_nationkey, s_acctbal
        |FROM supplier ORDER BY s_suppkey""".stripMargin,

    "sink_manifest_agg_pushdown" ->
      """SELECT min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
        |  min(o_custkey) AS min_cust, max(o_custkey) AS max_cust,
        |  min(o_orderdate) AS min_date, max(o_orderdate) AS max_date,
        |  count(*) AS n_rows
        |FROM orders""".stripMargin,

    "sink_manifest_nullcount" ->
      """WITH d AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderstatus = 'F' THEN
        |      CAST(round(o_totalprice * 100) AS BIGINT) END
        |      AS done_cents
        |  FROM orders)
        |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(done_cents) AS BIGINT) AS sum_cents,
        |  CAST(min(o_orderkey) AS BIGINT) AS min_key
        |FROM d WHERE done_cents IS NOT NULL
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "sink_manifest_pruned" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS price_cents
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,

    "sink_manifest_zonemap" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders WHERE o_orderkey < 200
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,

    "sink_manifest_bloom" ->
      """SELECT o_custkey, count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS price_cents,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders WHERE o_custkey IN (1, 2, 4, 7)
        |GROUP BY o_custkey
        |ORDER BY o_custkey""".stripMargin,

    "sink_manifest_mor" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS price_cents,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders
        |WHERE o_orderkey % 7 <> 0 AND o_custkey % 5 <> 1
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,

    "sink_manifest_files" ->
      """SELECT n_regionkey AS part, count(*) AS n_rows,
        |  CAST(sum(CASE WHEN n_nationkey % 2 = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS live_rows,
        |  CAST(sum(CASE WHEN n_nationkey % 2 = 1 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_deleted
        |FROM nation GROUP BY n_regionkey
        |ORDER BY part""".stripMargin,

    "sink_manifest_spj" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
        |    AS sum_qty,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,

    "sink_manifest_eqdelete" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
        |  FROM orders),
        |final AS (
        |  SELECT o_orderkey, o_orderstatus, price_cents FROM base
        |  WHERE o_orderkey NOT BETWEEN 1 AND 50
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, price_cents * 3 + 1
        |  FROM base WHERE o_orderkey BETWEEN 1 AND 25)
        |SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(price_cents) AS BIGINT) AS sum_cents,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM final GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,

    "sink_manifest_update" ->
      """WITH base AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 4 = 2 THEN 'U' ELSE o_orderstatus END
        |      AS o_orderstatus,
        |    CASE WHEN o_orderkey % 4 = 2
        |      THEN CAST(round(o_totalprice * 100) AS BIGINT) * 2 + 1
        |      ELSE CAST(round(o_totalprice * 100) AS BIGINT) END
        |      AS price_cents
        |  FROM orders)
        |SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(price_cents) AS BIGINT) AS sum_cents,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM base GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,

    "sink_manifest_merge" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
        |  FROM orders),
        |merged AS (
        |  SELECT o_orderkey, o_orderstatus, price_cents + 7 AS price_cents
        |  FROM base WHERE o_orderkey % 2 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, price_cents
        |  FROM base WHERE o_orderkey % 3 <> 0 AND o_orderkey % 2 <> 0)
        |SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(price_cents) AS BIGINT) AS sum_cents,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM merged GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,

    "sink_manifest_compact" ->
      """SELECT l_orderkey % 7 AS bucket, count(*) AS n,
        |  CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
        |    AS sum_qty,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |    AS BIGINT) AS sum_cents
        |FROM lineitem GROUP BY bucket
        |ORDER BY bucket""".stripMargin,

    "sink_manifest_diff" ->
      """WITH v1 AS (SELECT o_orderkey, o_orderstatus FROM orders
        |            WHERE o_orderkey % 3 <> 0),
        |     v2 AS (SELECT o_orderkey, o_orderstatus FROM orders
        |            WHERE o_orderkey % 5 <> 0),
        |     d AS (
        |  SELECT 'added' AS change, o_orderstatus, o_orderkey FROM v2
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM v1)
        |  UNION ALL
        |  SELECT 'removed' AS change, o_orderstatus, o_orderkey FROM v1
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM v2))
        |SELECT change, o_orderstatus, count(*) AS n,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM d GROUP BY change, o_orderstatus
        |ORDER BY change, o_orderstatus""".stripMargin,

    // the four commits are modulo-defined subsets, so the feed is a
    // pure function of the parquet: v2 inserts = the appended third;
    // v3 deletes = rows live at v2 hit by the custkey predicate;
    // v4 = the update's delete(old)+insert(new) over rows live at v3
    "sink_manifest_cdf" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_custkey AS c, o_orderstatus AS st,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |v12 AS (SELECT * FROM base WHERE k % 3 IN (0, 1)),
        |live3 AS (SELECT * FROM v12 WHERE c % 7 <> 0),
        |feed AS (
        |  SELECT CAST(2 AS BIGINT) AS change_version,
        |         'insert' AS change_type, st, k, cents
        |  FROM base WHERE k % 3 = 1
        |  UNION ALL
        |  SELECT CAST(3 AS BIGINT), 'delete', st, k, cents
        |  FROM v12 WHERE c % 7 = 0
        |  UNION ALL
        |  SELECT CAST(4 AS BIGINT), 'delete', st, k, cents
        |  FROM live3 WHERE k % 11 = 0
        |  UNION ALL
        |  SELECT CAST(5 AS BIGINT), 'insert', 'X', k, cents
        |  FROM live3 WHERE k % 11 = 0)
        |SELECT change_version, change_type, st AS o_orderstatus,
        |  count(*) AS n, min(k) AS min_key, max(k) AS max_key,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM feed GROUP BY change_version, change_type, st
        |ORDER BY change_version, change_type, o_orderstatus""".stripMargin,

    // the streamed feed: v1 = initial evens, v2 = appended odds,
    // v3 = delete-vector hits (k%4=0, all even so present), v4 =
    // eq-delete {1,3} (odd, not hit by v3, so both still live)
    "stream_manifest_cdf" ->
      """WITH sup AS (
        |  SELECT s_suppkey AS k,
        |         CAST(round(s_acctbal * 100) AS BIGINT) AS cents
        |  FROM supplier),
        |feed AS (
        |  SELECT CAST(1 AS BIGINT) AS change_version,
        |         'insert' AS change_type, k, cents
        |  FROM sup WHERE k % 2 = 0
        |  UNION ALL
        |  SELECT CAST(2 AS BIGINT), 'insert', k, cents
        |  FROM sup WHERE k % 2 = 1
        |  UNION ALL
        |  SELECT CAST(3 AS BIGINT), 'delete', k, cents
        |  FROM sup WHERE k % 4 = 0
        |  UNION ALL
        |  SELECT CAST(4 AS BIGINT), 'delete', k, cents
        |  FROM sup WHERE k IN (1, 3))
        |SELECT change_version, change_type, count(*) AS n,
        |  min(k) AS min_key, max(k) AS max_key,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM feed GROUP BY change_version, change_type
        |ORDER BY change_version, change_type""".stripMargin,

    // every supplier row flows exactly once across the restart, so
    // the sunk table aggregates identically to the parquet
    "sink_manifest_stream_tail" ->
      """SELECT s_nationkey, count(*) AS n,
        |  CAST(sum(CAST(round(s_acctbal * 100) AS BIGINT)) AS BIGINT)
        |    AS bal_cents,
        |  min(s_suppkey) AS min_key, max(s_suppkey) AS max_key
        |FROM supplier GROUP BY s_nationkey
        |ORDER BY s_nationkey""".stripMargin,

    // target = even keys; MERGE matches k%4=2 (cents+1) and inserts
    // k%4=1; UPDATE stamps st='X' on k%10=0 (all even, so present)
    "sink_manifest_sql_merge" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS st,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |t AS (
        |  SELECT k, st,
        |    cents + CASE WHEN k % 4 = 2 THEN 1 ELSE 0 END AS cents
        |  FROM base WHERE k % 2 = 0
        |  UNION ALL
        |  SELECT k, st, cents FROM base WHERE k % 4 = 1),
        |u AS (
        |  SELECT k, CASE WHEN k % 10 = 0 THEN 'X' ELSE st END AS st,
        |    cents
        |  FROM t)
        |SELECT st AS o_orderstatus, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  min(k) AS min_key, max(k) AS max_key
        |FROM u GROUP BY st ORDER BY st""".stripMargin,

    // the function must agree with physical routing on every row
    "fn_catalog_bucket" ->
      """SELECT count(*) AS n_rows, count(*) AS n_consistent,
        |  CAST(sum(c_custkey) AS BIGINT) AS sum_keys,
        |  CAST(sum(c_nationkey) AS BIGINT) AS sum_nations
        |FROM customer""".stripMargin,

    // hash injectivity on the corpus: distinct hashes == distinct texts
    "fn_catalog_fnv" ->
      """SELECT count(*) AS n_docs,
        |  count(DISTINCT text) AS n_hashes,
        |  count(DISTINCT text) AS n_texts
        |FROM documents WHERE text IS NOT NULL""".stripMargin,

    "fn_catalog_dot" ->
      """SELECT CAST(row_number() OVER (ORDER BY sim DESC, vec_id ASC) AS INT)
        |    AS rank, vec_id
        |FROM (
        |  SELECT e.vec_id,
        |    list_dot_product(e.embedding, p.embedding) AS sim
        |  FROM embeddings e, (SELECT embedding FROM embeddings
        |                      WHERE vec_id = 0) p
        |  WHERE e.vec_id <> 0)
        |QUALIFY rank <= 10
        |ORDER BY rank""".stripMargin,

    // procedure outputs are construction-determined (3 single-file
    // inserts -> compact(2) at v4 -> vacuum drops archives v0..v3 +
    // the 3 pre-compaction files -> zero orphan delete vectors); the
    // data rows must equal the parquet after the full cycle
    "sink_manifest_call" ->
      """SELECT '1_compact' AS step, CAST(3 AS BIGINT) AS a,
        |  CAST(2 AS BIGINT) AS b, CAST(4 AS BIGINT) AS c
        |UNION ALL
        |SELECT '2_vacuum', 4, 3, 4
        |UNION ALL
        |SELECT '3_sweep', 0, 0, 0
        |UNION ALL
        |SELECT concat('4_data_', o_orderstatus), count(*),
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT),
        |  max(o_orderkey)
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY step""".stripMargin,

    // the filtered slice straight off the parquet; file count and
    // version are construction-determined (v1 scatter, v2 zorder)
    "sink_manifest_zorder" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |b AS (SELECT min(k) AS lo, max(k) AS hi FROM base)
        |SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents, max(k) AS max_k,
        |  CAST(4 AS BIGINT) AS n_files, CAST(2 AS BIGINT) AS version
        |FROM base, b WHERE k < lo + (hi - lo) // 4""".stripMargin,

    // main during audit = the %3<>0 base slice only; the branch and
    // the published state = all rows
    "sink_manifest_wap" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT '1_main_during_audit' AS step, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents, max(k) AS max_k
        |FROM base WHERE k % 3 <> 0
        |UNION ALL
        |SELECT '2_branch_staged', count(*),
        |  CAST(sum(cents) AS BIGINT), max(k)
        |FROM base
        |UNION ALL
        |SELECT '3_published_v2', count(*),
        |  CAST(sum(cents) AS BIGINT), max(k)
        |FROM base
        |ORDER BY step""".stripMargin,

    // current = all rows (the v4 delete is rolled back); VERSION AS
    // OF 4 = the deleted state (k % 5 = 0 masked)
    "sink_manifest_rollback" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT '1_rollback' AS step, CAST(4 AS BIGINT) AS a,
        |  CAST(3 AS BIGINT) AS b, CAST(5 AS BIGINT) AS c
        |UNION ALL
        |SELECT '2_current', count(*), CAST(sum(cents) AS BIGINT),
        |  max(k)
        |FROM base
        |UNION ALL
        |SELECT '3_asof_deleted', count(*), CAST(sum(cents) AS BIGINT),
        |  max(k)
        |FROM base WHERE k % 5 <> 0
        |ORDER BY step""".stripMargin,

    // construction-determined: 1 archive expired, 2 data files left,
    // 1 archive left; current = v2 overwrite (%3=1) + v3 append
    // (%3=2); asOf 2 = the %3=1 slice alone
    "sink_manifest_expire" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT '1_expired' AS step, CAST(1 AS BIGINT) AS a,
        |  CAST(2 AS BIGINT) AS b, CAST(1 AS BIGINT) AS c
        |UNION ALL
        |SELECT '2_current', count(*), CAST(sum(cents) AS BIGINT),
        |  max(k)
        |FROM base WHERE k % 3 <> 0
        |UNION ALL
        |SELECT '3_asof_fresh', count(*), CAST(sum(cents) AS BIGINT),
        |  max(k)
        |FROM base WHERE k % 3 = 1
        |ORDER BY step""".stripMargin,

    "sink_manifest_asof_time" ->
      """WITH src AS (
        |  SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT '1_at_v2' AS step, count(*) AS a,
        |  CAST(sum(cents) AS BIGINT) AS b, max(k) AS c
        |FROM src WHERE k % 3 IN (0, 1)
        |UNION ALL
        |SELECT '2_before_v2', count(*), CAST(sum(cents) AS BIGINT),
        |  max(k)
        |FROM src WHERE k % 3 = 0
        |UNION ALL
        |SELECT '3_current', count(*), CAST(sum(cents) AS BIGINT),
        |  max(k)
        |FROM src
        |ORDER BY step""".stripMargin,

    "sink_manifest_orphans" ->
      """WITH src AS (
        |  SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders WHERE o_orderkey % 2 = 0)
        |SELECT '1_dry' AS step, CAST(2 AS BIGINT) AS a,
        |  CAST(0 AS BIGINT) AS b, CAST(5 AS BIGINT) AS c
        |UNION ALL
        |SELECT '2_removed', 2, 2, 3
        |UNION ALL
        |SELECT '3_current', count(*), CAST(sum(cents) AS BIGINT),
        |  max(k)
        |FROM src
        |ORDER BY step""".stripMargin,

    "sink_manifest_refs" ->
      """WITH base AS (SELECT o_orderkey AS k FROM orders),
        |c AS (SELECT
        |  CAST(sum(CASE WHEN k % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS c0,
        |  CAST(sum(CASE WHEN k % 3 = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS c1,
        |  CAST(sum(CASE WHEN k % 3 = 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS c2
        |  FROM base)
        |SELECT 'main' AS ref_name, 'base' AS ref_type,
        |  CAST(2 AS BIGINT) AS n_files, c0 + c2 AS n_live FROM c
        |UNION ALL
        |SELECT 'audit', 'branch', CAST(2 AS BIGINT), c0 + c1 FROM c
        |UNION ALL
        |SELECT 'rel', 'tag', CAST(1 AS BIGINT), c0 FROM c
        |ORDER BY ref_type, ref_name""".stripMargin,

    "sink_manifest_tag" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT '1_tagged' AS step, CAST(1 AS BIGINT) AS a,
        |  CAST(0 AS BIGINT) AS b, CAST(1 AS BIGINT) AS c
        |UNION ALL
        |SELECT '2_tag_read', count(*), CAST(sum(cents) AS BIGINT),
        |  max(k)
        |FROM base WHERE k % 3 = 0
        |UNION ALL
        |SELECT '3_current', count(*), CAST(sum(cents) AS BIGINT),
        |  max(k)
        |FROM base WHERE k % 3 = 2
        |ORDER BY step""".stripMargin,

    // v1 = the %3=0 insert; current = all three inserts with flag=1
    // only on the post-ALTER (%3=2) slice
    "sink_manifest_catalog" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS st,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |cur AS (
        |  SELECT 'current' AS snap, st, count(*) AS n,
        |    CAST(sum(cents) AS BIGINT) AS sum_cents,
        |    CAST(sum(CASE WHEN k % 3 = 2 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_flagged
        |  FROM base GROUP BY st),
        |v1 AS (
        |  SELECT 'v1' AS snap, st, count(*) AS n,
        |    CAST(sum(cents) AS BIGINT) AS sum_cents,
        |    CAST(0 AS BIGINT) AS n_flagged
        |  FROM base WHERE k % 3 = 0 GROUP BY st)
        |SELECT snap, st AS o_orderstatus, n, sum_cents, n_flagged
        |FROM (SELECT * FROM cur UNION ALL SELECT * FROM v1)
        |ORDER BY snap, o_orderstatus""".stripMargin,

    "sink_manifest_partitioned" ->
      """SELECT CAST(ts AS DATE) AS day, count(*) AS n,
        |  count(DISTINCT user_id) AS n_users,
        |  min(event_id) AS min_ev, max(event_id) AS max_ev
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND ts <  TIMESTAMP '2024-01-15 00:00:00'
        |GROUP BY day
        |ORDER BY day""".stripMargin,

    "sink_manifest_partitions" ->
      """SELECT CAST(ts AS DATE) AS day, CAST(1 AS BIGINT) AS n_files,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(*) AS BIGINT) AS n_live
        |FROM events GROUP BY day ORDER BY day""".stripMargin,

    "sink_manifest_bucket" ->
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal
        |FROM customer WHERE c_custkey IN (42, 57, 101)
        |ORDER BY c_custkey""".stripMargin,

    "scan_events_pushdown" ->
      """SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND ts <  TIMESTAMP '2024-01-15 00:00:00'
        |ORDER BY event_id, ts_us""".stripMargin,

    "scan_csv_roundtrip" ->
      """SELECT n_nationkey, n_name, n_regionkey
        |FROM nation ORDER BY n_nationkey""".stripMargin,

    "scan_json_roundtrip" ->
      """SELECT s_suppkey, s_name, s_nationkey, s_acctbal
        |FROM supplier ORDER BY s_suppkey""".stripMargin,

    "scan_orc_roundtrip" ->
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "scan_avro_roundtrip" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  o_orderdate, o_orderpriority
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "sink_bucketed" ->
      s"""SELECT o_custkey, count(*) AS n,
         |  ${Tables.sql.moneySum("o_totalprice")} AS sum_price
         |FROM orders
         |GROUP BY o_custkey
         |ORDER BY o_custkey""".stripMargin,

    "sink_partitioned" ->
      s"""SELECT o_orderstatus, count(*) AS n,
         |  ${Tables.sql.moneySum("o_totalprice")} AS sum_price
         |FROM orders
         |WHERE o_orderpriority = '1-URGENT'
         |GROUP BY o_orderstatus
         |ORDER BY o_orderstatus""".stripMargin,

    "scan_schema_evolution" ->
      """SELECT 0 AS batch, c_custkey, c_name, CAST(NULL AS DOUBLE) AS c_acctbal
        |FROM customer
        |UNION ALL
        |SELECT 1 AS batch, c_custkey, c_name, c_acctbal
        |FROM customer
        |ORDER BY batch, c_custkey""".stripMargin,

    "scan_text_roundtrip" ->
      """SELECT doc_id, lang, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    // byte length of the UTF-8 file == octet_length of the source
    // text; md5 over bytes == DuckDB md5 over the string's UTF-8
    "scan_binaryfile" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(coalesce(text, ''))) AS BIGINT)
        |    AS length,
        |  md5(coalesce(text, '')) AS content_md5
        |FROM documents WHERE doc_id % 100 = 0 AND doc_id < 50000
        |ORDER BY doc_id""".stripMargin,

    "scan_xml_roundtrip" ->
      """SELECT r_regionkey, r_name
        |FROM region ORDER BY r_regionkey""".stripMargin,

    "scan_json_corrupt" ->
      """SELECT CASE WHEN doc_id % 20 = 0 THEN NULL ELSE lang END AS lang,
        |  count(*) AS n
        |FROM documents
        |GROUP BY 1
        |ORDER BY lang ASC NULLS FIRST""".stripMargin,

    "layout_zorder" ->
      s"""WITH d AS (
         |  SELECT o_custkey % 4096 AS x,
         |         CAST(floor(o_totalprice) AS BIGINT) % 4096 AS y
         |  FROM orders),
         |zz AS (
         |  SELECT x, y,
         |    ${graft.functions.ZOrder.duckdbZ("x", "y", 12)} AS z
         |  FROM d)
         |SELECT (z >> 12) AS zbucket, count(*) AS n,
         |  min(x) AS min_x, max(x) AS max_x,
         |  min(y) AS min_y, max(y) AS max_y
         |FROM zz GROUP BY 1 ORDER BY zbucket""".stripMargin
  )
}
