package graft.sources

import java.io.File
import java.nio.file.Files

import graft.LocalSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the graft-manifest sink's commit protocol — the properties a
  * manifest-gated table format exists to provide: atomic all-or-
  * nothing visibility, attempt isolation, overwrite truncation,
  * append merging, and loud corruption detection on read.
  */
class ManifestSinkSpec extends AnyFunSuite {
  private lazy val spark = LocalSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def scratch(tag: String): String =
    Files.createTempDirectory(s"graft-manifest-$tag").toString

  test("roundtrip: every row and type survives write -> manifest -> read") {
    val dir = scratch("rt")
    val src = graft.Tables(spark, sf, "customer")
    src.write.mode("overwrite").format("graft-manifest").save(dir)
    val back = spark.read.format("graft-manifest").load(dir)
    assert(back.schema === src.schema)
    val a = src.orderBy("c_custkey").collect().toSeq
    val b = back.orderBy("c_custkey").collect().toSeq
    assert(a === b)
  }

  test("visibility is manifest-gated: orphan data files are invisible") {
    val dir = scratch("orphan")
    val src = graft.Tables(spark, sf, "region")
    src.write.mode("overwrite").format("graft-manifest").save(dir)
    val n = src.count()
    // a stray file from a crashed uncommitted job lands in the dir …
    val stray = new File(dir, s"part-99999-0-dead${ManifestSink.DataSuffix}")
    Files.write(stray.toPath, Array.fill[Byte](64)(7))
    // … and reads don't even open it: the manifest is the table
    assert(spark.read.format("graft-manifest").load(dir).count() === n)
  }

  test("overwrite truncates the current view; the replaced snapshot stays time-travelable") {
    val dir = scratch("trunc")
    val nations = graft.Tables(spark, sf, "nation")
    nations.write.mode("overwrite").format("graft-manifest").save(dir)
    val regions = graft.Tables(spark, sf, "region")
    regions.write.mode("overwrite").format("graft-manifest").save(dir)
    // current view = the overwrite
    val back = spark.read.format("graft-manifest").load(dir)
    assert(back.schema === regions.schema)
    assert(back.count() === regions.count())
    // data files on disk = every snapshot's files (retention until
    // vacuum), never MORE than that (attempt orphans swept)
    val referenced = ManifestSink.listAllManifests(dir)
      .flatMap(f => ManifestSink.readManifestFile(f).files.map(_.name)).toSet
    val onDisk = new File(dir).listFiles()
      .filter(_.getName.endsWith(ManifestSink.DataSuffix)).map(_.getName)
    assert(onDisk.toSet === referenced)
  }

  test("time travel: asOfVersion reads the archived snapshot in its OWN schema; vacuum prunes it") {
    val dir = scratch("tt")
    val nations = graft.Tables(spark, sf, "nation")
    nations.write.mode("overwrite").format("graft-manifest").save(dir) // v1
    val regions = graft.Tables(spark, sf, "region")
    regions.write.mode("overwrite").format("graft-manifest").save(dir) // v2
    // v1 readable with the v1 SCHEMA even though the table evolved
    val v1 = spark.read.format("graft-manifest")
      .option("asOfVersion", "1").load(dir)
    assert(v1.schema === nations.schema)
    assert(v1.orderBy("n_nationkey").collect().toSeq ===
      nations.orderBy("n_nationkey").collect().toSeq)
    // asOfVersion = current version resolves to the base manifest
    val v2 = spark.read.format("graft-manifest")
      .option("asOfVersion", "2").load(dir)
    assert(v2.count() === regions.count())
    // vacuum with zero retention prunes the archive AND its files …
    ManifestSink.vacuum(dir, 0)
    val e = intercept[Exception] {
      spark.read.format("graft-manifest")
        .option("asOfVersion", "1").load(dir).count()
    }
    assert(e.getMessage.contains("vacuumed") ||
      Option(e.getCause).exists(_.getMessage.contains("vacuumed")))
    // … while the current view is untouched
    assert(spark.read.format("graft-manifest").load(dir).count()
      === regions.count())
  }

  test("append merges manifests: both writes' rows are visible") {
    val dir = scratch("append")
    val r = graft.Tables(spark, sf, "region")
    r.write.mode("overwrite").format("graft-manifest").save(dir)
    r.write.mode("append").format("graft-manifest").save(dir)
    assert(spark.read.format("graft-manifest").load(dir).count()
      === 2 * r.count())
  }

  test("failed job publishes nothing: no manifest, aborted files deleted") {
    val dir = scratch("abort")
    val poisoned = graft.Tables(spark, sf, "region")
      .withColumn("boom", expr(
        "CASE WHEN r_regionkey = 3 THEN " +
          "raise_error('poisoned row') ELSE 'ok' END"))
    intercept[Exception] {
      poisoned.write.mode("overwrite").format("graft-manifest").save(dir)
    }
    assert(!new File(dir, ManifestSink.ManifestFile).exists(),
      "a failed job must not publish a manifest")
    // task aborts removed their partial files
    val leftovers = Option(new File(dir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(ManifestSink.DataSuffix))
    assert(leftovers.isEmpty,
      s"aborted attempts left data files: ${leftovers.mkString(", ")}")
    // and the table stays unreadable rather than half-visible
    intercept[Exception] {
      spark.read.format("graft-manifest").load(dir).count()
    }
  }

  private val cdcDdl =
    """{"namespace": "MaxScaleChangeDataSchema.avro", "type": "record", "name": "ChangeRecord", "table": "tests", "database": "test", "version": 1, "gtid": "0-3000-6", "fields": [{"name": "domain", "type": "int"}, {"name": "server_id", "type": "int"}, {"name": "sequence", "type": "int"}, {"name": "event_number", "type": "int"}, {"name": "timestamp", "type": "int"}, {"name": "event_type", "type": {"type": "enum", "name": "EVENT_TYPES", "symbols": ["insert", "update_before", "update_after", "delete"]}}, {"name": "id", "type": ["null", "int"], "real_type": "int", "length": -1}]}"""
  private def cdcDml(seq: Int, id: Int) =
    s"""{"domain": 0, "server_id": 3000, "sequence": $seq, "event_number": 1, "timestamp": 170000000$seq, "event_type": "insert", "table_name": "tests", "table_schema": "test", "id": $id}"""

  test("streaming: CDC source -> manifest sink is exactly-once across restart") {
    // end-to-end over BOTH custom connectors: the maxscale-cdc DSv2
    // source feeding the graft-manifest DSv2 streaming sink, each
    // epoch published as its own manifest generation.
    val f = Files.createTempFile("cdc-ms", ".ndjson")
    val ckpt = Files.createTempDirectory("cdc-ms-ckpt").toString
    val dir = scratch("stream")
    Files.write(f, (Seq(cdcDdl) ++ Seq(cdcDml(7, 1), cdcDml(8, 2)))
      .mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))

    def run(): Unit = {
      val q = spark.readStream.format("maxscale-cdc")
        .option("replayFile", f.toString)
        .load()
        .writeStream.format("graft-manifest")
        .option("path", dir).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      q.processAllAvailable()
      q.stop()
    }

    run()
    Files.write(f, ("\n" + Seq(cdcDml(9, 3), cdcDml(10, 4)).mkString("\n"))
      .getBytes(java.nio.charset.StandardCharsets.UTF_8),
      java.nio.file.StandardOpenOption.APPEND)
    run()
    val out = spark.read.format("graft-manifest").load(dir)
    val seqs = out.filter(col("event_type") =!= "ddl")
      .select("sequence").collect().map(_.getLong(0)).sorted.toSeq
    assert(seqs == Seq(7L, 8L, 9L, 10L),
      s"every DML exactly once through the manifest sink, got $seqs")
  }

  test("streaming: re-delivered epoch is dropped — the epoch manifest is the idempotence token") {
    // The crash window the CDC suite pins on the ENGINE side, now
    // pinned on the SINK side: offsets/N written, engine commits/N
    // lost, batch N re-executed — the head already records epoch N
    // for the query, so the duplicate attempt's files are discarded,
    // not double-published.
    val f = Files.createTempFile("cdc-ms2", ".ndjson")
    val ckptDir = Files.createTempDirectory("cdc-ms2-ckpt")
    val dir = scratch("epoch-idem")
    Files.write(f, (Seq(cdcDdl) ++ Seq(cdcDml(7, 1)))
      .mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))

    def run(): Unit = {
      val q = spark.readStream.format("maxscale-cdc")
        .option("replayFile", f.toString)
        .load()
        .writeStream.format("graft-manifest")
        .option("path", dir)
        .option("checkpointLocation", ckptDir.toString)
        .outputMode("append").start()
      q.processAllAvailable()
      q.stop()
    }

    run() // epoch 0
    Files.write(f, ("\n" + cdcDml(8, 2))
      .getBytes(java.nio.charset.StandardCharsets.UTF_8),
      java.nio.file.StandardOpenOption.APPEND)
    run() // epoch 1 — committed on both sides, then lose the ENGINE commit
    val commits = ckptDir.resolve("commits")
    val latest = Files.list(commits).toArray.map(_.toString)
      .filter(_.matches(".*/\\d+$")).maxBy(p =>
        p.substring(p.lastIndexOf('/') + 1).toInt)
    val lf = java.nio.file.Paths.get(latest)
    Files.delete(lf)
    Files.deleteIfExists(lf.resolveSibling("." + lf.getFileName + ".crc"))

    run() // re-executes epoch 1; the sink must dedupe it
    val out = spark.read.format("graft-manifest").load(dir)
    val seqs = out.filter(col("event_type") =!= "ddl")
      .select("sequence").collect().map(_.getLong(0)).sorted.toSeq
    assert(seqs == Seq(7L, 8L),
      s"re-delivered epoch must not double-publish, got $seqs")
    // the head records the query's last epoch, and no orphaned
    // duplicate files
    val queryId = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(ckptDir.resolve("metadata").toFile).get("id").asText()
    assert(ManifestSink.readManifest(dir).txns === Map(queryId -> 1L))
    val referenced = ManifestSink.readAll(dir).files.map(_.name).toSet
    val onDisk = new File(dir).listFiles()
      .filter(_.getName.endsWith(ManifestSink.DataSuffix)).map(_.getName)
    assert(onDisk.toSet === referenced,
      s"duplicate attempt files must be discarded: ${onDisk.mkString(", ")}")
  }

  /** Streams `keys` into the manifest table at `dir` as one epoch of a
    * query checkpointed at `ckpt`. */
  private def streamInto(dir: String, ckpt: String, keys: Long*): Unit = {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Long]
    val q = in.toDS().toDF("k").writeStream.format("graft-manifest")
      .option("checkpointLocation", ckpt).start(dir)
    try { in.addData(keys: _*); q.processAllAvailable() } finally q.stop()
  }

  private val memorySinks = new java.util.concurrent.atomic.AtomicInteger

  /** Every key `readStream` of the manifest table at `dir` emits. */
  private def readStreamKeys(dir: String): Seq[Long] = {
    import spark.implicits._
    val name = s"manifest_keys_${memorySinks.incrementAndGet()}"
    val q = spark.readStream.format("graft-manifest").load(dir)
      .writeStream.format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name).as[Long].collect().toSeq.sorted
  }

  private def batchKeys(dir: String, k: Long*): Unit = {
    import spark.implicits._
    k.toDF("k").coalesce(1)
      .write.mode("append").format("graft-manifest").save(dir)
  }

  test("streaming: two queries with their own checkpoints both land in one table") {
    val dir = scratch("two-queries")
    streamInto(dir, scratch("two-queries-ckpt1"), 1L, 2L, 3L)
    streamInto(dir, scratch("two-queries-ckpt2"), 4L, 5L)
    assert(spark.read.format("graft-manifest").load(dir).count() === 5L,
      "the second query's epoch 0 is not a re-delivery of the first's")
    assert(ManifestSink.readManifest(dir).txns.size === 2)
  }

  test("streaming source: readStream of a table only a stream has written") {
    val dir = scratch("stream-only")
    streamInto(dir, scratch("stream-only-ckpt"), 1L, 2L, 3L)
    assert(readStreamKeys(dir) === Seq(1L, 2L, 3L))
  }

  test("streaming source: readStream of a batch table with streamed rows emits both") {
    val dir = scratch("mixed")
    batchKeys(dir, 1L, 2L)
    streamInto(dir, scratch("mixed-ckpt"), 3L, 4L, 5L)
    assert(spark.read.format("graft-manifest").load(dir).count() === 5L)
    assert(readStreamKeys(dir) === Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("time travel: asOfVersion reads a streamed commit") {
    import spark.implicits._
    val dir = scratch("tt-stream")
    batchKeys(dir, 1L, 2L)                                  // v1
    streamInto(dir, scratch("tt-stream-ckpt"), 3L, 4L, 5L)  // v2
    def asOf(v: Long): Seq[Long] = spark.read.format("graft-manifest")
      .option("asOfVersion", v.toString).load(dir)
      .as[Long].collect().toSeq.sorted
    assert(asOf(2L) === Seq(1L, 2L, 3L, 4L, 5L))
    assert(asOf(1L) === Seq(1L, 2L))
  }

  private def chain(t: Throwable): Seq[String] =
    if (t == null) Seq.empty else t.getMessage +: chain(t.getCause)

  test("corrupted data file fails a full read loudly with a checksum error") {
    val dir = scratch("crc")
    graft.Tables(spark, sf, "region").write.mode("overwrite")
      .format("graft-manifest").save(dir)
    val dataFile = new File(dir).listFiles()
      .filter(_.getName.endsWith(ManifestSink.DataSuffix)).head
    val bytes = Files.readAllBytes(dataFile.toPath)
    bytes(bytes.length - 1) = (bytes(bytes.length - 1) ^ 0x7f).toByte
    Files.write(dataFile.toPath, bytes)
    val e = intercept[Exception] {
      // full-schema read: every column block passes through the reader,
      // so both the block CRC and the whole-file CRC see the flip
      spark.read.format("graft-manifest").load(dir).collect()
    }
    assert(chain(e).exists(m => m != null && m.contains("checksum")),
      s"expected a checksum failure, got: ${chain(e).mkString(" | ")}")
  }

  test("column pruning reaches the scan: pruned readSchema, skipped blocks, correct values") {
    val dir = scratch("prune")
    val src = graft.Tables(spark, sf, "customer")
    src.write.mode("overwrite").format("graft-manifest").save(dir)
    val pruned = spark.read.format("graft-manifest").load(dir)
      .select("c_custkey", "c_mktsegment")
    // the PHYSICAL scan carries only the two requested columns — the
    // pruning reached the connector, it is not a post-scan Project
    val scans = pruned.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.nonEmpty, "expected a DSv2 BatchScanExec")
    assert(scans.head.scan.readSchema().fieldNames.toSeq ===
      Seq("c_custkey", "c_mktsegment"))
    // and the pruned values round-trip exactly
    val a = src.select("c_custkey", "c_mktsegment")
      .orderBy("c_custkey").collect().toSeq
    assert(pruned.orderBy("c_custkey").collect().toSeq === a)
  }

  test("pruned read skips unreferenced column blocks: corruption there is not its failure") {
    // The parquet contract: a read that never touches a column block
    // must not pay for (or fail on) it. Corrupt ONE byte somewhere in
    // the file, then show that SOME single-column projection still
    // succeeds while the full read fails — i.e. the flipped block was
    // genuinely seeked past, not read-and-ignored.
    val dir = scratch("prune-crc")
    graft.Tables(spark, sf, "nation").write.mode("overwrite")
      .format("graft-manifest").save(dir)
    val dataFile = new File(dir).listFiles()
      .filter(_.getName.endsWith(ManifestSink.DataSuffix)).head
    val bytes = Files.readAllBytes(dataFile.toPath)
    bytes(bytes.length - 1) = (bytes(bytes.length - 1) ^ 0x7f).toByte
    Files.write(dataFile.toPath, bytes)
    intercept[Exception] {
      spark.read.format("graft-manifest").load(dir).collect()
    }
    // the LAST column's block (n_regionkey) holds the flipped byte;
    // earlier columns seek past it
    val ok = spark.read.format("graft-manifest").load(dir)
      .select("n_nationkey", "n_name").collect()
    assert(ok.length === 25)
    val e = intercept[Exception] {
      spark.read.format("graft-manifest").load(dir)
        .select("n_regionkey").collect()
    }
    assert(chain(e).exists(m => m != null && m.contains("checksum")),
      s"got: ${chain(e).mkString(" | ")}")
  }

  test("streaming change feed: per-version insert/delete rows, both delete flavors, restart exactly-once, address-level rewrite re-emit") {
    val dir = scratch("cdfstream")
    val ckpt = scratch("cdfstream-ckpt")
    val out = scratch("cdfstream-out")
    import spark.implicits._
    def write(range: Range, mode: String): Unit =
      range.map(i => (i.toLong, i * 10L)).toDF("k", "v")
        .repartition(1).write.mode(mode)
        .format("graft-manifest").save(dir)
    write(1 to 6, "overwrite")                                // v1
    // lakehouse -> lakehouse: change rows land in a manifest sink
    // (checkpoint-recoverable, unlike the memory sink)
    def runOnce(): Unit = {
      val q = spark.readStream.format("graft-manifest")
        .option("readChangeFeed", "true").load(dir)
        .writeStream.format("graft-manifest")
        .option("checkpointLocation", ckpt).start(out)
      try q.processAllAvailable() finally q.stop()
    }
    def state(): Set[(Long, String, Long)] =
      spark.read.format("graft-manifest").load(out)
        .select("k", "_change_type", "_change_version")
        .collect().map(r =>
          (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    runOnce() // initial batch: the starting snapshot as inserts
    assert(state() === (1 to 6).map(k => (k.toLong, "insert", 1L)).toSet)
    write(7 to 10, "append")                                  // v2
    ManifestSink.delete(spark, dir, "k % 5 = 0")              // v3: vectors
    runOnce() // same checkpoint: only v2+v3, deletes attributed
    assert(state().count(_._3 == 2L) === 4)
    assert(state().filter(_._3 == 3L) ===
      Set((5L, "delete", 3L), (10L, "delete", 3L)))
    ManifestSink.deleteEq(dir, "k", Seq(7L))                  // v4: eq-delete
    runOnce() // restart again: the eq-delete arrives exactly once
    val s = state()
    assert(s.filter(_._3 == 4L) === Set((7L, "delete", 4L)))
    // exactly-once: nothing re-emitted for settled versions
    assert(s.size === 6 + 4 + 2 + 1)
    // and the stream agrees with the batch change feed step for step
    val batch = ManifestSink.changes(spark, dir, 1L, 4L)
      .select("k", "_change_type", "_change_version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(s.filter(_._3 > 1L) === batch)
    // compaction retires old file names: the ADDRESS-level feed
    // re-emits every surviving row as delete+insert at its new
    // address (the batch changes() contract — consumers keyed on
    // logical ids see a no-op move)
    ManifestSink.compact(spark, dir, 1)                       // v5: rewrite
    runOnce()
    val live = Set(1L, 2L, 3L, 4L, 6L, 8L, 9L)
    val s5 = state().filter(_._3 == 5L)
    assert(s5.filter(_._2 == "delete").map(_._1) === live)
    assert(s5.filter(_._2 == "insert").map(_._1) === live)
    val batch5 = ManifestSink.changes(spark, dir, 4L, 5L)
      .select("k", "_change_type", "_change_version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(s5 === batch5)
  }

  test("readChangeFeed on a BATCH read is refused loudly") {
    val dir = scratch("cdfbatch")
    import spark.implicits._
    Seq((1L, 2L)).toDF("k", "v").write.mode("overwrite")
      .format("graft-manifest").save(dir)
    val e = intercept[Exception] {
      spark.read.format("graft-manifest")
        .option("readChangeFeed", "true").load(dir).collect()
    }
    assert(chain(e).exists(m =>
      m != null && m.contains("STREAMING read")))
  }

  test("change-feed relay: downstream signed-delta aggregate equals a full recompute across restarts") {
    // The medallion-relay capstone: a table maintained by MERGE/DELETE
    // feeds a downstream incremental aggregate THROUGH the streaming
    // change feed — updates arrive as delete+insert pairs, so signed
    // deltas (+v on insert, −v on delete) keep the aggregate exact
    // with no recompute (the streaming form of the batch IVM pin).
    val dir = scratch("cdfrelay")
    val ckpt = scratch("cdfrelay-ckpt")
    import spark.implicits._
    def df(rows: Seq[(Long, Long, Long)]) =
      rows.toDF("k", "grp", "v").repartition(1)
    df((1L to 8L).map(k => (k, k % 2, k))).write.mode("overwrite")
      .format("graft-manifest").save(dir)                     // v1
    val agg = scala.collection.mutable.Map
      .empty[Long, (Long, Long)].withDefaultValue((0L, 0L))
    def runOnce(): Unit = {
      val q = spark.readStream.format("graft-manifest")
        .option("readChangeFeed", "true").load(dir)
        .writeStream.foreachBatch {
          (b: org.apache.spark.sql.DataFrame, _: Long) =>
            b.select("grp", "v", "_change_type").collect().foreach { r =>
              val (s, c) = agg(r.getLong(0))
              if (r.getString(2) == "insert")
                agg(r.getLong(0)) = (s + r.getLong(1), c + 1)
              else agg(r.getLong(0)) = (s - r.getLong(1), c - 1)
            }
            ()
        }.option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
    }
    runOnce()                                                 // snapshot
    // upsert: k=2 re-valued, k=9 new (merge = delete+append commits)
    ManifestSink.merge(spark, dir,
      df(Seq((2L, 0L, 200L), (9L, 1L, 9L))), Seq("k"))
    runOnce()                                                 // restart
    ManifestSink.delete(spark, dir, "k % 3 = 0")              // vectors
    ManifestSink.deleteEq(dir, "k", Seq(1L))                  // eq-delete
    runOnce()                                                 // restart
    val expect = spark.read.format("graft-manifest").load(dir)
      .groupBy("grp").agg(sum(col("v")), count(lit(1))).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(agg.filter(_._2._2 != 0).toMap === expect)
  }

  test("zorder rewrite makes zone maps prune on BOTH cluster columns") {
    val dir = scratch("zorder")
    val src = graft.Tables(spark, sf, "orders").select(
      col("o_orderkey").as("k"),
      round(col("o_totalprice") * 100).cast("long").as("cents"))
    // hash-scattered: every file spans both full ranges, nothing prunes
    src.repartition(4).write.mode("overwrite")
      .format("graft-manifest").save(dir)
    def planned(c: String, thr: Long): Int = {
      val q = spark.read.format("graft-manifest").load(dir)
        .filter(col(c) < thr)
      val scans = q.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2
          .BatchScanExec => b
      }
      scans.head.inputRDD.getNumPartitions
    }
    val b = src.agg(min(col("k")), max(col("k")),
      min(col("cents")), max(col("cents"))).head()
    val kThr = b.getLong(0) + (b.getLong(1) - b.getLong(0)) / 8
    val cThr = b.getLong(2) + (b.getLong(3) - b.getLong(2)) / 8
    assert(planned("k", kThr) === 4, "scattered layout must not prune")
    val before = src.filter(col("k") < kThr).agg(sum(col("cents")))
      .head().getLong(0)
    ManifestSink.zorder(spark, dir, "k", "cents", 4)
    // a narrow range on EITHER dimension now prunes whole files
    assert(planned("k", kThr) < 4, "zorder should prune on col A")
    assert(planned("cents", cThr) < 4, "zorder should prune on col B")
    // and the rewrite bent no value
    val after = spark.read.format("graft-manifest").load(dir)
      .filter(col("k") < kThr).agg(sum(col("cents"))).head().getLong(0)
    assert(after === before)
  }

  test("zorder stays exact when the cluster column spans (almost) the full BIGINT range") {
    val dir = scratch("zorder-wide")
    import org.apache.spark.sql.SaveMode
    val spark2 = spark
    import spark2.implicits._
    // range ≈ 1.8e19 > Long.MaxValue: both (v-lo)*4095 and hi-lo
    // overflow 64-bit — the pre-decimal scaling produced garbage
    // Morton keys here and the clustering silently evaporated.
    val step = Long.MaxValue / 128
    val rows = (0 until 256).map(i =>
      (Long.MinValue + step * i, (255 - i).toLong))
    val src = rows.toDF("k", "cents")
    src.repartition(4).write.mode(SaveMode.Overwrite)
      .format("graft-manifest").save(dir)
    def planned(thr: Long): Int = {
      val q = spark.read.format("graft-manifest").load(dir)
        .filter(col("k") < thr)
      q.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2
          .BatchScanExec => b
      }.head.inputRDD.getNumPartitions
    }
    val lo = rows.map(_._1).min
    val hi = rows.map(_._1).max
    val thr = (BigInt(lo) + (BigInt(hi) - BigInt(lo)) / 8).toLong
    ManifestSink.zorder(spark, dir, "k", "cents", 4)
    assert(planned(thr) < 4, "wide-range zorder must still prune")
    val back = spark.read.format("graft-manifest").load(dir)
      .orderBy("k").as[(Long, Long)].collect().toSeq
    assert(back === rows.sortBy(_._1), "rewrite must bend no value")
  }

  test("zone maps prune whole files: a key-range read plans fewer partitions") {
    val dir = scratch("zonemap")
    val src = graft.Tables(spark, sf, "orders")
    src.repartitionByRange(4, col("o_orderkey"))
      .write.mode("overwrite").format("graft-manifest").save(dir)
    // four range-disjoint files, each with o_orderkey min/max in the
    // manifest
    val entries = ManifestSink.readManifest(dir).files
    assert(entries.size === 4)
    assert(entries.forall(_.stats.exists(_.col === "o_orderkey")))
    // a low-key read must PLAN only the file(s) whose range can match
    val q = spark.read.format("graft-manifest").load(dir)
      .filter(col("o_orderkey") < 10)
    val scans = q.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.nonEmpty)
    val planned = scans.head.inputRDD.getNumPartitions
    assert(planned < 4, s"zone maps should skip files, planned $planned")
    assert(planned >= 1)
    // and pruning never changes results
    val a = src.filter(col("o_orderkey") < 10)
      .orderBy("o_orderkey").select("o_orderkey").collect().toSeq
    assert(q.orderBy("o_orderkey").select("o_orderkey").collect().toSeq === a)
  }

  test("bloom filters prune files on hash-scattered keys where zone maps cannot") {
    val dir = scratch("bloom")
    import spark.implicits._
    // 4 hash-partitioned files: every file's key min/max spans the
    // range (zone maps prune nothing), but each key lives in ONE file
    val src = (1L to 4000L).map(k => (k, s"name-$k")).toDF("k", "nm")
    src.repartition(4, col("k"))
      .write.mode("overwrite").format("graft-manifest")
      .option("bloomFilterColumns", "k,nm").save(dir)
    val entries = ManifestSink.readManifest(dir).files
    assert(entries.size === 4)
    assert(entries.forall(_.blooms.exists(_.col === "k")))
    assert(entries.forall(_.blooms.exists(_.col === "nm")))
    // zone maps alone CANNOT prune this equality (ranges overlap)
    val kStats = entries.map(_.stats.find(_.col === "k").get)
    assert(kStats.forall(s => s.min <= 42 && s.max >= 42))
    // a long-key equality plans ONLY the file whose bloom may hold it
    val q = spark.read.format("graft-manifest").load(dir)
      .filter(col("k") === 42L)
    val scans = q.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.nonEmpty)
    val planned = scans.head.inputRDD.getNumPartitions
    assert(planned < 4, s"bloom should skip files, planned $planned")
    assert(q.collect().map(_.getLong(0)).toSeq === Seq(42L))
    // STRING keys prune too — the case zone maps skip entirely
    val qs = spark.read.format("graft-manifest").load(dir)
      .filter(col("nm") === "name-2042")
    val sScans = qs.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(sScans.head.inputRDD.getNumPartitions < 4)
    assert(qs.collect().map(_.getString(1)).toSeq === Seq("name-2042"))
    // a key in NO file plans zero partitions but still answers
    val q0 = spark.read.format("graft-manifest").load(dir)
      .filter(col("k") === 999999L)
    assert(q0.collect().isEmpty)
    // and a bloom can never LOSE rows: IN over scattered keys matches
    // the source exactly
    val got = spark.read.format("graft-manifest").load(dir)
      .filter(col("k").isin(7L, 1007L, 3999L))
      .orderBy("k").collect().map(_.getLong(0)).toSeq
    assert(got === Seq(7L, 1007L, 3999L))
  }

  test("row-level delete is merge-on-read: delete vectors mask rows, count stays exact, time travel sees pre-delete state") {
    val dir = scratch("mor")
    val src = graft.Tables(spark, sf, "customer")
      .select("c_custkey", "c_nationkey", "c_mktsegment")
    src.repartition(4).write.mode("overwrite")
      .format("graft-manifest").save(dir) // v1
    val total = src.count()
    // DELETE writes positional delete files, not rewritten data
    val dataBefore = new File(dir).listFiles()
      .filter(_.getName.endsWith(ManifestSink.DataSuffix)).map(_.getName).toSet
    val n1 = ManifestSink.delete(spark, dir, "c_custkey % 3 = 0") // v2
    assert(n1 > 0)
    val dataAfter = new File(dir).listFiles()
      .filter(_.getName.endsWith(ManifestSink.DataSuffix)).map(_.getName).toSet
    assert(dataAfter === dataBefore, "merge-on-read must not rewrite data files")
    assert(new File(dir).listFiles().exists(_.getName.endsWith(ManifestSink.DelSuffix)))
    // the read applies the delete vectors
    val live = spark.read.format("graft-manifest").load(dir)
    val expect = src.filter(col("c_custkey") % 3 =!= 0)
    assert(live.orderBy("c_custkey").collect().toSeq ===
      expect.orderBy("c_custkey").collect().toSeq)
    // COUNT(*) pushdown answers from metadata and stays EXACT
    assert(live.count() === expect.count())
    // a second delete composes (positions are disjoint by contract)
    val n2 = ManifestSink.delete(spark, dir, "c_nationkey = 5") // v3
    val expect2 = expect.filter(col("c_nationkey") =!= 5)
    val live2 = spark.read.format("graft-manifest").load(dir)
    assert(live2.count() === expect2.count())
    assert(n1 + n2 + live2.count() === total)
    assert(live2.orderBy("c_custkey").collect().toSeq ===
      expect2.orderBy("c_custkey").collect().toSeq)
    // time travel reads the PRE-delete snapshots
    assert(spark.read.format("graft-manifest").option("asOfVersion", "1")
      .load(dir).count() === total)
    assert(spark.read.format("graft-manifest").option("asOfVersion", "2")
      .load(dir).count() === expect.count())
    // deleting nothing is a no-op: no new snapshot
    val v = ManifestSink.readManifest(dir).version
    assert(ManifestSink.delete(spark, dir, "c_custkey < 0") === 0L)
    assert(ManifestSink.readManifest(dir).version === v)
  }

  test("merge upserts: matched keys masked + source appended, no duplicate key ever visible") {
    val dir = scratch("merge")
    import spark.implicits._
    (0L until 10L).map(k => (k, k)).toDF("k", "v")
      .repartition(2)
      .write.mode("overwrite").format("graft-manifest").save(dir) // v1
    val source = (5L until 15L).map(k => (k, k * 100)).toDF("k", "v")
    val (nUpd, nIns) = ManifestSink.merge(spark, dir, source, Seq("k"))
    assert(nUpd === 5L) // keys 5..9 existed and were masked
    assert(nIns === 10L)
    val got = spark.read.format("graft-manifest").load(dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val expect = (0L until 5L).map(k => (k, k)) ++
      (5L until 15L).map(k => (k, k * 100))
    assert(got === expect.sorted)
    // keys stayed unique through the merge, and counts are exact
    assert(spark.read.format("graft-manifest").load(dir).count() === 15L)
    // pre-merge state is still time-travelable (v1 = original table)
    val v1 = spark.read.format("graft-manifest").option("asOfVersion", "1")
      .load(dir).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(v1 === (0L until 10L).map(k => (k, k)).sorted)
  }

  test("update rewrites only matched rows; the frozen source never re-reads the masked table") {
    val dir = scratch("update")
    import spark.implicits._
    (0L until 100L).map(k => (k, k)).toDF("k", "v")
      .repartition(2)
      .write.mode("overwrite").format("graft-manifest").save(dir) // v1
    // the update's SOURCE is the target table itself — exactly the
    // self-referential shape merge() forbids; update() freezes the
    // matched rows first, so this is safe by construction
    val n = ManifestSink.update(spark, dir, "k % 10 = 3",
      Map("v" -> "v * 1000"))
    assert(n === 10L)
    val got = spark.read.format("graft-manifest").load(dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val expect = (0L until 100L)
      .map(k => (k, if (k % 10 == 3) k * 1000 else k)).sorted
    assert(got === expect)
    assert(spark.read.format("graft-manifest").load(dir).count() === 100L)
    // unknown SET column fails on the driver before any commit
    intercept[IllegalArgumentException] {
      ManifestSink.update(spark, dir, "k = 1", Map("nope" -> "1"))
    }
    // pre-update state is still time-travelable
    val v1 = spark.read.format("graft-manifest").option("asOfVersion", "1")
      .load(dir).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(v1 === (0L until 100L).map(k => (k, k)).sorted)
    // updating nothing is a no-op: no new snapshot, nothing appended
    val ver = ManifestSink.readManifest(dir).version
    assert(ManifestSink.update(spark, dir, "k < 0",
      Map("v" -> "0")) === 0L)
    assert(ManifestSink.readManifest(dir).version === ver)
  }

  test("metadata tables: files reflects the snapshot's layout, history walks the version chain") {
    val dir = scratch("metadata")
    import spark.implicits._
    (0L until 100L).map(k => (k, k % 4)).toDF("k", "g")
      .repartition(1)
      .write.mode("overwrite").format("graft-manifest")
      .option("partitionedBy", "identity(g)").save(dir) // v1: 4 files
    ManifestSink.delete(spark, dir, "k % 2 = 0")        // v2: masked
    (100L until 110L).map(k => (k, 9L)).toDF("k", "g")
      .repartition(1)
      .write.mode("append").format("graft-manifest")
      .option("partitionedBy", "identity(g)").save(dir) // v3: +1 file
    val files = spark.read.format("graft-manifest")
      .option("metadata", "files").load(dir)
      .select("part", "rows", "live_rows", "n_deleted")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq.sorted
    // parity is uniform per file (k ≡ g mod 4): even-g files are
    // fully masked, odd-g files untouched
    assert(files === Seq((0L, 25L, 0L, 25L), (1L, 25L, 25L, 0L),
      (2L, 25L, 0L, 25L), (3L, 25L, 25L, 0L), (9L, 10L, 10L, 0L)))
    // files composes with time travel: v1 shows the pre-delete layout
    val v1 = spark.read.format("graft-manifest")
      .option("metadata", "files").option("asOfVersion", "1").load(dir)
      .select("part", "live_rows")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(v1 === Seq((0L, 25L), (1L, 25L), (2L, 25L), (3L, 25L)))
    // history: one row per snapshot, live counts tracking the chain,
    // commit stamps strictly increasing (the monotonic commit clock)
    val histRows = spark.read.format("graft-manifest")
      .option("metadata", "history").load(dir)
      .select("version", "n_files", "n_rows", "n_live", "committed_at")
      .collect()
    val hist = histRows.map(r => (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getLong(3))).toSeq
    assert(hist === Seq((1L, 4L, 100L, 100L), (2L, 4L, 100L, 50L),
      (3L, 5L, 110L, 60L)))
    val stamps = histRows.map(_.getLong(4)).toSeq
    assert(stamps == stamps.sorted && stamps.distinct == stamps,
      s"history commit stamps must strictly increase: $stamps")
    // unknown metadata table fails loudly
    intercept[Exception] {
      spark.read.format("graft-manifest")
        .option("metadata", "nope").load(dir).collect()
    }
  }

  test("equality deletes are O(metadata): no scan at delete time, sequence numbers keep re-inserts visible") {
    val dir = scratch("eqdel")
    import spark.implicits._
    (0L until 100L).map(k => (k, s"u$k")).toDF("k", "nm")
      .repartition(2)
      .write.mode("overwrite").format("graft-manifest").save(dir) // v1
    val dataBefore = new File(dir).listFiles()
      .filter(_.getName.endsWith(ManifestSink.DataSuffix)).map(_.getName).toSet
    // pure manifest surgery: no Spark job, no delete files, no rewrite
    ManifestSink.deleteEq(dir, "k", (0L until 50L).map(Long.box)) // v2
    assert(new File(dir).listFiles()
      .filter(_.getName.endsWith(ManifestSink.DataSuffix)).map(_.getName).toSet
      === dataBefore)
    assert(!new File(dir).listFiles()
      .exists(_.getName.endsWith(ManifestSink.DelSuffix)))
    def keys(): Seq[Long] = spark.read.format("graft-manifest").load(dir)
      .select("k").collect().map(_.getLong(0)).toSeq.sorted
    assert(keys() === (50L until 100L))
    // COUNT(*) pushdown declines (metadata is only an upper bound)
    // but the scan-side count is exact
    assert(spark.read.format("graft-manifest").load(dir).count() === 50L)
    // STRING-keyed equality delete composes
    ManifestSink.deleteEq(dir, "nm", Seq("u60", "u61")) // v3
    assert(keys() === (50L until 100L).filterNot(k => k == 60 || k == 61))
    // RE-INSERT after the delete: the new file's sequence number is
    // ABOVE the delete's, so the row is visible (Iceberg semantics)
    Seq((60L, "u60")).toDF("k", "nm").coalesce(1)
      .write.mode("append").format("graft-manifest").save(dir) // v4
    assert(keys() === ((50L until 100L).filterNot(_ == 61)))
    assert(keys().count(_ == 60) === 1)
    // positional + equality deletes compose on one table
    ManifestSink.delete(spark, dir, "k = 70") // v5
    assert(keys() === (50L until 100L).filterNot(k => k == 61 || k == 70))
    // time travel reads each snapshot with ITS deletes
    assert(spark.read.format("graft-manifest").option("asOfVersion", "1")
      .load(dir).count() === 100L)
    // compaction materializes equality deletes too: clean files,
    // empty eqDeletes, same data
    val want = keys()
    ManifestSink.compact(spark, dir, 1)
    assert(ManifestSink.readManifest(dir).eqDeletes.isEmpty)
    assert(keys() === want)
    // unknown column / uncanonicalizable value fail on the driver
    intercept[IllegalArgumentException] {
      ManifestSink.deleteEq(dir, "nope", Seq(Long.box(1L)))
    }
  }

  test("storage-partitioned join: co-partitioned manifest tables join with zero shuffle") {
    val dirA = scratch("spj-a")
    val dirB = scratch("spj-b")
    import spark.implicits._
    val a0 = (0L until 1000L).map(k => (k % 8, k, k * 2)).toDF("cb", "k", "v")
    val b0 = (0L until 500L).map(k => (k % 8, k, k * 3)).toDF("cb", "k", "w")
    a0.repartition(1).write.mode("overwrite").format("graft-manifest")
      .option("partitionedBy", "identity(cb)").save(dirA)
    b0.repartition(1).write.mode("overwrite").format("graft-manifest")
      .option("partitionedBy", "identity(cb)").save(dirB)
    val oldBucketing = spark.conf.get("spark.sql.sources.v2.bucketing.enabled", "false")
    val oldBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val a = spark.read.format("graft-manifest")
        .option("groupByPartition", "true").load(dirA)
      val b = spark.read.format("graft-manifest")
        .option("groupByPartition", "true").load(dirB)
        .select(col("cb").as("cb2"), col("w"))
      val j = a.join(b, col("cb") === col("cb2"))
        .groupBy("cb").agg(count(lit(1)).as("n"), sum(col("v") + col("w")).as("s"))
      val got = j.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      // correctness: per-bucket cross size = 125 * 62 or 63
      val expect = (0L until 8L).map { cb =>
        (cb, a0.filter(col("cb") === cb).count() *
          b0.filter(col("cb") === cb).count())
      }.sorted
      assert(got === expect)
      // the SPJ property: NO shuffle on either side of the join
      val shuffles = j.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s
      }
      // the final groupBy("cb") also reuses the key-grouped layout, so
      // the whole plan is shuffle-free
      assert(shuffles.isEmpty,
        s"expected zero ShuffleExchange, got ${shuffles.size}")
    } finally {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", oldBucketing)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", oldBroadcast)
    }
  }

  test("compaction materializes delete vectors; vacuum retires them") {
    val dir = scratch("mor-compact")
    val src = graft.Tables(spark, sf, "supplier")
      .select("s_suppkey", "s_nationkey", "s_acctbal")
    src.repartition(4).write.mode("overwrite")
      .format("graft-manifest").save(dir)
    ManifestSink.delete(spark, dir, "s_suppkey % 2 = 0")
    val expect = src.filter(col("s_suppkey") % 2 =!= 0)
    graft.sources.ManifestSink.compact(spark, dir, 2)
    // the compacted snapshot carries NO delete refs — deletes are
    // materialized into clean files
    val m = ManifestSink.readManifest(dir)
    assert(m.files.nonEmpty && m.files.forall(_.deletes.isEmpty))
    assert(spark.read.format("graft-manifest").load(dir)
      .orderBy("s_suppkey").collect().toSeq ===
      expect.orderBy("s_suppkey").collect().toSeq)
    // the delete files survive for time travel, then vacuum retires them
    assert(new File(dir).listFiles()
      .exists(_.getName.endsWith(ManifestSink.DelSuffix)))
    ManifestSink.vacuum(dir, 0)
    assert(!new File(dir).listFiles()
      .exists(_.getName.endsWith(ManifestSink.DelSuffix)))
    assert(spark.read.format("graft-manifest").load(dir).count() ===
      expect.count())
  }

  test("corrupted delete file fails a read loudly with a checksum error") {
    val dir = scratch("mor-corrupt")
    val src = graft.Tables(spark, sf, "region")
    src.write.mode("overwrite").format("graft-manifest").save(dir)
    ManifestSink.delete(spark, dir, "r_regionkey = 0")
    val del = new File(dir).listFiles()
      .find(_.getName.endsWith(ManifestSink.DelSuffix)).get
    val bytes = Files.readAllBytes(del.toPath)
    bytes(bytes.length - 1) = (bytes(bytes.length - 1) ^ 0x01).toByte
    Files.write(del.toPath, bytes)
    val ex = intercept[org.apache.spark.SparkException] {
      spark.read.format("graft-manifest").load(dir).collect()
    }
    assert(Option(ex.getMessage).toSeq.mkString.contains("graftdel") ||
      ex.getCause != null)
  }

  test("withRowMeta exposes physical row addresses; deleted ordinals stay gapped") {
    val dir = scratch("mor-meta")
    import spark.implicits._
    (0L until 100L).map(i => (i, i % 10)).toDF("id", "grp")
      .coalesce(1)
      .write.mode("overwrite").format("graft-manifest").save(dir)
    ManifestSink.delete(spark, dir, "id % 4 = 1")
    val meta = spark.read.format("graft-manifest")
      .option("withRowMeta", "true").load(dir)
      .select(col("id"), col(ManifestSink.MetaPosCol).as("pos"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    // one file written in id order: physical ordinal == id, and the
    // deleted ordinals are ABSENT (positions are physical, so later
    // deletes compose against the original addresses)
    assert(meta === (0L until 100L).filter(_ % 4 != 1).map(i => (i, i)))
  }

  test("compaction rewrites the current state as a new snapshot; the old layout stays time-travelable") {
    val dir = scratch("compact")
    val src = graft.Tables(spark, sf, "customer")
      .select("c_custkey", "c_nationkey", "c_mktsegment")
    src.filter(col("c_custkey") % 2 === 0).repartition(4)
      .write.mode("overwrite").format("graft-manifest").save(dir) // v1
    src.filter(col("c_custkey") % 2 =!= 0).repartition(4)
      .write.mode("append").format("graft-manifest").save(dir)    // v2
    assert(ManifestSink.readManifest(dir).files.size === 8)
    ManifestSink.compact(spark, dir, 2)                           // v3
    val m = ManifestSink.readManifest(dir)
    assert(m.version === 3L)
    assert(m.files.size === 2, s"compaction target, got ${m.files.size}")
    // identical data through the rewrite
    val a = src.orderBy("c_custkey").collect().toSeq
    assert(spark.read.format("graft-manifest").load(dir)
      .orderBy("c_custkey").collect().toSeq === a)
    // pre-compaction layout still readable at v2 — 8 files, same rows
    val v2 = spark.read.format("graft-manifest")
      .option("asOfVersion", "2").load(dir)
    assert(v2.count() === src.count())
    assert(ManifestSink.readManifestFile(
      new File(dir, ManifestSink.archiveManifestFile(2))).files.size === 8)
    // vacuum(0) retires the old layout, current view untouched
    ManifestSink.vacuum(dir, 0)
    assert(spark.read.format("graft-manifest").load(dir).count()
      === src.count())
    val onDisk = new File(dir).listFiles()
      .filter(_.getName.endsWith(ManifestSink.DataSuffix))
    assert(onDisk.length === 2,
      s"vacuum should leave only the compacted files, got ${onDisk.length}")
  }

  test("columnar encoding roundtrips every type family: nested, decimal, null-heavy") {
    // the per-column single-field UnsafeRow encoding must be generic
    // over the full type lattice, not just primitives
    val dir = scratch("types")
    val src = spark.sql(
      """SELECT id,
        |  CASE WHEN id % 3 = 0 THEN NULL ELSE concat('s', id) END AS s,
        |  CAST(id AS DOUBLE) / 8 AS d,
        |  CAST(id AS DECIMAL(20, 4)) * 1.5 AS dec,
        |  id % 2 = 0 AS b,
        |  date_from_unix_date(CAST(id AS INT)) AS dt,
        |  timestamp_seconds(id * 1000) AS ts,
        |  array(id, id + 1, NULL) AS arr,
        |  named_struct('x', id, 'y', concat('y', id)) AS st,
        |  map(concat('k', id), id) AS m,
        |  CAST(concat('b', id) AS BINARY) AS bin
        |FROM range(0, 257)""".stripMargin)
    src.write.mode("overwrite").format("graft-manifest").save(dir)
    val back = spark.read.format("graft-manifest").load(dir)
    // the manifest stores schema as DDL, which normalizes nullability
    // flags (e.g. map valueContainsNull) — names and types must hold
    assert(back.schema.fields.map(f => (f.name, f.dataType.sql)).toSeq ===
      src.schema.fields.map(f => (f.name, f.dataType.sql)).toSeq)
    val key = col("id")
    assert(back.orderBy(key).collect().toSeq ===
      src.orderBy(key).collect().toSeq)
    // pruned nested read too
    assert(back.select("st.y", "arr").orderBy("y").collect().toSeq ===
      src.select("st.y", "arr").orderBy("y").collect().toSeq)
  }

  test("schema evolution on append: old files read with NULL for the added column") {
    val dir = scratch("evolve")
    val base = graft.Tables(spark, sf, "orders")
    base.select("o_orderkey", "o_orderstatus")
      .filter(col("o_orderkey") < 100)
      .write.mode("overwrite").format("graft-manifest").save(dir)   // v1
    base.select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice"))
      .filter(col("o_orderkey") >= 100 && col("o_orderkey") < 200)
      .write.mode("append").format("graft-manifest").save(dir)      // v2
    val back = spark.read.format("graft-manifest").load(dir)
    // latest write defines the table: 3 columns
    assert(back.schema.fieldNames.toSeq ===
      Seq("o_orderkey", "o_orderstatus", "o_totalprice"))
    assert(back.count() === 200)
    // pre-evolution rows surface NULL for the added column, by name
    assert(back.filter(col("o_orderkey") < 100)
      .filter(col("o_totalprice").isNull).count() === 100)
    assert(back.filter(col("o_orderkey") >= 100)
      .filter(col("o_totalprice").isNotNull).count() === 100)
    // non-evolved columns read normally from BOTH generations,
    // including pruned
    assert(back.select("o_orderkey").distinct().count() === 200)
    // time travel still reads v1 in its OWN (2-column) shape
    val v1 = spark.read.format("graft-manifest")
      .option("asOfVersion", "1").load(dir)
    assert(v1.schema.fieldNames.toSeq === Seq("o_orderkey", "o_orderstatus"))
    assert(v1.count() === 100)
  }

  test("page-level zone maps skip whole pages inside a file under pushed filters") {
    val dir = scratch("pagezm")
    val li = graft.Tables(spark, sf, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity")
    val total = li.count()
    assert(total > ManifestSink.PageRows,
      "need more than one page for this pin")
    // one sorted file → pages carry disjoint l_orderkey ranges
    li.coalesce(1).sortWithinPartitions("l_orderkey")
      .write.mode("overwrite").format("graft-manifest").save(dir)
    val m = ManifestSink.readManifest(dir)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl)
    val filters: Array[org.apache.spark.sql.sources.Filter] =
      Array(org.apache.spark.sql.sources.LessThan("l_orderkey", 10L))
    val matching = li.filter(col("l_orderkey") < 10).count()
    // drive the reader DIRECTLY (no engine above it re-filtering), so
    // the emitted row count is observable: with page skipping it must
    // be well under the total — later pages' key ranges can't match
    val scan = new ManifestScan(schema, schema, dir, None, filters)
    val parts = scan.toBatch.planInputPartitions()
    assert(parts.length === 1)
    val reader = scan.toBatch.createReaderFactory().createReader(parts.head)
    var emitted = 0L
    while (reader.next()) emitted += 1
    reader.close()
    assert(emitted >= matching,
      "page skipping must never drop a matching row")
    assert(emitted < total,
      s"expected whole-page skips, but all $total rows were decoded")
    // and through the engine, results are exactly the parquet answer
    val viaEngine = spark.read.format("graft-manifest").load(dir)
      .filter(col("l_orderkey") < 10).count()
    assert(viaEngine === matching)
  }

  test("zero-column read (count) touches only page headers and stays exact") {
    val dir = scratch("count")
    val src = graft.Tables(spark, sf, "orders")
    src.write.mode("overwrite").format("graft-manifest").save(dir)
    assert(spark.read.format("graft-manifest").load(dir).count()
      === src.count())
  }

  test("scan reports manifest statistics to the CBO: exact rows, pruning-scaled bytes") {
    val dir = scratch("stats")
    val src = graft.Tables(spark, sf, "customer")
    src.write.mode("overwrite").format("graft-manifest").save(dir)
    val full = spark.read.format("graft-manifest").load(dir)
    val scans = full.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    val st = scans.head.scan
      .asInstanceOf[org.apache.spark.sql.connector.read
        .SupportsReportStatistics].estimateStatistics()
    assert(st.numRows().getAsLong === src.count())
    assert(st.sizeInBytes().getAsLong > 0)
    // a pruned scan reports proportionally smaller bytes — the signal
    // that lets Catalyst broadcast a narrow projection of a wide table
    val pruned = spark.read.format("graft-manifest").load(dir)
      .select("c_custkey")
    val pst = pruned.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.head.scan.asInstanceOf[org.apache.spark.sql.connector.read
      .SupportsReportStatistics].estimateStatistics()
    assert(pst.sizeInBytes().getAsLong < st.sizeInBytes().getAsLong)
    assert(pst.numRows().getAsLong === src.count())
  }

  test("COUNT(*) is answered from the manifest alone: zero data files opened") {
    val dir = scratch("countstar")
    val src = graft.Tables(spark, sf, "orders")
    src.write.mode("overwrite").format("graft-manifest").save(dir)
    val n = src.count()
    // truncate EVERY data file to nothing — any code path that opens
    // one fails instantly; a manifest-metadata count does not
    new File(dir).listFiles()
      .filter(_.getName.endsWith(ManifestSink.DataSuffix))
      .foreach(f => Files.write(f.toPath, Array.empty[Byte]))
    assert(spark.read.format("graft-manifest").load(dir).count() === n)
    // a FILTERED count declines the aggregate pushdown (row counts in
    // the manifest can't see predicates) and so must now fail on the
    // truncated files — proving the unfiltered path really was
    // metadata-only, not a lucky read
    intercept[Exception] {
      spark.read.format("graft-manifest").load(dir)
        .filter(col("o_orderkey") >= 0).count()
    }
  }

  test("days(ts) partitioning: a time-range read opens only that range's files") {
    val dir = scratch("days")
    val src = graft.Tables(spark, sf, "events")
      .select("event_id", "ts", "user_id", "event_type")
    src.repartition(expr("CAST(ts AS DATE)")) // align tasks with days
      .write.mode("overwrite").format("graft-manifest")
      .option("partitionedBy", "days(ts)").save(dir)
    val entries = ManifestSink.readManifest(dir).files
    assert(entries.forall(_.pspec.contains("days(ts)")))
    // one file per day (the repartition aligned tasks with days only
    // approximately — but every entry must carry a real day value)
    assert(entries.forall(e => e.part.exists(_ > 19000)),
      "every file must carry a plausible epoch-day partition value")
    // pick a 2-day window starting at the second-lowest day present
    val days = entries.flatMap(_.part).distinct.sorted
    assert(days.size > 4, s"need several day partitions, got $days")
    val d1 = days(1)
    val usPerDay = ManifestSink.MicrosPerDay
    val t1 = timestamp_micros(lit(d1 * usPerDay))
    val t2 = timestamp_micros(lit((d1 + 2) * usPerDay))
    val expected = src.filter(col("ts") >= t1 && col("ts") < t2)
      .orderBy("event_id").collect().toSeq
    // truncate every file OUTSIDE the window: any plan that opens one
    // dies instantly, so a passing read proves partition pruning
    val keep = Set(d1, d1 + 1)
    entries.filterNot(e => e.part.exists(keep)).foreach { e =>
      Files.write(new File(dir, e.name).toPath, Array.empty[Byte]) }
    val got = spark.read.format("graft-manifest").load(dir)
      .filter(col("ts") >= t1 && col("ts") < t2)
      .orderBy("event_id").collect().toSeq
    assert(got === expected)
    // and the unfiltered read DOES hit the truncated files
    intercept[Exception] {
      spark.read.format("graft-manifest").load(dir).collect()
    }
  }

  test("bucket(n, key) partitioning: equality prunes to the key's hash bucket — the case zone maps cannot serve") {
    val dir = scratch("bucket")
    val src = graft.Tables(spark, sf, "customer")
    src.write.mode("overwrite").format("graft-manifest")
      .option("partitionedBy", "bucket(8, c_custkey)").save(dir)
    val entries = ManifestSink.readManifest(dir).files
    assert(entries.forall(_.pspec.contains("bucket(8, c_custkey)")))
    val k = 42L
    val kb = ManifestSink.bucketOf(k, 8).toLong
    // zone maps are USELESS here by construction: every bucket file
    // spans nearly the full key range (hash scatter)
    // truncate every file not in k's bucket …
    entries.filterNot(_.part.contains(kb)).foreach { e =>
      Files.write(new File(dir, e.name).toPath, Array.empty[Byte]) }
    // … equality on k still reads its exact row
    val got = spark.read.format("graft-manifest").load(dir)
      .filter(col("c_custkey") === k).collect()
    assert(got.toSeq === src.filter(col("c_custkey") === k).collect().toSeq)
    // IN-lists prune to the union of value buckets
    val inKeys = Seq(k, k + 8, k + 16).filter(v =>
      ManifestSink.bucketOf(v, 8).toLong == kb)
    if (inKeys.size > 1) {
      val inGot = spark.read.format("graft-manifest").load(dir)
        .filter(col("c_custkey").isin(inKeys: _*))
        .orderBy("c_custkey").collect().toSeq
      assert(inGot === src.filter(col("c_custkey").isin(inKeys: _*))
        .orderBy("c_custkey").collect().toSeq)
    }
    // a key in ANY other bucket must now fail — proving the pruning,
    // not luck, kept the first read alive
    val other = (k + 1 to k + 16)
      .find(v => ManifestSink.bucketOf(v, 8).toLong != kb).get
    intercept[Exception] {
      spark.read.format("graft-manifest").load(dir)
        .filter(col("c_custkey") === other).collect()
    }
  }

  test("null partition: IsNull reads only the null file; value predicates never open it") {
    import spark.implicits._
    val dir = scratch("nullpart")
    val df = Seq((Option(1L), "a"), (Option(2L), "b"),
      (Option.empty[Long], "n1"), (Option.empty[Long], "n2"),
      (Option(5L), "e"))
      .toDF("k", "v")
    df.coalesce(1).write.mode("overwrite").format("graft-manifest")
      .option("partitionedBy", "identity(k)").save(dir)
    val entries = ManifestSink.readManifest(dir).files
    val nullEntry = entries.filter(_.part.contains(ManifestSink.NullPart))
    assert(nullEntry.size === 1, "nulls route to ONE null-partition file")
    assert(nullEntry.head.rows === 2)
    // value predicate with the null file truncated: never opened
    Files.write(new File(dir, nullEntry.head.name).toPath,
      Array.empty[Byte])
    assert(spark.read.format("graft-manifest").load(dir)
      .filter(col("k") === 2L).collect().map(_.getString(1)).toSeq ===
      Seq("b"))
    assert(spark.read.format("graft-manifest").load(dir)
      .filter(col("k").isNotNull).count() === 3)
    // IsNull with every NON-null file truncated: only the null file
    // (restored) is opened
    val dir2 = scratch("nullpart2")
    df.coalesce(1).write.mode("overwrite").format("graft-manifest")
      .option("partitionedBy", "identity(k)").save(dir2)
    ManifestSink.readManifest(dir2).files
      .filterNot(_.part.contains(ManifestSink.NullPart)).foreach { e =>
        Files.write(new File(dir2, e.name).toPath, Array.empty[Byte]) }
    assert(spark.read.format("graft-manifest").load(dir2)
      .filter(col("k").isNull).collect().map(_.getString(1)).sorted
      .toSeq === Seq("n1", "n2"))
  }

  test("append under a different partition spec never mis-prunes: per-entry transforms") {
    val dir = scratch("mixedspec")
    val src = graft.Tables(spark, sf, "nation")
    src.filter(col("n_nationkey") < 12)
      .write.mode("overwrite").format("graft-manifest")
      .option("partitionedBy", "bucket(4, n_nationkey)").save(dir)
    // the append is UNPARTITIONED — its entries carry no transform and
    // must survive every filter
    src.filter(col("n_nationkey") >= 12)
      .write.mode("append").format("graft-manifest").save(dir)
    val back = spark.read.format("graft-manifest").load(dir)
    assert(back.filter(col("n_nationkey") === 20).count() === 1)
    assert(back.filter(col("n_nationkey") === 3).count() === 1)
    assert(back.count() === src.count())
    val entries = ManifestSink.readManifest(dir).files
    assert(entries.exists(_.pspec.isEmpty) &&
      entries.exists(_.pspec.nonEmpty))
  }

  test("streaming write with partitionedBy: epoch files carry partition values, pruning works on the streamed table") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val dir = scratch("stream-part")
    val ckpt = Files.createTempDirectory("stream-part-ckpt").toString
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = input.toDS().toDF("k", "v")
      .writeStream.format("graft-manifest")
      .option("path", dir)
      .option("partitionedBy", "bucket(4, k)")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      input.addData((1L, "a"), (2L, "b"), (3L, "c"))
      q.processAllAvailable()
      input.addData((4L, "d"), (5L, "e"))
      q.processAllAvailable()
    } finally q.stop()
    val entries = ManifestSink.readAll(dir).files
    assert(entries.forall(_.pspec.contains("bucket(4, k)")))
    assert(entries.forall(e => e.part.exists(p => p >= 0 && p < 4)))
    // equality pruning holds across epoch manifests: truncate every
    // file outside key 5's bucket, the equality read survives
    val kb = ManifestSink.bucketOf(5L, 4).toLong
    entries.filterNot(_.part.contains(kb)).foreach { e =>
      Files.write(new File(dir, e.name).toPath, Array.empty[Byte]) }
    assert(spark.read.format("graft-manifest").load(dir)
      .filter(col("k") === 5L).collect().map(_.getString(1)).toSeq ===
      Seq("e"))
  }

  test("partitionedBy rejects bad specs on the driver, before any task runs") {
    val dir = scratch("badspec")
    val src = graft.Tables(spark, sf, "region")
    intercept[Exception] { // unknown column
      src.write.mode("overwrite").format("graft-manifest")
        .option("partitionedBy", "days(no_such_col)").save(dir)
    }
    intercept[Exception] { // non-timestamp days
      src.write.mode("overwrite").format("graft-manifest")
        .option("partitionedBy", "days(r_regionkey)").save(dir)
    }
    intercept[Exception] { // string column
      src.write.mode("overwrite").format("graft-manifest")
        .option("partitionedBy", "identity(r_name)").save(dir)
    }
    intercept[Exception] { // unparseable
      src.write.mode("overwrite").format("graft-manifest")
        .option("partitionedBy", "years(ts)").save(dir)
    }
  }

  test("streaming source: initial snapshot, per-commit appends, exactly-once across restart") {
    import spark.implicits._
    val dir = scratch("stream-src")
    val ckpt = scratch("stream-src-ckpt")
    val out = scratch("stream-src-out")
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1)
      .write.mode("overwrite").format("graft-manifest").save(dir)   // v1
    // lakehouse -> lakehouse: the manifest table is BOTH ends
    def runOnce(): Unit = {
      val q = spark.readStream.format("graft-manifest").load(dir)
        .writeStream.format("graft-manifest")
        .option("checkpointLocation", ckpt).start(out)
      try q.processAllAvailable() finally q.stop()
    }
    def sunk(): Seq[(Long, String)] =
      spark.read.format("graft-manifest").load(out)
        .as[(Long, String)].collect().toSeq
    runOnce() // initial snapshot
    assert(sunk().toSet === Set((1L, "a"), (2L, "b")))
    Seq((3L, "c")).toDF("k", "v").coalesce(1)
      .write.mode("append").format("graft-manifest").save(dir)      // v2
    Seq((4L, "d")).toDF("k", "v").coalesce(1)
      .write.mode("append").format("graft-manifest").save(dir)      // v3
    runOnce() // same checkpoint: ONLY v2+v3 emitted, nothing re-read
    assert(sunk().groupBy(identity).forall(_._2.length == 1)) // no dupes
    assert(sunk().toSet ===
      Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
  }

  test("streaming source: non-append commit fails loudly; ignoreChanges declares the trade-off") {
    import spark.implicits._
    val dir = scratch("stream-chg")
    val ckpt = scratch("stream-chg-ckpt")
    val out = scratch("stream-chg-out")
    (1L to 4L).map(k => (k, k)).toDF("k", "v").coalesce(1)
      .write.mode("overwrite").format("graft-manifest").save(dir)   // v1
    def runOnce(ignore: Boolean): Unit = {
      val q = spark.readStream.format("graft-manifest")
        .option("ignoreChanges", ignore.toString).load(dir)
        .writeStream.format("graft-manifest")
        .option("checkpointLocation", ckpt).start(out)
      try q.processAllAvailable() finally q.stop()
    }
    runOnce(ignore = false)
    ManifestSink.delete(spark, dir, "k = 2")                        // v2
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      runOnce(ignore = false)
    }
    assert(chain(err).exists(_.contains("not append-only")))
    // the declared trade-off: appended files still flow, masked rows
    // are not retracted
    Seq((9L, 9L)).toDF("k", "v").coalesce(1)
      .write.mode("append").format("graft-manifest").save(dir)      // v3
    runOnce(ignore = true)
    assert(spark.read.format("graft-manifest").load(out)
      .as[(Long, Long)].collect().toSet ===
      (1L to 4L).map(k => (k, k)).toSet + ((9L, 9L)))
  }

  test("change data feed: append, delete, update surface as tagged row changes") {
    import spark.implicits._
    val dir = scratch("cdf")
    (1L to 6L).map(k => (k, k * 10)).toDF("k", "v")
      .coalesce(1).write.mode("overwrite")
      .format("graft-manifest").save(dir)                       // v1
    Seq((7L, 70L), (8L, 80L)).toDF("k", "v")
      .coalesce(1).write.mode("append")
      .format("graft-manifest").save(dir)                       // v2
    ManifestSink.delete(spark, dir, "k IN (2, 7)")              // v3
    ManifestSink.update(spark, dir, "k = 4",
      Map("v" -> "999"))                                        // v4+v5
    val feed = ManifestSink.changes(spark, dir, 1L, 5L)
      .select("_change_version", "_change_type", "k", "v")
      .as[(Long, String, Long, Long)].collect().toSet
    assert(feed === Set(
      (2L, "insert", 7L, 70L), (2L, "insert", 8L, 80L),
      (3L, "delete", 2L, 20L), (3L, "delete", 7L, 70L),
      (4L, "delete", 4L, 40L), (5L, "insert", 4L, 999L)))
    // sub-range: only the versions asked for
    val tail = ManifestSink.changes(spark, dir, 3L, 5L)
      .select("_change_type", "k").as[(String, Long)].collect().toSet
    assert(tail === Set(("delete", 4L), ("insert", 4L)))
    // out-of-range versions fail loudly
    intercept[IllegalArgumentException] {
      ManifestSink.changes(spark, dir, 3L, 99L)
    }
  }

  test("change data feed never opens unchanged files: corruption there is not its failure") {
    import spark.implicits._
    val dir = scratch("cdf-prune")
    (1L to 100L).map(k => (k, k)).toDF("k", "v")
      .coalesce(1).write.mode("overwrite")
      .format("graft-manifest").save(dir)                       // v1
    Seq((101L, 101L)).toDF("k", "v")
      .coalesce(1).write.mode("append")
      .format("graft-manifest").save(dir)                       // v2
    // the manifest diff proves the v1 file unchanged…
    val m1 = ManifestSink.readAsOf(dir, Some(1L))
    val m2 = ManifestSink.readAsOf(dir, Some(2L))
    val v1File = m1.files.map(_.name)
    assert(ManifestSink.changedFiles(m2, m1).toSet ===
      m2.files.map(_.name).toSet -- v1File)
    assert(ManifestSink.changedFiles(m1, m2).isEmpty)
    // …so the feed never opens it: corrupting its bytes on disk
    // cannot fail the feed (a full read DOES fail on the same dir)
    val raf = new java.io.RandomAccessFile(new File(dir, v1File.head), "rw")
    try { raf.seek(raf.length() / 2); raf.writeLong(0x5a5a5a5a5a5a5a5aL) }
    finally raf.close()
    val feed = ManifestSink.changes(spark, dir, 1L, 2L)
      .select("_change_type", "k").as[(String, Long)].collect().toSet
    assert(feed === Set(("insert", 101L)))
    intercept[Exception] {
      spark.read.format("graft-manifest").load(dir).collect()
    }
  }

  test("change data feed: equality delete feeds below its sequence, re-insert feeds again") {
    import spark.implicits._
    val dir = scratch("cdf-eqdel")
    Seq((1L, 10L), (2L, 20L)).toDF("k", "v")
      .coalesce(1).write.mode("overwrite")
      .format("graft-manifest").save(dir)                       // v1
    ManifestSink.deleteEq(dir, "k", Seq(1L))                    // v2
    Seq((1L, 11L)).toDF("k", "v")
      .coalesce(1).write.mode("append")
      .format("graft-manifest").save(dir)                       // v3
    val feed = ManifestSink.changes(spark, dir, 1L, 3L)
      .select("_change_version", "_change_type", "k", "v")
      .as[(Long, String, Long, Long)].collect().toSet
    assert(feed === Set(
      (2L, "delete", 1L, 10L),   // masked by the equality delete
      (3L, "insert", 1L, 11L))) // the re-insert is ABOVE its sequence
    // a no-match equality delete commits a version with an empty step
    ManifestSink.deleteEq(dir, "k", Seq(999L))                  // v4
    assert(ManifestSink.changes(spark, dir, 3L, 4L).count() === 0L)
  }

  test("change data feed maintains a downstream aggregate incrementally") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = scratch("cdf-ivm")
    (1L to 40L).map(k => (k, k * 3)).toDF("k", "v").coalesce(2)
      .write.mode("overwrite").format("graft-manifest").save(dir)   // v1
    (41L to 60L).map(k => (k, k * 3)).toDF("k", "v").coalesce(2)
      .write.mode("append").format("graft-manifest").save(dir)      // v2
    ManifestSink.delete(spark, dir, "k % 7 = 0")                    // v3
    ManifestSink.update(spark, dir, "k % 11 = 0",
      Map("v" -> "v + 1000"))                                       // v4+v5
    def agg(df: org.apache.spark.sql.DataFrame) = df
      .groupBy((col("k") % 4).as("g"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
    // the maintained view: v1's aggregate + signed deltas from the
    // feed — never re-reading the unchanged data
    val base = agg(spark.read.format("graft-manifest")
      .option("asOfVersion", "1").load(dir))
    val sign = when(col("_change_type") === "insert", lit(1L))
      .otherwise(lit(-1L))
    val delta = ManifestSink.changes(spark, dir, 1L, 5L)
      .groupBy((col("k") % 4).as("g"))
      .agg(sum(sign).as("dn"), sum(sign * col("v")).as("ds"))
    val maintained = base.join(delta, Seq("g"), "full_outer")
      .select(col("g"),
        (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
        (coalesce(col("s"), lit(0L)) + coalesce(col("ds"), lit(0L))).as("s"))
      .filter(col("n") > 0)
    val recomputed = agg(spark.read.format("graft-manifest").load(dir))
    assert(maintained.as[(Long, Long, Long)].collect().toSet ===
      recomputed.as[(Long, Long, Long)].collect().toSet)
  }

  test("restrictFiles plans only the named entries and declines count pushdown") {
    import spark.implicits._
    val dir = scratch("restrict")
    (1L to 50L).map(k => (k, k)).toDF("k", "v")
      .coalesce(1).write.mode("overwrite")
      .format("graft-manifest").save(dir)
    (51L to 60L).map(k => (k, k)).toDF("k", "v")
      .coalesce(1).write.mode("append")
      .format("graft-manifest").save(dir)
    val second = ManifestSink.readManifest(dir).files
      .find(_.seq.contains(2L)).get.name
    val restricted = spark.read.format("graft-manifest")
      .option("restrictFiles", second).load(dir)
    assert(restricted.select(sum($"k")).as[Long].head() ===
      (51L to 60L).sum)
    // COUNT(*) must come from the scan, not whole-table metadata
    assert(restricted.count() === 10L)
  }

  test("refs main row and tags freeze MERGED state on a streamed table; drop_tag reports existence") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val dir = scratch("refs-epochs")
    // base chain: 2 rows at v1
    Seq(1L, 2L).toDF("k").coalesce(1)
      .write.mode("overwrite").format("graft-manifest").save(dir)
    // streaming epoch: 3 more rows — committed as version 2
    val in = MemoryStream[Long]
    val ckpt = Files.createTempDirectory("refs-epochs-ckpt").toString
    val q = in.toDS().toDF("k")
      .writeStream.format("graft-manifest")
      .option("path", dir).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    in.addData(3L, 4L, 5L)
    q.processAllAvailable(); q.stop()
    assert(spark.read.format("graft-manifest").load(dir).count() === 5L)
    // refs 'main' must agree with what SELECT count(*) sees
    val main = spark.read.format("graft-manifest")
      .option("metadata", "refs").load(dir)
      .filter($"ref_name" === "main")
      .select($"version", $"n_live").as[(Long, Long)].head()
    assert(main === ((2L, 5L)),
      s"refs main row must count epoch rows too, got $main")
    // create_tag freezes the same merged state: after the tag, new
    // epoch rows must NOT appear under the tag name
    assert(ManifestSink.createTag(dir, "rel") === 2L)
    val q2 = in.toDS().toDF("k")
      .writeStream.format("graft-manifest")
      .option("path", dir).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    in.addData(6L)
    q2.processAllAvailable(); q2.stop()
    assert(spark.read.format("graft-manifest").load(dir).count() === 6L)
    assert(spark.read.format("graft-manifest").option("tag", "rel")
      .load(dir).as[Long].collect().sorted.toSeq ===
      Seq(1L, 2L, 3L, 4L, 5L),
      "a tag on a streamed table freezes base + epoch rows at tag time")
    // drop_tag reports whether the name existed — typos aren't
    // silently swallowed
    assert(ManifestSink.dropTag(dir, "rel") === true)
    assert(ManifestSink.dropTag(dir, "rel") === false)
    assert(ManifestSink.dropTag(dir, "never_existed") === false)
  }

  test("aggregate pushdown: MIN/MAX/COUNT answer from the manifest with zero data-file IO") {
    import spark.implicits._
    import org.apache.spark.sql.Row
    val dir = scratch("aggpush")
    Seq((5L, 10, "a"), (1L, 30, "b"), (9L, 20, "c"))
      .toDF("k", "v", "s").coalesce(1)
      .write.mode("overwrite").format("graft-manifest").save(dir)
    Seq((7L, 5, "d")).toDF("k", "v", "s").coalesce(1)
      .write.mode("append").format("graft-manifest").save(dir)
    val df = spark.read.format("graft-manifest").load(dir)
    // corrupt EVERY data file: a metadata-only answer must not notice
    new File(dir).listFiles()
      .filter(_.getName.endsWith(ManifestSink.DataSuffix))
      .foreach(f => Files.write(f.toPath, Array[Byte](1, 2, 3)))
    val agg = df.agg(min($"k"), max($"k"), min($"v"), max($"v"),
      count(lit(1))).collect()(0)
    assert(agg === Row(1L, 9L, 5, 30, 4L))
    // string min is NOT pushable (zone maps skip strings) → the
    // normal scan path runs and must fail loudly on the corruption —
    // proving the pushed variant really never opened the files
    intercept[Exception] { df.agg(min($"s")).collect() }
    // a filter declines the pushdown (the metadata extreme may be in
    // a filtered-out row) → data path again
    intercept[Exception] { df.filter($"v" > 0).agg(min($"k")).collect() }
    // grouping declines
    intercept[Exception] { df.groupBy($"s").agg(min($"k")).collect() }
  }

  test("null-count stats prune IS NULL / IS NOT NULL reads and push COUNT(col)") {
    import spark.implicits._
    import org.apache.spark.sql.Row
    val dir = scratch("nullcount")
    // three files: all-null s, mixed s, null-free s (any-type column —
    // strings get no zone map but DO get a null count)
    Seq((1L, null: String), (2L, null: String)).toDF("k", "s")
      .coalesce(1).write.mode("overwrite").format("graft-manifest")
      .save(dir)
    Seq((3L, "x"), (4L, null: String)).toDF("k", "s").coalesce(1)
      .write.mode("append").format("graft-manifest").save(dir)
    Seq((5L, "y"), (6L, "z")).toDF("k", "s").coalesce(1)
      .write.mode("append").format("graft-manifest").save(dir)
    val entries = ManifestSink.readManifest(dir).files
    assert(entries.size === 3)
    assert(entries.forall(_.nulls.exists(_.col == "s")))
    assert(entries.map(_.nulls.find(_.col == "s").get.n).sorted
      === Seq(0L, 1L, 2L))
    def planned(q: org.apache.spark.sql.DataFrame): Int =
      q.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2
            .BatchScanExec => b
      }.head.inputRDD.getNumPartitions
    val df = spark.read.format("graft-manifest").load(dir)
    // IS NULL skips the null-free file; IS NOT NULL skips the
    // all-null file — and neither prune changes the answer
    val qn = df.filter($"s".isNull)
    assert(planned(qn) === 2, "IS NULL must skip the null-free file")
    assert(qn.select($"k").as[Long].collect().sorted.toSeq ===
      Seq(1L, 2L, 4L))
    val qnn = df.filter($"s".isNotNull)
    assert(planned(qnn) === 2, "IS NOT NULL must skip the all-null file")
    assert(qnn.select($"k").as[Long].collect().sorted.toSeq ===
      Seq(3L, 5L, 6L))
    // COUNT(col) answers from the manifest alone: corrupt every data
    // file — the pushed answer must not notice…
    new File(dir).listFiles()
      .filter(_.getName.endsWith(ManifestSink.DataSuffix))
      .foreach(f => Files.write(f.toPath, Array[Byte](1, 2, 3)))
    assert(spark.read.format("graft-manifest").load(dir)
      .agg(count($"s"), count(lit(1))).collect()(0) === Row(3L, 6L))
    // …while COUNT(DISTINCT col) needs the values → data path, loud
    intercept[Exception] {
      spark.read.format("graft-manifest").load(dir)
        .agg(countDistinct($"s")).collect()
    }
    // a live positional delete declines COUNT(col) (per-file null
    // counts no longer match the masked rows) → data path, loud
    val dir2 = scratch("nullcount-del")
    Seq((1L, "a"), (2L, null: String), (3L, "c")).toDF("k", "s")
      .coalesce(1).write.mode("overwrite").format("graft-manifest")
      .save(dir2)
    ManifestSink.delete(spark, dir2, "k = 1")
    assert(spark.read.format("graft-manifest").load(dir2)
      .agg(count($"s")).as[Long].collect()(0) === 1L)
    new File(dir2).listFiles()
      .filter(_.getName.endsWith(ManifestSink.DataSuffix))
      .foreach(f => Files.write(f.toPath, Array[Byte](1, 2, 3)))
    intercept[Exception] {
      spark.read.format("graft-manifest").load(dir2)
        .agg(count($"s")).collect()
    }
  }

  test("retention fuzz: 20 seeded interleaved commits/tags/branches/deletes/compactions/sweeps keep every referenced surface readable") {
    // The sweep rules (vacuum / expire_snapshots / remove_orphans vs
    // branches / tags / the current base) are each pinned above in
    // isolation; this interleaves them under a FIXED seed and, after
    // EVERY step, re-reads every surviving surface against a model —
    // the property that matters at 100 TB, where maintenance jobs and
    // writers overlap constantly: retention never deletes a file any
    // still-referenced snapshot can see.
    val dir = scratch("fuzz")
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    var nextK = 0L
    def frame(n: Int) = {
      val rows = (0 until n).map { _ =>
        val k = nextK; nextK += 1; (k, k * 2)
      }
      rows.toDF("k", "v").repartition(1)
    }
    val tags = scala.collection.mutable.Map[String, Set[Long]]()
    val branches = scala.collection.mutable.Map[String, Set[Long]]()
    var live = Set.empty[Long]
    def keysOf(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("k").collect().map(_.getLong(0)).toSet
    def read() = spark.read.format("graft-manifest").load(dir)
    frame(5).write.mode("overwrite").format("graft-manifest").save(dir)
    live = (0L until 5L).toSet
    var tagN = 0
    var brN = 0
    for (step <- 1 to 20) {
      rnd.nextInt(10) match {
        case 0 | 1 => // append 1-4 fresh rows
          val n = 1 + rnd.nextInt(4)
          val lo = nextK
          frame(n).write.mode("append").format("graft-manifest").save(dir)
          live ++= (lo until lo + n)
        case 2 => // overwrite with a fresh frame
          val n = 2 + rnd.nextInt(4)
          val lo = nextK
          frame(n).write.mode("overwrite").format("graft-manifest")
            .save(dir)
          live = (lo until lo + n).toSet
        case 3 => // predicate delete (delete vectors)
          val m = 2 + rnd.nextInt(3)
          ManifestSink.delete(spark, dir, s"k % $m = 0")
          live = live.filterNot(_ % m == 0)
        case 4 => // equality delete on up to 2 live keys
          if (live.nonEmpty) {
            val victims = live.toSeq.sorted.take(1 + rnd.nextInt(2))
            ManifestSink.deleteEq(dir, "k", victims)
            live --= victims
          }
        case 5 => // tag the current state
          tagN += 1
          ManifestSink.createTag(dir, s"t$tagN")
          tags(s"t$tagN") = live
        case 6 => // branch the current state (WAP pin)
          brN += 1
          ManifestSink.createBranch(dir, s"b$brN")
          branches(s"b$brN") = live
        case 7 => // drop a random tag or branch
          if (rnd.nextBoolean() && tags.nonEmpty) {
            val t = tags.keys.toSeq.sorted(Ordering.String)(
              rnd.nextInt(tags.size))
            ManifestSink.dropTag(dir, t); tags -= t
          } else if (branches.nonEmpty) {
            val b = branches.keys.toSeq.sorted(Ordering.String)(
              rnd.nextInt(branches.size))
            ManifestSink.dropBranch(dir, b); branches -= b
          }
        case 8 => // a retention sweep
          rnd.nextInt(3) match {
            case 0 => ManifestSink.vacuum(dir, rnd.nextInt(3))
            case 1 =>
              Thread.sleep(2)
              assert(ManifestSink.expireSnapshots(dir,
                System.currentTimeMillis()) >= 0L)
            case 2 =>
              // plant a stray, then sweep orphans with a future
              // cutoff: the stray dies, referenced files survive
              Files.write(new File(dir,
                s"stray-$step${ManifestSink.DataSuffix}").toPath,
                Array.fill[Byte](32)(9))
              Thread.sleep(2)
              val gone = ManifestSink.removeOrphans(dir,
                System.currentTimeMillis(), dryRun = false)
              assert(gone.contains(
                (s"stray-$step${ManifestSink.DataSuffix}", true)))
          }
        case 9 => // compaction rewrite (addresses move, rows don't)
          ManifestSink.compact(spark, dir, 1)
      }
      // invariants after EVERY step: the current table and every
      // surviving tag/branch read their exact pinned key sets
      assert(keysOf(read()) === live, s"current state broken at step $step")
      tags.foreach { case (t, keys) =>
        val got = keysOf(spark.read.format("graft-manifest")
          .option("tag", t).load(dir))
        assert(got === keys, s"tag $t broken at step $step")
      }
      branches.foreach { case (b, keys) =>
        val got = keysOf(spark.read.format("graft-manifest")
          .option("branch", b).load(dir))
        assert(got === keys, s"branch $b broken at step $step")
      }
    }
    assert(tagN + brN > 2, "seed must actually exercise refs")
  }
}
