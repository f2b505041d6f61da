package graft.cdc.source

import java.io.{BufferedReader, InputStreamReader, PrintWriter}
import java.net.ServerSocket
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import graft.LocalSpark
import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end tests of the maxscale-cdc DSv2 source: file replay for
  * the decode path, and a fake in-JVM protocol server for the socket
  * handshake — the same behaviors the reference pins with its docker
  * integration harness (`client_test.go`), minus the real MaxScale.
  */
class CdcSourceSpec extends AnyFunSuite {
  private lazy val spark = LocalSpark.spark

  private val ddl =
    """{"namespace": "MaxScaleChangeDataSchema.avro", "type": "record", "name": "ChangeRecord", "table": "tests", "database": "test", "version": 1, "gtid": "0-3000-6", "fields": [{"name": "domain", "type": "int"}, {"name": "server_id", "type": "int"}, {"name": "sequence", "type": "int"}, {"name": "event_number", "type": "int"}, {"name": "timestamp", "type": "int"}, {"name": "event_type", "type": {"type": "enum", "name": "EVENT_TYPES", "symbols": ["insert", "update_before", "update_after", "delete"]}}, {"name": "id", "type": ["null", "int"], "real_type": "int", "length": -1}]}"""

  private def dml(seq: Int, id: Int, eventType: String = "insert") =
    s"""{"domain": 0, "server_id": 3000, "sequence": $seq, "event_number": 1, "timestamp": 170000000$seq, "event_type": "$eventType", "table_name": "tests", "table_schema": "test", "id": $id}"""

  /** Simulate a crash between planInputPartitions and commit: remove
    * the newest commits/N entry (offsets/N stays), INCLUDING Hadoop's
    * hidden .N.crc checksum sibling — a stale crc makes the recovery
    * rewrite of commits/N fail its atomic rename, which Spark
    * misreports as a concurrent-query conflict. */
  private def uncommitLatest(ckptDir: java.nio.file.Path): Unit = {
    val commits = ckptDir.resolve("commits")
    val latest = Files.list(commits).toArray.map(_.toString)
      .filter(_.matches(".*/\\d+$")).maxBy(p =>
        p.substring(p.lastIndexOf('/') + 1).toInt)
    val f = java.nio.file.Paths.get(latest)
    Files.delete(f)
    Files.deleteIfExists(f.resolveSibling("." + f.getFileName + ".crc"))
  }

  private def runStream(options: Map[String, String],
      queryName: String): org.apache.spark.sql.DataFrame = {
    val reader = spark.readStream.format("maxscale-cdc")
    options.foreach { case (k, v) => reader.option(k, v) }
    val q = reader.load()
      .writeStream.format("memory").queryName(queryName)
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    spark.table(queryName)
  }

  test("replay: schema-first delivery, envelope decode, raw payload") {
    val f = Files.createTempFile("cdc", ".ndjson")
    Files.write(f, (Seq(ddl) ++ Seq(dml(7, 1), dml(8, 2))).mkString("\n")
      .getBytes(UTF_8))
    val out = runStream(Map("replayFile" -> f.toString), "cdc_replay")
    assert(out.count() == 3)
    // DDL row first, with null envelope
    val first = out.filter(col("event_type") === "ddl").collect()
    assert(first.length == 1 && first(0).isNullAt(0))
    // DML envelopes decoded; payload recoverable from raw
    val dmls = out.filter(col("event_type") =!= "ddl")
      .select(col("sequence"),
        get_json_object(col("raw"), "$.id").cast("int").as("id"))
      .orderBy("sequence").collect()
    assert(dmls.map(r => (r.getLong(0), r.getInt(1))).toSeq ==
      Seq((7L, 1), (8L, 2)))
    // gtid reconstruction matches the reference format
    val g = out.filter(col("sequence") === 8)
      .select(concat_ws("-", col("domain"), col("server_id"),
        col("sequence"))).head.getString(0)
    assert(g == "0-3000-8")
  }

  test("replay: resume from GTID skips earlier sequences, keeps schema") {
    val f = Files.createTempFile("cdc", ".ndjson")
    Files.write(f, (Seq(ddl) ++ Seq(dml(7, 1), dml(8, 2))).mkString("\n")
      .getBytes(UTF_8))
    // Resume at 0-3000-8 ⇒ schema + row id=2 only (client_test.go:169-267)
    val out = runStream(Map("replayFile" -> f.toString,
      "gtid" -> "0-3000-8"), "cdc_resume")
    assert(out.count() == 2)
    val ids = out.filter(col("event_type") =!= "ddl")
      .select(get_json_object(col("raw"), "$.id").cast("int")).collect()
    assert(ids.map(_.getInt(0)).toSeq == Seq(2))
  }

  test("replay: mid-stream DDL starts a new schema version; payloads project per version") {
    val ddlV2 = ddl
      .replace(""""version": 1""", """"version": 2""")
      .replace(
        """{"name": "id", "type": ["null", "int"], "real_type": "int", "length": -1}""",
        """{"name": "id", "type": ["null", "int"], "real_type": "int", "length": -1}, {"name": "note", "type": ["null", "varchar"], "real_type": "varchar", "length": 40}""")
    val dmlV2 =
      """{"domain": 0, "server_id": 3000, "sequence": 9, "event_number": 1, "timestamp": 1700000009, "event_type": "insert", "table_name": "tests", "table_schema": "test", "id": 3, "note": "altered"}"""
    val f = Files.createTempFile("cdc", ".ndjson")
    Files.write(f, (Seq(ddl, dml(7, 1), dml(8, 2), ddlV2, dmlV2))
      .mkString("\n").getBytes(UTF_8))
    val out = runStream(Map("replayFile" -> f.toString), "cdc_evolve")
    assert(out.count() == 5)

    // Two DDL rows, delivered in stream order around the DML rows.
    val ddlRaw = out.filter(col("event_type") === "ddl")
      .select("raw").collect().map(_.getString(0))
    assert(ddlRaw.length == 2)

    // Versioned registry: (database, table, version) → StructType,
    // exactly the SURVEY §1.2 schema-evolution mapping.
    val registry = ddlRaw.map(graft.cdc.Protocol.decodeDdlEvent)
      .map(d => (d.database, d.table, d.version) ->
        graft.cdc.CdcModel.toStructType(d)).toMap
    assert(registry.keySet ==
      Set(("test", "tests", 1), ("test", "tests", 2)))
    assert(!registry(("test", "tests", 1)).fieldNames.contains("note"))
    assert(registry(("test", "tests", 2)).fieldNames.contains("note"))
    val note = registry(("test", "tests", 2))("note")
    assert(note.nullable && note.metadata.getString("real_type") == "varchar"
      && note.metadata.getLong("length") == 40L)

    // The v2 payload projects through the v2 schema; v1 rows yield a
    // null `note` under the evolved schema (additive evolution).
    val projected = out.filter(col("event_type") =!= "ddl")
      .withColumn("payload",
        from_json(col("raw"), registry(("test", "tests", 2))))
      .select(col("sequence"), col("payload.id"), col("payload.note"))
      .orderBy("sequence").collect()
    assert(projected.map(r => (r.getLong(0), r.getInt(1),
      Option(r.getString(2)))).toSeq ==
      Seq((7L, 1, None), (8L, 2, None), (9L, 3, Some("altered"))))
  }

  test("replay: checkpoint restart resumes exactly-once — no replayed rows in the sink") {
    val f = Files.createTempFile("cdc", ".ndjson")
    val ckpt = Files.createTempDirectory("cdc-ckpt").toString
    val sink = Files.createTempDirectory("cdc-sink").toString
    Files.write(f, (Seq(ddl) ++ Seq(dml(7, 1), dml(8, 2))).mkString("\n")
      .getBytes(UTF_8))

    def run(): Unit = {
      val q = spark.readStream.format("maxscale-cdc")
        .option("replayFile", f.toString)
        .load()
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      q.processAllAvailable()
      q.stop()
    }

    run()
    assert(spark.read.parquet(sink).count() == 3) // ddl + 2 dml

    // the table keeps growing while the stream is down …
    Files.write(f, ("\n" + Seq(dml(9, 3), dml(10, 4)).mkString("\n"))
      .getBytes(UTF_8), java.nio.file.StandardOpenOption.APPEND)
    // … and the restarted stream resumes from the checkpointed GTID:
    // every DML exactly once by sequence; the schema record is
    // re-delivered by the new connection (at-least-once, like every
    // reference reconnect).
    run()
    val out = spark.read.parquet(sink)
    val seqs = out.filter(col("event_type") =!= "ddl")
      .select("sequence").collect().map(_.getLong(0)).sorted.toSeq
    assert(seqs == Seq(7L, 8L, 9L, 10L),
      s"DML rows must appear exactly once, got $seqs")
    assert(out.filter(col("event_type") === "ddl").count() == 2,
      "reconnection re-delivers the schema record (at-least-once)")
    assert(out.count() == 6)
  }

  test("batch read of a captured log equals the streamed content; GTID resume works; sockets refused") {
    // spark.read (not readStream) over a replay capture: same decode
    // path and schema, no checkpoint machinery — the way a user runs
    // plain SQL over a bounded CDC log extract.
    val f = Files.createTempFile("cdc-batch", ".ndjson")
    Files.write(f, (Seq(ddl) ++ Seq(dml(7, 1), dml(8, 2))).mkString("\n")
      .getBytes(UTF_8))
    val batch = spark.read.format("maxscale-cdc")
      .option("replayFile", f.toString).load()
    assert(batch.schema === MaxScaleCdcSource.Schema)
    assert(batch.count() === 3)
    val streamed = runStream(Map("replayFile" -> f.toString), "cdc_b_ref")
    assert(batch.orderBy("sequence").collect().toSeq ===
      streamed.orderBy("sequence").collect().toSeq)
    // GTID seek applies to batch reads too (schema + suffix only)
    val resumed = spark.read.format("maxscale-cdc")
      .option("replayFile", f.toString).option("gtid", "0-3000-8").load()
    assert(resumed.filter(col("event_type") =!= "ddl")
      .select("sequence").collect().map(_.getLong(0)).toSeq === Seq(8L))
    // a live socket feed has no end for a batch to stop at
    val e = intercept[Exception] {
      spark.read.format("maxscale-cdc")
        .option("host", "127.0.0.1").option("port", "4001")
        .option("database", "test").option("table", "tests")
        .load().count()
    }
    assert(e.getMessage.contains("streaming-only"))
  }

  test("a malformed DML line fails the stream and the batch read, naming the stream and quoting the line") {
    // cut inside a string value, the way a truncated capture ends
    val cut = dml(8, 2).take(dml(8, 2).indexOf("\"test\"") + 3)
    val f = Files.createTempFile("cdc-cut", ".ndjson")
    Files.write(f, Seq(ddl, dml(7, 1), cut, dml(9, 3)).mkString("\n")
      .getBytes(UTF_8))
    def messages(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => String.valueOf(x.getMessage)).toSeq
    def named(t: Throwable): Boolean = messages(t).exists(m =>
      m.contains(s"maxscale-cdc replay file $f: malformed DML line") &&
        m.contains(cut.take(60)))
    val q = spark.readStream.format("maxscale-cdc")
      .option("replayFile", f.toString).load()
      .writeStream.format("memory").queryName("cdc_cut")
      .outputMode("append").start()
    val streamed =
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        try q.processAllAvailable() finally q.stop()
      }
    assert(named(streamed), messages(streamed))
    val batch = intercept[Exception] {
      spark.read.format("maxscale-cdc").option("replayFile", f.toString)
        .load().collect()
    }
    assert(named(batch), messages(batch))
    assert(MaxScaleCdcSource.streamName(
      Map("database" -> "test", "table" -> "tests")) === "test.tests")
  }

  test("replay: crash after offset WAL, before commit — batch re-executes exactly-once") {
    // The mid-batch crash window: the engine has written offsets/N
    // (the WAL entry planInputPartitions ran against) but died before
    // commits/N. Deleting the newest commit file reproduces exactly
    // that state. On restart the engine MUST re-execute batch N over
    // the SAME offset range (deterministic replay from the GTID
    // offsets) and the file sink's metadata log must dedupe the
    // re-written batch — no duplicate and no lost sequence.
    val f = Files.createTempFile("cdc-crash", ".ndjson")
    val ckptDir = Files.createTempDirectory("cdc-crash-ckpt")
    val sink = Files.createTempDirectory("cdc-crash-sink").toString
    Files.write(f, (Seq(ddl) ++ Seq(dml(7, 1), dml(8, 2))).mkString("\n")
      .getBytes(UTF_8))

    def run(): Unit = {
      val q = spark.readStream.format("maxscale-cdc")
        .option("replayFile", f.toString)
        .load()
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckptDir.toString)
        .outputMode("append").start()
      q.processAllAvailable()
      q.stop()
    }

    run() // batch 0: ddl + 7,8
    Files.write(f, ("\n" + Seq(dml(9, 3), dml(10, 4)).mkString("\n"))
      .getBytes(UTF_8), java.nio.file.StandardOpenOption.APPEND)
    run() // batch 1: 9,10 — committed cleanly…

    // …now un-commit it: offsets/1 stays, commits/1 vanishes — the
    // precise crash-between-planInputPartitions-and-commit state.
    uncommitLatest(ckptDir)

    // more data lands while the stream is down: recovery must both
    // re-run batch 1 AND continue past it without losing a GTID
    Files.write(f, ("\n" + dml(11, 5)).getBytes(UTF_8),
      java.nio.file.StandardOpenOption.APPEND)
    run() // re-executes batch 1 from its WAL range, then batch 2

    val out = spark.read.parquet(sink)
    val seqs = out.filter(col("event_type") =!= "ddl")
      .select("sequence").collect().map(_.getLong(0)).sorted.toSeq
    assert(seqs == Seq(7L, 8L, 9L, 10L, 11L),
      s"crash recovery must deliver every DML exactly once, got $seqs")
  }

  test("replay: DDL version bump straddling the crash survives restart") {
    // Same crash window, but the un-committed batch carries a schema
    // change: the v2 DDL + its first v2 row. Recovery must re-deliver
    // BOTH (the registry would otherwise lose version 2), exactly
    // once, and v2 payloads must still project through the evolved
    // schema.
    val ddlV2 = ddl
      .replace(""""version": 1""", """"version": 2""")
      .replace(
        """{"name": "id", "type": ["null", "int"], "real_type": "int", "length": -1}""",
        """{"name": "id", "type": ["null", "int"], "real_type": "int", "length": -1}, {"name": "note", "type": ["null", "varchar"], "real_type": "varchar", "length": 40}""")
    def dmlV2(seq: Int, id: Int, note: String) =
      s"""{"domain": 0, "server_id": 3000, "sequence": $seq, "event_number": 1, "timestamp": 170000000$seq, "event_type": "insert", "table_name": "tests", "table_schema": "test", "id": $id, "note": "$note"}"""
    val f = Files.createTempFile("cdc-crash-ddl", ".ndjson")
    val ckptDir = Files.createTempDirectory("cdc-crash-ddl-ckpt")
    val sink = Files.createTempDirectory("cdc-crash-ddl-sink").toString
    Files.write(f, (Seq(ddl) ++ Seq(dml(7, 1))).mkString("\n")
      .getBytes(UTF_8))

    def run(): Unit = {
      val q = spark.readStream.format("maxscale-cdc")
        .option("replayFile", f.toString)
        .load()
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckptDir.toString)
        .outputMode("append").start()
      q.processAllAvailable()
      q.stop()
    }

    run() // batch 0: v1 schema + row 7
    Files.write(f, ("\n" + Seq(ddlV2, dmlV2(8, 2, "altered")).mkString("\n"))
      .getBytes(UTF_8), java.nio.file.StandardOpenOption.APPEND)
    run() // batch 1: the ALTER + first v2 row — committed, then un-commit
    uncommitLatest(ckptDir)

    Files.write(f, ("\n" + dmlV2(9, 3, "post-crash")).getBytes(UTF_8),
      java.nio.file.StandardOpenOption.APPEND)
    run() // re-runs the straddled batch, then the post-crash row

    val out = spark.read.parquet(sink)
    val seqs = out.filter(col("event_type") =!= "ddl")
      .select("sequence").collect().map(_.getLong(0)).sorted.toSeq
    assert(seqs == Seq(7L, 8L, 9L),
      s"every DML exactly once across the straddled ALTER, got $seqs")
    // the registry recovers both versions from the sink alone — the
    // re-delivered v2 DDL was not lost with the crashed commit
    val registry = out.filter(col("event_type") === "ddl")
      .select("raw").collect().map(_.getString(0)).distinct
      .map(graft.cdc.Protocol.decodeDdlEvent)
      .map(d => (d.database, d.table, d.version) ->
        graft.cdc.CdcModel.toStructType(d)).toMap
    assert(registry.keySet == Set(("test", "tests", 1), ("test", "tests", 2)))
    val projected = out.filter(col("event_type") =!= "ddl")
      .withColumn("payload",
        from_json(col("raw"), registry(("test", "tests", 2))))
      .select(col("sequence"), col("payload.note"))
      .orderBy("sequence").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).toSeq
    assert(projected == Seq((7L, None), (8L, Some("altered")),
      (9L, Some("post-crash"))))
  }

  test("replay: maxLinesPerBatch splits a backlog into bounded micro-batches") {
    val f = Files.createTempFile("cdc-cap", ".ndjson")
    Files.write(f, (Seq(ddl) ++ (1 to 10).map(i => dml(6 + i, i)))
      .mkString("\n").getBytes(UTF_8))
    val q = spark.readStream.format("maxscale-cdc")
      .option("replayFile", f.toString)
      .option("maxLinesPerBatch", "3")
      .load()
      .writeStream.format("memory").queryName("cdc_capped")
      .outputMode("append").start()
    q.processAllAvailable()
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    q.stop()
    val out = spark.table("cdc_capped")
    // 11 lines / cap 3 → at least 4 non-empty batches, none above cap
    assert(batches.length >= 4,
      s"expected a split backlog, got ${batches.length} non-empty batches")
    assert(batches.forall(_.numInputRows <= 3),
      s"batch sizes ${batches.map(_.numInputRows).toSeq} exceed the cap")
    val seqs = out.filter(col("event_type") =!= "ddl")
      .select("sequence").collect().map(_.getLong(0)).sorted.toSeq
    assert(seqs == (7L to 16L), s"every DML exactly once, got $seqs")
    assert(out.count() == 11)
  }

  test("capped offsets and commits equal the offsets computed from the capture") {
    // Two replication domains with their own sequence counters, and the
    // schema re-sent half-way. Each line is listed with the (stream
    // key, sequence) it carries, or None for a schema line.
    val dmls = (1 to 40).map { i =>
      val (d, sv, q) = if (i % 3 == 0) (1, 3001, 10 + i) else (0, 3000, 700 + i)
      s"""{"domain": $d, "server_id": $sv, "sequence": $q, "event_number": 1, "timestamp": 1700000000, "event_type": "insert", "table_name": "tests", "table_schema": "test", "id": $i}""" ->
        Option((s"$d-$sv", q.toLong))
    }
    val feed = Seq(ddl -> None) ++ dmls.take(20) ++ Seq(ddl -> None) ++
      dmls.drop(20)
    val f = Files.createTempFile("cdc-offsets", ".ndjson")
    Files.write(f, feed.map(_._1).mkString("\n").getBytes(UTF_8))

    // The offset after the first n lines: last GTID, schema-line count
    // and per-stream high-water sequences, in the offset log's format.
    def expected(n: Int): String = {
      val prefix = feed.take(n)
      val seen = prefix.flatMap(_._2)
      val gtid = seen.lastOption.fold("") { case (k, q) => s"$k-$q" }
      val marks = seen.groupMapReduce(_._1)(_._2)(math.max).toSeq.sorted
        .map { case (k, q) => s""""$k":$q""" }
      val m = if (marks.isEmpty) "" else marks.mkString(""","marks":{""", ",", "}")
      s"""{"n":$n,"gtid":"$gtid","ddl":${prefix.count(_._2.isEmpty)}$m}"""
    }

    for (k <- Seq(1, 2, 3, 7, 20, 100)) {
      val stream = new MaxScaleCdcMicroBatchStream(Map("replayfile" -> f.toString))
      try {
        var start = stream.initialOffset().asInstanceOf[CdcOffset]
        assert(start.json == expected(0))
        while (start.index < feed.length) {
          val end = stream.latestOffset(start, ReadLimit.maxRows(k))
            .asInstanceOf[CdcOffset]
          val n = end.index.toInt
          assert(n == math.min(start.index.toInt + k, feed.length))
          assert(end.json == expected(n), s"maxRows($k) at $n")
          val lines = stream.planInputPartitions(start, end)
            .flatMap(_.asInstanceOf[CdcInputPartition].lines).toSeq
          assert(lines == feed.slice(start.index.toInt, n).map(_._1))
          stream.commit(end)
          start = end
        }
        // the uncapped offset past the last commit agrees as well
        assert(stream.latestOffset(start, ReadLimit.allAvailable()).json ==
          expected(feed.length))
        // a committed range is gone: asking for it again fails loudly
        intercept[java.io.IOException](stream.planInputPartitions(
          CdcOffset(0L, "", 0L), start))
      } finally stream.stop()
    }
  }

  test("replay: multi-domain restart dedupes per (domain, server) watermark") {
    def dmlD(domain: Int, seq: Int, id: Int) =
      s"""{"domain": $domain, "server_id": 3000, "sequence": $seq, "event_number": 1, "timestamp": 17000000$seq, "event_type": "insert", "table_name": "tests", "table_schema": "test", "id": $id}"""
    val f = Files.createTempFile("cdc-md", ".ndjson")
    val ckpt = Files.createTempDirectory("cdc-md-ckpt").toString
    val sink = Files.createTempDirectory("cdc-md-sink").toString
    // Two replication domains interleaved on one feed, each with its
    // own sequence counter — domain 1 sequences are BELOW domain 0's,
    // so a single global threshold would misdrop them on restart.
    Files.write(f, (Seq(ddl) ++ Seq(dmlD(0, 7, 1), dmlD(1, 3, 2),
      dmlD(0, 8, 3), dmlD(1, 4, 4))).mkString("\n").getBytes(UTF_8))

    def run(): Unit = {
      val q = spark.readStream.format("maxscale-cdc")
        .option("replayFile", f.toString)
        .load()
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      q.processAllAvailable()
      q.stop()
    }

    run()
    assert(spark.read.parquet(sink).count() == 5) // ddl + 4 dml

    // both domains grow while the stream is down; the replayed head
    // after the position-seek must be deduped per (domain, server)
    Files.write(f, ("\n" + Seq(dmlD(1, 5, 5), dmlD(0, 9, 6)).mkString("\n"))
      .getBytes(UTF_8), java.nio.file.StandardOpenOption.APPEND)
    run()
    val out = spark.read.parquet(sink)
    val got = out.filter(col("event_type") =!= "ddl")
      .select(col("domain"), col("sequence")).collect()
      .map(r => (r.getInt(0), r.getLong(1))).sorted.toSeq
    assert(got == Seq((0, 7L), (0, 8L), (0, 9L), (1, 3L), (1, 4L), (1, 5L)),
      s"every (domain, sequence) exactly once, got $got")
    assert(out.filter(col("event_type") === "ddl").count() == 2)
  }

  test("socket: unreachable address fails the query (client_test.go:19-27)") {
    val closed = new ServerSocket(0)
    val port = closed.getLocalPort
    closed.close() // nothing listens here anymore
    val q = spark.readStream.format("maxscale-cdc")
      .option("host", "127.0.0.1").option("port", port.toString)
      .option("user", "u").option("password", "p").option("uuid", "x")
      .option("database", "test").option("table", "tests")
      .option("connectTimeoutMs", "500")
      .load().writeStream.format("memory").queryName("cdc_noaddr")
      .outputMode("append").start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    q.stop()
    assert(e.getMessage.toLowerCase.contains("connect") ||
      Option(e.getCause).exists(_.toString.toLowerCase.contains("connect")))
  }

  test("socket: rejected credentials fail the query (client_test.go:29-39)") {
    val server = new ServerSocket(0)
    val t = new Thread(() => {
      val s = server.accept()
      val out = new PrintWriter(s.getOutputStream, true)
      // reject whatever auth blob arrives, like MaxScale does
      out.println("ERR access denied")
      Thread.sleep(500)
      s.close()
    })
    t.setDaemon(true); t.start()
    val q = spark.readStream.format("maxscale-cdc")
      .option("host", "127.0.0.1")
      .option("port", server.getLocalPort.toString)
      .option("user", "baduser").option("password", "badpwd")
      .option("uuid", "x")
      .option("database", "test").option("table", "tests")
      .load().writeStream.format("memory").queryName("cdc_badauth")
      .outputMode("append").start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    q.stop()
    server.close()
    val all = e.getMessage + Option(e.getCause).map(_.toString).getOrElse("")
    assert(all.contains("auth failed") || all.contains("ERR"))
  }

  test("socket: empty UUID is rejected at REGISTER (client_test.go:41-51)") {
    val server = new ServerSocket(0)
    val registerSeen = new java.util.concurrent.atomic.AtomicReference[String]
    val t = new Thread(() => {
      val s = server.accept()
      val in = new BufferedReader(new InputStreamReader(s.getInputStream,
        UTF_8))
      val out = new PrintWriter(s.getOutputStream, true)
      def readN(n: Int): String = {
        val b = new Array[Char](n); var r = 0
        while (r < n) { val k = in.read(b, r, n - r); if (k > 0) r += k }
        new String(b)
      }
      // accept auth, then reject the empty-UUID REGISTER like MaxScale
      readN(graft.cdc.Protocol.formatAuthCommand("u", "p").length)
      out.println("OK")
      registerSeen.set(
        readN(graft.cdc.Protocol.formatRegisterCommand("").length))
      out.println("ERR invalid uuid")
      Thread.sleep(500)
      s.close()
    })
    t.setDaemon(true); t.start()
    val q = spark.readStream.format("maxscale-cdc")
      .option("host", "127.0.0.1")
      .option("port", server.getLocalPort.toString)
      .option("user", "u").option("password", "p").option("uuid", "")
      .option("database", "test").option("table", "tests")
      .load().writeStream.format("memory").queryName("cdc_emptyuuid")
      .outputMode("append").start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    q.stop()
    server.close()
    // the wire carried the literally-empty UUID and the failure is the
    // server's REGISTER rejection, not a client-side substitute
    assert(registerSeen.get == "REGISTER UUID=, TYPE=JSON")
    val all = e.getMessage + Option(e.getCause).map(_.toString).getOrElse("")
    assert(all.contains("register failed") || all.contains("ERR"))
  }

  test("socket: write deadline fails a handshake stalled on a non-reading server (client.go:371-381)") {
    // The server accepts, OKs auth, then never reads again. The client's
    // REGISTER payload (a deliberately huge UUID) overflows the loopback
    // TCP buffers, so the write BLOCKS — without a write deadline the
    // query would wedge forever; with one it must fail within
    // ~writeTimeoutMs. (The reference sets a write deadline at R23;
    // its WithWriteTimeout R4 assigns the read timeout — that bug is
    // deliberately not replicated, so this pin is against correct
    // semantics, not the reference's.)
    val server = new ServerSocket(0)
    val t = new Thread(() => {
      val s = server.accept()
      val in = new BufferedReader(new InputStreamReader(s.getInputStream,
        UTF_8))
      val out = new PrintWriter(s.getOutputStream, true)
      def readN(n: Int): Unit = {
        val b = new Array[Char](n); var r = 0
        while (r < n) { val k = in.read(b, r, n - r); if (k > 0) r += k }
      }
      readN(graft.cdc.Protocol.formatAuthCommand("u", "p").length)
      out.println("OK")
      Thread.sleep(60000) // stall: never read the REGISTER
      s.close()
    })
    t.setDaemon(true); t.start()
    val hugeUuid = "u" * (32 << 20) // 32 MiB — beyond any socket buffer
    val started = System.currentTimeMillis()
    val q = spark.readStream.format("maxscale-cdc")
      .option("host", "127.0.0.1")
      .option("port", server.getLocalPort.toString)
      .option("user", "u").option("password", "p")
      .option("uuid", hugeUuid)
      .option("writeTimeoutMs", "1000")
      .option("database", "test").option("table", "tests")
      .load().writeStream.format("memory").queryName("cdc_writestall")
      .outputMode("append").start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    q.stop()
    server.close()
    val elapsed = System.currentTimeMillis() - started
    val all = e.getMessage + Option(e.getCause).map(_.toString).getOrElse("")
    assert(all.contains("timed out"), s"expected a write-timeout: $all")
    assert(elapsed < 30000,
      s"stalled write must fail near writeTimeoutMs, took ${elapsed}ms")
  }

  test("BoundedLineReader: terminators, EOF flush, cap boundary, timeout retention") {
    def reader(s: String, cap: Int = 1024) =
      new BoundedLineReader(new java.io.StringReader(s), cap, "test")
    // \n, \r, \r\n each terminate exactly one line; EOF flushes a
    // final unterminated line; EOF with nothing pending returns null
    // (BufferedReader.readLine semantics)
    val r1 = reader("a\nb\rc\r\nd")
    assert(Seq(r1.readLine(), r1.readLine(), r1.readLine(),
      r1.readLine(), r1.readLine()) === Seq("a", "b", "c", "d", null))
    // a line of exactly cap chars passes; cap+1 throws the bounded
    // message (the reference's scanner-error contract)
    assert(reader("x" * 10 + "\n", cap = 10).readLine() === "x" * 10)
    val over = intercept[java.io.IOException] {
      reader("x" * 11, cap = 10).readLine()
    }
    assert(over.getMessage.contains("exceeds maxLineBytes"))
    // a SocketTimeoutException mid-line propagates but RETAINS the
    // partial buffer — the schema-wait retry loop must not drop bytes
    val chunks = Iterator[() => Int](
      () => 'h'.toInt, () => 'i'.toInt,
      () => throw new java.net.SocketTimeoutException("poll"),
      () => '!'.toInt, () => '\n'.toInt, () => -1)
    val flaky = new java.io.Reader {
      override def read(): Int = chunks.next()()
      override def read(b: Array[Char], off: Int, len: Int): Int = {
        val c = read(); if (c == -1) -1 else { b(off) = c.toChar; 1 }
      }
      override def close(): Unit = ()
    }
    val r2 = new BoundedLineReader(flaky, 1024, "test")
    intercept[java.net.SocketTimeoutException] { r2.readLine() }
    assert(r2.readLine() === "hi!",
      "the partial line must survive the timeout")
  }

  test("BoundedLineReader caps ENCODED BYTES, not UTF-16 chars") {
    def reader(s: String, cap: Int) =
      new BoundedLineReader(new java.io.StringReader(s), cap, "test")
    // '€' (U+20AC) is 3 UTF-8 bytes: 4 of them = 12 bytes > cap 10,
    // even though only 4 chars — a char-counting cap would admit it
    val multi = intercept[java.io.IOException] {
      reader("€" * 4, cap = 10).readLine()
    }
    assert(multi.getMessage.contains("exceeds maxLineBytes"))
    // 3 of them = 9 bytes ≤ 10: passes under the byte budget
    assert(reader("€" * 3 + "\n", cap = 10).readLine() ===
      "€" * 3)
    // a surrogate PAIR (U+1F600) is 4 bytes, not 3+3: two pairs =
    // 8 bytes pass a cap of 8; a 9th byte trips
    val pair = new String(Character.toChars(0x1F600))
    assert(reader(pair * 2 + "\n", cap = 8).readLine() === pair * 2)
    val overPair = intercept[java.io.IOException] {
      reader(pair * 2 + "a", cap = 8).readLine()
    }
    assert(overPair.getMessage.contains("exceeds maxLineBytes"))
    // the byte counter resets per line: many short multibyte lines
    // never trip a cap sized for one line
    val r = reader(("€€\n" * 5), cap = 6)
    for (_ <- 1 to 5) assert(r.readLine() === "€€")
    // the reference-parity point (VERDICT r11): ~400k 3-byte chars
    // under a 1 MiB cap trip at the BYTE bound (~349,526 chars), far
    // before the ~1M chars a char-counting cap would admit
    val big = intercept[java.io.IOException] {
      reader("€" * 400000, cap = 1 << 20).readLine()
    }
    assert(big.getMessage.contains("exceeds maxLineBytes=1048576"))
  }

  test("socket: a newline-less line past maxLineBytes fails the scan loudly (client.go:17/257)") {
    // The reference bounds its scanner at 1 MiB (maxScanTokenSize,
    // client.go:17, applied at client.go:257) — a line past the cap
    // errors the scan. Pin the same contract: a server that streams
    // garbage with NO newline must fail the query within the cap
    // (bounded memory), not accumulate an unbounded String. The test
    // shrinks the cap to 64 KiB via the option to stay fast.
    val server = new ServerSocket(0)
    val t = new Thread(() => {
      val s = server.accept()
      val in = new BufferedReader(new InputStreamReader(s.getInputStream,
        UTF_8))
      val out = new PrintWriter(s.getOutputStream, true)
      def readN(n: Int): Unit = {
        val b = new Array[Char](n); var r = 0
        while (r < n) { val k = in.read(b, r, n - r); if (k > 0) r += k }
      }
      readN(graft.cdc.Protocol.formatAuthCommand("u", "p").length)
      out.println("OK")
      readN(graft.cdc.Protocol.formatRegisterCommand("uuid-cap").length)
      out.println("OK")
      readN(graft.cdc.Protocol
        .formatRequestDataCommand("test", "tests").length)
      // 256 KiB of garbage, never a newline — 4x past the 64 KiB cap
      val raw = s.getOutputStream
      val chunk = Array.fill[Byte](8192)('x'.toByte)
      var sent = 0
      try {
        while (sent < (256 << 10)) { raw.write(chunk); sent += chunk.length }
        raw.flush()
        Thread.sleep(5000)
      } catch { case _: java.io.IOException => () } // client hung up
      s.close()
    })
    t.setDaemon(true); t.start()
    val q = spark.readStream.format("maxscale-cdc")
      .option("host", "127.0.0.1")
      .option("port", server.getLocalPort.toString)
      .option("user", "u").option("password", "p").option("uuid", "uuid-cap")
      .option("database", "test").option("table", "tests")
      .option("maxLineBytes", (64 << 10).toString)
      .load().writeStream.format("memory").queryName("cdc_linecap")
      .outputMode("append").start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val deadline = System.currentTimeMillis() + 20000
      while (System.currentTimeMillis() < deadline) {
        q.processAllAvailable(); Thread.sleep(100)
      }
    }
    q.stop()
    server.close()
    val all = e.getMessage + Option(e.getCause).map(_.toString).getOrElse("")
    assert(all.contains("exceeds maxLineBytes"),
      s"expected the bounded-scan failure, got: $all")
  }

  test("socket: mid-stream DDL version bump feeds the schema registry") {
    val ddlV2 = ddl
      .replace(""""version": 1""", """"version": 2""")
      .replace(
        """{"name": "id", "type": ["null", "int"], "real_type": "int", "length": -1}""",
        """{"name": "id", "type": ["null", "int"], "real_type": "int", "length": -1}, {"name": "note", "type": ["null", "varchar"], "real_type": "varchar", "length": 40}""")
    val dmlV2 =
      """{"domain": 0, "server_id": 3000, "sequence": 9, "event_number": 1, "timestamp": 1700000009, "event_type": "insert", "table_name": "tests", "table_schema": "test", "id": 3, "note": "altered"}"""
    val server = new ServerSocket(0)
    val t = new Thread(() => {
      val s = server.accept()
      val in = new BufferedReader(new InputStreamReader(s.getInputStream,
        UTF_8))
      val out = new PrintWriter(s.getOutputStream, true)
      def readN(n: Int): Unit = {
        val b = new Array[Char](n); var r = 0
        while (r < n) { val k = in.read(b, r, n - r); if (k > 0) r += k }
      }
      readN(graft.cdc.Protocol.formatAuthCommand("u", "p").length)
      out.println("OK")
      readN(graft.cdc.Protocol.formatRegisterCommand("uuid-2").length)
      out.println("OK")
      readN(graft.cdc.Protocol
        .formatRequestDataCommand("test", "tests").length)
      // live ALTER mid-stream: v1 schema + row, then v2 schema + row
      out.println(ddl)
      out.println(dml(7, 1))
      out.println(ddlV2)
      out.println(dmlV2)
      Thread.sleep(5000)
      s.close()
    })
    t.setDaemon(true); t.start()

    val q = spark.readStream.format("maxscale-cdc")
      .option("host", "127.0.0.1")
      .option("port", server.getLocalPort.toString)
      .option("user", "u").option("password", "p").option("uuid", "uuid-2")
      .option("database", "test").option("table", "tests")
      .load().writeStream.format("memory").queryName("cdc_socket_ddl")
      .outputMode("append").start()
    val deadline = System.currentTimeMillis() + 15000
    var n = 0L
    while (n < 4 && System.currentTimeMillis() < deadline) {
      q.processAllAvailable()
      n = spark.table("cdc_socket_ddl").count()
      if (n < 4) Thread.sleep(100)
    }
    q.stop()
    server.close()
    val out = spark.table("cdc_socket_ddl")
    assert(out.count() == 4)
    // both schema versions arrive over the live socket and land in the
    // versioned registry map — the schema-evolution path is not a
    // replay-only behavior
    val registry = out.filter(col("event_type") === "ddl")
      .select("raw").collect().map(_.getString(0))
      .map(graft.cdc.Protocol.decodeDdlEvent)
      .map(d => (d.database, d.table, d.version) ->
        graft.cdc.CdcModel.toStructType(d)).toMap
    assert(registry.keySet == Set(("test", "tests", 1), ("test", "tests", 2)))
    assert(registry(("test", "tests", 2)).fieldNames.contains("note"))
    val projected = out.filter(col("event_type") =!= "ddl")
      .withColumn("payload",
        from_json(col("raw"), registry(("test", "tests", 2))))
      .select(col("sequence"), col("payload.note"))
      .orderBy("sequence").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).toSeq
    assert(projected == Seq((7L, None), (9L, Some("altered"))))
  }

  test("socket: bounded schema wait fails after schemaWaitMaxMs of ERRs") {
    val server = new ServerSocket(0)
    val t = new Thread(() => {
      val s = server.accept()
      val in = new BufferedReader(new InputStreamReader(s.getInputStream,
        UTF_8))
      val out = new PrintWriter(s.getOutputStream, true)
      // accept any handshake
      val tmp = new Array[Char](4096)
      in.read(tmp); out.println("OK")
      in.read(tmp); out.println("OK")
      in.read(tmp)
      // never send a schema — only ERR, beyond the 300 ms budget
      (1 to 20).foreach { _ => out.println("ERR NO-SUCH-TABLE"); Thread.sleep(50) }
      s.close()
    })
    t.setDaemon(true); t.start()
    val q = spark.readStream.format("maxscale-cdc")
      .option("host", "127.0.0.1")
      .option("port", server.getLocalPort.toString)
      .option("user", "u").option("password", "p").option("uuid", "x")
      .option("database", "test").option("table", "tests")
      .option("schemaWaitMaxMs", "300")
      .load().writeStream.format("memory").queryName("cdc_schema_timeout")
      .outputMode("append").start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val deadline = System.currentTimeMillis() + 10000
      while (System.currentTimeMillis() < deadline) {
        q.processAllAvailable(); Thread.sleep(100)
      }
    }
    q.stop()
    server.close()
    val all = e.getMessage + Option(e.getCause).map(_.toString).getOrElse("")
    assert(all.contains("no schema"))
  }

  test("golden transcript: a full avrorouter session replays byte-exact end-to-end") {
    // Hand-authored from the reference's docker-harness golden values
    // (client_test.go:53-267 + docker-compose.yml): handshake replies,
    // ERR-before-schema, the EXACT v1 DDL of client_test.go:83-132
    // (version 1, gtid 0-3000-6, the null/int `id` column), a DML
    // burst covering all four event types (insert seq 7 id 1 / seq 8
    // id 2 — the golden rows — update pair, delete), a MID-STREAM
    // version bump (ALTER adds `note`), and v2 rows. The server
    // asserts every client request BYTE-exactly against the
    // transcript; the test pins the decoded DataFrame row for row.
    val ddlV2 =
      """{"namespace": "MaxScaleChangeDataSchema.avro", "type": "record", "name": "ChangeRecord", "table": "tests", "database": "test", "version": 2, "gtid": "0-3000-10", "fields": [{"name": "domain", "type": "int"}, {"name": "server_id", "type": "int"}, {"name": "sequence", "type": "int"}, {"name": "event_number", "type": "int"}, {"name": "timestamp", "type": "int"}, {"name": "event_type", "type": {"type": "enum", "name": "EVENT_TYPES", "symbols": ["insert", "update_before", "update_after", "delete"]}}, {"name": "id", "type": ["null", "int"], "real_type": "int", "length": -1}, {"name": "note", "type": ["null", "string"], "real_type": "varchar", "length": 40}]}"""
    def dmlV2(seq: Int, id: Int, note: String) =
      s"""{"domain": 0, "server_id": 3000, "sequence": $seq, "event_number": 1, "timestamp": 170000000$seq, "event_type": "insert", "table_name": "tests", "table_schema": "test", "id": $id, "note": "$note"}"""
    def upd(seq: Int, num: Int, id: Int, which: String) =
      s"""{"domain": 0, "server_id": 3000, "sequence": $seq, "event_number": $num, "timestamp": 170000000$seq, "event_type": "$which", "table_name": "tests", "table_schema": "test", "id": $id}"""
    val stream = Seq(
      "ERR NO-SUCH-TABLE test.tests",              // wait-for-schema
      ddl,                                          // golden v1 DDL
      dml(7, 1),                                    // golden insert #1
      dml(8, 2),                                    // golden insert #2
      upd(9, 1, 1, "update_before"),                // update pair
      upd(9, 2, 10, "update_after"),
      dml(10, 2, eventType = "delete"),             // delete
      ddlV2,                                        // mid-stream ALTER
      dmlV2(11, 3, "v2"))                           // row under v2
    val expectRequests = Seq(
      graft.cdc.Protocol.formatAuthCommand("maxuser", "maxpwd"),
      graft.cdc.Protocol.formatRegisterCommand("test-uuid"),
      graft.cdc.Protocol.formatRequestDataCommand("test", "tests"))
    val seen = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val server = new ServerSocket(0)
    val t = new Thread(() => {
      val s = server.accept()
      val in = new BufferedReader(new InputStreamReader(s.getInputStream,
        UTF_8))
      val out = new PrintWriter(s.getOutputStream, true)
      def readN(n: Int): String = {
        val b = new Array[Char](n); var r = 0
        while (r < n) { val k = in.read(b, r, n - r); if (k > 0) r += k }
        new String(b)
      }
      // commands carry no terminator: read each by its transcript size
      seen.add(readN(expectRequests(0).length)); out.println("OK")
      seen.add(readN(expectRequests(1).length)); out.println("OK")
      seen.add(readN(expectRequests(2).length))
      stream.foreach { line => out.println(line); Thread.sleep(10) }
      Thread.sleep(8000)                            // stream stays open
      s.close()
    })
    t.setDaemon(true); t.start()

    val q = spark.readStream.format("maxscale-cdc")
      .option("host", "127.0.0.1")
      .option("port", server.getLocalPort.toString)
      .option("user", "maxuser").option("password", "maxpwd")
      .option("uuid", "test-uuid")
      .option("database", "test").option("table", "tests")
      .load().writeStream.format("memory")
      .queryName("cdc_golden").outputMode("append").start()
    val want = stream.length - 1                    // all but the ERR
    val deadline = System.currentTimeMillis() + 20000
    var n = 0L
    while (n < want && System.currentTimeMillis() < deadline) {
      q.processAllAvailable()
      n = spark.table("cdc_golden").count()
      if (n < want) Thread.sleep(100)
    }
    q.stop()
    server.close()
    // byte-exact requests, in protocol order
    assert(seen.size === 3)
    expectRequests.zipWithIndex.foreach { case (e, i) =>
      assert(seen.get(i) === e, s"request $i differs from the transcript")
    }
    // the decoded frame, row for row (ERR consumed, never surfaced);
    // DDL rows carry a null envelope — keyed here by their gtid
    val rows = spark.table("cdc_golden")
      .selectExpr(
        "coalesce(CAST(sequence AS STRING), " +
          "get_json_object(raw, '$.gtid')) AS seq",
        "coalesce(CAST(event_number AS STRING), '0') AS num",
        "event_type",
        "coalesce(get_json_object(raw, '$.id'), '-') AS id",
        "coalesce(get_json_object(raw, '$.note'), '-') AS note",
        "coalesce(get_json_object(raw, '$.version'), '-') AS ver")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3), r.getString(4), r.getString(5)))
      .sorted
    assert(rows.toSeq === Seq(
      ("0-3000-10", "0", "ddl", "-", "-", "2"),     // the version bump
      ("0-3000-6", "0", "ddl", "-", "-", "1"),      // golden v1 schema
      ("10", "1", "delete", "2", "-", "-"),
      ("11", "1", "insert", "3", "v2", "-"),        // row under v2
      ("7", "1", "insert", "1", "-", "-"),          // golden row #1
      ("8", "1", "insert", "2", "-", "-"),          // golden row #2
      ("9", "1", "update_before", "1", "-", "-"),
      ("9", "2", "update_after", "10", "-", "-")))
  }

  test("socket: full handshake, ERR-wait-for-schema, streamed events") {
    val server = new ServerSocket(0)
    val seen = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val t = new Thread(() => {
      val s = server.accept()
      val in = new BufferedReader(new InputStreamReader(s.getInputStream,
        UTF_8))
      val out = new PrintWriter(s.getOutputStream, true)
      // auth (hex blob, no newline): read the exact expected length
      val authExpected = graft.cdc.Protocol.formatAuthCommand("maxuser",
        "maxpwd")
      val authBuf = new Array[Char](authExpected.length)
      var read = 0
      while (read < authBuf.length) {
        val n = in.read(authBuf, read, authBuf.length - read)
        if (n > 0) read += n
      }
      seen.add(new String(authBuf))
      out.println("OK")
      // register + request-data are newline-free too; read by expected size
      def readN(n: Int): String = {
        val b = new Array[Char](n); var r = 0
        while (r < n) { val k = in.read(b, r, n - r); if (k > 0) r += k }
        new String(b)
      }
      seen.add(readN(graft.cdc.Protocol.formatRegisterCommand("uuid-1").length))
      out.println("OK")
      seen.add(readN(graft.cdc.Protocol
        .formatRequestDataCommand("test", "tests").length))
      // table doesn't exist yet: ERR first (wait-for-schema,
      // client_test.go:53-66), then schema + rows
      out.println("ERR NO-SUCH-TABLE")
      Thread.sleep(50)
      out.println(ddl)
      out.println(dml(7, 1))
      out.println(dml(8, 2))
      // keep the socket open like a live stream; test stops the query
      Thread.sleep(5000)
      s.close()
    })
    t.setDaemon(true); t.start()

    val reader = spark.readStream.format("maxscale-cdc")
      .option("host", "127.0.0.1")
      .option("port", server.getLocalPort.toString)
      .option("user", "maxuser").option("password", "maxpwd")
      .option("uuid", "uuid-1")
      .option("database", "test").option("table", "tests")
    val q = reader.load().writeStream.format("memory")
      .queryName("cdc_socket").outputMode("append").start()
    // poll until the 3 post-ERR lines arrive (ERR must NOT appear)
    val deadline = System.currentTimeMillis() + 15000
    var n = 0L
    while (n < 3 && System.currentTimeMillis() < deadline) {
      q.processAllAvailable()
      n = spark.table("cdc_socket").count()
      if (n < 3) Thread.sleep(100)
    }
    q.stop()
    val out = spark.table("cdc_socket")
    assert(out.count() == 3)
    assert(out.filter(col("event_type") === "ddl").count() == 1)
    assert(out.filter(col("event_type") === "insert").count() == 2)
    // handshake messages arrived in protocol order with exact bytes
    assert(seen.get(0) == graft.cdc.Protocol.formatAuthCommand("maxuser",
      "maxpwd"))
    assert(seen.get(1) == "REGISTER UUID=uuid-1, TYPE=JSON")
    assert(seen.get(2) == "REQUEST-DATA test.tests")
    server.close()
  }
}
