package graft.bench

import java.io.File

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.cdc.Protocol
import graft.sources.ManifestSink
import graft.streaming.CdcSnapshotStream
import graft.streaming.CdcSnapshotStream.{Change, Snapshot}

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import org.apache.spark.sql.types._

/** Shared plumbing of the two CDC workloads: the server, source
  * options, and the manifest-table bookkeeping. */
abstract class CdcWorkload(ctx: Ctx) extends Workload {
  protected var server: CdcServer = _
  private var dirs = 0

  protected def sourceOptions(table: String): Map[String, String] = Map(
    "host" -> "127.0.0.1", "port" -> server.port.toString,
    "user" -> Capture.User, "password" -> Capture.Password,
    "database" -> Capture.Database, "table" -> table)

  protected def freshDir(kind: String): File = {
    dirs += 1
    new File(ctx.work, s"$kind-$dirs")
  }

  /** Decoded change rows: envelope plus `from_json(raw, schema)` of the
    * user columns, schema records dropped. */
  protected def decoded(raw: DataFrame, ddl: String): DataFrame = {
    val p = from_json(col("raw"), Protocol.inferSchema(ddl))
    raw.filter(col("event_type") =!= "ddl")
      .select(col("domain"), col("server_id"), col("sequence"),
        col("event_number"), col("event_type"), p.as("p"))
      .select(col("domain"), col("server_id"), col("sequence"),
        col("event_number"), col("event_type"), col("p.id").as("id"),
        col("p.label").as("label"), col("p.amount").as("amount"),
        col("p.sched_us").as("sched_us"))
  }

  /** Data files, and all bytes, a manifest table directory holds. */
  protected def tableFiles(dir: File): (Int, Long) = {
    val files = Option(dir.listFiles()).getOrElse(Array.empty[File])
    (files.count(_.getName.endsWith(ManifestSink.DataSuffix)),
      FileTree.treeBytes(dir))
  }

  override def teardown(): Unit = if (server != null) { server.close(); server = null }
}

/** `cdc_catchup`: drain a queued backlog through source → decode →
  * graft-manifest streaming append, once per cycle, as many cycles as
  * fit in the measured time. */
final class CdcCatchup(ctx: Ctx) extends CdcWorkload(ctx) {
  import CdcCatchup._
  private val warmLines = 4000
  private var capture: Capture.Backlog = _
  private var warm: Capture.Backlog = _
  private var feed: CdcServer.Backlog = _
  private var reference: DataFrame = _
  private var expected: (Long, Long) = _

  private val checkCols = Seq("domain", "server_id", "sequence",
    "event_number", "event_type", "id", "label", "amount", "sched_us")

  /** (rows, order-insensitive checksum) over the checked columns. */
  private def checksum(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)),
      coalesce(sum(pmod(xxhash64(checkCols.map(col): _*), lit(2147483647L))),
        lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  private def referenceFrame(spark: SparkSession, events: Seq[Capture.Event]): DataFrame = {
    val schema = StructType(Seq(
      StructField("domain", IntegerType), StructField("server_id", IntegerType),
      StructField("sequence", LongType), StructField("event_number", IntegerType),
      StructField("event_type", StringType), StructField("id", IntegerType),
      StructField("label", StringType), StructField("amount", LongType),
      StructField("sched_us", LongType)))
    val rows = new java.util.ArrayList[Row](events.size)
    events.foreach(e => rows.add(Row(e.domain, e.serverId, e.sequence,
      e.eventNumber, e.eventType, e.id, e.label, e.amount, e.schedUs)))
    spark.createDataFrame(rows, schema)
  }

  override def setup(spark: SparkSession): Unit = {
    capture = Capture.backlog("tests", ctx.seed, dmlLines)
    warm = Capture.backlog("warm", ctx.seed + 1, warmLines)
    server = new CdcServer
    feed = new CdcServer.Backlog(capture)
    server.register("tests", feed)
    server.register("warm", new CdcServer.Backlog(warm))
    reference = referenceFrame(spark, capture.events.toSeq)
    expected = checksum(reference)
    cycle(spark, warm, verify = true)
  }

  /** One catch-up: start the query, wait until every line of the
    * capture is committed, stop, then check the table. `wallUs` runs
    * from the start of the first micro-batch to the commit of the last;
    * `cpuNs` and `allocBytes` from query start to that commit. With
    * `sampleHeap`, a full-GC heap sample is taken once the server has
    * written the whole backlog: every line not yet committed then sits
    * in the client's queue or the source's buffer, the moment the driver
    * holds the most of it. The forced collection stalls the query, so
    * such a cycle is never a timed one. */
  private def cycle(spark: SparkSession, c: Capture.Backlog,
      verify: Boolean, sampleHeap: Boolean = false): Cycle = {
    val tableDir = freshDir("catchup")
    val ckpt = freshDir("ckpt")
    val raw = spark.readStream.format("maxscale-cdc")
      .options(sourceOptions(c.table) +
        ("maxLinesPerBatch" -> maxLinesPerBatch.toString))
      .load()
    val cpu0 = Cpu.processNs
    val alloc0 = Alloc.snapshot()
    val t0 = Clock.nowUs
    val q = decoded(raw, c.lines.head).writeStream.format("graft-manifest")
      .option("checkpointLocation", ckpt.getPath)
      .start(tableDir.getPath)
    val sampler = if (!sampleHeap) None else Some(new Thread(() => {
      while (q.isActive && server.connectionLines.get() < c.lines.length) Thread.sleep(5)
      if (q.isActive) { Thread.sleep(20); HeapPeak.sample() }
    }, "perfbench-heap-sampler"))
    sampler.foreach { t => t.setDaemon(true); t.start() }
    val (last, cpu, alloc) =
      try {
        val p = Progress.await(q, c.lines.length.toLong, 120000)
        (p, Cpu.processNs - cpu0, Alloc.since(alloc0))
      } finally { q.stop(); sampler.foreach(_.join()) }
    val batches = q.recentProgress.toSeq.filter(Progress.ran)
    val wall = Progress.endUs(last) - Progress.startUs(batches.head)
    val (files, bytes) = tableFiles(tableDir)
    val live = graft.sources.ManifestSink.readAll(tableDir.getPath).files.count(_.liveRows > 0)
    var failed = 0L
    val v0 = System.nanoTime()
    if (verify) {
      val table = spark.read.format("graft-manifest").load(tableDir.getPath)
      val got = if (c eq capture) checksum(table) else (table.count(), 0L)
      val want = if (c eq capture) expected else (c.events.length.toLong, 0L)
      if (got != want) failed = exactDiff(table, c)
    }
    val verifyMs = (System.nanoTime() - v0) / 1e6
    FileTree.deleteTree(tableDir)
    FileTree.deleteTree(ckpt)
    Cycle(wall, cpu, alloc, batches, t0, failed, verifyMs, files, live, bytes)
  }

  /** Events missing from, or duplicated in, the table. */
  private def exactDiff(table: DataFrame, c: Capture.Backlog): Long = {
    val want = if (c eq capture) reference
      else referenceFrame(table.sparkSession, c.events.toSeq)
    val t = table.select(checkCols.map(col): _*).groupBy(checkCols.map(col): _*)
      .agg(count(lit(1)).as("nt"))
    val r = want.groupBy(checkCols.map(col): _*).agg(count(lit(1)).as("nr"))
    val j = t.join(r, checkCols.map(k => t(k) <=> r(k)).reduce(_ && _), "full_outer")
    j.agg(coalesce(sum(abs(coalesce(col("nt"), lit(0L)) -
      coalesce(col("nr"), lit(0L)))), lit(0L))).head().getLong(0)
  }

  override def measure(spark: SparkSession, tracer: Option[Tracer]): Measured = {
    tracer.foreach(t => t.sentLines = () => server.connectionLines.get())
    val cycles = ArrayBuffer[Cycle]()
    val failures = ArrayBuffer[String]()
    feed.lateMaxUs = 0L
    val blocked0 = server.sendBlockedNs.get()
    val phase0 = System.nanoTime()
    while (cycles.size < minCycles || (System.nanoTime() - phase0) < ctx.seconds * 1e9) {
      try cycles += cycle(spark, capture, verify = true)
      catch {
        case e: Exception =>
          failures += e.toString
          cycles += Cycle(0, 0, 0, Nil, 0, dmlLines.toLong, 0, 0, 0, 0)
      }
      if (failures.size > 2) throw new IllegalStateException(failures.mkString("; "))
    }
    if (tracer.isEmpty) cycle(spark, capture, verify = false, sampleHeap = true)
    val ok = cycles.toSeq.filter(_.wallUs > 0)
    val walls = ok.map(_.wallUs / 1e6)
    val batches = ok.flatMap(_.batches)
    val batchMs = batches.map(Progress.dur(_, "triggerExecution"))
    // every event of a batch became visible when its batch committed;
    // the whole backlog was queued when the cycle started
    val fresh = ok.flatMap { c =>
      c.batches.flatMap { p =>
        val ms = (Progress.endUs(p) - c.startUs) / 1000.0
        Iterator.fill(p.numInputRows.toInt)(ms)
      }
    }
    val wall = Stats.median(walls)
    val e2e = Map(
      "wall_s" -> wall,
      "events_per_s" -> dmlLines / wall,
      "batch_ms_p50" -> Stats.quantile(batchMs, 0.5),
      "batch_ms_p90" -> Stats.quantile(batchMs, 0.9),
      "freshness_ms_p50" -> Stats.quantile(fresh, 0.5),
      "freshness_ms_p99" -> Stats.quantile(fresh, 0.99),
      "cpu_s" -> Stats.median(ok.map(_.cpuNs / 1e9)),
      "alloc_mb" -> Stats.median(ok.map(_.allocBytes / Alloc.Mb)))
    val samples = Map("wall_s" -> walls.size, "events_per_s" -> walls.size,
      "batch_ms_p50" -> batchMs.size, "batch_ms_p90" -> batchMs.size,
      "freshness_ms_p50" -> fresh.size, "freshness_ms_p99" -> fresh.size,
      "cpu_s" -> ok.size, "alloc_mb" -> ok.size)
    val layers = Progress.layers(batches) ++ Map(
      "manifest.files_written" -> Stats.median(ok.map(_.filesWritten.toDouble)),
      "manifest.files_live" -> Stats.median(ok.map(_.filesLive.toDouble)),
      "manifest.bytes_written" -> Stats.median(ok.map(_.bytesWritten.toDouble)),
      "manifest.bytes_per_user_byte" ->
        Stats.median(ok.map(_.bytesWritten.toDouble)) / capture.bytes.length,
      "manifest.verify_scan_ms" -> Stats.median(ok.map(_.verifyMs)),
      "generator.late_ms_max" -> feed.lateMaxUs / 1000.0,
      "generator.send_blocked_ms" -> (server.sendBlockedNs.get() - blocked0) / 1e6 / cycles.size)
    val spans = ok.zipWithIndex.flatMap { case (c, i) =>
      Progress.spans(s"c$i", c.batches) }
    Measured(cycles.size.toLong * dmlLines, cycles.map(_.failed).sum, e2e,
      samples, layers, spans, ok.size.toDouble,
      Map("cycles" -> cycles.size, "dml_lines_per_cycle" -> dmlLines,
        "max_lines_per_batch" -> maxLinesPerBatch, "errors" -> failures.toSeq,
        "cycle_walls_s" -> walls))
  }

  /** The source probe, and the single-core baseline: one untraced
    * catch-up of the warm-up capture at `local[cores]`, then at
    * `local[1]` on a fresh session (after one warm-up cycle). */
  override def traceExtras(spark: SparkSession): (SparkSession, Map[String, Double]) = {
    val probe = SourceProbe.run(server, "tests", capture, maxLinesPerBatch)
    val nWall = cycle(spark, warm, verify = false).wallUs.toDouble
    spark.stop()
    val single = Session.build(1, ctx.work)
    cycle(single, warm, verify = false)
    val oneWall = cycle(single, warm, verify = false).wallUs.toDouble
    (single, probe + ("spark.parallel_speedup" -> oneWall / nWall))
  }
}

object CdcCatchup {
  val dmlLines = 12000
  val maxLinesPerBatch = 1000
  val minCycles = 3

  final case class Cycle(wallUs: Long, cpuNs: Long, allocBytes: Long,
      batches: Seq[StreamingQueryProgress], startUs: Long, failed: Long,
      verifyMs: Double, filesWritten: Int, filesLive: Int, bytesWritten: Long)
}

/** `cdc_tail`: an open loop at a fixed rate through source → decode →
  * [[CdcSnapshotStream.snapshots]] → `foreachBatch` MERGE/DELETE into a
  * graft-manifest table, the apply loop of CdcEndToEndSpec. */
final class CdcTail(ctx: Ctx) extends CdcWorkload(ctx) {
  import CdcTail.Phase

  val ratePerSec = 300.0
  val keys = 2000
  private val warmSeconds = 0.5
  private var phases = 0

  override def setup(spark: SparkSession): Unit = {
    server = new CdcServer
    phase(spark, ctx.seed + 1, warmSeconds)
  }

  private def phase(spark: SparkSession, seed: Long, seconds: Double): Phase = {
    import spark.implicits._
    phases += 1
    val table = s"tail$phases"
    val feed = new CdcServer.Paced(table, new Capture.TailGenerator(seed, keys),
      ratePerSec, (ratePerSec * seconds).toInt)
    server.register(table, feed)
    val dir = freshDir("tail")
    val ckpt = freshDir("ckpt")
    Seq.empty[(Int, Long, Long, Double)].toDF("userId", "eventId", "ts", "value")
      .coalesce(1).write.mode("overwrite").format("graft-manifest").save(dir.getPath)
    val fresh = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val merges = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val deletes = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val applySpans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
    // allocation snapshots at the start of each apply call: consecutive
    // ones bracket one whole micro-batch cycle
    val applyAllocs = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Map[Long, Long])]()
    val apply = (batch: Dataset[Snapshot], batchId: Long) => {
      applyAllocs.add(batchId -> Alloc.snapshot())
      val s = batch.sparkSession
      val rows = batch.collect()
      val ups = rows.filterNot(_.deleted)
      val dels = rows.filter(_.deleted)
      if (ups.nonEmpty) {
        val t0 = Clock.nowUs
        ManifestSink.merge(s, dir.getPath,
          s.createDataFrame(ups.toSeq.map(u => (u.userId, u.eventId, u.ts, u.value)))
            .toDF("userId", "eventId", "ts", "value"), Seq("userId"))
        val t1 = Clock.nowUs
        merges.add((t1 - t0) / 1000.0)
        applySpans.add(Span(s"$table/b$batchId", "sources.manifest", "merge", t0, t1 - t0))
        ups.foreach(u => fresh.add((t1 - u.ts) / 1000.0))
      }
      if (dels.nonEmpty) {
        val t0 = Clock.nowUs
        ManifestSink.delete(s, dir.getPath,
          s"userId IN (${dels.map(_.userId).mkString(",")})")
        val t1 = Clock.nowUs
        deletes.add((t1 - t0) / 1000.0)
        applySpans.add(Span(s"$table/b$batchId", "sources.manifest", "delete", t0, t1 - t0))
        dels.foreach(d => fresh.add((t1 - d.ts) / 1000.0))
      }
      ()
    }
    val changes = decoded(
      spark.readStream.format("maxscale-cdc").options(sourceOptions(table)).load(),
      Capture.ddl(table, ""))
      .select(col("id").as("userId"), col("sequence").as("eventId"),
        col("sched_us").as("ts"), col("event_type").as("eventType"),
        col("amount").cast("double").as("value"))
      .as[Change](Encoders.product[Change])
    val q = CdcSnapshotStream.snapshots(changes).writeStream
      .outputMode("update")
      .option("checkpointLocation", ckpt.getPath)
      .foreachBatch(apply)
      .start()
    try {
      Progress.await(q, 1L, 60000) // connected; the schema line is in
      val firstBatch = q.lastProgress.batchId
      val cpu0 = Cpu.processNs
      val alloc0 = Alloc.snapshot()
      val t0 = Clock.nowUs + 20000
      feed.go(t0)
      if (!feed.awaitDone((seconds * 1000).toLong + 30000))
        throw new java.util.concurrent.TimeoutException("generator fell behind")
      val last = Progress.await(q, 1L + feed.lines, 60000)
      val cpu = Cpu.processNs - cpu0
      val allocEnd = Alloc.snapshot()
      val alloc = Alloc.between(alloc0, allocEnd)
      q.stop()
      val marks = applyAllocs.asScala.toSeq.filter(_._1 > firstBatch).map(_._2) :+ allocEnd
      val batchAllocs = marks.zip(marks.drop(1)).map { case (a, b) => Alloc.between(a, b) }
      val batches = q.recentProgress.toSeq.filter(p => Progress.ran(p) && p.batchId > firstBatch)
      val v0 = System.nanoTime()
      val got = spark.read.format("graft-manifest").load(dir.getPath)
        .select("userId", "eventId", "ts", "value").collect()
        .map(r => (r.getInt(0), (r.getLong(1), r.getLong(2), r.getDouble(3))))
      val verifyMs = (System.nanoTime() - v0) / 1e6
      val want = feed.gen.reference.map { case (k, (seq, ts, amount)) =>
        k -> (seq, ts, amount.toDouble) }
      val gotMap = got.toMap
      val failed = (want.keySet ++ gotMap.keySet).count(k => want.get(k) != gotMap.get(k)) +
        (got.length - gotMap.size)
      val (files, bytes) = tableFiles(dir)
      val live = ManifestSink.readAll(dir.getPath).files.count(_.liveRows > 0)
      Phase(table, Progress.endUs(last) - t0, cpu, alloc, batchAllocs, feed.gen.events, batches,
        fresh.asScala.toSeq, merges.asScala.toSeq, deletes.asScala.toSeq,
        failed.toLong,
        feed.lateMaxUs, verifyMs, live, files, bytes, feed.bytes,
        applySpans.asScala.toSeq)
    } finally {
      q.stop()
      FileTree.deleteTree(dir)
      FileTree.deleteTree(ckpt)
    }
  }

  override def measure(spark: SparkSession, tracer: Option[Tracer]): Measured = {
    tracer.foreach(t => t.sentLines = () => server.connectionLines.get())
    val blocked0 = server.sendBlockedNs.get()
    val p = phase(spark, ctx.seed, ctx.seconds.toDouble)
    val batchMs = p.batches.map(Progress.dur(_, "triggerExecution"))
    val wall = p.wallUs / 1e6
    // the per-batch fixed costs dominate, and each MERGE costs more as
    // the table's files accumulate. A slower host runs fewer, larger
    // batches in the same phase, so the median over the same batch
    // positions (second to fourth) stays comparable across hosts
    val allocWindow = {
      val w = p.batchAllocBytes.slice(1, 4)
      (if (w.nonEmpty) w else p.batchAllocBytes).map(_.toDouble)
    }
    val e2e = Map(
      "wall_s" -> wall,
      "events_per_s" -> p.events / wall,
      "batch_ms_p50" -> Stats.quantile(batchMs, 0.5),
      "batch_ms_p90" -> Stats.quantile(batchMs, 0.9),
      "freshness_ms_p50" -> Stats.quantile(p.freshMs, 0.5),
      "freshness_ms_p99" -> Stats.quantile(p.freshMs, 0.99),
      "cpu_s" -> p.cpuNs / 1e9,
      "alloc_mb" -> Stats.median(allocWindow.map(_ / Alloc.Mb)))
    val samples = Map("wall_s" -> 1, "events_per_s" -> 1,
      "batch_ms_p50" -> batchMs.size, "batch_ms_p90" -> batchMs.size,
      "freshness_ms_p50" -> p.freshMs.size, "freshness_ms_p99" -> p.freshMs.size,
      "cpu_s" -> 1, "alloc_mb" -> allocWindow.size)
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val layers = Progress.layers(p.batches) ++ Map(
      "generator.late_ms_max" -> p.lateMaxUs / 1000.0,
      "generator.send_blocked_ms" -> (server.sendBlockedNs.get() - blocked0) / 1e6,
      "manifest.merge_ms" -> med(p.mergeMs),
      "manifest.delete_ms" -> med(p.deleteMs),
      "manifest.files_live" -> p.filesLive.toDouble,
      "manifest.files_written" -> p.files.toDouble,
      "manifest.bytes_written" -> p.bytes.toDouble,
      "manifest.bytes_per_user_byte" -> p.bytes.toDouble / p.lineBytes,
      "manifest.verify_scan_ms" -> p.verifyMs)
    Measured(p.events, p.failed, e2e, samples, layers,
      Progress.spans(p.table, p.batches) ++ Progress.stateSpans(p.table, p.batches) ++
        p.applySpans, 1.0,
      Map("rate_per_s" -> ratePerSec, "keys" -> keys, "events" -> p.events,
        "merges" -> p.mergeMs.size, "deletes" -> p.deleteMs.size,
        "phase_alloc_mb" -> p.allocBytes / Alloc.Mb,
        "batch_alloc_mb" -> p.batchAllocBytes.map(_ / Alloc.Mb)))
  }

  /** The source probe, on a catch-up capture of this seed. */
  override def traceExtras(spark: SparkSession): (SparkSession, Map[String, Double]) = {
    val probe = Capture.backlog("probe", ctx.seed, CdcCatchup.dmlLines)
    server.register("probe", new CdcServer.Backlog(probe))
    (spark, SourceProbe.run(server, "probe", probe, CdcCatchup.maxLinesPerBatch))
  }
}

object CdcTail {
  final case class Phase(table: String, wallUs: Long, cpuNs: Long,
      allocBytes: Long, batchAllocBytes: Seq[Long], events: Long,
      batches: Seq[StreamingQueryProgress], freshMs: Seq[Double],
      mergeMs: Seq[Double], deleteMs: Seq[Double], failed: Long,
      lateMaxUs: Long, verifyMs: Double, filesLive: Int, files: Int,
      bytes: Long, lineBytes: Long, applySpans: Seq[Span])
}
