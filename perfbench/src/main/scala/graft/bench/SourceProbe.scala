package graft.bench

import scala.collection.mutable.ArrayBuffer

import graft.cdc.Protocol
import graft.cdc.source.{CdcOffset, MaxScaleCdcMicroBatchStream, SocketTransport}

import org.apache.spark.sql.connector.read.streaming.Offset

/** Drives the CDC layers directly, without Spark's engine in between,
  * on one catch-up capture:
  *  - `cdc.transport`: a [[SocketTransport]] drained with `poll()`;
  *  - `cdc.source`: a [[MaxScaleCdcMicroBatchStream]] stepped through
  *    `latestOffset` → `planInputPartitions` → the partition readers →
  *    `commit`, batch by batch under `maxLinesPerBatch`;
  *  - `cdc.protocol`: `decodeDmlEvent` per line and `inferSchema` per
  *    schema record, timed in a loop.
  * These are the numbers a decode-once source change should move. */
object SourceProbe {
  private def ms(ns: Long): Double = ns / 1e6

  def run(server: CdcServer, table: String, capture: Capture.Backlog,
      maxLinesPerBatch: Int): Map[String, Double] = {
    val total = capture.lines.length.toLong
    val deadline = System.currentTimeMillis() + 60000
    def check(): Unit = if (System.currentTimeMillis() > deadline)
      throw new java.util.concurrent.TimeoutException(s"source probe on $table")

    val t = new SocketTransport("127.0.0.1", server.port, Capture.User,
      Capture.Password, java.util.UUID.randomUUID().toString,
      Capture.Database, table, None, None)
    var lines = 0L
    var bytes = 0L
    var pollNs = 0L
    try {
      t.start()
      while (lines < total) {
        val t0 = System.nanoTime()
        val got = t.poll()
        pollNs += System.nanoTime() - t0
        t.error.foreach(e => throw e)
        lines += got.size
        got.foreach(l => bytes += l.length + 1)
        if (got.isEmpty) { check(); Thread.sleep(1) }
      }
    } finally t.close()

    val opts = Map("host" -> "127.0.0.1", "port" -> server.port.toString,
      "user" -> Capture.User, "password" -> Capture.Password,
      "database" -> Capture.Database, "table" -> table,
      "maxlinesperbatch" -> maxLinesPerBatch.toString)
    val stream = new MaxScaleCdcMicroBatchStream(opts)
    var latestNs, planNs, readNs, commitNs = 0L
    val partitions = ArrayBuffer[Int]()
    try {
      var start: Offset = stream.initialOffset()
      val limit = stream.getDefaultReadLimit
      def index(o: Offset) = o.asInstanceOf[CdcOffset].index
      while (index(start) < total) {
        val t0 = System.nanoTime()
        val end = stream.latestOffset(start, limit)
        val t1 = System.nanoTime()
        latestNs += t1 - t0
        if (index(end) == index(start)) { check(); Thread.sleep(1) }
        else {
          val parts = stream.planInputPartitions(start, end)
          val t2 = System.nanoTime()
          planNs += t2 - t1
          partitions += parts.length
          val factory = stream.createReaderFactory()
          parts.foreach { p =>
            val r = factory.createReader(p)
            while (r.next()) r.get()
            r.close()
          }
          val t3 = System.nanoTime()
          readNs += t3 - t2
          stream.commit(end)
          commitNs += System.nanoTime() - t3
          start = end
        }
      }
    } finally stream.stop()

    val dml = capture.lines.filter(Protocol.isDmlEvent)
    var sink = 0L
    val decodeNs = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      dml.foreach(l => sink += Protocol.decodeDmlEvent(l).sequence)
      (System.nanoTime() - t0).toDouble / dml.length
    }
    val ddl = capture.lines.head
    val inferUs = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      (1 to 500).foreach(_ => sink += Protocol.inferSchema(ddl).size)
      (System.nanoTime() - t0) / 1e3 / 500
    }
    require(sink != 0L)
    Map(
      "transport.lines" -> lines.toDouble,
      "transport.bytes" -> bytes.toDouble,
      "transport.poll_ms" -> ms(pollNs),
      "source.probe.latest_offset_ms" -> ms(latestNs),
      "source.probe.plan_ms" -> ms(planNs),
      "source.probe.read_ms" -> ms(readNs),
      "source.probe.commit_ms" -> ms(commitNs),
      "source.partitions_per_batch" -> Stats.median(partitions.map(_.toDouble).toSeq),
      "protocol.decode_dml_ns" -> Stats.median(decodeNs),
      "protocol.infer_schema_us" -> Stats.median(inferUs))
  }
}
