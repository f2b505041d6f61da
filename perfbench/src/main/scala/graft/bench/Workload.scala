package graft.bench

import java.io.File
import java.time.Instant

import graft.cdc.source.CdcOffset

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

/** What a run was asked to do. */
final case class Ctx(workload: String, seed: Long, seconds: Int,
    trace: Boolean, cores: Int, root: File, out: File, work: File)

/** The outcome of a measured phase: operations attempted and failed,
  * end-to-end metrics, their sample counts, per-layer metrics (traced
  * runs), spans, and free-form details for the report file. `units`
  * is how many units of work (catch-up cycles, tail phases, query
  * passes) the phase ran; listener totals are reported per unit. */
final case class Measured(attempted: Long, failed: Long,
    e2e: Map[String, Double], samples: Map[String, Int],
    layers: Map[String, Double], spans: Seq[Span], units: Double,
    details: Map[String, Any])

trait Workload {
  /** Prepare everything the measured phase needs on a fresh session:
    * inputs generated, server listening, pipeline warmed up. */
  def setup(spark: SparkSession): Unit
  /** Release what [[setup]] acquired (before the next set-up round). */
  def teardown(): Unit
  def measure(spark: SparkSession, tracer: Option[Tracer]): Measured
  /** Traced-run extras that need the session to themselves; may
    * replace the session and return the new one. */
  def traceExtras(spark: SparkSession): (SparkSession, Map[String, Double]) =
    (spark, Map.empty)
}

/** Reading [[StreamingQueryProgress]] of the CDC source. */
object Progress {
  def endIndex(p: StreamingQueryProgress): Long =
    if (p == null || p.sources.isEmpty || p.sources(0).endOffset == null) -1L
    else CdcOffset.parse(p.sources(0).endOffset).index

  def ran(p: StreamingQueryProgress): Boolean =
    p.durationMs.containsKey("addBatch")

  def dur(p: StreamingQueryProgress, key: String): Double =
    Option(p.durationMs.get(key)).map(_.doubleValue).getOrElse(0.0)

  def startUs(p: StreamingQueryProgress): Long =
    Instant.parse(p.timestamp).toEpochMilli * 1000L

  def endUs(p: StreamingQueryProgress): Long =
    startUs(p) + (dur(p, "triggerExecution") * 1000L).toLong

  /** Block until the query has committed a batch ending at or past
    * line `lines`; the query's own failure is rethrown. */
  def await(q: StreamingQuery, lines: Long, timeoutMs: Long): StreamingQueryProgress = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var p = q.lastProgress
    while (endIndex(p) < lines) {
      q.exception.foreach(e => throw e)
      if (!q.isActive) throw new IllegalStateException("query stopped early")
      if (System.currentTimeMillis() > deadline)
        throw new java.util.concurrent.TimeoutException(
          s"query reached line ${endIndex(p)} of $lines in ${timeoutMs}ms")
      Thread.sleep(2)
      p = q.lastProgress
    }
    p
  }

  /** Per-layer figures every streaming workload reports from progress:
    * per-batch medians of the engine's phases, state-store totals. */
  def layers(batches: Seq[StreamingQueryProgress]): Map[String, Double] = {
    def med(key: String) = Stats.median(batches.map(dur(_, key)))
    val ops = batches.flatMap(_.stateOperators.headOption)
    Map(
      "source.latest_offset_ms" -> med("latestOffset"),
      "source.commit_ms" -> med("commitOffsets"),
      "spark.query_planning_ms" -> med("queryPlanning"),
      "spark.add_batch_ms" -> med("addBatch"),
      "spark.wal_commit_ms" -> med("walCommit"),
      "state.rows_total" -> ops.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "state.rows_updated" -> ops.map(_.numRowsUpdated.toDouble).sum,
      "state.rows_removed" -> ops.map(_.numRowsRemoved.toDouble).sum,
      "state.memory_bytes" -> ops.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0),
      "state.commit_ms" -> (if (ops.isEmpty) 0.0
        else Stats.median(ops.map(_.commitTimeMs.toDouble)))
    ).map { case (k, v) => k -> (if (v.isNaN) 0.0 else v) }
  }

  /** Spans of each micro-batch, laid end to end in engine order. */
  def spans(prefix: String, batches: Seq[StreamingQueryProgress]): Seq[Span] =
    batches.flatMap { p =>
      val id = s"$prefix/b${p.batchId}"
      val start = startUs(p)
      val batch = Span(id, "bench", "micro_batch", start,
        (dur(p, "triggerExecution") * 1000).toLong)
      var at = start
      val parts = Seq(("cdc.source", "latest_offset", "latestOffset"),
        ("spark", "query_planning", "queryPlanning"),
        ("spark", "wal_commit", "walCommit"),
        ("spark", "add_batch", "addBatch"),
        ("cdc.source", "commit", "commitOffsets")).map { case (l, n, k) =>
        val d = (dur(p, k) * 1000).toLong
        val s = Span(id, l, n, at, d)
        at += d
        s
      }
      batch +: parts
    }

  def stateSpans(prefix: String, batches: Seq[StreamingQueryProgress]): Seq[Span] =
    batches.flatMap { p =>
      p.stateOperators.headOption.map(o => Span(s"$prefix/b${p.batchId}",
        "streaming", "state_commit", endUs(p) - o.commitTimeMs * 1000L,
        o.commitTimeMs * 1000L))
    }
}
