package graft.bench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of one layer. Spans of the same micro-batch or
  * the same batch_mix query execution share `id`. */
final case class Span(id: String, layer: String, name: String,
    startUs: Long, durUs: Long)

/** The traced run's collectors, attached through Spark's public
  * listener interfaces only: task and stage metrics
  * ([[SparkListener]]), planning phases ([[QueryExecutionListener]])
  * and streaming progress ([[StreamingQueryListener]]). Everything is
  * kept in memory and written out at the end of the run. */
final class Tracer(spark: SparkSession) {
  val spans = new ConcurrentLinkedQueue[Span]()

  val tasks = new AtomicLong
  val executorRunMs = new AtomicLong
  val executorCpuNs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleReadBytes = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val analysisMs = new AtomicLong
  val optimizationMs = new AtomicLong
  val planningMs = new AtomicLong
  val executionNs = new AtomicLong
  /** Lines the generator has sent; with each progress event the
    * distance to the committed end offset is the source's lag. */
  @volatile var sentLines: () => Long = () => 0L
  val lagLinesMax = new AtomicLong

  private val sparkListener = new SparkListener {
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        tasks.incrementAndGet()
        executorRunMs.addAndGet(m.executorRunTime)
        executorCpuNs.addAndGet(m.executorCpuTime)
        gcMs.addAndGet(m.jvmGCTime)
        shuffleReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      for (s <- i.submissionTime; c <- i.completionTime)
        spans.add(Span("", "spark", "stage", s * 1000L, (c - s) * 1000L))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      val endUs = Clock.nowUs
      qe.tracker.phases.foreach { case (phase, p) =>
        val counter = phase match {
          case "analysis" => analysisMs
          case "optimization" => optimizationMs
          case "planning" => planningMs
          case _ => null
        }
        if (counter != null) {
          counter.addAndGet(p.durationMs)
          spans.add(Span("", "spark", phase, p.startTimeMs * 1000L,
            p.durationMs * 1000L))
        }
      }
      executionNs.addAndGet(durationNs)
      spans.add(Span("", "spark", "execution", endUs - durationNs / 1000L,
        durationNs / 1000L))
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val end = Progress.endIndex(e.progress)
      if (end >= 0) lagLinesMax.accumulateAndGet(sentLines() - end, math.max(_, _))
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  /** Wait for the asynchronous listener bus to deliver every event. */
  def flush(): Unit = org.apache.spark.BenchAccess.drainListenerBus(spark.sparkContext)

  def detach(): Unit = {
    flush()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Forget everything recorded so far (after a warm-up). */
  def reset(): Unit = {
    flush()
    spans.clear()
    Seq(tasks, executorRunMs, executorCpuNs, gcMs, shuffleReadBytes,
      shuffleWriteBytes, spillBytes, analysisMs, optimizationMs, planningMs,
      executionNs, lagLinesMax).foreach(_.set(0L))
  }

  /** Spans with their unit id: a span recorded without one belongs to
    * the unit (micro-batch or query) whose interval holds its midpoint. */
  def attributed(units: Seq[Span]): Seq[Span] = {
    val sorted = units.sortBy(_.startUs).toArray
    spans.asScala.toSeq.map { s =>
      if (s.id.nonEmpty) s
      else {
        val mid = s.startUs + s.durUs / 2
        sorted.find(u => u.startUs <= mid && mid <= u.startUs + u.durUs)
          .map(u => s.copy(id = u.id)).getOrElse(s)
      }
    } ++ units
  }
}

object Tracer {
  /** Which span name nests directly inside which, for self time. */
  val parentOf: Map[(String, String), (String, String)] = Map(
    ("cdc.source", "latest_offset") -> ("bench", "micro_batch"),
    ("cdc.source", "commit") -> ("bench", "micro_batch"),
    ("spark", "query_planning") -> ("bench", "micro_batch"),
    ("spark", "wal_commit") -> ("bench", "micro_batch"),
    ("spark", "add_batch") -> ("bench", "micro_batch"),
    ("sources.manifest", "merge") -> ("spark", "add_batch"),
    ("sources.manifest", "delete") -> ("spark", "add_batch"),
    ("spark", "analysis") -> ("ops", "query"),
    ("spark", "optimization") -> ("ops", "query"),
    ("spark", "planning") -> ("ops", "query"),
    ("spark", "execution") -> ("ops", "query"))

  /** Per layer: summed span time and self time (span time not covered
    * by the spans of its direct children within the same unit). */
  def layerTimes(spans: Seq[Span]): Map[String, Map[String, Double]] = {
    val childTime = spans.groupBy(s => (s.id, parentOf.get((s.layer, s.name))))
      .collect { case ((id, Some(p)), ss) if id.nonEmpty => (id, p) -> ss.map(_.durUs).sum }
    spans.groupBy(_.layer).map { case (layer, ss) =>
      val total = ss.map(_.durUs).sum
      val self = ss.map { s =>
        math.max(0L, s.durUs - childTime.getOrElse((s.id, (s.layer, s.name)), 0L))
      }.sum
      layer -> Map("total_ms" -> total / 1000.0, "self_ms" -> self / 1000.0,
        "spans" -> ss.size.toDouble)
    }
  }
}
