package graft.bench

import java.io.File

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.{SparkEntry, Tables}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `batch_mix`: one client running a fixed, sorted subset of
  * [[SparkEntry.queries]] on the sf0.1 tables, each timed with
  * `.count()` after a warm-up pass. The warm-up pass also checks every
  * query's row count and order-insensitive result hash against the
  * values recorded for the seed commit; every timed run checks the row
  * count again. The tables are fixed, so the seed does not change the
  * input. */
final class BatchMix(ctx: Ctx) extends Workload {
  import BatchMix.Run

  val queries: Seq[String] = Seq(
    "agg_cohen_kappa", "cdc_snapshot_latest", "composite_q2",
    "llm_dedup_minhash", "scan_avro_roundtrip",
    "sink_manifest_agg_pushdown", "sink_manifest_pruned",
    "stream_tumbling").sorted

  val families: Seq[(String, String)] = Seq("cdc" -> "cdc_",
    "sink" -> "sink_", "llm" -> "llm_", "composite" -> "composite_",
    "agg" -> "agg_", "stream" -> "stream_", "scan" -> "scan_")

  /** Roughly how long one timed pass takes on a 4-vCPU VM; sets the
    * pass count from `--seconds` (at least two, so every query has a
    * median of two runs). */
  private val SecondsPerPass = 5.0
  private val dataDir = new File(ctx.root, "perfbench/data/sf0.1").getPath
  private val expectedFile = new File(ctx.root, "perfbench/expected/batch_mix.json")

  override def setup(spark: SparkSession): Unit =
    Tables.all.foreach(t => Tables(spark, dataDir, t).limit(1).count())

  override def teardown(): Unit = ()

  /** (rows, sum of per-row hashes mod 2^31-1): independent of row order
    * and partitioning. Floating-point columns are rounded to 6
    * decimals, nested values rendered as JSON. */
  def resultHash(df: DataFrame): (Long, Long) = {
    val cols: Seq[Column] = df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name}`")
      val s = f.dataType match {
        case DoubleType | FloatType => round(c.cast(DoubleType), 6).cast(StringType)
        case _: StructType | _: ArrayType | _: MapType => to_json(struct(c))
        case BinaryType => hex(c)
        case _ => c.cast(StringType)
      }
      coalesce(s, lit("\u0000"))
    }
    val r = df.select(pmod(xxhash64(concat_ws("\u0001", cols: _*)),
        lit(2147483647L)).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  private def loadExpected(): Map[String, (Long, Long)] = {
    val n = new com.fasterxml.jackson.databind.ObjectMapper().readTree(expectedFile)
    n.properties().asScala.map { e =>
      e.getKey -> (e.getValue.path("rows").asLong(), e.getValue.path("hash").asLong())
    }.toMap
  }

  /** Row counts found by the checking pass; a traced run measures three
    * times on one session, and only the first needs that pass. */
  private var checkedRows = Map.empty[String, Long]

  override def measure(spark: SparkSession, tracer: Option[Tracer]): Measured = {
    val expected = loadExpected()
    val errors = ArrayBuffer[String]()
    var attempted = 0L
    var failed = 0L
    val w0 = System.nanoTime()
    val warmMs = scala.collection.mutable.LinkedHashMap[String, Double]()
    if (checkedRows.isEmpty) checkedRows = queries.map { q =>
      attempted += 1
      val q0 = System.nanoTime()
      val r = try Some(resultHash(SparkEntry.queries(q)(spark, dataDir)))
        catch { case e: Exception => errors += s"$q: $e"; None }
      if (r.isEmpty || expected.get(q) != r) {
        failed += 1
        if (r.nonEmpty) errors += s"$q: got $r, recorded ${expected.get(q)}"
      }
      warmMs(q) = (System.nanoTime() - q0) / 1e6
      q -> r.map(_._1).getOrElse(-1L)
    }.toMap
    val warmupS = (System.nanoTime() - w0) / 1e9
    val rowsOf = checkedRows
    tracer.foreach(_.reset())

    // a fixed number of timed passes per run: heap and per-query medians
    // depend on how many executions a session has seen
    val passes = math.max(2, math.round(ctx.seconds / SecondsPerPass).toInt)
    val runs = ArrayBuffer[Run]()
    for (pass <- 0 until passes; q <- queries) {
      attempted += 1
      val c0 = Cpu.processNs
      val a0 = Alloc.snapshot()
      val s0 = Clock.nowUs
      val n0 = System.nanoTime()
      val ok = try SparkEntry.queries(q)(spark, dataDir).count() == rowsOf(q)
        catch { case e: Exception => errors += s"$q: $e"; false }
      val ms = (System.nanoTime() - n0) / 1e6
      if (!ok) failed += 1
      runs += Run(q, pass, s0, ms, Cpu.processNs - c0, Alloc.since(a0))
    }

    val byQuery = runs.toSeq.groupBy(_.query)
    val medMs = byQuery.map { case (q, rs) => q -> Stats.median(rs.map(_.ms)) }
    val medCpu = byQuery.map { case (q, rs) => q -> Stats.median(rs.map(_.cpuNs / 1e9)) }
    val medAlloc = byQuery.map { case (q, rs) => q -> Stats.median(rs.map(_.allocBytes / Alloc.Mb)) }
    val wall = medMs.values.sum / 1000.0
    val lat = runs.map(_.ms).toSeq
    val e2e = Map(
      "wall_s" -> wall,
      "events_per_s" -> queries.size / wall,
      "batch_ms_p50" -> Stats.quantile(lat, 0.5),
      "batch_ms_p90" -> Stats.quantile(lat, 0.9),
      "freshness_ms_p50" -> Stats.quantile(lat, 0.5),
      "freshness_ms_p99" -> Stats.quantile(lat, 0.99),
      "cpu_s" -> medCpu.values.sum,
      "alloc_mb" -> medAlloc.values.sum)
    val samples = Map("wall_s" -> runs.size, "events_per_s" -> runs.size,
      "batch_ms_p50" -> lat.size, "batch_ms_p90" -> lat.size,
      "freshness_ms_p50" -> lat.size, "freshness_ms_p99" -> lat.size,
      "cpu_s" -> runs.size, "alloc_mb" -> runs.size)
    val layers = families.flatMap { case (fam, prefix) =>
      val qs = queries.filter(_.startsWith(prefix))
      Seq(s"ops.$fam.wall_s" -> qs.map(medMs(_)).sum / 1000.0,
        s"ops.$fam.cpu_s" -> qs.map(medCpu(_)).sum)
    }.toMap
    val spans = runs.map(r => Span(s"${r.query}#${r.pass}", "ops", "query",
      r.startUs, (r.ms * 1000).toLong)).toSeq
    Measured(attempted, failed, e2e, samples, layers, spans, passes.toDouble,
      Map("queries" -> queries, "passes" -> passes, "warmup_s" -> warmupS,
        "warmup_ms" -> warmMs, "errors" -> errors.toSeq,
        "query_median_ms" -> medMs.toSeq.sortBy(_._1).toMap))
  }
}

object BatchMix {
  /** One timed query run. */
  final case class Run(query: String, pass: Int, startUs: Long, ms: Double,
      cpuNs: Long, allocBytes: Long)
}
