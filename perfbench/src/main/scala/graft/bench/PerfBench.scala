package graft.bench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark entry point (started by `perfbench/run.py`).
  *
  * `--workload <cdc_catchup|cdc_tail|batch_mix> --seed <n> --seconds <s>
  *  --trace <0|1> --root <checkout> --out <dir>`
  *
  * Sets up three times and reports the median set-up time, runs the
  * measured phase, checks the outputs, and prints one result line,
  * prefixed `PERFBENCH_RESULT `, with the metrics BENCHMARK.json names:
  * its `end_to_end` list untraced, its `per_layer` list traced. A
  * fuller report (sample counts, failures, details) goes to `--out`,
  * and a traced run also writes its spans and tracing overhead there.
  */
object PerfBench {
  final case class MetricDef(name: String, unit: String)

  /** Every end-to-end figure a run computes, with its unit. The result
    * line carries the ones BENCHMARK.json gates; all are printed above
    * it and kept in the report. */
  val EndToEnd: Seq[MetricDef] = Seq("setup_s" -> "s", "wall_s" -> "s",
    "events_per_s" -> "1/s", "batch_ms_p50" -> "ms", "batch_ms_p90" -> "ms",
    "freshness_ms_p50" -> "ms", "freshness_ms_p99" -> "ms", "cpu_s" -> "s",
    "alloc_mb" -> "MB", "heap_peak_mb" -> "MB", "failed_ratio" -> "ratio").map(MetricDef.tupled)

  private def arg(args: Array[String], name: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`name`, v) => v }

  private def metricDefs(root: File, key: String): Seq[MetricDef] = {
    val n = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new File(root, "BENCHMARK.json"))
    n.path(key).elements().asScala.map(m =>
      MetricDef(m.path("name").asText(), m.path("unit").asText())).toSeq
  }

  def main(args: Array[String]): Unit = {
    val root = new File(arg(args, "--root").getOrElse(".")).getCanonicalFile
    val out = new File(arg(args, "--out").getOrElse(".bench_out"))
    val workload = arg(args, "--workload").getOrElse(
      throw new IllegalArgumentException("--workload is required"))
    val pid = ManagementFactory.getRuntimeMXBean.getPid
    val ctx = Ctx(workload, arg(args, "--seed").getOrElse("1").toLong,
      arg(args, "--seconds").getOrElse("10").toInt,
      arg(args, "--trace").contains("1"),
      math.min(4, Runtime.getRuntime.availableProcessors()), root, out,
      new File(out, s"work-$workload-$pid"))
    ctx.work.mkdirs()
    val wl: Workload = workload match {
      case "cdc_catchup" => new CdcCatchup(ctx)
      case "cdc_tail" => new CdcTail(ctx)
      case "batch_mix" => new BatchMix(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val defs = metricDefs(root, if (ctx.trace) "per_layer" else "end_to_end")
    try run(ctx, wl, defs)
    finally FileTree.deleteTree(ctx.work)
  }

  private def run(ctx: Ctx, wl: Workload, defs: Seq[MetricDef]): Unit = {
    // set-up round 1 starts at JVM start; the later rounds rebuild the
    // session and everything on it in the warm JVM
    val jvmStartUs = ManagementFactory.getRuntimeMXBean.getStartTime * 1000L
    var spark: SparkSession = null
    val setupS = (1 to 3).map { round =>
      val t0 = if (round == 1) jvmStartUs else Clock.nowUs
      if (spark != null) { wl.teardown(); spark.stop() }
      spark = Session.build(ctx.cores, ctx.work)
      wl.setup(spark)
      (Clock.nowUs - t0) / 1e6
    }
    // the end-to-end figures always come from an untraced measure. A
    // traced run then measures again on the same session with the
    // listeners attached, and once more without them: the session keeps
    // warming up from measure to measure, so the traced measure is
    // compared with the mean of the untraced ones on either side of it
    HeapPeak.reset()
    val steal0 = Steal.read()
    val m = wl.measure(spark, None)
    val steal = Steal.share(steal0, Steal.read())
    val heapMb = HeapPeak.peakBytes() / (1024.0 * 1024.0)
    val e2e = m.e2e ++ Map("setup_s" -> Stats.median(setupS), "heap_peak_mb" -> heapMb)

    val traced = if (!ctx.trace) None else {
      val t = new Tracer(spark)
      val mt = wl.measure(spark, Some(t))
      t.flush()
      val storage = spark.sparkContext.getRDDStorageInfo
      def per(v: Double) = v / math.max(mt.units, 1e-9)
      val fromListeners = Map(
        "spark.tasks" -> per(t.tasks.get.toDouble),
        "spark.executor_run_ms" -> per(t.executorRunMs.get.toDouble),
        "spark.executor_cpu_ms" -> per(t.executorCpuNs.get / 1e6),
        "spark.gc_ms" -> per(t.gcMs.get.toDouble),
        "spark.shuffle_read_bytes" -> per(t.shuffleReadBytes.get.toDouble),
        "spark.shuffle_write_bytes" -> per(t.shuffleWriteBytes.get.toDouble),
        "spark.spill_bytes" -> per(t.spillBytes.get.toDouble),
        "spark.analysis_ms" -> per(t.analysisMs.get.toDouble),
        "spark.optimization_ms" -> per(t.optimizationMs.get.toDouble),
        "spark.planning_ms" -> per(t.planningMs.get.toDouble),
        "spark.execution_ms" -> per(t.executionNs.get / 1e6),
        "spark.persisted_rdds" -> storage.length.toDouble,
        "spark.persisted_bytes" -> storage.map(s => s.memSize + s.diskSize).sum.toDouble,
        "source.lag_lines_max" -> t.lagLinesMax.get.toDouble)
      val spans = t.attributed(mt.spans)
      t.detach()
      val ma = wl.measure(spark, None)
      val (after, extras) = wl.traceExtras(spark)
      spark = after
      writeSpans(ctx, spans, m.e2e, mt.e2e, ma.e2e)
      Some((Seq(mt, ma), mt.layers ++ fromListeners ++ extras))
    }
    val layers = traced.map(_._2).getOrElse(Map.empty[String, Double])
    wl.teardown()
    spark.stop()

    val values = if (ctx.trace) layers else e2e
    // a layer the workload does not exercise reports 0
    val metrics = defs.map { d =>
      val v = values.getOrElse(d.name,
        if (ctx.trace) 0.0 else throw new IllegalStateException(s"no value for ${d.name}"))
      require(!v.isNaN && !v.isInfinite, s"${d.name} is $v")
      d -> v
    }
    // a traced run's checks count every measure
    val more = traced.map(_._1).getOrElse(Nil)
    val attempted = m.attempted + more.map(_.attempted).sum
    val failed = m.failed + more.map(_.failed).sum
    val failedRatio = failed.toDouble / math.max(attempted, 1L)
    val samples = m.samples ++ Map("setup_s" -> setupS.size,
      "heap_peak_mb" -> 1, "failed_ratio" -> attempted.toInt)
    writeReport(ctx, e2e, samples, m, attempted, failed, setupS, failedRatio, layers, steal)
    val all = e2e + ("failed_ratio" -> failedRatio)
    EndToEnd.foreach { d =>
      all.get(d.name).foreach(v => println(f"${ctx.workload}%-12s ${d.name}%-17s " +
        f"${Json.num(v)}%18s ${d.unit}%-5s n=${samples.getOrElse(d.name, 0)}"))
    }
    val metricJson = metrics.map { case (d, v) =>
      s"${Json.str(d.name)}: {${"\"value\""}: ${Json.num(v)}, ${"\"unit\""}: ${Json.str(d.unit)}}"
    }.mkString("{", ", ", "}")
    println(s"""PERFBENCH_RESULT {"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": $metricJson}""")
  }

  private def write(f: File, body: String): Unit = {
    f.getParentFile.mkdirs()
    Files.write(f.toPath, body.getBytes(UTF_8))
  }

  private def writeReport(ctx: Ctx, e2e: Map[String, Double],
      samples: Map[String, Int], m: Measured, attempted: Long, failed: Long,
      setupS: Seq[Double], failedRatio: Double, layers: Map[String, Double],
      steal: Option[Double]): Unit = {
    val report = Map(
      "workload" -> ctx.workload, "seed" -> ctx.seed, "seconds" -> ctx.seconds,
      "trace" -> ctx.trace, "cores" -> ctx.cores,
      "attempted" -> attempted, "failed" -> failed,
      "failed_ratio" -> failedRatio,
      "end_to_end" -> e2e.toSeq.sortBy(_._1).toMap,
      "samples" -> samples,
      "setup_rounds_s" -> setupS,
      "host_steal_share" -> steal,
      "per_layer" -> layers.toSeq.sortBy(_._1).toMap,
      "details" -> m.details)
    write(new File(ctx.out, s"${ctx.workload}-s${ctx.seed}-t${if (ctx.trace) 1 else 0}.json"),
      Json.render(report) + "\n")
  }

  /** Spans, per-layer self time, and the traced measure's end-to-end
    * figures against the untraced measures before and after it. */
  private def writeSpans(ctx: Ctx, spans: Seq[Span], before: Map[String, Double],
      traced: Map[String, Double], after: Map[String, Double]): Unit = {
    val overhead = Seq("wall_s", "cpu_s", "batch_ms_p50").map { k =>
      k -> Map("untraced_before" -> before(k), "traced" -> traced(k),
        "untraced_after" -> after(k),
        "overhead_pct" -> 100.0 * (traced(k) / ((before(k) + after(k)) / 2) - 1.0))
    }.toMap
    val body = Map(
      "workload" -> ctx.workload, "seed" -> ctx.seed,
      "tracing_overhead" -> overhead,
      "layers" -> Tracer.layerTimes(spans),
      "spans" -> spans.sortBy(_.startUs).map(s => Map("id" -> s.id,
        "layer" -> s.layer, "name" -> s.name, "start_us" -> s.startUs,
        "dur_us" -> s.durUs)))
    write(new File(ctx.out, s"spans-${ctx.workload}-s${ctx.seed}.json"), Json.render(body) + "\n")
  }
}
