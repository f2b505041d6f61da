package graft.bench

import java.io.File
import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.SparkSession

object Stats {
  /** Linear-interpolated quantile; NaN on an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Process CPU time, all threads (JIT and GC included). */
object Cpu {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def processNs: Long = os.getProcessCpuTime
}

/** Heap bytes allocated by the process's threads (JVM TLAB
  * accounting). A [[snapshot]] reads every live thread's running total;
  * [[since]] sums what each thread alive now allocated after the
  * snapshot, so a thread that ends in between is not counted: read it
  * before stopping the query whose threads did the work. Unlike CPU
  * time, the figure does not depend on how fast the host runs. */
object Alloc {
  private val mx = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  mx.setThreadAllocatedMemoryEnabled(true)
  val Mb: Double = 1024.0 * 1024.0
  def snapshot(): Map[Long, Long] = {
    val ids = mx.getAllThreadIds
    ids.zip(mx.getThreadAllocatedBytes(ids)).filter(_._2 >= 0).toMap
  }
  def since(from: Map[Long, Long]): Long = between(from, snapshot())
  def between(from: Map[Long, Long], to: Map[Long, Long]): Long =
    to.iterator.map { case (id, b) => b - from.getOrElse(id, 0L) }.sum
}

/** Share of the machine's CPU time the hypervisor gave to other guests
  * (the `steal` column of /proc/stat) between two readings; a
  * diagnostic for the report, absent where /proc/stat is. */
object Steal {
  def read(): Option[Array[Long]] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try Some(src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong))
      finally src.close()
    } catch { case _: Exception => None }
  def share(from: Option[Array[Long]], to: Option[Array[Long]]): Option[Double] =
    for (a <- from; b <- to if a.length > 7) yield {
      val d = a.zip(b).map { case (x, y) => y - x }
      d(7).toDouble / math.max(d.sum, 1L)
    }
}

/** Peak heap in use after a full collection, over explicit samples:
  * each [[sample]] collects and reads the heap's occupancy, so the
  * figure is the live set at that point rather than whatever garbage
  * the last young collection left behind. With `settle`, it collects
  * twice, giving Spark's ContextCleaner time in between to drop the
  * blocks of broadcasts and RDDs the first collection found dead. */
object HeapPeak {
  private val peak = new AtomicLong(0L)
  def reset(): Unit = peak.set(0L)
  def sample(settle: Boolean = false): Unit = {
    System.gc()
    if (settle) { Thread.sleep(300); System.gc() }
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    peak.accumulateAndGet(used, math.max(_, _))
  }
  /** Peak since [[reset]], including a settled sample taken now. */
  def peakBytes(): Long = { sample(settle = true); peak.get() }
}

object Session {
  /** The engine's session configuration (as in `graft.Bench`), with
    * every scratch location inside the benchmark's work directory. */
  def build(cores: Int, work: File): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config(graft.Tables.NanosKey, "true")
      .config(graft.Tables.NtzKey, "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

object FileTree {
  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(deleteTree)
    f.delete()
  }
  def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File])
      .map(treeBytes).sum
    else f.length()
}

/** Minimal JSON rendering for the result and report files. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => xs.map(render).mkString("[", ",", "]")
    case x => str(x.toString)
  }
}
