package graft.sources

import java.nio.file.Files
import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import graft.LocalSpark
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Pins the Spark work of a row-level commit (`ManifestSink.delete` and
  * `merge`, the CDC apply loop's two verbs): delete vectors are written
  * by the scan tasks themselves, with no shuffle, and a MERGE evaluates
  * its source twice, not three times, and appends a small source as one
  * data file. Also pins what makes the no-shuffle commit safe:
  * a data file may get several delete files in one commit, and every
  * reader still sees exact rows and counts.
  */
class RowLevelCommitSpec extends AnyFunSuite {
  private lazy val spark = LocalSpark.spark
  // a shuffled semi-join MERGE: no broadcast, no partition coalescing,
  // so one data file's hits spread over several reduce partitions
  private lazy val shuffled: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    s
  }

  private def scratch(tag: String): String =
    Files.createTempDirectory(s"graft-rowlevel-$tag").toString

  private def keys(s: SparkSession, dir: String): Seq[(Long, Long)] =
    s.read.format("graft-manifest").load(dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  private def writeTarget(s: SparkSession, dir: String, n: Long,
      files: Int): Unit = {
    import s.implicits._
    (0L until n).map(k => (k, k)).toDF("k", "v").repartition(files)
      .write.mode("overwrite").format("graft-manifest").save(dir)
  }

  /** Runs `body` in its own job group and returns its result with the
    * shuffle bytes its tasks wrote. A marker job in the same group ends
    * the count: listener events arrive in order, so once the marker's
    * end is seen, so is every earlier task end. */
  private def shuffleWritten[A](s: SparkSession)(body: => A): (A, Long) = {
    val sc = s.sparkContext
    val group = s"row-level-${UUID.randomUUID()}"
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val bytes = new AtomicLong
    val marker = new AtomicInteger(-1)
    val markerEnded = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group) {
          e.stageIds.foreach(stages.add(_))
          if (e.properties.getProperty("spark.job.description") == "marker")
            marker.set(e.jobId)
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          bytes.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == marker.get) markerEnded.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "row-level commit")
      val out = try body finally {
        sc.setJobDescription("marker")
        sc.parallelize(Seq(1), 1).count()
        sc.clearJobGroup()
      }
      assert(markerEnded.await(60, TimeUnit.SECONDS),
        "listener never saw the marker job end")
      (out, bytes.get)
    } finally sc.removeSparkListener(listener)
  }

  test("delete and merge with a small local source write zero shuffle bytes") {
    val dir = scratch("noshuffle")
    import spark.implicits._
    writeTarget(spark, dir, 200L, 4)
    val (nDel, delBytes) = shuffleWritten(spark) {
      ManifestSink.delete(spark, dir, "k % 7 = 0")
    }
    assert(nDel === 29L) // 0, 7, …, 196
    assert(delBytes === 0L)
    val source = (190L until 210L).map(k => (k, -k)).toDF("k", "v")
    val ((nUpd, nIns), mergeBytes) = shuffleWritten(spark) {
      ManifestSink.merge(spark, dir, source, Seq("k"))
    }
    assert(nUpd === 9L) // 190..199 less the already-deleted 196
    assert(nIns === 20L)
    assert(mergeBytes === 0L)
    val expect = (0L until 190L).filter(_ % 7 != 0).map(k => (k, k)) ++
      (190L until 210L).map(k => (k, -k))
    assert(keys(spark, dir) === expect.sorted)
  }

  test("merge evaluates its source exactly twice; nIns comes from the append's manifest entries") {
    val dir = scratch("twice")
    import spark.implicits._
    writeTarget(spark, dir, 200L, 2)
    val evals = spark.sparkContext.longAccumulator("merge-source-rows")
    val source = spark.range(150L, 250L, 1L, 3)
      .map { k => evals.add(1L); (k.longValue, k * 10L) }.toDF("k", "v")
    val (nUpd, nIns) = ManifestSink.merge(spark, dir, source, Seq("k"))
    assert(nUpd === 50L)
    assert(nIns === 100L)
    assert(evals.value === 2L * 100L,
      "the source is read once for the semi-join keys, once for the append")
    assert(spark.read.format("graft-manifest").load(dir).count() === 250L)

    // an empty source: nothing masked, nothing appended
    val (eUpd, eIns) = ManifestSink.merge(spark, dir,
      Seq.empty[(Long, Long)].toDF("k", "v"), Seq("k"))
    assert((eUpd, eIns) === ((0L, 0L)))
    assert(spark.read.format("graft-manifest").load(dir).count() === 250L)

    // a partitioned target: the source's rows are counted once however
    // many files hold them
    val pdir = scratch("twice-part")
    (0L until 100L).map(k => (k, k)).toDF("k", "v")
      .write.mode("overwrite").format("graft-manifest")
      .option("partitionedBy", "bucket(4, k)").save(pdir)
    assert(ManifestSink.readManifest(pdir).files.size > 1)
    val psrc = spark.range(90L, 130L, 1L, 3).toDF("k")
      .selectExpr("k", "k * 10 AS v")
    assert(ManifestSink.merge(spark, pdir, psrc, Seq("k")) === ((10L, 40L)))
    assert(spark.read.format("graft-manifest").load(pdir).count() === 130L)
  }

  test("merge appends a source no larger than Spark's file open cost as one data file") {
    // files the merge of a 200-row in-memory source adds to a 2-file
    // target; the source scans in defaultParallelism (4) partitions
    def added(s: SparkSession): Int = {
      import s.implicits._
      val dir = scratch("onefile")
      writeTarget(s, dir, 200L, 2)
      val source = (100L until 300L).map(k => (k, -k)).toDF("k", "v")
      assert(source.rdd.getNumPartitions === 4)
      assert(ManifestSink.merge(s, dir, source, Seq("k")) === ((100L, 200L)))
      assert(keys(s, dir) ===
        (0L until 100L).map(k => (k, k)) ++ (100L until 300L).map(k => (k, -k)))
      val head = ManifestSink.readManifest(dir)
      head.files.count(_.seq.contains(head.version))
    }
    assert(added(spark) === 1)
    // an open cost below the source's estimate keeps its partitioning
    val cheap = spark.newSession()
    cheap.conf.set("spark.sql.files.openCostInBytes", "1k")
    assert(added(cheap) === 4)
  }

  test("a shuffled merge gives one data file several delete files; reads, count, time travel and changes stay exact") {
    val s = shuffled
    import s.implicits._
    val dir = scratch("multi")
    writeTarget(s, dir, 400L, 2)                                  // v1
    val matched = (0L until 400L).filter(_ % 3 == 0)
    val source = matched.map(k => (k, -k)).toDF("k", "v")
    val (nUpd, nIns) = ManifestSink.merge(s, dir, source, Seq("k")) // v2, v3
    assert(nUpd === matched.size.toLong)
    assert(nIns === matched.size.toLong)
    val v2 = ManifestSink.readAsOf(dir, Some(2L))
    assert(v2.files.exists(_.deletes.size > 1),
      "expected a data file with several delete files from one commit")
    assert(v2.files.map(_.liveRows).sum === 400L - matched.size)

    val expect = (0L until 400L).map(k => (k, if (k % 3 == 0) -k else k))
    assert(keys(s, dir) === expect)
    assert(s.read.format("graft-manifest").load(dir).count() === 400L)
    def asOf(v: Long): DataFrame =
      s.read.format("graft-manifest").option("asOfVersion", v.toString)
        .load(dir)
    assert(asOf(1L).count() === 400L)
    assert(asOf(2L).count() === 400L - matched.size)
    assert(asOf(2L).collect().map(_.getLong(0)).toSeq.sorted ===
      (0L until 400L).filterNot(_ % 3 == 0))

    def changed(from: Long, to: Long): Set[(Long, Long, String)] =
      ManifestSink.changes(s, dir, from, to)
        .select("k", "v", "_change_type").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(changed(1L, 2L) === matched.map(k => (k, k, "delete")).toSet)
    assert(changed(2L, 3L) === matched.map(k => (k, -k, "insert")).toSet)
  }

  test("a duplicated source key masks each target row once") {
    for (s <- Seq(spark, shuffled)) {
      import s.implicits._
      val dir = scratch("dupkey")
      writeTarget(s, dir, 10L, 2)
      val source = Seq((5L, 50L), (5L, 51L), (6L, 60L)).toDF("k", "v")
      val (nUpd, nIns) = ManifestSink.merge(s, dir, source, Seq("k"))
      assert(nUpd === 2L)
      assert(nIns === 3L) // duplicate keys both insert: the declared contract
      assert(s.read.format("graft-manifest").load(dir).count() === 11L)
      assert(keys(s, dir).count(_._1 == 5L) === 2)
    }
  }
}
