package graft.sources

import java.io.File
import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, CyclicBarrier, TimeUnit}
import java.util.concurrent.atomic.AtomicReference

import graft.LocalSpark
import org.scalatest.funsuite.AnyFunSuite

/** A graft-manifest commit that races a row-level DELETE or an append.
  * One task of the running job is held at its first row whose key is at
  * or above a bound (`held_from`) until the racing commit has published,
  * so the interleaving is forced rather than timed: the running job
  * starts before the racing commit and commits after it.
  *
  *  - A racing append is kept: the DELETE's commit reads the head under
  *    the commit lock and rebases onto it.
  *  - A racing compaction removes the file the DELETE masks, so the
  *    DELETE fails loudly, deletes its delete files, and leaves the
  *    compacted table as it was.
  *  - A DELETE or an append that commits while another job runs leaves
  *    the files that job's finished tasks have already written (delete
  *    files of a DELETE, data files of an append) in place: no commit
  *    sweeps unreferenced files.
  *
  * Two appends to one branch, whose write tasks meet at a barrier
  * (`paired`) so that both commits start together, both land: a branch
  * commit reads the branch head under the commit lock.
  */
class ManifestConcurrencySpec extends AnyFunSuite {
  import ManifestConcurrencySpec.gate

  private lazy val spark = {
    val s = LocalSpark.spark
    s.udf.register("held_from", (k: Long, from: Long) => {
      if (k >= from) {
        val (scanning, committed) = gate
        scanning.countDown()
        committed.await(60, TimeUnit.SECONDS)
      }
      true
    })
    s.udf.register("paired", (_: Long) => {
      ManifestConcurrencySpec.pair.await(60, TimeUnit.SECONDS)
      true
    })
    s
  }

  private def scratch(tag: String): String =
    Files.createTempDirectory(s"graft-race-$tag").toString

  private def keys(dir: String): Seq[Long] =
    spark.read.format("graft-manifest").load(dir)
      .collect().map(_.getLong(0)).toSeq.sorted

  private def writeRange(dir: String, from: Long, until: Long,
      mode: String): Unit =
    spark.range(from, until).toDF("k").coalesce(1)
      .write.mode(mode).format("graft-manifest").save(dir)

  /** Files under `dir` whose names end with `suffix`, once there are at
    * least `n` of them (waits up to 60 s). */
  private def awaitFiles(dir: String, suffix: String, n: Int): Seq[String] = {
    def files = new File(dir).list().filter(_.endsWith(suffix)).toSeq
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
    while (files.size < n && System.nanoTime() < deadline) Thread.sleep(10)
    files
  }

  /** `ManifestSink.delete(dir, "held_from(k, <from>) AND <cond>")`, with
    * `racer` run as in [[racing]]. */
  private def deleteRacing(dir: String, cond: String,
      from: Long = 0L)(racer: => Unit): Long =
    racing(ManifestSink.delete(spark, dir, s"held_from(k, $from) AND $cond"))(
      racer)

  /** Runs `job`, one of whose tasks calls `held_from`, with `racer` run
    * on a second thread once that task is held; the task resumes when
    * `racer` returns. */
  private def racing[A](job: => A)(racer: => Unit): A = {
    val scanning = new CountDownLatch(1)
    val committed = new CountDownLatch(1)
    gate = (scanning, committed)
    val failure = new AtomicReference[Throwable]
    val t = new Thread(() =>
      try { scanning.await(60, TimeUnit.SECONDS); racer }
      catch { case e: Throwable => failure.set(e) }
      finally committed.countDown())
    t.start()
    try job
    finally {
      t.join()
      Option(failure.get).foreach(e => throw e)
    }
  }

  test("an append that commits while a DELETE runs is kept") {
    val dir = scratch("append")
    writeRange(dir, 0, 100, "overwrite")
    val n = deleteRacing(dir, "k < 10") {
      writeRange(dir, 100, 200, "append")
    }
    assert(n === 10)
    assert(keys(dir) === (10L until 200L))
  }

  test("a DELETE whose masked file a compaction replaced fails and leaves nothing behind") {
    val dir = scratch("compact")
    writeRange(dir, 0, 100, "overwrite")
    val masked = ManifestSink.readManifest(dir).files.map(_.name)
    var compacted: ManifestSink.Manifest = null
    val e = intercept[IllegalStateException] {
      deleteRacing(dir, "k < 10") {
        ManifestSink.compact(spark, dir, 1)
        compacted = ManifestSink.readManifest(dir)
      }
    }
    assert(masked.exists(e.getMessage.contains), e.getMessage)
    val head = ManifestSink.readManifest(dir)
    assert(head.version === compacted.version)
    assert(head.files === compacted.files)
    assert(keys(dir) === (0L until 100L))
    assert(!new File(dir).list().exists(_.endsWith(ManifestSink.DelSuffix)))
  }

  /** DELETE A of keys below 10 and from 190 on a two-file table of keys
    * 0 until 200. A's task over keys 0..99 writes its delete file; then
    * `racer` runs while A's task over keys 100..199 is held. Returns A's
    * count. */
  private def deleteRacingWritten(dir: String)(racer: => Unit): Long = {
    writeRange(dir, 0, 100, "overwrite")
    writeRange(dir, 100, 200, "append")
    deleteRacing(dir, "(k < 10 OR k >= 190)", from = 100L) {
      assert(awaitFiles(dir, ManifestSink.DelSuffix, 1).size === 1,
        "A's first task wrote no delete file")
      racer
    }
  }

  test("a DELETE that commits while another DELETE runs keeps the other's written delete files") {
    val dir = scratch("deletes")
    val n = deleteRacingWritten(dir) {
      assert(ManifestSink.delete(spark, dir,
        "k BETWEEN 50 AND 59 OR k BETWEEN 150 AND 159") === 20L)
    }
    assert(n === 20L)
    assert(keys(dir) === (10L until 190L)
      .filterNot(k => k % 100 >= 50 && k % 100 < 60))
  }

  test("an append that commits while a DELETE runs keeps the DELETE's written delete files") {
    val dir = scratch("append-deletes")
    val n = deleteRacingWritten(dir) { writeRange(dir, 200, 300, "append") }
    assert(n === 20L)
    assert(keys(dir) === (10L until 190L) ++ (200L until 300L))
  }

  test("an append that commits while another append runs keeps the other's written data files") {
    val dir = scratch("appends")
    writeRange(dir, 0, 100, "overwrite")
    // the running append's task over keys 100..199 writes its data
    // file; its task over keys 200..299 is held until the racer has
    // committed
    racing(spark.range(100, 300, 1, 2).toDF("k").filter("held_from(k, 200)")
      .write.mode("append").format("graft-manifest").save(dir)) {
      assert(awaitFiles(dir, ManifestSink.DataSuffix, 2).size === 2,
        "the running append's first task wrote no data file")
      writeRange(dir, 300, 400, "append")
    }
    assert(keys(dir) === (0L until 400L))
  }

  test("concurrent appends to one branch from two threads all land") {
    val dir = scratch("branch")
    writeRange(dir, 0, 1, "overwrite")
    ManifestSink.createBranch(dir, "audit")
    val rounds = 8
    (0 until rounds).foreach { r =>
      ManifestConcurrencySpec.pair = new CyclicBarrier(2)
      val failure = new AtomicReference[Throwable]
      val threads = (1 to 2).map { i =>
        val k = 2L * r + i
        new Thread(() =>
          try spark.range(k, k + 1, 1, 1).toDF("k").filter("paired(k)")
            .write.mode("append").format("graft-manifest")
            .option("branch", "audit").save(dir)
          catch { case e: Throwable => failure.set(e) })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      Option(failure.get).foreach(e => throw e)
    }
    assert(spark.read.format("graft-manifest").option("branch", "audit")
      .load(dir).collect().map(_.getLong(0)).toSeq.sorted ===
      (0L to 2L * rounds))
    assert(ManifestSink.readBranch(dir, "audit").version === 1L + 2 * rounds)
    assert(keys(dir) === Seq(0L))
  }
}

object ManifestConcurrencySpec {
  /** Where two concurrent writes' tasks meet. */
  @volatile var pair: CyclicBarrier = new CyclicBarrier(1)

  /** (the DELETE's scan has started, the racing commit has returned). */
  @volatile var gate: (CountDownLatch, CountDownLatch) =
    (new CountDownLatch(0), new CountDownLatch(0))
}
