package graft.sources

import java.io.File
import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, CyclicBarrier, TimeUnit}
import java.util.concurrent.atomic.AtomicReference

import graft.LocalSpark
import org.scalatest.funsuite.AnyFunSuite

/** A graft-manifest commit that races a row-level DELETE. The DELETE's
  * scan task is held at its first row (`held_true`) until the racing
  * commit has published, so the interleaving is forced rather than
  * timed: the DELETE's job starts before the racing commit and commits
  * after it.
  *
  *  - A racing append is kept: the DELETE's commit reads the head under
  *    the commit lock and rebases onto it.
  *  - A racing compaction removes the file the DELETE masks, so the
  *    DELETE fails loudly, deletes its delete files, and leaves the
  *    compacted table as it was.
  *
  * Two appends to one branch, whose write tasks meet at a barrier
  * (`paired`) so that both commits start together, both land: a branch
  * commit reads the branch head under the commit lock.
  */
class ManifestConcurrencySpec extends AnyFunSuite {
  import ManifestConcurrencySpec.gate

  private lazy val spark = {
    val s = LocalSpark.spark
    s.udf.register("held_true", (_: Long) => {
      val (scanning, committed) = gate
      scanning.countDown()
      committed.await(60, TimeUnit.SECONDS)
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

  /** `ManifestSink.delete(dir, "held_true(k) AND <cond>")`, with `racer`
    * run on a second thread once the DELETE's scan is under way; the
    * scan resumes when `racer` returns. */
  private def deleteRacing(dir: String, cond: String)(racer: => Unit): Long = {
    val scanning = new CountDownLatch(1)
    val committed = new CountDownLatch(1)
    gate = (scanning, committed)
    val failure = new AtomicReference[Throwable]
    val t = new Thread(() =>
      try { scanning.await(60, TimeUnit.SECONDS); racer }
      catch { case e: Throwable => failure.set(e) }
      finally committed.countDown())
    t.start()
    try ManifestSink.delete(spark, dir, s"held_true(k) AND $cond")
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
