package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Pins the [[SessionMemo]] contract on one persist site (`partsupp`,
  * via composite_q2), the lineage-cut dedup indexes (via
  * llm_dedup_minhash) and the token index released after its build
  * (via llm_dedup_near):
  *  (a) memo entries are per session: a repeat call on a session
  *      reuses its frame, another session gets its own;
  *  (b) `clear` leaves no entry, no persisted RDD and no CacheManager
  *      entry that the session added;
  *  (c) a cleared session rebuilds and answers the same.
  * The tables are a private copy, so no other suite's cached plan is
  * equal to one built here. */
class SessionMemoSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = LocalSpark.spark
  private lazy val dir: String = {
    val src = Paths.get("/root/testdata/sf0.001")
    val dst = Files.createTempDirectory("session-memo")
    Files.walk(src).iterator().asScala.foreach { p =>
      val q = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    }
    dst.toString
  }
  private lazy val s2 = spark.newSession()

  private val queries = Seq("composite_q2", "llm_dedup_minhash", "llm_dedup_near")
  private val keys = Seq("tpch.partsupp", "dedup.shingles",
    "dedup.shinglesCapped", "dedup.bandSig", "llm.tokensCapped")

  private def run(s: SparkSession): Seq[Int] = queries.map { q =>
    SparkEntry.queries(q)(s, dir).collect().map(_.toString).sorted.toSeq.hashCode
  }
  private def memo(s: SparkSession, key: String): DataFrame =
    SessionMemo[DataFrame](s, (key, dir))(fail(s"$key is not memoized"))
  private def persisted: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Frames the shared CacheManager holds (`storageLevel` is its lookup). */
  private def cached(fs: Seq[DataFrame]): Seq[DataFrame] =
    fs.filter(_.storageLevel != StorageLevel.NONE)

  private lazy val rddsBefore = persisted
  private lazy val firstHashes = { rddsBefore; run(s2) }
  private lazy val firstFrames = keys.map(memo(s2, _))

  test("(a) a session reuses its memo; another session gets its own") {
    firstHashes
    val n = SessionMemo.entryCount(s2)
    assert(n == keys.size)
    assert(run(s2) == firstHashes)
    assert(SessionMemo.entryCount(s2) == n)
    keys.zip(firstFrames).foreach { case (k, f) => assert(memo(s2, k) eq f, k) }
    SparkEntry.queries("composite_q2")(spark, dir).count()
    assert(memo(spark, "tpch.partsupp") ne memo(s2, "tpch.partsupp"))
  }

  test("(b) clear leaves no entry, persisted RDD or cache entry behind") {
    assert(persisted.diff(rddsBefore).nonEmpty)
    assert(cached(firstFrames) == Seq(memo(s2, "tpch.partsupp")))
    SessionMemo.clear(s2)
    assert(SessionMemo.entryCount(s2) == 0)
    assert(persisted.diff(rddsBefore).isEmpty)
    assert(cached(firstFrames).isEmpty)
  }

  test("(c) a cleared session rebuilds and answers the same") {
    assert(run(s2) == firstHashes)
    keys.zip(firstFrames).foreach { case (k, f) => assert(memo(s2, k) ne f, k) }
    val frames = keys.map(memo(s2, _))
    SessionMemo.clear(s2)
    assert(persisted.diff(rddsBefore).isEmpty)
    assert(cached(frames).isEmpty)
  }

  override def afterAll(): Unit = {
    deleteTree(Paths.get(dir))
    super.afterAll()
  }

  private def deleteTree(p: Path): Unit =
    Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
}
