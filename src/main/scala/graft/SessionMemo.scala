package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** The one per-session memo for frames that several queries share
  * (an index, a derived relation, a driver-loop result): built once
  * per (session, key), served to every later call on that session,
  * released by [[clear]].
  *
  * Key: the session object itself, plus a caller key such as
  * `("dedup.shingles", dir)` or `("llm.ivf", dir, numCells)`.
  * `SparkSession` keeps identity `equals`/`hashCode`, so two live
  * sessions never share an entry and no id has to be minted. A weak
  * map would buy nothing: every memo value is a Dataset whose
  * `QueryExecution` (and any `LogicalRDD` leaf) holds its session
  * strongly, so a value always keeps its own key reachable and a weak
  * entry would never clear. Lifetime is therefore explicit.
  *
  * Lock: `build` runs outside any lock (`TrieMap.getOrElseUpdate`
  * semantics). Builds nest (pairCounts → shinglesCapped → shingles)
  * and write this same map, which `ConcurrentHashMap.computeIfAbsent`
  * forbids ("Recursive update"), and builds run Spark jobs (BPE round
  * collects, IVF k-means) that must not hold a map lock. Two threads
  * racing on one key may both build; the first insert wins and both
  * callers get it.
  *
  * Storage is the caller's choice: each site still persists or
  * `lineageCut`s its own frame, so memoizing changes no query plan.
  *
  * Lifetime: [[clear]] drops a session's entries and releases what
  * they hold — `unpersist` on every memoized Dataset (also inside
  * tuple and case-class values, e.g. an IVF index), plus the
  * checkpoint RDD under a lineage-cut frame's `LogicalRDD` root.
  * Multi-session servers call it when they drop a session. Entries
  * whose `SparkContext` has stopped are dropped on the next insert;
  * a dead context has nothing left to unpersist.
  *
  * Spark's `CacheManager` is shared by all sessions of a context and
  * is not reference-counted: clearing one session also uncaches an
  * equal plan another session persisted. That costs the other session
  * a recompute, never a wrong answer. */
object SessionMemo {
  private val entries = TrieMap.empty[(SparkSession, Any), AnyRef]

  def apply[A <: AnyRef](s: SparkSession, key: Any)(build: => A): A =
    entries.getOrElseUpdate((s, key), { dropStopped(); build })
      .asInstanceOf[A]

  def clear(s: SparkSession): Unit =
    for (k <- entries.keys if k._1 eq s; v <- entries.remove(k)) release(v)

  private[graft] def entryCount(s: SparkSession): Int =
    entries.keys.count(_._1 eq s)

  private def dropStopped(): Unit =
    entries.keys.filter(_._1.sparkContext.isStopped).foreach(entries.remove)

  private def release(v: Any): Unit = v match {
    case d: Dataset[_] =>
      d.unpersist(blocking = false)
      d.queryExecution.logical match {
        case r: LogicalRDD => r.rdd.unpersist(blocking = false)
        case _ =>
      }
    case p: Product => p.productIterator.foreach(release)
    case _ =>
  }
}
