package graft.bench

import java.nio.charset.StandardCharsets.UTF_8

import graft.cdc.Protocol

/** Seeded MaxScale CDC change lines in the golden wire shapes of
  * FIXTURES.md §A (the avrorouter JSON format: schema record first,
  * then one JSON object per row event, envelope keys first).
  *
  * The table is `test.tests(id INT, label VARCHAR(32), amount BIGINT,
  * sched_us BIGINT)`. `sched_us` is the benchmark's own payload column:
  * the time the generator scheduled the event, on [[Clock]].
  */
object Capture {
  val Database = "test"
  val User = "bench"
  val Password = "bench-secret"
  /** Two replication domains, each with its own server id and
    * sequence counter (GTID `domain-server-sequence`). */
  val Domains: Array[(Int, Int)] = Array((0, 3000), (1, 3001))

  def ddl(table: String, gtid: String): String =
    s"""{"namespace": "MaxScaleChangeDataSchema.avro", "type": "record", "name": "ChangeRecord", "table": "$table", "database": "$Database", "version": 1, "gtid": "$gtid", "fields": [{"name": "domain", "type": "int"}, {"name": "server_id", "type": "int"}, {"name": "sequence", "type": "int"}, {"name": "event_number", "type": "int"}, {"name": "timestamp", "type": "int"}, {"name": "event_type", "type": {"type": "enum", "name": "EVENT_TYPES", "symbols": ["insert", "update_before", "update_after", "delete"]}}, {"name": "id", "type": ["null", "int"], "real_type": "int", "length": -1}, {"name": "label", "type": ["null", "string"], "real_type": "varchar", "length": 32}, {"name": "amount", "type": ["null", "long"], "real_type": "bigint", "length": -1}, {"name": "sched_us", "type": ["null", "long"], "real_type": "bigint", "length": -1}]}"""

  /** One row event; an UPDATE is two of these (before/after image)
    * sharing a sequence, as the avrorouter emits it. */
  final case class Event(domain: Int, serverId: Int, sequence: Long,
      eventNumber: Int, eventType: String, id: Int, label: String,
      amount: Long, schedUs: Long)

  def dml(table: String, e: Event): String =
    s"""{"domain": ${e.domain}, "server_id": ${e.serverId}, "sequence": ${e.sequence}, "event_number": ${e.eventNumber}, "timestamp": ${1700000000L + e.sequence / 100}, "event_type": "${e.eventType}", "table_name": "$table", "table_schema": "$Database", "id": ${e.id}, "label": "${e.label}", "amount": ${e.amount}, "sched_us": ${e.schedUs}}"""

  /** Per-domain sequence counters and the seeded random source every
    * generated change history draws from. */
  final class History(seed: Long) {
    val rng = new java.util.Random(seed)
    private val seqs = Array.fill(Domains.length)(1000L)
    def next(eventType: String, id: Int, amount: Long, schedUs: Long,
        before: Option[Long] = None): Seq[Event] = {
      val d = rng.nextInt(Domains.length)
      seqs(d) += 1
      val (domain, server) = Domains(d)
      val label = s"k$id"
      before match {
        case Some(old) => Seq(
          Event(domain, server, seqs(d), 1, "update_before", id, label, old,
            schedUs),
          Event(domain, server, seqs(d), 2, "update_after", id, label, amount,
            schedUs))
        case None =>
          Seq(Event(domain, server, seqs(d), 1, eventType, id, label, amount,
            schedUs))
      }
    }
    def lastGtid: String = {
      val (domain, server) = Domains(0)
      Protocol.formatGtid(domain, server, seqs(0))
    }
  }

  /** A catch-up backlog: the lines in wire order (schema first, and the
    * schema re-sent once half-way) and the DML events they carry.
    * Mostly inserts of fresh keys, with some updates and deletes of
    * earlier keys. */
  final case class Backlog(table: String, lines: Array[String],
      events: Array[Event]) {
    lazy val bytes: Array[Byte] =
      lines.mkString("", "\n", "\n").getBytes(UTF_8)
  }

  def backlog(table: String, seed: Long, dmlLines: Int): Backlog = {
    val h = new History(seed)
    val lines = Array.newBuilder[String]
    val events = Array.newBuilder[Event]
    lines += ddl(table, h.lastGtid)
    var n = 0
    var nextId = 1
    var resent = false
    val amounts = new scala.collection.mutable.HashMap[Int, Long]
    while (n < dmlLines) {
      if (!resent && n >= dmlLines / 2) {
        lines += ddl(table, h.lastGtid); resent = true
      }
      val r = h.rng.nextInt(100)
      val evs =
        if (r < 90 || amounts.isEmpty || n + 2 > dmlLines) {
          val id = nextId; nextId += 1
          val amount = h.rng.nextInt(1000000).toLong
          amounts(id) = amount
          h.next("insert", id, amount, n.toLong)
        } else {
          val id = 1 + h.rng.nextInt(nextId - 1)
          amounts.get(id) match {
            case Some(old) if r < 96 =>
              val amount = h.rng.nextInt(1000000).toLong
              amounts(id) = amount
              h.next("update_after", id, amount, n.toLong, before = Some(old))
            case Some(old) =>
              amounts.remove(id)
              h.next("delete", id, old, n.toLong)
            case None =>
              val amount = h.rng.nextInt(1000000).toLong
              amounts(id) = amount
              h.next("insert", id, amount, n.toLong)
          }
        }
      evs.foreach { e => lines += dml(table, e); events += e }
      n += evs.size
    }
    Backlog(table, lines.result(), events.result())
  }

  /** Zipf(s) sampler over keys 1..k by inverse CDF. */
  final class Zipf(k: Int, s: Double) {
    private val cdf = {
      val w = (1 to k).map(i => 1.0 / math.pow(i, s))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
    }
    def sample(rng: java.util.Random): Int = {
      val u = rng.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      (if (i >= 0) i else -i - 1).min(k - 1) + 1
    }
  }

  /** Open-loop change generator for the live tail: a Zipf-hot key set,
    * update/delete-heavy once keys exist. Keeps the reference snapshot
    * (argmax per key, deletes applied) of everything it generated. */
  final class TailGenerator(seed: Long, keys: Int) {
    private val h = new History(seed)
    private val zipf = new Zipf(keys, 1.1)
    private val amounts = new scala.collection.mutable.HashMap[Int, Long]
    /** key -> (sequence, sched_us, amount) of the live row. */
    val reference = new scala.collection.mutable.HashMap[Int, (Long, Long, Long)]
    var events = 0L

    def next(schedUs: Long): Seq[Event] = {
      val id = zipf.sample(h.rng)
      val amount = h.rng.nextInt(1000000).toLong
      val evs = amounts.get(id) match {
        case None =>
          amounts(id) = amount
          h.next("insert", id, amount, schedUs)
        case Some(old) if h.rng.nextInt(100) < 75 =>
          amounts(id) = amount
          h.next("update_after", id, amount, schedUs, before = Some(old))
        case Some(old) =>
          amounts.remove(id)
          h.next("delete", id, old, schedUs)
      }
      val last = evs.last
      if (last.eventType == "delete") reference.remove(id)
      else reference(id) = (last.sequence, schedUs, last.amount)
      events += evs.size
      evs
    }
  }
}

/** One monotone microsecond clock shared by the generator (which stamps
  * `sched_us`) and the sink callback (which measures freshness). */
object Clock {
  private val baseNanos = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = baseUs + (System.nanoTime() - baseNanos) / 1000L
}
