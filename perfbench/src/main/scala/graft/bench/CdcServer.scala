package graft.bench

import java.io.{BufferedOutputStream, InputStream, OutputStream}
import java.net.{InetAddress, ServerSocket, Socket, SocketTimeoutException}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch}
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport

import graft.cdc.Protocol

/** In-process MaxScale CDC protocol server on a loopback TCP port.
  *
  * Speaks the avrorouter handshake: the auth blob
  * (`hex(user ":" sha1(password))`) is verified, then `REGISTER
  * UUID=…, TYPE=JSON` and `REQUEST-DATA db.table` are answered, and the
  * requested table's feed streams schema first. Connections are served
  * one at a time, each by the accept thread itself, so the load comes
  * from one generator thread on one TCP connection.
  *
  * Two feed kinds, chosen per table:
  *  - [[Backlog]]: the whole capture is queued at once (catch-up);
  *  - [[Paced]]: an open loop at a fixed rate, each event stamped with
  *    its scheduled send time; it starts on [[Paced.go]] and records
  *    lateness against the schedule.
  * Both record the time spent blocked in socket writes (TCP
  * backpressure from a slow reader).
  */
final class CdcServer extends AutoCloseable {
  import CdcServer._

  private val server = new ServerSocket(0, 8, InetAddress.getLoopbackAddress)
  private val feeds = new ConcurrentHashMap[String, Feed]()
  @volatile private var current: Socket = _
  /** Lines written on the current connection. */
  val connectionLines = new AtomicLong()
  /** Nanoseconds spent inside socket writes. */
  val sendBlockedNs = new AtomicLong()

  def port: Int = server.getLocalPort
  def register(table: String, feed: Feed): Unit = feeds.put(table, feed)

  private val acceptor = new Thread(() => {
    try {
      while (!server.isClosed) {
        val s = server.accept()
        current = s
        connectionLines.set(0L)
        try serve(s)
        catch { case _: java.io.IOException => } // client went away
        finally try s.close() catch { case _: Throwable => }
      }
    } catch { case _: java.io.IOException => } // server closed
  }, "perfbench-cdc-server")
  acceptor.setDaemon(true)
  acceptor.start()

  override def close(): Unit = {
    server.close()
    Option(current).foreach(s => try s.close() catch { case _: Throwable => })
    feeds.values().forEach(_.cancel())
    acceptor.join(5000)
  }

  /** Commands carry no terminator on this protocol: read until the
    * buffer holds a complete command, then until the line goes quiet
    * for a moment (a trailing GTID arrives in the same write). */
  private def readCommand(in: InputStream, s: Socket,
      complete: String => Boolean): String = {
    val sb = new StringBuilder
    val deadline = System.currentTimeMillis() + 10000
    var done = false
    while (!done && System.currentTimeMillis() < deadline) {
      s.setSoTimeout(if (complete(sb.toString)) 20 else 1000)
      try {
        val c = in.read()
        if (c == -1) done = true else sb.append(c.toChar)
      } catch {
        case _: SocketTimeoutException => if (complete(sb.toString)) done = true
      }
    }
    sb.toString
  }

  private def serve(s: Socket): Unit = {
    s.setTcpNoDelay(true)
    val in = s.getInputStream
    val out = new BufferedOutputStream(s.getOutputStream, 1 << 16)
    def reply(line: String): Unit = {
      out.write((line + "\n").getBytes(UTF_8)); out.flush()
    }
    val expectedAuth = Protocol.formatAuthCommand(Capture.User, Capture.Password)
    val auth = readCommand(in, s, _.length >= expectedAuth.length)
    if (auth != expectedAuth) { reply("ERR access denied"); return }
    reply("OK")
    val reg = readCommand(in, s, _.endsWith("TYPE=JSON"))
    if (!reg.startsWith("REGISTER UUID=")) {
      reply("ERR invalid registration message"); return
    }
    reply("OK")
    val req = readCommand(in, s, r => r.split(" ").length >= 2)
    val target = req.split(" ").lift(1).getOrElse("")
    val table = target.split('.') match {
      case Array(Capture.Database, t, _*) => t
      case _ => ""
    }
    val feed = feeds.get(table)
    if (!req.startsWith("REQUEST-DATA ") || feed == null) {
      reply(s"ERR NO-SUCH-TABLE $target"); return
    }
    s.setSoTimeout(0)
    feed.stream(new Sink(s.getOutputStream))
    // live binlog tail: hold the connection until the client closes it
    while (in.read() != -1) ()
  }

  /** Counting, timing writer over the client socket. */
  final class Sink(out: OutputStream) {
    def write(bytes: Array[Byte], off: Int, len: Int, lines: Int): Unit = {
      val t0 = System.nanoTime()
      out.write(bytes, off, len)
      out.flush()
      sendBlockedNs.addAndGet(System.nanoTime() - t0)
      connectionLines.addAndGet(lines)
    }
    def writeLine(line: String): Unit = {
      val b = (line + "\n").getBytes(UTF_8)
      write(b, 0, b.length, 1)
    }
  }
}

object CdcServer {
  sealed trait Feed {
    def stream(sink: CdcServer#Sink): Unit
    def cancel(): Unit = ()
    /** Largest delay of a line behind its scheduled send time. */
    @volatile var lateMaxUs = 0L
  }

  /** All lines queued at once, in 64 KiB writes; every line is due at
    * connect, so a line's lateness is how long TCP backpressure held it
    * back. */
  final class Backlog(capture: Capture.Backlog) extends Feed {
    private val bytes = capture.bytes
    override def stream(sink: CdcServer#Sink): Unit = {
      val t0 = Clock.nowUs
      var off = 0
      while (off < bytes.length) {
        var end = math.min(off + (1 << 16), bytes.length)
        while (end < bytes.length && bytes(end - 1) != '\n') end += 1
        var lines = 0
        var i = off
        while (i < end) { if (bytes(i) == '\n') lines += 1; i += 1 }
        lateMaxUs = math.max(lateMaxUs, Clock.nowUs - t0)
        sink.write(bytes, off, end - off, lines)
        off = end
      }
    }
  }

  /** Open loop: `events` changes at `ratePerSec`, starting when
    * [[go]] is called. The schema line is sent on connect. */
  final class Paced(table: String, val gen: Capture.TailGenerator,
      ratePerSec: Double, events: Int) extends Feed {
    private val started = new CountDownLatch(1)
    @volatile private var t0Us = 0L
    @volatile private var cancelled = false
    private val finished = new CountDownLatch(1)
    /** DML lines written, and their bytes. */
    @volatile var lines = 0L
    @volatile var bytes = 0L
    /** Open the schedule at `startUs` on [[Clock]]. */
    def go(startUs: Long): Unit = { t0Us = startUs; started.countDown() }
    def awaitDone(timeoutMs: Long): Boolean =
      finished.await(timeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS)
    override def cancel(): Unit = { cancelled = true; started.countDown() }

    override def stream(sink: CdcServer#Sink): Unit = {
      sink.writeLine(Capture.ddl(table, Protocol.formatGtid(0, 3000, 1000)))
      started.await()
      var i = 0
      while (i < events && !cancelled) {
        val sched = t0Us + (i * 1e6 / ratePerSec).toLong
        var now = Clock.nowUs
        while (now < sched) {
          LockSupport.parkNanos((sched - now) * 1000L)
          now = Clock.nowUs
        }
        lateMaxUs = math.max(lateMaxUs, now - sched)
        gen.next(sched).foreach { e =>
          val line = Capture.dml(table, e)
          sink.writeLine(line)
          lines += 1
          bytes += line.length + 1
        }
        i += 1
      }
      finished.countDown()
    }
  }
}
