package graft.cdc.source

import java.io.{BufferedReader, InputStreamReader}
import java.net.{InetSocketAddress, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicReference

import graft.cdc.Protocol

import scala.jdk.CollectionConverters._

/** Line transport for the CDC stream: where raw NDJSON event lines
  * come from. Two implementations — the real socket protocol and a
  * file replay for tests/CI (the MaxScale server of the reference's
  * docker harness is not available here; replay covers the decode
  * path with identical bytes).
  */
trait CdcTransport extends AutoCloseable {
  /** Perform handshake / open input; begin buffering lines. */
  def start(): Unit
  /** Drain lines buffered since the last poll (order-preserving). */
  def poll(): Seq[String]
  /** Terminal error from the pump thread, if any. */
  def error: Option[Throwable]
}

/** TCP transport speaking the MaxScale CDC protocol: connect →
  * authenticate → register → request-data, then scan newline-delimited
  * JSON events off the socket (reference lifecycle `client.go:144-162`,
  * pump `client.go:253-287`).
  *
  * Faithful behaviors: 5 s default handshake timeouts
  * (`client.go:31-35`); `ERR` replies fail the handshake
  * (`client.go:393-408`); pre-schema `ERR` lines on the data stream
  * are logged and skipped — wait-for-schema (`client.go:261-267`,
  * pinned by `client_test.go:53-66`); the read deadline is cleared for
  * streaming reads (`client.go:232-234`); closing the socket unblocks
  * the pump (`client.go:166-181`).
  */
final class SocketTransport(
    host: String, port: Int, user: String, password: String, uuid: String,
    database: String, table: String, version: Option[Int],
    gtid: Option[String], connectTimeoutMs: Int = 5000,
    readTimeoutMs: Int = 5000,
    schemaWaitMaxMs: Long = 0L,
    writeTimeoutMs: Int = 5000,
    maxLineBytes: Int = SocketTransport.DefaultMaxLineBytes)
  extends CdcTransport {

  private val socket = new Socket()
  private val queue = new ConcurrentLinkedQueue[String]()
  private val err = new AtomicReference[Throwable](null)
  @volatile private var pump: Thread = _
  @volatile private var closed = false

  override def start(): Unit = {
    socket.connect(new InetSocketAddress(host, port), connectTimeoutMs)
    socket.setSoTimeout(readTimeoutMs)
    val out = socket.getOutputStream
    // Line scan is BOUNDED at `maxLineBytes` (default 1 MiB), the
    // reference's scanner cap (client.go:17 maxScanTokenSize, applied
    // at client.go:257): a corrupt / binary-garbage / malicious stream
    // that never emits a newline fails the scan loudly within the cap
    // instead of accumulating one unbounded String and OOMing the
    // reader task.
    val in = new BoundedLineReader(
      new BufferedReader(new InputStreamReader(socket.getInputStream,
        UTF_8)),
      maxLineBytes, s"$host:$port (stream $database.$table)")
    // Handshake writes carry a WRITE deadline (reference R23 sets one,
    // client.go:371-381 — implemented correctly here; the reference's
    // own WithWriteTimeout assigns the READ timeout, its R4 copy-paste
    // bug, deliberately not replicated). Java blocking sockets have no
    // native write timeout, so a watchdog closes the socket if a write
    // is still blocked after `writeTimeoutMs` — a hung broker with a
    // full TCP buffer fails the handshake loudly instead of wedging
    // the reader task forever.
    def send(msg: String): Unit = {
      // Exactly ONE of {write-success, watchdog} wins `settled` (CAS):
      // a watchdog that loses the race skips closing the socket (so a
      // write that completed concurrently with the deadline proceeds
      // on an OPEN socket), and a write whose watchdog won reports the
      // timeout message even if its own IO call had already returned.
      // (TimerTask.cancel() cannot stop an already-running task —
      // cancel alone left a close/complete race.)
      val settled = new java.util.concurrent.atomic.AtomicBoolean(false)
      val watchdog = new java.util.TimerTask {
        override def run(): Unit =
          if (settled.compareAndSet(false, true)) {
            try socket.close() catch { case _: Throwable => }
          }
      }
      def timeoutErr(cause: Throwable): java.io.IOException = {
        val e = new java.io.IOException(
          s"write to $host:$port timed out after ${writeTimeoutMs}ms " +
            s"(server not reading — stream $database.$table)")
        if (cause != null) e.initCause(cause)
        e
      }
      SocketTransport.writeWatchdog.schedule(watchdog, writeTimeoutMs.toLong)
      try {
        out.write(msg.getBytes(UTF_8)); out.flush()
      } catch {
        case e: java.io.IOException =>
          watchdog.cancel()
          // the CAS tells us who acted first: if the watchdog did, the
          // IO failure IS the timeout (it closed the socket under us)
          if (!settled.compareAndSet(false, true)) throw timeoutErr(e)
          else throw e
      }
      watchdog.cancel()
      if (!settled.compareAndSet(false, true)) throw timeoutErr(null)
    }
    def expectOk(phase: String): Unit = {
      val reply = in.readLine()
      if (reply == null || Protocol.isErrorResponse(reply))
        throw new java.io.IOException(s"$phase failed: $reply")
    }
    send(Protocol.formatAuthCommand(user, password)); expectOk("auth")
    send(Protocol.formatRegisterCommand(uuid)); expectOk("register")
    send(Protocol.formatRequestDataCommand(database, table, version, gtid))
    // Streaming reads block indefinitely (client.go:232-234) — except
    // while a bounded schema wait is active, where a short read
    // timeout keeps the deadline live even if the server goes silent.
    if (schemaWaitMaxMs > 0)
      socket.setSoTimeout(math.min(schemaWaitMaxMs, 1000L).toInt)
    else socket.setSoTimeout(0)
    pump = new Thread(() => {
      try {
        var readSchema = false
        val waitStart = System.currentTimeMillis()
        def failNoSchema(lastReply: String): Nothing =
          throw new java.io.IOException(
            s"no schema for $database.$table after ${schemaWaitMaxMs}ms" +
              s" (last server reply: $lastReply)")
        def deadlineExceeded: Boolean =
          !readSchema && schemaWaitMaxMs > 0 &&
            System.currentTimeMillis() - waitStart > schemaWaitMaxMs
        var line: String = null
        var eof = false
        while (!eof && !closed) {
          try {
            line = in.readLine()
            eof = line == null
          } catch {
            case _: java.net.SocketTimeoutException =>
              // no bytes during the bounded wait — re-check the deadline
              if (deadlineExceeded) failNoSchema("<no reply>")
              line = null
          }
          if (eof) {
            // EOF on an unbounded CDC stream is a server disconnect —
            // surface it, or the query would sit healthy-but-idle
            // forever. (stop() sets `closed` first, so a requested
            // shutdown does not error.)
            if (!closed) throw new java.io.IOException(
              s"connection to $host:$port closed by server " +
                s"(stream $database.$table)")
          } else if (line != null) {
            if (Protocol.isErrorResponse(line)) {
              // Pre-schema ERR ⇒ table not there yet: keep waiting
              // (client.go:261-267; the reference waits forever,
              // schemaWaitMaxMs > 0 bounds it). Post-schema ERR is a
              // server-reported stream error — fail, don't enqueue a
              // garbage row.
              if (readSchema) throw new java.io.IOException(
                s"server error on $database.$table stream: $line")
              if (deadlineExceeded) failNoSchema(line)
            } else {
              if (!readSchema) socket.setSoTimeout(0) // stream mode
              readSchema = true
              queue.add(line)
            }
          }
        }
      } catch {
        case _: Throwable if closed => // socket closed by stop()
        case t: Throwable => err.set(t)
      }
    }, s"maxscale-cdc-pump-$database.$table")
    pump.setDaemon(true)
    pump.start()
  }

  override def poll(): Seq[String] = {
    val buf = Seq.newBuilder[String]
    var l = queue.poll()
    while (l != null) { buf += l; l = queue.poll() }
    buf.result()
  }

  override def error: Option[Throwable] = Option(err.get())

  override def close(): Unit = {
    closed = true
    socket.close() // breaks the blocked read, like conn.Close()
    if (pump != null) pump.join(2000)
  }
}

object SocketTransport {
  /** The reference's scanner cap: 1 MiB (`maxScanTokenSize`,
    * client.go:17, applied to the event scanner at client.go:257). */
  val DefaultMaxLineBytes: Int = 1 << 20

  /** Shared daemon timer backing the per-write deadline watchdogs —
    * one idle thread process-wide, not one per transport. */
  private val writeWatchdog =
    new java.util.Timer("maxscale-cdc-write-watchdog", true)
}

/** `readLine()` with the reference scanner's token cap
  * (client.go:17/257): accumulating more than `maxBytes` ENCODED
  * UTF-8 BYTES without a line terminator fails the scan loudly
  * instead of growing an unbounded String. The cap counts bytes, not
  * UTF-16 chars, matching the reference's byte semantics (a Go
  * scanner's maxScanTokenSize is bytes) — a multibyte stream trips at
  * the same byte budget an ASCII stream does, never ~3x later.
  * Terminator handling matches `BufferedReader.readLine` (`\n`, `\r`,
  * `\r\n`; EOF flushes a final unterminated line). A
  * `SocketTimeoutException` mid-line propagates with the partial line
  * RETAINED, so the bounded schema-wait poll loop (which retries on
  * timeout) never drops buffered bytes.
  */
private[source] final class BoundedLineReader(
    in: java.io.Reader, maxBytes: Int, what: String) {
  private val sb = new java.lang.StringBuilder
  private var skipLf = false
  private var bytes = 0
  private var pendingLow = false

  /** UTF-8 encoded length of this char; a surrogate PAIR is 4 bytes
    * total — counted at the high surrogate, 0 at its trailing low. */
  private def utf8Len(c: Char): Int =
    if (pendingLow && Character.isLowSurrogate(c)) {
      pendingLow = false; 0
    } else {
      pendingLow = Character.isHighSurrogate(c)
      if (c < 0x80) 1 else if (c < 0x800) 2 else if (pendingLow) 4 else 3
    }

  def readLine(): String = {
    while (true) {
      val c = in.read() // SocketTimeoutException propagates; sb keeps
      if (c == -1) { // the partial line for the retry
        if (sb.length == 0) return null
        return flush()
      } else if (skipLf && c == '\n') {
        skipLf = false // the LF of a CRLF already terminated the line
      } else {
        skipLf = false
        if (c == '\n') return flush()
        else if (c == '\r') { skipLf = true; return flush() }
        else {
          bytes += utf8Len(c.toChar)
          if (bytes > maxBytes) throw new java.io.IOException(
            s"line exceeds maxLineBytes=$maxBytes on $what — " +
              "corrupt or non-CDC stream (reference caps its scanner " +
              "at 1 MiB, client.go:17)")
          sb.append(c.toChar)
        }
      }
    }
    null // unreachable
  }

  private def flush(): String = {
    val r = sb.toString
    sb.setLength(0)
    bytes = 0
    pendingLow = false
    r
  }
}

/** File replay transport: NDJSON event dump (DDL first, then DML),
  * replayed in order — the test/CI stand-in for the socket, carrying
  * byte-identical lines through the same decode path. */
final class ReplayTransport(path: String, gtid: Option[String])
    extends CdcTransport {
  private var lines: Seq[String] = Nil
  override def start(): Unit = {
    val all = Files.readAllLines(Paths.get(path), UTF_8).asScala.toSeq
      .filter(_.nonEmpty)
    // Resume-from-GTID: DDL lines always replay (schema-first); DML
    // replays from the BINLOG POSITION of the requested GTID onward,
    // inclusive (server-side seek semantics of WithGTID,
    // client.go:122-126) — position-based so multi-domain feeds resume
    // correctly. If the GTID is not in the file, fall back to the
    // per-sequence skip.
    lines = gtid.flatMap(Protocol.parseGtid) match {
      case Some((d, s, seq)) =>
        val target = Protocol.formatGtid(d, s, seq)
        def decode(l: String) =
          MaxScaleCdcSource.decodeDml(l, s"replay file $path")
        val idx = all.indexWhere(l => Protocol.isDmlEvent(l) &&
          decode(l).gtid == target)
        if (idx >= 0)
          all.zipWithIndex.collect {
            case (l, i) if !Protocol.isDmlEvent(l) || i >= idx => l
          }
        else all.filter(l =>
          !Protocol.isDmlEvent(l) || decode(l).sequence >= seq)
      case None => all
    }
  }
  override def poll(): Seq[String] = {
    val out = lines; lines = Nil; out
  }
  override def error: Option[Throwable] = None
  override def close(): Unit = ()
}
