package graft.remote

import java.io.{DataOutputStream, EOFException}
import java.net.{ServerSocket, Socket, SocketException, SocketTimeoutException}
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.Executors

import org.apache.spark.sql.graft.ArrowBridge

import graft.tsdb.Engine

/** Remote SQL endpoint over an [[Engine]]: the Spark-native analog of the
  * reference's Arrow Flight `do_get` (ticket = SQL text, response = a
  * stream of Arrow record batches;
  * /root/reference/crates/modelardb_server/src/remote.rs:636-745). Flight's
  * gRPC transport is not on the offline classpath, so the same contract
  * runs over a length-framed TCP protocol carrying the identical payload —
  * self-describing Arrow IPC batches:
  *
  * {{{
  *   request:  int32 n, n bytes UTF-8 SQL
  *   response: byte 0  then per batch (int32 n, n bytes), then int32 -1
  *           | byte 1  then int32 n, n bytes UTF-8 error message
  * }}}
  *
  * Batches are encoded lazily from the executed plan, so the server holds
  * one batch in memory per connection, not the result set. Each connection
  * is one statement (mirroring one Flight call); connections are handled
  * on a cached daemon pool. A client that does not deliver its whole
  * request within [[RemoteServer.RequestTimeoutMs]] of connecting is
  * dropped, so a silent or trickling connection cannot pin a worker
  * thread; executing the statement has no deadline.
  */
final class RemoteServer(engine: Engine, port: Int = 0,
    onStatement: String => Unit = _ => ()) extends AutoCloseable {
  import RemoteServer._

  private val server = new ServerSocket(port)
  @volatile private var running = true

  private val pool = Executors.newCachedThreadPool { r =>
    val t = new Thread(r, "graft-remote-worker"); t.setDaemon(true); t
  }

  /** The bound (possibly ephemeral) port clients should dial. */
  def boundPort: Int = server.getLocalPort

  def address: String = s"graft://localhost:$boundPort"

  private val acceptor = new Thread({ () =>
    while (running) {
      try {
        val socket = server.accept()
        pool.submit(new Runnable { def run(): Unit = handle(socket) })
      } catch {
        case _: SocketException if !running => // closed during accept
        case scala.util.control.NonFatal(_) if running => // keep serving
      }
    }
  }: Runnable, "graft-remote-acceptor")
  acceptor.setDaemon(true)
  acceptor.start()

  private def handle(socket: Socket): Unit = {
    try {
      val out = new DataOutputStream(
        new java.io.BufferedOutputStream(socket.getOutputStream))
      val deadline = System.nanoTime() + RequestTimeoutMs * 1000000L
      val sqlLen = ByteBuffer.wrap(readBefore(socket, 4, deadline)).getInt
      require(sqlLen >= 0 && sqlLen <= 16 * 1024 * 1024, "oversized request")
      val sqlBytes = readBefore(socket, sqlLen, deadline)
      socket.setSoTimeout(0)
      val sqlText = new String(sqlBytes, UTF_8)
      onStatement(sqlText)
      try {
        val batches = ArrowBridge.toBatches(engine.sql(sqlText))
        // Planning/validation errors surface before the first byte is
        // written (toBatches plans eagerly); a mid-STREAM executor failure
        // after status 0 tears the connection, which the client reads as a
        // decode error — the same contract as a failed Flight stream.
        out.writeByte(0)
        batches.foreach { b => out.writeInt(b.length); out.write(b) }
        out.writeInt(-1)
      } catch {
        case scala.util.control.NonFatal(e) =>
          val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
            .getBytes(UTF_8)
          out.writeByte(1); out.writeInt(msg.length); out.write(msg)
      }
      out.flush()
    } catch {
      case scala.util.control.NonFatal(_) => // broken client connection
    } finally socket.close()
  }

  override def close(): Unit = {
    running = false
    server.close()
    pool.shutdownNow()
  }
}

object RemoteServer {
  /** How long a client has, from connecting, to deliver its whole request.
    * Clients write a request in one go, so this only ends connections that
    * stall or trickle their request in. */
  private[remote] val RequestTimeoutMs = 5000

  /** Reads exactly `n` bytes from `socket`, failing once `deadline`
    * (`System.nanoTime`) passes: each read waits only for the time left,
    * so a client that sends one byte at a time cannot restart the clock. */
  private def readBefore(socket: Socket, n: Int, deadline: Long): Array[Byte] = {
    val in = socket.getInputStream
    val buf = new Array[Byte](n)
    var off = 0
    while (off < n) {
      val leftMs = (deadline - System.nanoTime()) / 1000000L
      if (leftMs <= 0) throw new SocketTimeoutException("request timed out")
      socket.setSoTimeout(leftMs.toInt)
      val got = in.read(buf, off, n - off)
      if (got < 0) throw new EOFException("request cut short")
      off += got
    }
    buf
  }
}
