package tsbench

import java.io.{BufferedInputStream, ByteArrayOutputStream}
import java.net.Socket

import graft.protocol.Wire

/** A blocking protocol client: sends one framed statement, reads bytes
  * until its response is complete, and only then decodes. Reading
  * follows the framing (`$`/`!` length, `#` record count, `~` chunks up
  * to the `~0` terminator), so the clock stops at the last byte. */
final class WireClient(port: Int) extends AutoCloseable {
  private val sock = new Socket("127.0.0.1", port)
  sock.setTcpNoDelay(true)
  private val in = new BufferedInputStream(sock.getInputStream, 1 << 16)
  private val out = sock.getOutputStream

  /** Send `sql` and return the raw response frame and the nanoseconds
    * from the send to its last byte. */
  def call(sql: String): (Array[Byte], Long) = {
    val frame = Wire.encodeRequest(sql).fold(e => throw new IllegalArgumentException(e), identity)
    val buf = new ByteArrayOutputStream(1 << 12)
    val t0 = System.nanoTime()
    out.write(frame)
    out.flush()
    readResponse(buf)
    (buf.toByteArray, System.nanoTime() - t0)
  }

  /** One CRLF-terminated line, appended to `buf`; returns it without CRLF. */
  private def line(buf: ByteArrayOutputStream): String = {
    val b = new StringBuilder
    var prev = -1
    var done = false
    while (!done) {
      val c = in.read()
      if (c < 0) throw new java.io.EOFException("server closed the connection mid-response")
      buf.write(c)
      if (prev == '\r' && c == '\n') done = true else if (c != '\r') b += c.toChar
      prev = c
    }
    b.toString
  }

  private def readResponse(buf: ByteArrayOutputStream): Unit = {
    val head = line(buf)
    head.headOption match {
      case Some('$') | Some('!') =>
        val len = head.drop(1).toInt
        val body = in.readNBytes(len + 2)
        if (body.length != len + 2) throw new java.io.EOFException("short string response")
        buf.write(body)
      case Some('#') =>
        (0 until 2 * head.drop(1).toInt).foreach(_ => line(buf))
      case Some('~') =>
        var n = head.drop(1).toInt
        while (n != 0) {
          (0 until 2 * n).foreach(_ => line(buf))
          line(buf) // blank line closing the chunk
          n = line(buf).drop(1).toInt // next chunk header, or the ~0 terminator
        }
      case _ => throw new java.io.IOException(s"unknown response header '$head'")
    }
  }

  def close(): Unit = sock.close()
}
