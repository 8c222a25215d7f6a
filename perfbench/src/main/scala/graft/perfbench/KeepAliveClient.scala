package graft.perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, IOException}
import java.net.{InetSocketAddress, Socket}
import java.nio.charset.StandardCharsets.UTF_8

/** A minimal HTTP/1.1 client on one persistent (keep-alive) connection, as
  * an API client holds one: each request is written in one flush, and the
  * response is read by its `Content-Length` (the API never sends chunked
  * bodies; one would fail the request). Reconnects after an IO error; the
  * failed request still counts as failed. */
final class KeepAliveClient(host: String, port: Int, timeoutMs: Int = 10000) extends AutoCloseable {
  private var sock: Socket = _
  private var in: BufferedInputStream = _
  private var out: BufferedOutputStream = _

  private def connect(): Unit = {
    close()
    val s = new Socket()
    s.connect(new InetSocketAddress(host, port), timeoutMs)
    s.setSoTimeout(timeoutMs)
    s.setTcpNoDelay(true)
    sock = s
    in = new BufferedInputStream(s.getInputStream)
    out = new BufferedOutputStream(s.getOutputStream)
  }

  /** Sends one request; returns (status, body). */
  def send(method: String, path: String, body: Option[String]): (Int, String) = {
    if (sock == null) connect()
    try exchange(method, path, body)
    catch { case e: IOException => connect(); throw e }
  }

  private def exchange(method: String, path: String, body: Option[String]): (Int, String) = {
    val b = body.map(_.getBytes(UTF_8))
    val head = new StringBuilder(s"$method $path HTTP/1.1\r\nHost: $host:$port\r\n")
    b.foreach(x => head.append(s"Content-Type: application/json\r\nContent-Length: ${x.length}\r\n"))
    head.append("\r\n")
    out.write(head.toString.getBytes(UTF_8))
    b.foreach(out.write)
    out.flush()
    val status = line().split(' ')(1).toInt
    var length = 0
    var h = line()
    while (h.nonEmpty) {
      val lower = h.toLowerCase
      if (lower.startsWith("content-length:")) length = lower.drop(15).trim.toInt
      if (lower.startsWith("transfer-encoding:")) throw new IOException(s"unsupported: $h")
      h = line()
    }
    (status, new String(bytes(length), UTF_8))
  }

  private def line(): String = {
    val sb = new StringBuilder
    var c = in.read()
    while (c != '\n') {
      if (c < 0) throw new IOException("connection closed")
      if (c != '\r') sb.append(c.toChar)
      c = in.read()
    }
    sb.toString
  }

  private def bytes(n: Int): Array[Byte] = {
    val buf = new Array[Byte](n)
    var off = 0
    while (off < n) {
      val r = in.read(buf, off, n - off)
      if (r < 0) throw new IOException("truncated body")
      off += r
    }
    buf
  }

  override def close(): Unit = {
    if (sock != null) try sock.close() catch { case _: IOException => }
    sock = null
  }
}
