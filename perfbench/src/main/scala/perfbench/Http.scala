package perfbench

import java.io.{BufferedInputStream, OutputStream}
import java.net.{InetSocketAddress, Socket}
import java.nio.charset.StandardCharsets.UTF_8

/** Minimal HTTP/1.1 client on one keep-alive connection. It is written
  * here, not borrowed from the program, so that the benchmark does not
  * measure the server with the server's own code. */
final class HttpConn(port: Int) extends AutoCloseable {
  private val sock = new Socket()
  sock.setTcpNoDelay(true)
  sock.connect(new InetSocketAddress("127.0.0.1", port), 5000)
  sock.setSoTimeout(120000)
  private val in = new BufferedInputStream(sock.getInputStream, 1 << 16)
  private val out: OutputStream = sock.getOutputStream

  /** POST `body` to `path`; returns (status, response body). */
  def post(path: String, body: String): (Int, String) = {
    val b = body.getBytes(UTF_8)
    val head = s"POST $path HTTP/1.1\r\nHost: 127.0.0.1\r\nContent-Type: application/json\r\n" +
      s"Content-Length: ${b.length}\r\nConnection: keep-alive\r\n\r\n"
    out.write(head.getBytes(UTF_8) ++ b)
    out.flush()
    val status = readLine().split(' ')(1).toInt
    var len = -1
    var chunked = false
    var line = readLine()
    while (line.nonEmpty) {
      val i = line.indexOf(':')
      val k = line.substring(0, i).trim.toLowerCase
      val v = line.substring(i + 1).trim
      if (k == "content-length") len = v.toInt
      if (k == "transfer-encoding" && v.equalsIgnoreCase("chunked")) chunked = true
      line = readLine()
    }
    val bytes =
      if (chunked) {
        val acc = new java.io.ByteArrayOutputStream()
        var n = Integer.parseInt(readLine().trim, 16)
        while (n > 0) { acc.write(readN(n)); readLine(); n = Integer.parseInt(readLine().trim, 16) }
        readLine()
        acc.toByteArray
      } else readN(math.max(0, len))
    (status, new String(bytes, UTF_8))
  }

  private def readN(n: Int): Array[Byte] = {
    val a = new Array[Byte](n)
    var off = 0
    while (off < n) {
      val k = in.read(a, off, n - off)
      if (k < 0) throw new java.io.EOFException("connection closed mid-body")
      off += k
    }
    a
  }

  private def readLine(): String = {
    val sb = new StringBuilder
    var c = in.read()
    while (c >= 0 && c != '\n') { if (c != '\r') sb.append(c.toChar); c = in.read() }
    if (c < 0 && sb.isEmpty) throw new java.io.EOFException("connection closed")
    sb.toString
  }

  def close(): Unit = sock.close()
}

/** A forward-geocode hit as the benchmark reads it off the wire. */
final case class WireHit(name: String, osmId: Long, score: Double)

/** Small JSON reader for the forward response (`{"hits":[{...}]}`). */
object WireJson {
  def hits(body: String): IndexedSeq[WireHit] = {
    val v = new P(body).value()
    v.asInstanceOf[Map[String, Any]]("hits").asInstanceOf[Seq[Any]].map { h =>
      val m = h.asInstanceOf[Map[String, Any]]
      WireHit(m("name").asInstanceOf[String], m("osm_id").asInstanceOf[Double].toLong,
        m("score").asInstanceOf[Double])
    }.toIndexedSeq
  }

  private final class P(s: String) {
    private var i = 0
    private def ws(): Unit = while (i < s.length && Character.isWhitespace(s.charAt(i))) i += 1
    def value(): Any = {
      ws()
      s.charAt(i) match {
        case '{' =>
          i += 1; ws()
          val m = Map.newBuilder[String, Any]
          if (s.charAt(i) == '}') i += 1
          else {
            var more = true
            while (more) {
              ws(); val k = str(); ws(); i += 1 // ':'
              m += k -> value(); ws()
              if (s.charAt(i) == ',') i += 1 else { i += 1; more = false }
            }
          }
          m.result()
        case '[' =>
          i += 1; ws()
          val a = Vector.newBuilder[Any]
          if (s.charAt(i) == ']') i += 1
          else {
            var more = true
            while (more) {
              a += value(); ws()
              if (s.charAt(i) == ',') i += 1 else { i += 1; more = false }
            }
          }
          a.result()
        case '"' => str()
        case 'n' => i += 4; null
        case 't' => i += 4; true
        case 'f' => i += 5; false
        case _ =>
          val st = i
          while (i < s.length && "+-0123456789.eE".indexOf(s.charAt(i)) >= 0) i += 1
          s.substring(st, i).toDouble
      }
    }
    private def str(): String = {
      i += 1
      val sb = new StringBuilder
      while (s.charAt(i) != '"') {
        if (s.charAt(i) == '\\') {
          i += 1
          s.charAt(i) match {
            case 'n' => sb.append('\n'); case 't' => sb.append('\t'); case 'r' => sb.append('\r')
            case 'b' => sb.append('\b'); case 'f' => sb.append('\f')
            case 'u' => sb.append(Integer.parseInt(s.substring(i + 1, i + 5), 16).toChar); i += 4
            case c => sb.append(c)
          }
        } else sb.append(s.charAt(i))
        i += 1
      }
      i += 1
      sb.toString
    }
  }
}
