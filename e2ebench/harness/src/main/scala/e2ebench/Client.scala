package e2ebench

import java.net.URI
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentLinkedQueue, LinkedBlockingQueue, TimeUnit}

/** A blocking HTTP/1.1 client for one server. Each request opens its own
  * connection with TCP_NODELAY and writes the head and body in one write,
  * so no client-side Nagle delay lands in a measured latency. */
final class Http(port: Int) {
  /** POSTs `body` and reads the whole response body. */
  def post(path: String, contentType: String, body: String,
      accept: String = "application/json"): (Int, Array[Byte]) = {
    val payload = body.getBytes(StandardCharsets.UTF_8)
    val head = s"POST $path HTTP/1.1\r\nHost: localhost:$port\r\n" +
      s"Content-Type: $contentType\r\nAccept: $accept\r\n" +
      s"Content-Length: ${payload.length}\r\nConnection: close\r\n\r\n"
    val sock = new java.net.Socket("localhost", port)
    try {
      sock.setTcpNoDelay(true)
      sock.setSoTimeout(120000)
      val out = sock.getOutputStream
      out.write(head.getBytes(StandardCharsets.US_ASCII) ++ payload)
      out.flush()
      val in = new java.io.BufferedInputStream(sock.getInputStream, 65536)
      def line(): String = {
        val b = new java.io.ByteArrayOutputStream()
        var c = in.read()
        while (c != -1 && c != '\n') { if (c != '\r') b.write(c); c = in.read() }
        b.toString(StandardCharsets.US_ASCII)
      }
      val status = line().split(" ")(1).toInt
      val headers = Iterator.continually(line()).takeWhile(_.nonEmpty)
        .map { h => val i = h.indexOf(':'); h.take(i).trim.toLowerCase -> h.drop(i + 1).trim }
        .toMap
      val content =
        if (headers.get("transfer-encoding").contains("chunked")) {
          val b = new java.io.ByteArrayOutputStream()
          var n = Integer.parseInt(line().split(";")(0).trim, 16)
          while (n > 0) { b.write(in.readNBytes(n)); line(); n = Integer.parseInt(line().split(";")(0).trim, 16) }
          b.toByteArray
        } else headers.get("content-length") match {
          case Some(n) => in.readNBytes(n.toInt)
          case None => in.readAllBytes()
        }
      (status, content)
    } finally sock.close()
  }

  def sparql(query: String): (Int, Array[Byte]) =
    post("/query", "application/sparql-query", query, "application/sparql-results+json")

  def update(text: String): (Int, Array[Byte]) =
    post("/query", "application/sparql-update", text)
}

/** Reads one RSP session's Server-Sent Events on its own thread. The server
  * sends an `event: firing` marker after every push, so the n-th marker
  * belongs to the n-th push; each marker is stamped with its arrival time
  * and the number of result rows that arrived since the previous one. The
  * reader stops after the `expected`-th marker. */
final class Sse(port: Int, sessionId: String, expected: Int) extends Thread("e2ebench-sse") {
  setDaemon(true)
  final case class Marker(nanos: Long, rows: Int)
  val markers = new LinkedBlockingQueue[Marker]()
  val rows = new ConcurrentLinkedQueue[String]()
  /** Arrival time of the last marker read. */
  @volatile var lastNanos = 0L
  @volatile var failure: Option[Throwable] = None

  private val conn = new URI(s"http://localhost:$port/rsp/events/$sessionId").toURL
    .openConnection().asInstanceOf[java.net.HttpURLConnection]
  conn.setReadTimeout(120000)
  require(conn.getResponseCode == 200, s"SSE HTTP ${conn.getResponseCode}")

  override def run(): Unit = {
    val in = new java.io.BufferedReader(
      new java.io.InputStreamReader(conn.getInputStream, StandardCharsets.UTF_8))
    var event: String = null
    var since = 0
    var seen = 0
    try {
      var line = in.readLine()
      while (line != null && seen < expected) {
        if (line.startsWith("event:")) event = line.stripPrefix("event:").trim
        else if (line.startsWith("data:")) {
          if (event == "firing") {
            lastNanos = System.nanoTime()
            markers.add(Marker(lastNanos, since))
            since = 0
            seen += 1
          } else {
            rows.add(line.stripPrefix("data:").trim)
            since += 1
          }
          event = null
        }
        if (seen < expected) line = in.readLine()
      }
    } catch {
      case _: java.io.IOException => () // closed by close()
      case e: Throwable => failure = Some(e)
    }
  }

  def next(timeoutS: Long): Marker = {
    val m = markers.poll(timeoutS, TimeUnit.SECONDS)
    require(m != null, s"no SSE firing marker within $timeoutS s")
    m
  }

  def close(): Unit = {
    join(10000)
    conn.disconnect()
  }
}
