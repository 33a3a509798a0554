package perfbench

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import scala.collection.mutable.ArrayBuffer

/** Loopback stub of the Execute sync API: an append-only log of NDJSON
  * lines served by `limit`/`since` pages, the cursor being the log
  * offset. It answers `X-Sync-Highwater-Mark` with the offset after the
  * page and `X-Sync-Truncated` with whether lines remain. One dispatcher
  * thread serves one connection at a time; the handler times itself. */
final class ExecuteStub {
  private val log = ArrayBuffer.empty[String]
  @volatile private var handlerNanos = 0L

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 1)
  server.createContext("/fetch/document/", (ex: HttpExchange) => serve(ex))
  server.start()

  val url: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  /** Makes `lines` available after everything published before. */
  def publish(lines: Seq[String]): Unit = log.synchronized { log ++= lines }

  /** Seconds spent in the handler since start. */
  def fetchSeconds: Double = handlerNanos / 1e9

  def stop(): Unit = server.stop(0)

  private def serve(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    try {
      val params = Option(ex.getRequestURI.getRawQuery).toSeq
        .flatMap(_.split("&")).map(_.split("=", 2))
        .collect { case Array(k, v) => k -> java.net.URLDecoder.decode(v, "UTF-8") }
        .toMap
      // the client's first cursor is its epoch date, not an offset
      val since = params.get("since").flatMap(_.toIntOption).getOrElse(0)
      val limit = params.get("limit").flatMap(_.toIntOption).getOrElse(10000)
      val (page, end, total) = log.synchronized {
        val from = math.min(since, log.size)
        val to = math.min(from + limit, log.size)
        (log.slice(from, to).toVector, to, log.size)
      }
      val body = page.mkString("", "\n", if (page.isEmpty) "" else "\n")
        .getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("X-Sync-Highwater-Mark", end.toString)
      ex.getResponseHeaders.set("X-Sync-Truncated",
        if (end < total) "TRUE" else "FALSE")
      ex.sendResponseHeaders(200, if (body.isEmpty) -1 else body.length)
      if (body.nonEmpty) ex.getResponseBody.write(body)
    } finally {
      ex.close()
      handlerNanos += System.nanoTime() - t0
    }
  }
}
