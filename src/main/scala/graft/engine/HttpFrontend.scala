package graft.engine

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

/** Minimal REST front-end over the Engine — the reference's HTTP command
  * surface (/root/reference/edge_lake/tcpip/http_server.py:931 `do_GET`:
  * the command arrives in the `command` header or query parameter, e.g.
  * `command=sql edge format=json select ...`; POST executes commands,
  * PUT ingests data). JDK-built-in server, zero dependencies; one route:
  *
  *   GET /?command=<urlencoded command>   -> Engine.execute output
  *   POST / with the command as the body  -> same
  *
  * The Spark driver owns the engine; requests run on a fixed pool of
  * daemon threads, one per core and at least 4, against the shared
  * SparkSession (Spark sessions are thread-safe for concurrent actions
  * — the reference's REST workers do the same, member_cmd.py:5070-5079).
  * So a PUT waiting on its table's lock holds one pool thread, not the
  * whole server: queries and PUTs into other tables are still served
  * (the engine's thread-safety contract decides what waits for what).
  */
final class HttpFrontend(engine: Engine, port: Int = 0) {

  private val server = HttpServer.create(new InetSocketAddress(port), 0)

  private val pool = {
    val seq = new java.util.concurrent.atomic.AtomicInteger
    java.util.concurrent.Executors.newFixedThreadPool(
      math.max(4, Runtime.getRuntime.availableProcessors), { r =>
        val t = new Thread(r, s"graft-http-${seq.incrementAndGet()}")
        t.setDaemon(true)
        t
      })
  }
  server.setExecutor(pool)

  /** Read a request body up to `cap` bytes; one byte beyond throws
    * (caller answers 413). readAllBytes on an unbounded client body
    * would buffer arbitrarily much driver heap — the reference bounds
    * its reply volume the same way (query_mode max_volume,
    * member_cmd.py:99); ingest batches far above the cap should go
    * through the watch-dir/streamer path, which never holds a whole
    * batch in memory. */
  private def readBody(ex: HttpExchange, cap: Int): String = {
    val in = ex.getRequestBody
    val buf = new java.io.ByteArrayOutputStream(math.min(cap, 1 << 16))
    val chunk = new Array[Byte](8192)
    var n = in.read(chunk)
    while (n >= 0) {
      if (buf.size + n > cap) throw HttpFrontend.BodyTooLarge(cap)
      buf.write(chunk, 0, n)
      n = in.read(chunk)
    }
    new String(buf.toByteArray, StandardCharsets.UTF_8)
  }

  /** Discard the rest of an oversized request body (bounded) so the
    * client finishes its send and can read the 413 — closing the
    * exchange mid-upload surfaces as a connection reset with no
    * response. Discarding buffers nothing; a stream still flowing at
    * the drain bound gets the hard close. */
  private def drainDiscard(ex: HttpExchange): Unit =
    try {
      val in = ex.getRequestBody
      val chunk = new Array[Byte](8192)
      var left = 256L << 20
      var n = in.read(chunk)
      while (n >= 0 && left > 0) { left -= n; n = in.read(chunk) }
    } catch { case scala.util.control.NonFatal(_) => () }

  server.createContext("/", new HttpHandler {
    override def handle(ex: HttpExchange): Unit = {
      // PUT = data ingest (http_server.py:1844 do_PUT): headers carry
      // dbms/table/instructions, the body carries the JSON rows
      if (ex.getRequestMethod == "PUT") { handlePut(ex); return }
      def command = ex.getRequestMethod match {
        case "GET" =>
          // the reference's canonical REST shape sends the command in
          // the `command` HEADER (http_server.py:931 do_GET; curl
          // examples use -H "command: sql ..."); the ?command= query
          // param is the browser-friendly alternative
          Option(ex.getRequestHeaders.getFirst("command")).getOrElse(
            Option(ex.getRequestURI.getRawQuery).getOrElse("")
              .split("&").collectFirst {
                case p if p.startsWith("command=") =>
                  java.net.URLDecoder.decode(
                    p.substring("command=".length), "UTF-8")
              }.getOrElse(""))
        case _ =>
          // POST: the reference reads the `command` HEADER first
          // (http_server.py:1268 do_POST) — its canonical clients send
          // it with an empty body; the body is the fallback shape
          Option(ex.getRequestHeaders.getFirst("command"))
            .filter(_.nonEmpty)
            .getOrElse(readBody(ex, HttpFrontend.MaxCommandBytes))
      }
      val (code, body) =
        try (200, engine.execute(command))
        catch {
          case HttpFrontend.BodyTooLarge(cap) =>
            drainDiscard(ex)
            (413, Render.errorJson(s"request body exceeds $cap bytes"))
          case e: Exception => (400, Render.errorJson(e.getMessage))
        }
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.add("Content-Type", "application/json")
      ex.sendResponseHeaders(code, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    }
  })

  /** PUT data ingest: `table` (and optional `instructions` = mapping
    * policy id) arrive as headers, matching the reference's
    * put_params_from_header (http_server.py:2708); the `dbms` header is
    * accepted and ignored (one catalog here). Replies with the appended
    * row count. */
  private def handlePut(ex: HttpExchange): Unit = {
    val hdr = (k: String) => Option(ex.getRequestHeaders.getFirst(k))
    val (code, reply) =
      try {
        val body = readBody(ex, HttpFrontend.MaxPutBytes)
        val table = hdr("table").getOrElse(
          throw new IllegalArgumentException(
            "Missing 'table' name in REST PUT command"))
        val n = engine.ingest(table, body, hdr("instructions"))
        // header value is caller-supplied — escape it or a quote in
        // the name makes this application/json body unparseable
        (200, s"""{"appended": $n, "table": ${Render.jsonStr(table)}}""")
      } catch {
        case HttpFrontend.BodyTooLarge(cap) =>
          drainDiscard(ex)
          (413, Render.errorJson(s"request body exceeds $cap bytes — " +
            "route bulk loads through the watch-dir/streamer path"))
        case e: Exception => (400, Render.errorJson(e.getMessage))
      }
    val bytes = reply.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.add("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  // Grafana JSON-datasource route (al_grafana.py over HTTP — §3.3):
  // POST /grafana with the panel payload -> json rows
  server.createContext("/grafana", new HttpHandler {
    override def handle(ex: HttpExchange): Unit = {
      val (code, body) =
        try (200, Render.json(GrafanaRoute.run(engine,
          readBody(ex, HttpFrontend.MaxCommandBytes))))
        catch {
          case HttpFrontend.BodyTooLarge(cap) =>
            drainDiscard(ex)
            (413, Render.errorJson(s"request body exceeds $cap bytes"))
          case e: Exception => (400, Render.errorJson(e.getMessage))
        }
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.add("Content-Type", "application/json")
      ex.sendResponseHeaders(code, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    }
  })

  @volatile private var live = false

  def start(): Int = {
    server.start()
    live = true
    val port = server.getAddress.getPort
    // @port extends report the live REST port (the reference stamps the
    // answering node's address, unify_results.py:1260)
    engine.nodeAddress = (engine.nodeAddress._1, port)
    // surface on the `get processes` board (member_cmd.py:8521)
    engine.registerService("REST Server", () => live,
      () => s"listening on ${engine.nodeAddress._1}:$port")
    port
  }

  def stop(): Unit = { live = false; server.stop(0); pool.shutdown() }
}

object HttpFrontend {
  /** Command / Grafana payload bound — commands are human-sized. */
  val MaxCommandBytes: Int = 1 << 20
  /** PUT ingest body bound: a generous batch (the reference's streamer
    * flushes at 10 KB, streaming_data.py:30); bigger loads belong on
    * the streaming path. */
  val MaxPutBytes: Int = 64 << 20
  final case class BodyTooLarge(cap: Int)
    extends RuntimeException(s"body exceeds $cap bytes")
}
