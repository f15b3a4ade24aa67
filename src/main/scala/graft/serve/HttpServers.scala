package graft.serve

import java.net.InetSocketAddress
import java.util.concurrent.{LinkedBlockingQueue, ThreadPoolExecutor, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** The one place graft opens an HTTP server — [[QueryEdge]] and
  * [[graft.sources.ShardService]] both start theirs here — plus the
  * response helpers the two share.
  *
  * TCP_NODELAY: the JDK server writes a response's headers and its
  * body as two small TCP segments. Without TCP_NODELAY, Nagle's
  * algorithm holds the body until the client ACKs the headers, and a
  * keep-alive client delays that ACK by 40 ms, so every response costs
  * ~44 ms instead of ~1–2 ms on loopback. The JDK sets TCP_NODELAY on
  * accepted sockets when the documented `sun.net.httpserver.nodelay`
  * property is true, but reads the property once, when the JVM creates
  * its first server. It is therefore set here, in code, before graft
  * creates any server — which also covers JVMs graft did not launch. A
  * server that other code created first would freeze the JDK default.
  *
  * Handler threads are daemons that exit after a short idle time:
  * `HttpServer.stop` does not shut its executor down, and non-daemon
  * pool threads would keep a JVM alive after its `main` returns. */
object HttpServers {

  System.setProperty("sun.net.httpserver.nodelay", "true")

  private val threadIds = new AtomicInteger()

  /** Bind `port` (0 = ephemeral; read the bound port off the returned
    * server), route requests under `path` to `handler` on up to
    * `threads` threads at once, and start serving. Stop with
    * `.stop(0)`. */
  def start(port: Int, path: String, threads: Int)(
      handler: HttpExchange => Unit): HttpServer = {
    val server = HttpServer.create(new InetSocketAddress(port), 0)
    server.createContext(path, (ex: HttpExchange) => handler(ex))
    val pool = new ThreadPoolExecutor(threads, threads, 30L, TimeUnit.SECONDS,
      new LinkedBlockingQueue[Runnable](), (r: Runnable) => {
        val t = new Thread(r, s"graft-http-${threadIds.incrementAndGet()}")
        t.setDaemon(true)
        t
      })
    pool.allowCoreThreadTimeOut(true)
    server.setExecutor(pool)
    server.start()
    server
  }

  /** The request's `key=value` query parameters. */
  def params(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getQuery).getOrElse("")
      .split("&").iterator.filter(_.contains("="))
      .map { kv => val Array(k, v) = kv.split("=", 2); k -> v }
      .toMap

  /** Exception → valid-JSON error body: strip quotes, backslashes AND
    * control characters — Spark messages routinely carry newlines,
    * which would break a client's JSON parse. */
  def errorBody(e: Exception): String =
    s"""{"error":"${String.valueOf(e.getMessage)
      .replaceAll("[\"\\\\\\x00-\\x1f]", " ").trim}"}"""

  /** Send `body` as the whole response. An empty body is sent as no
    * body (length -1): the JDK server reads a length of 0 as chunked. */
  def respond(ex: HttpExchange, code: Int, body: String,
              contentType: String = "application/json"): Unit = {
    val bytes = body.getBytes("UTF-8")
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(code, if (bytes.isEmpty) -1 else bytes.length)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }
}
