package graft.serve

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession

import graft.streaming.MouseStream

/** The HTTP query edge — the REST contract the reference serves via
  * API Gateway + Lambda (`GET /users/{uid}/movements/{ts}`, consumed
  * at functions.js:156 incremental poll, :312 reverse initial load,
  * :351 reverse+count=false&limit heatmap read), bound to the Spark
  * aggregate table by [[MouseStream.range]].
  *
  * JDK-built-in `com.sun.net.httpserver` — zero added dependencies;
  * the engine stays a library and this stays a ~page of glue. Response
  * rows mirror the reference's JSON exactly as its client consumes
  * them: `timestamp` (epoch seconds), `count`, and — only when
  * `count=false` — `movs` as `[{"X":…,"Y":…},…]` (uppercase keys,
  * functions.js:365-375).
  *
  * Query params, as the reference's three call shapes use them:
  *  - (none)          incremental poll: sec > ts, ascending
  *  - `reverse=true`  initial load: sec <= ts, descending
  *  - `count=false`   include raw movements (the heatmap read)
  *  - `limit=N`       cap rows after ordering
  *
  * Serving is driver-side by design — the query edge is a
  * display-bound, single-user row slice (the same budget as the
  * reference's Lambda); the heavy lifting stays in the cluster-side
  * plan `range` builds.
  *
  * SERVER-SIDE PAGE CAP (VERDICT r16 item 4): a request without
  * `limit` used to collect the user's ENTIRE history into one driver
  * collect + HTTP body — faithful to the reference's uncapped poll,
  * but one curious user away from a driver OOM at scale. Every
  * response is now bounded by `maxRows` (`limit` above it is
  * clamped), and the client's own continuation idiom pages through
  * the remainder with no protocol change: the reference client
  * already re-polls from the LAST ROW'S TIMESTAMP
  * (functions.js:21,168 — `last_evaluated_key = data[data.length -
  * 1].timestamp` feeds the next request's `{ts}` path segment), and
  * a truncated ascending page ends exactly at the right continuation
  * point (descending pages keep the newest rows, which is where the
  * reverse initial load reads its token — functions.js:322). */
object QueryEdge {
  import HttpServers.{errorBody, respond}

  private val Path = "/users/([^/]+)/movements/(-?[0-9]+)".r

  /** Default response-row bound — display-scale (the reference's
    * chart polls every 2 s, `GRAPH_INTERVAL = 2000` at functions.js:11,
    * and its heatmap asks for 10 rows), two orders of magnitude of
    * headroom included. */
  val DefaultMaxRows = 1000

  /** Start serving `table` on `port` (0 = ephemeral; read the bound
    * port off the returned server). Caller stops with `.stop(0)`.
    * `maxRows` bounds every response page (see the object doc). */
  def start(spark: SparkSession, table: String, port: Int = 0,
            maxRows: Int = DefaultMaxRows): HttpServer = {
    require(maxRows >= 1, "maxRows must be positive")
    // one handler thread: serial — a display edge, not a fleet
    HttpServers.start(port, "/users", threads = 1)(
      handle(spark, table, maxRows, _))
  }

  private def handle(spark: SparkSession, table: String, maxRows: Int,
                     ex: HttpExchange): Unit =
    ex.getRequestURI.getPath match {
      // match the path FIRST so a non-GET on a valid resource is 405,
      // not 404 — and only parameter-parse failures are the client's
      // fault (400); anything thrown by the query itself is a 500
      case Path(uid, ts) =>
        if (ex.getRequestMethod != "GET") {
          ex.getResponseHeaders.set("Allow", "GET")
          respond(ex, 405, """{"error":"method not allowed"}""")
        } else {
          val parsed =
            try {
              val params = HttpServers.params(ex)
              Right((params.get("reverse").contains("true"),
                params.get("count").contains("false"),
                params.get("limit").map(_.toInt), ts.toLong))
            } catch {
              case e: Exception => Left(e)
            }
          parsed match {
            case Left(e) => respond(ex, 400, errorBody(e))
            case Right((reverse, includeRaw, limit, tsL)) =>
              try {
                // the page cap: an omitted or over-cap limit clamps to
                // maxRows — the unbounded driver collect is impossible
                // at the serve edge, and the client's timestamp-token
                // poll pages through the rest (object doc)
                val capped = Some(limit.fold(maxRows)(l =>
                  math.max(0, math.min(l, maxRows))))
                val rows = MouseStream.range(spark, table, uid, tsL,
                  reverse, capped, includeRaw).collect()
                val body = rows.map { r =>
                  val base = s""""timestamp":${r.getAs[Long]("sec")},""" +
                    s""""count":${r.getAs[Long]("cnt")}"""
                  if (!includeRaw) s"{$base}"
                  else {
                    val movs = Option(r.getAs[Seq[org.apache.spark.sql.Row]]("movs"))
                      .getOrElse(Seq.empty)
                      .map(m => s"""{"X":${m.getAs[Int]("x")},"Y":${m.getAs[Int]("y")}}""")
                      .mkString("[", ",", "]")
                    s"""{$base,"movs":$movs}"""
                  }
                }.mkString("[", ",", "]")
                respond(ex, 200, body)
              } catch {
                case e: Exception => respond(ex, 500, errorBody(e))
              }
          }
        }
      case _ => respond(ex, 404, """{"error":"not found"}""")
    }
}
