package graft.sources

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.serve.HttpServers

/** A NETWORK shard service over the simulated transport's store — the
  * wire half a managed stream exposes (Kinesis `DescribeStream` /
  * `GetRecords` with sequence cursors), served on a real socket so
  * the V2 connector's network consumption path is exercised
  * end-to-end instead of stopping at the filesystem. Zero added
  * dependencies (JDK httpserver, started through
  * [[graft.serve.HttpServers]] like [[graft.serve.QueryEdge]], so
  * every accepted socket has TCP_NODELAY: without it each response
  * waits ~40 ms for the client's delayed ACK).
  *
  * Endpoints (all GET):
  *  - `/describe`                     → `{"shards":N}`
  *  - `/latest`                       → `{"0":n0,"1":n1,…}`, every
  *    shard's next sequence in the source's offset JSON: a consumer
  *    learns all shards' ends in ONE round trip per micro-batch
  *  - `/latest/{shard}`               → `{"next":N}` (next sequence)
  *  - `/records/{shard}?from=A&until=B` → newline-delimited record
  *    JSON in the transport's exact line format — the same bytes a
  *    file consumer reads, so either transport feeds the same parser.
  *
  * Offsets are record counts (the transport's sequence-number
  * contract); range reads are half-open [from, until). Counts and
  * ranges come from the shard store ([[SimulatedKinesis]]), so the
  * service and a file consumer agree on sequence numbers by
  * construction, and new records become visible to `/latest`
  * immediately — the poll loop a real consumer runs.
  */
object ShardService {
  import HttpServers.{errorBody, respond}
  import SimulatedKinesis.{jsonEscape, jsonUnescape}

  private val LatestPath = "/latest/([0-9]+)".r
  private val RecordsPath = "/records/([0-9]+)".r

  /** Per-call `/records` cap (GetRecords' 10k-record shape): the
    * server never materializes an unbounded response; the client
    * paginates. */
  val MaxRecordsPerCall: Long = 10000L

  /** Serve `dir`'s shard store on `port` (0 = ephemeral; read the
    * bound port off the returned server). Stop with `.stop(0)`.
    *
    * The PRODUCER half — `POST /records` with a newline-delimited
    * `{"partitionKey":…,"data":<b64>}` body — appends through ONE
    * server-side [[SimulatedKinesis.ShardedProducer]], opened here for
    * the server's lifetime, which is what makes sequence numbers
    * server-assigned (the managed-service contract; a client never
    * picks its own). The producer continues the store from disk, so a
    * restarted server on the same directory keeps every acknowledged
    * record; while it runs it is the store's one writer. An optional
    * `X-Idempotency-Key` header makes producer retries safe: a key
    * the server has seen is acknowledged with `"duplicate":true` and
    * writes nothing — the dedup token the real PutRecords API lacks
    * and every at-least-once producer has to work around.
    *
    * DURABILITY BOUND (explicit): seen keys live in server memory, so
    * the dedup window is one server lifetime — a retry that crosses a
    * SERVER crash can double-write. The durable exactly-once
    * guarantee in this stack is the V2 sink's on-disk epoch markers,
    * which survive any process; the real service offers no producer
    * dedup at all, so the in-memory window is strictly stronger than
    * the contract it simulates while staying honest about where
    * durability lives. */
  def start(dir: String, nShards: Int, port: Int = 0): HttpServer = {
    val producer = new SimulatedKinesis.ShardedProducer(dir, nShards)
    val seenKeys = scala.collection.mutable.HashSet.empty[String]
    // Spark tasks fetch shard ranges concurrently — serve them in
    // parallel (the producer path stays safe: appends synchronize on
    // the single server-side producer)
    HttpServers.start(port, "/", threads = 8)(
      handle(dir, nShards, producer, seenKeys, _))
  }

  // partitionKey admits JSON escape sequences (the client escapes
  // quotes/backslashes/control chars — see Client.putRecords); data is
  // base64 and needs none
  private val PostLine =
    """\{"partitionKey":"((?:[^"\\]|\\.)*)","data":"([^"]*)"\}""".r

  private def handle(dir: String, nShards: Int,
                     producer: SimulatedKinesis.ShardedProducer,
                     seenKeys: scala.collection.mutable.HashSet[String],
                     ex: HttpExchange): Unit =
    try {
      (ex.getRequestMethod, ex.getRequestURI.getPath) match {
        case ("GET", "/describe") =>
          respond(ex, 200, s"""{"shards":$nShards}""")
        case ("POST", "/records") =>
          val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
          val key = Option(ex.getRequestHeaders.getFirst("X-Idempotency-Key"))
          val recs = body.linesIterator.filter(_.nonEmpty).map {
            case PostLine(pk, b64) =>
              (java.util.Base64.getDecoder.decode(b64), jsonUnescape(pk))
            case other =>
              throw new IllegalArgumentException(s"malformed record: $other")
          }.toSeq
          // the seen-key check, the write, and the key insert form ONE
          // critical section: a retry racing its in-flight original —
          // the timeout-retry case the idempotency key exists for —
          // must serialize behind the original's insert, or both pass
          // the check and double-write (check-then-act race)
          val written = producer.synchronized {
            if (key.exists(seenKeys.contains)) None
            else {
              // single server-side producer: sequence numbers are
              // assigned HERE, atomically per shard
              val c = producer.putBytes(recs)
              key.foreach(seenKeys += _)
              Some(c)
            }
          }
          written match {
            case None =>
              respond(ex, 200, """{"duplicate":true,"calls":0}""")
            case Some(calls) =>
              respond(ex, 200, s"""{"duplicate":false,"calls":$calls}""")
          }
        case ("GET", "/latest") =>
          respond(ex, 200,
            ShardOffsets(SimulatedKinesis.counts(dir, nShards)).json)
        case ("GET", LatestPath(shard)) =>
          val s = shard.toInt
          if (s >= nShards) respond(ex, 404, """{"error":"no such shard"}""")
          else respond(ex, 200, s"""{"next":${SimulatedKinesis.count(dir, s)}}""")
        case ("GET", RecordsPath(shard)) =>
          val s = shard.toInt
          if (s >= nShards) respond(ex, 404, """{"error":"no such shard"}""")
          else {
            val params = HttpServers.params(ex)
            val from = params.get("from").map(_.toLong).getOrElse(0L)
            val until = params.get("until").map(_.toLong).getOrElse(Long.MaxValue)
            // per-call record cap, like GetRecords' 10k limit: the
            // server never materializes an unbounded response; clients
            // paginate (ShardService.Client.records does, transparently)
            val capped = math.min(until, from + MaxRecordsPerCall)
            val sb = new StringBuilder
            SimulatedKinesis.lines(dir, s, from, capped)
              .foreach(sb.append(_).append('\n'))
            respond(ex, 200, sb.toString, "application/x-ndjson")
          }
        case ("GET", _) => respond(ex, 404, """{"error":"not found"}""")
        case _ =>
          ex.getResponseHeaders.set("Allow", "GET")
          respond(ex, 405, """{"error":"method not allowed"}""")
      }
    } catch {
      case e: IllegalArgumentException => respond(ex, 400, errorBody(e))
      case e: Exception => respond(ex, 500, errorBody(e))
    }

  /** Driver/executor-side client half (plain HttpURLConnection — no
    * dependencies, serializable by construction since only the
    * endpoint string ships). */
  object Client {
    def get(url: String): String = {
      val conn = new java.net.URI(url).toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setConnectTimeout(10000)
      conn.setReadTimeout(60000)
      try {
        val code = conn.getResponseCode
        require(code == 200, s"GET $url -> HTTP $code")
        val in = conn.getInputStream
        try new String(in.readAllBytes(), "UTF-8") finally in.close()
      } finally conn.disconnect()
    }

    def latest(endpoint: String, shard: Int): Long = {
      val body = get(s"$endpoint/latest/$shard")
      """"next":([0-9]+)""".r.findFirstMatchIn(body)
        .getOrElse(throw new IllegalStateException(s"bad /latest body: $body"))
        .group(1).toLong
    }

    /** Every shard's next sequence in one round trip (`GET /latest`). */
    def latestAll(endpoint: String): Map[Int, Long] =
      ShardOffsets.parse(get(s"$endpoint/latest")).next

    /** Range read with transparent pagination over the server's
      * per-call cap: a short page means the shard is exhausted. */
    def records(endpoint: String, shard: Int, from: Long,
                until: Long): Iterator[String] =
      new Iterator[String] {
        private var cursor = from
        private var page: Iterator[String] = Iterator.empty
        private var exhausted = false
        private def fill(): Unit =
          while (!page.hasNext && !exhausted && cursor < until) {
            val want = math.min(until - cursor, MaxRecordsPerCall)
            val lines = get(
              s"$endpoint/records/$shard?from=$cursor&until=${cursor + want}")
              .linesIterator.filter(_.nonEmpty).toSeq
            if (lines.length < want) exhausted = true
            cursor += lines.length
            page = lines.iterator
          }
        override def hasNext: Boolean = { fill(); page.hasNext }
        override def next(): String = { fill(); page.next() }
      }

    /** PutRecords over the wire — the producer's client half, API
      * shape matching [[SimulatedKinesis.ShardedProducer.putRecords]]
      * ((data, partitionKey) pairs). `idempotencyKey` makes retries
      * safe: resend the SAME call with the same key after a timeout
      * and the server acks without double-writing. Returns the
      * server's API-call count (0 on a deduplicated retry). */
    def putRecords(endpoint: String, records: Seq[(String, String)],
                   idempotencyKey: Option[String] = None): Int = {
      val body = records.map { case (data, pk) =>
        val b64 = java.util.Base64.getEncoder
          .encodeToString(data.getBytes("UTF-8"))
        // a quote/backslash/newline in the key would otherwise corrupt
        // the line framing (data is base64 and needs no escaping)
        s"""{"partitionKey":"${jsonEscape(pk)}","data":"$b64"}"""
      }.mkString("", "\n", "\n")
      val conn = new java.net.URI(s"$endpoint/records").toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setConnectTimeout(10000)
      conn.setReadTimeout(60000)
      conn.setRequestMethod("POST")
      conn.setDoOutput(true)
      idempotencyKey.foreach(k =>
        conn.setRequestProperty("X-Idempotency-Key", k))
      try {
        val os = conn.getOutputStream
        try os.write(body.getBytes("UTF-8")) finally os.close()
        val code = conn.getResponseCode
        require(code == 200, s"POST $endpoint/records -> HTTP $code")
        val resp = {
          val in = conn.getInputStream
          try new String(in.readAllBytes(), "UTF-8") finally in.close()
        }
        """"calls":([0-9]+)""".r.findFirstMatchIn(resp)
          .getOrElse(throw new IllegalStateException(s"bad body: $resp"))
          .group(1).toInt
      } finally conn.disconnect()
    }
  }
}
