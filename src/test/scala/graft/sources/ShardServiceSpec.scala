package graft.sources

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** The NETWORK consumption path: the V2 connector reading over
  * [[ShardService]]'s HTTP wire protocol on a real socket —
  * DescribeStream/GetRecords-shaped polling with sequence cursors —
  * and agreeing byte-for-byte with the file transport over the same
  * store. */
class ShardServiceSpec extends SparkSpec {

  test("wire protocol: describe, latest, half-open record ranges") {
    val dir = Files.createTempDirectory("graft_shard_http").toString
    val prod = new SimulatedKinesis.ShardedProducer(dir, nShards = 2)
    prod.putRecords(Seq(("a1", "u1"), ("b1", "u2"), ("a2", "u1")))
    val server = ShardService.start(dir, nShards = 2)
    val ep = s"http://127.0.0.1:${server.getAddress.getPort}"
    try {
      assert(ShardService.Client.get(s"$ep/describe") == """{"shards":2}""")
      val perShard =
        (0 until 2).map(s => s -> ShardService.Client.latest(ep, s)).toMap
      val total = perShard.values.sum
      assert(total == 3L, s"3 records across shards, got $total")
      // the all-shards form agrees with the per-shard one, shard by shard
      assert(ShardService.Client.latestAll(ep) == perShard)
      // a half-open range replays exactly the requested slice, in the
      // transport's own line format (the file consumer's bytes)
      val shardOfU1 = (0 until 2)
        .find(s => KinesisSimProvider.shardLines(dir, s)
          .exists(_.contains(""""partitionKey":"u1""""))).get
      val viaHttp = ShardService.Client.records(ep, shardOfU1, 0L, 2L).toSeq
      val viaFile = KinesisSimProvider.shardLines(dir, shardOfU1).take(2)
      assert(viaHttp == viaFile, "wire lines must equal store lines")
      // non-GET -> 405; unknown shard -> 404 (the probe contract)
      val conn = new java.net.URI(s"$ep/latest/0").toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod("DELETE")
      assert(conn.getResponseCode == 405)
      val bad = new java.net.URI(s"$ep/latest/9").toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      assert(bad.getResponseCode == 404)
    } finally server.stop(0)
  }

  test("V2 connector over HTTP: socket consumption matches the file transport") {
    val dir = Files.createTempDirectory("graft_shard_http_e2e").toString
    val prod = new SimulatedKinesis.ShardedProducer(dir, nShards = 2)
    prod.putRecords(Seq(("a1", "u1"), ("b1", "u2"), ("a2", "u1")))
    val server = ShardService.start(dir, nShards = 2)
    val ep = s"http://127.0.0.1:${server.getAddress.getPort}"
    val q = spark.readStream.format("kinesis-sim")
      .option("endpoint", ep).option("shards", "2").load()
      .selectExpr("CAST(data AS STRING) AS data", "partitionKey",
        "CAST(sequenceNumber AS LONG) AS sn")
      .writeStream.format("memory").outputMode("append")
      .queryName("ksim_http").start()
    try {
      q.processAllAvailable()
      // records produced AFTER the first poll arrive over the wire in
      // a later micro-batch — the live polling loop, on a socket
      prod.putRecords(Seq(("a3", "u1"), ("b2", "u2")))
      q.processAllAvailable()
      val rows = spark.table("ksim_http").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      assert(rows.length == 5, s"expected 5 records, got ${rows.toSeq}")
      val perKey = rows.groupBy(_._2).map { case (k, rs) =>
        k -> rs.sortBy(_._3).map(_._1).toSeq
      }
      assert(perKey == Map("u1" -> Seq("a1", "a2", "a3"),
        "u2" -> Seq("b1", "b2")), s"got $perKey")
    } finally { q.stop(); server.stop(0) }
  }

  test("one /latest round trip per trigger; progress shows the uncapped latest") {
    val dir = Files.createTempDirectory("graft_shard_http_latest").toString
    val prod = new SimulatedKinesis.ShardedProducer(dir, nShards = 2)
    prod.putRecords((1 to 10).map(i => (s"r$i", s"u${i % 3}")))
    val server = ShardService.start(dir, nShards = 2)
    val real = s"http://127.0.0.1:${server.getAddress.getPort}"
    // a stub shard endpoint: forwards every GET to the real service and
    // counts the offset requests on the way
    val allShards = new java.util.concurrent.atomic.AtomicInteger()
    val oneShard = new java.util.concurrent.atomic.AtomicInteger()
    val stub = graft.serve.HttpServers.start(0, "/", threads = 4) { ex =>
      val path = ex.getRequestURI.getPath
      if (path == "/latest") allShards.incrementAndGet()
      if (path.startsWith("/latest/")) oneShard.incrementAndGet()
      val query = Option(ex.getRequestURI.getRawQuery).fold("")("?" + _)
      graft.serve.HttpServers.respond(ex, 200,
        ShardService.Client.get(s"$real$path$query"))
    }
    val ep = s"http://127.0.0.1:${stub.getAddress.getPort}"
    def total(json: String): Long = ShardOffsets.parse(json).next.values.sum
    try {
      // the engine: one trigger (the next is an hour away) under a cap
      // of 4 of the 10 records
      val q = spark.readStream.format("kinesis-sim")
        .option("endpoint", ep).option("shards", "2")
        .option("maxRecordsPerTrigger", "4").load()
        .writeStream.format("memory").queryName("ksim_http_latest")
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 hour"))
        .start()
      val p = try {
        val deadline = System.nanoTime() + 120L * 1000000000L
        while (q.lastProgress == null && System.nanoTime() < deadline)
          Thread.sleep(50)
        q.lastProgress
      } finally q.stop()
      assert(p != null, "the first trigger never reported progress")
      assert((allShards.get, oneShard.get) == ((1, 0)),
        s"one all-shards /latest per trigger, got ${allShards.get} " +
          s"all-shards and ${oneShard.get} per-shard requests")
      // reportLatestOffset returns the TRUE latest the trigger fetched,
      // not the capped end it admitted
      assert(total(p.sources(0).latestOffset) == 10L, p.sources(0).latestOffset)
      assert(total(p.sources(0).endOffset) == 4L, p.sources(0).endOffset)

      // the stream driven the way the engine drives it, trigger by
      // trigger: latestOffset(start, limit), then reportLatestOffset
      allShards.set(0)
      val stream = new KinesisSimMicroBatchStream(HttpTransport(ep), 2, Some(4L))
      assert(total(stream.reportLatestOffset().json) == 10L)
      assert(allShards.get == 1, "nothing cached yet: one fetch")
      var start = stream.initialOffset()
      (1 to 3).foreach { trigger =>
        val end = stream.latestOffset(start, stream.getDefaultReadLimit)
        assert(total(stream.reportLatestOffset().json) == 10L)
        assert(total(end.json) == math.min(10L, 4L * trigger))
        assert(allShards.get == 1 + trigger, s"trigger $trigger")
        start = end
      }
      assert(oneShard.get == 0)
    } finally { stub.stop(0); server.stop(0) }
  }

  test("admission control composes with the HTTP transport") {
    val dir = Files.createTempDirectory("graft_shard_http_adm").toString
    val prod = new SimulatedKinesis.ShardedProducer(dir, nShards = 2)
    prod.putRecords((1 to 10).map(i => (s"r$i", s"u${i % 3}")))
    val server = ShardService.start(dir, nShards = 2)
    val ep = s"http://127.0.0.1:${server.getAddress.getPort}"
    val sizes = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val q = spark.readStream.format("kinesis-sim")
      .option("endpoint", ep).option("shards", "2")
      .option("maxRecordsPerTrigger", "4").load()
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val n = batch.count().toInt
        if (n > 0) sizes.add(n)
        ()
      }.start()
    try {
      q.processAllAvailable()
      val s = sizes.asScala.toSeq
      assert(s.sum == 10 && s.forall(_ <= 4) && s.length >= 3,
        s"10 records at cap 4 over the wire: $s")
    } finally { q.stop(); server.stop(0) }
  }

  test("PutRecords over the wire: server-assigned sequences, idempotent retries") {
    val dir = Files.createTempDirectory("graft_shard_http_put").toString
    val server = ShardService.start(dir, nShards = 2)
    val ep = s"http://127.0.0.1:${server.getAddress.getPort}"
    try {
      // produce THROUGH the socket; sequence numbers assigned server-side
      val calls = ShardService.Client.putRecords(ep,
        Seq(("a1", "u1"), ("b1", "u2"), ("a2", "u1")),
        idempotencyKey = Some("flush-1"))
      assert(calls == 1)
      // a retry of the same flush (timeout on the ack path) must not
      // double-write — the dedup token PutRecords itself lacks
      val retry = ShardService.Client.putRecords(ep,
        Seq(("a1", "u1"), ("b1", "u2"), ("a2", "u1")),
        idempotencyKey = Some("flush-1"))
      assert(retry == 0, "idempotent retry must write nothing")
      assert((0 until 2).map(ShardService.Client.latest(ep, _)).sum == 3L)
      // and the full loop: produced over HTTP, consumed over HTTP
      val q = spark.readStream.format("kinesis-sim")
        .option("endpoint", ep).option("shards", "2").load()
        .selectExpr("CAST(data AS STRING) AS data", "partitionKey")
        .writeStream.format("memory").outputMode("append")
        .queryName("ksim_http_put").start()
      try {
        q.processAllAvailable()
        val got = spark.table("ksim_http_put").collect()
          .map(r => (r.getString(0), r.getString(1))).toSet
        assert(got == Set(("a1", "u1"), ("b1", "u2"), ("a2", "u1")),
          s"wire round trip: $got")
      } finally q.stop()
      // malformed producer body -> 400, not 500
      val conn = new java.net.URI(s"$ep/records").toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod("POST"); conn.setDoOutput(true)
      val os = conn.getOutputStream
      try os.write("not json\n".getBytes("UTF-8")) finally os.close()
      assert(conn.getResponseCode == 400)
    } finally server.stop(0)
  }

  test("range reads paginate over the per-call cap without loss or reorder") {
    val dir = Files.createTempDirectory("graft_shard_http_page").toString
    val prod = new SimulatedKinesis.ShardedProducer(dir, nShards = 1)
    val n = (ShardService.MaxRecordsPerCall + 500).toInt
    prod.putRecords((0 until n).map(i => (s"r$i", "onekey")))
    val server = ShardService.start(dir, nShards = 1)
    val ep = s"http://127.0.0.1:${server.getAddress.getPort}"
    try {
      // client-level: one logical range, many wire calls
      val got = ShardService.Client.records(ep, 0, 0L, n.toLong).toSeq
      assert(got.length == n, s"pagination lost records: ${got.length}/$n")
      assert(got.head.contains("\"r0\"") ||
        got.head.contains(java.util.Base64.getEncoder
          .encodeToString("r0".getBytes("UTF-8"))),
        "order must survive pagination")
      // connector-level: a BATCH read over the endpoint spans the cap
      val viaSpark = spark.read.format("kinesis-sim")
        .option("endpoint", ep).option("shards", "1").load().count()
      assert(viaSpark == n.toLong, s"batch read over HTTP: $viaSpark/$n")
    } finally server.stop(0)
  }

  test("pagination interrupted mid-read resumes from its cursor across a server restart") {
    val dir = Files.createTempDirectory("graft_shard_http_resume").toString
    val prod = new SimulatedKinesis.ShardedProducer(dir, nShards = 1)
    val n = (ShardService.MaxRecordsPerCall + 500).toInt
    // 500-record PutRecords chunks → ~21 batch files: the resumed
    // cursor lands mid-store, exercising the per-file seek
    prod.putRecords((0 until n).map(i => (s"r$i", "onekey")))
    val server = ShardService.start(dir, nShards = 1)
    val ep = s"http://127.0.0.1:${server.getAddress.getPort}"
    // the consumer takes part of the range, then loses the server —
    // the mid-read crash the cursor protocol exists for
    val first = ShardService.Client.records(ep, 0, 0L, n.toLong)
      .take(5000).toSeq
    server.stop(0)
    // fresh server: new socket, cold caches, same store
    val server2 = ShardService.start(dir, nShards = 1)
    val ep2 = s"http://127.0.0.1:${server2.getAddress.getPort}"
    try {
      val rest = ShardService.Client
        .records(ep2, 0, first.length.toLong, n.toLong).toSeq
      assert(first.length == 5000)
      assert(first ++ rest == KinesisSimProvider.shardLines(dir, 0),
        "resumed pagination must concatenate to the exact shard contents")
    } finally server2.stop(0)
  }

  test("hostile partition keys round-trip the wire, the store, and the connector") {
    val dir = Files.createTempDirectory("graft_shard_http_esc").toString
    val server = ShardService.start(dir, nShards = 2)
    val ep = s"http://127.0.0.1:${server.getAddress.getPort}"
    try {
      val keys = Seq("plain", "qu\"ote", "back\\slash", "new\nline",
        "tab\tkey", "{\"json\":\"ish\"}")
      val recs = keys.zipWithIndex.map { case (k, i) => (s"d$i", k) }
      assert(ShardService.Client.putRecords(ep, recs) == 1)
      // store lines stay one-record-per-line and parse back exactly
      val viaStore = (0 until 2)
        .flatMap(s => KinesisSimProvider.shardLines(dir, s))
        .map(KinesisSimProvider.parse)
        .map(r => (new String(r._3, "UTF-8"), r._2)).toSet
      assert(viaStore == recs.toSet, s"store round-trip: $viaStore")
      // and the V2 connector over the same wire sees the same keys
      val viaSpark = spark.read.format("kinesis-sim")
        .option("endpoint", ep).option("shards", "2").load()
        .selectExpr("CAST(data AS STRING) AS data", "partitionKey")
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(viaSpark == recs.toSet, s"connector round-trip: $viaSpark")
    } finally server.stop(0)
  }

  test("concurrent retries under one idempotency key write exactly once") {
    val dir = Files.createTempDirectory("graft_shard_http_race").toString
    val server = ShardService.start(dir, nShards = 1)
    val ep = s"http://127.0.0.1:${server.getAddress.getPort}"
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val recs = Seq(("a1", "u1"), ("a2", "u1"), ("a3", "u1"))
      // 8 copies of the SAME flush race on the wire — the in-flight-
      // original vs retry interleaving the single critical section
      // must serialize (check-then-act would double-write here)
      val futures = (1 to 8).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int = ShardService.Client
            .putRecords(ep, recs, idempotencyKey = Some("flush-race"))
        })
      }
      val calls = futures.map(_.get())
      assert(calls.sum == 1, s"exactly one racer may write: $calls")
      assert(ShardService.Client.latest(ep, 0) == 3L,
        "store must hold the batch exactly once")
    } finally { pool.shutdown(); server.stop(0) }
  }

  test("the read-only endpoint rejects the sink") {
    val dir = Files.createTempDirectory("graft_shard_http_sink").toString
    val server = ShardService.start(dir, nShards = 1)
    val ep = s"http://127.0.0.1:${server.getAddress.getPort}"
    try {
      import spark.implicits._
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[String](spark)
      val ex = intercept[Exception] {
        input.toDF().selectExpr("CAST(value AS BINARY) AS data",
            "'k' AS partitionKey")
          .writeStream.format("kinesis-sim")
          .option("endpoint", ep).option("shards", "1")
          .option("checkpointLocation",
            Files.createTempDirectory("graft_ckpt_http").toString)
          .start()
        fail("sink over HTTP endpoint must be rejected")
      }
      assert(ex.getMessage != null)
    } finally server.stop(0)
  }
}
