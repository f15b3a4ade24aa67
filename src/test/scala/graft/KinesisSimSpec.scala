package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.sources.{KinesisRecords, SimulatedKinesis}
import graft.streaming.MouseStream

/** Integration test of the simulated Kinesis transport (SURVEY S4/S5):
  * the reference's producer contract (functions.js:206-232 —
  * PutRecords of {Data, PartitionKey} with the 500-record API cap,
  * partition key = user_id) driven end-to-end through the
  * `kinesis-sim` connector into the unchanged ingest pipeline (wire
  * projection → parse → windowed aggregation → upsert sink). */
class KinesisSimSpec extends SparkSpec {

  private def event(u: String, x: Int, y: Int, t: Long): String =
    s"""{"user_id":"$u","x":$x,"y":$y,"time":$t}"""

  /** The reference's flush loop: each user's buffered positions become
    * one PutRecords call with PartitionKey = user_id. Returns the
    * records produced, in per-user write order. */
  private def produce(dir: String, nShards: Int): Seq[(String, String)] = {
    val prod = new SimulatedKinesis.ShardedProducer(dir, nShards)
    val users = Seq("u1", "u2", "u3", "u4")
    // three 1s-ish flush cycles, 0.1s event cadence, total span < the
    // 5s watermark so no event can be dropped as late
    val all = for {
      flush <- 0 until 3
      u <- users
      i <- 0 until 50
    } yield {
      val t = 100000L + flush * 1300L + i * 26L
      (event(u, flush * 50 + i, i, t), u)
    }
    // one oversized call (600 > 500) plus per-flush calls — exercises
    // both the splitting path and multi-flush sequencing
    val (big, rest) = all.splitAt(600)
    assert(prod.putRecords(big) == 2, "600 records must split into 2 calls")
    rest.grouped(200).foreach(g => prod.putRecords(g))
    all
  }

  test("producer: 500-record cap, one shard per key, per-shard monotone sequences") {
    val dir = Files.createTempDirectory("graft_kinesis_prod").toString
    produce(dir, nShards = 3)
    val shardOfKey = scala.collection.mutable.Map.empty[String, String]
    (0 until 3).foreach { s =>
      val files = Files.list(Paths.get(dir, s"shard-$s")).iterator().asScala
        .toSeq.sortBy(_.toString)
      var lastSeq = -1L
      files.foreach { f =>
        val lines = Files.readAllLines(f).asScala
        assert(lines.size <= SimulatedKinesis.MaxRecordsPerPut,
          s"$f holds ${lines.size} records — over the PutRecords cap")
        lines.foreach { l =>
          val seq = """"sequenceNumber":"(\d+)"""".r
            .findFirstMatchIn(l).get.group(1).toLong
          assert(seq > lastSeq, s"sequence went backwards in shard-$s")
          lastSeq = seq
          val pk = """"partitionKey":"([^"]+)"""".r
            .findFirstMatchIn(l).get.group(1)
          // Kinesis per-key ordering exists BECAUSE a key never
          // crosses shards — the property the simulation must keep
          assert(shardOfKey.getOrElseUpdate(pk, s"shard-$s") == s"shard-$s",
            s"$pk appeared on two shards")
        }
      }
    }
    assert(shardOfKey.keySet == Set("u1", "u2", "u3", "u4"))
  }

  test("consumer: per-key arrival order follows shard sequence numbers") {
    val dir = Files.createTempDirectory("graft_kinesis_order").toString
    produce(dir, nShards = 3)
    val arrivals =
      scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
    // capped at 100 records per trigger, the 600 records take several
    // micro-batches, so order must hold ACROSS batches too
    val q = spark.readStream.format("kinesis-sim")
      .option("path", dir).option("shards", "3")
      .option("maxRecordsPerTrigger", "100").load()
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        // partition-local row order is sequence order; tag with batch id
        batch.select(col("partitionKey"), col("sequenceNumber"))
          .collect().foreach { r =>
            arrivals.synchronized {
              arrivals += ((r.getString(0), r.getString(1).toLong, id))
            }
          }
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(arrivals.size == 600)
    assert(arrivals.map(_._3).distinct.size >= 6,
      s"600 records at cap 100 need >= 6 micro-batches")
    arrivals.groupBy(_._1).foreach { case (pk, rs) =>
      // within a micro-batch a key reads from one shard task (in
      // sequence order); across micro-batches ranges replay
      // oldest-first — so the sequence must rise per key in arrival order
      val seqs = rs.sortBy(_._3).map(_._2)
      assert(seqs == seqs.sorted,
        s"$pk arrived out of sequence: ${seqs.take(10)}…")
    }
  }

  test("full pipeline is source-agnostic: V2 connector drop-in matches batch truth") {
    // the whole ingest pipeline consuming through the real DataSource
    // V2 connector — the drop-in claim for a production connector,
    // proven end-to-end against batch truth
    val dir = Files.createTempDirectory("graft_kinesis_e2e_v2").toString
    val ckpt = Files.createTempDirectory("graft_kinesis_ckpt_v2").toString
    val produced = produce(dir, nShards = 3)
    val expected = produced
      .map { case (data, pk) =>
        val t = """"time":(\d+)""".r.findFirstMatchIn(data).get.group(1).toLong
        (pk, t / 1000L)
      }
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val table =
      new java.util.concurrent.ConcurrentHashMap[(String, Long), Long]()
    val wire = KinesisRecords.toWire(
      spark.readStream.format("kinesis-sim")
        .option("path", dir).option("shards", "3").load())
    val q = MouseStream.startToUpsert(
      spark, MouseStream.parse(wire), ckpt) { batch =>
      batch.collect().foreach { r =>
        table.put((r.getAs[String]("user_id"), r.getAs[Long]("sec")),
          r.getAs[Long]("cnt"))
      }
    }
    try q.processAllAvailable() finally q.stop()
    assert(table.asScala.toMap == expected,
      s"V2-sourced aggregates diverge from batch truth")
  }

  test("V2 connector: format(kinesis-sim) reads shards with sequence offsets") {
    val dir = Files.createTempDirectory("graft_kinesis_v2").toString
    val prod = new SimulatedKinesis.ShardedProducer(dir, nShards = 2)
    prod.putRecords(Seq(("a1", "u1"), ("b1", "u2"), ("a2", "u1")))
    val q = spark.readStream.format("kinesis-sim")
      .option("path", dir).option("shards", "2").load()
      .selectExpr("CAST(data AS STRING) AS data", "partitionKey",
        "CAST(sequenceNumber AS LONG) AS sn", "shardId")
      .writeStream.format("memory").outputMode("append")
      .queryName("ksim_v2").start()
    try {
      q.processAllAvailable()
      // records written AFTER the first micro-batch arrive in a later
      // one — the offset must advance past exactly the consumed range
      prod.putRecords(Seq(("a3", "u1"), ("b2", "u2")))
      q.processAllAvailable()
      val rows = spark.table("ksim_v2").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      assert(rows.length == 5, s"expected 5 records, got ${rows.toSeq}")
      // per-key payloads arrive in per-shard sequence order, no dups
      val perKey = rows.groupBy(_._2).map { case (k, rs) =>
        k -> rs.sortBy(_._3).map(_._1).toSeq
      }
      assert(perKey == Map("u1" -> Seq("a1", "a2", "a3"),
        "u2" -> Seq("b1", "b2")), s"got $perKey")
    } finally q.stop()
  }

  test("V2 connector: checkpoint restart resumes from the committed offset") {
    val dir = Files.createTempDirectory("graft_kinesis_v2r").toString
    val ckpt = Files.createTempDirectory("graft_kinesis_v2c").toString
    val prod = new SimulatedKinesis.ShardedProducer(dir, nShards = 2)
    prod.putRecords(Seq(("x1", "u1"), ("y1", "u2")))
    // foreachBatch, not the memory sink: memory doesn't support
    // checkpoint recovery, and recovery is exactly what's under test
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def start() = spark.readStream.format("kinesis-sim")
      .option("path", dir).option("shards", "2").load()
      .selectExpr("CAST(data AS STRING) AS data")
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.collect().foreach(r => seen.add(r.getString(0)))
      }.start()
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    assert(seen.asScala.toSet == Set("x1", "y1"))
    // new data lands while no query runs; the restart must deliver
    // ONLY the unconsumed range (offset replay from the checkpoint)
    prod.putRecords(Seq(("x2", "u1")))
    seen.clear()
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(seen.asScala.toSeq == Seq("x2"),
      s"restart re-delivered or skipped: ${seen.asScala.toSeq}")
  }

  test("V2 connector: maxRecordsPerTrigger paces a flood into bounded fair micro-batches") {
    val dir = Files.createTempDirectory("graft_kinesis_v2adm").toString
    val prod = new SimulatedKinesis.ShardedProducer(dir, nShards = 2)
    // 12 records pre-loaded before the query starts: an uncapped read
    // would catch up in ONE micro-batch; capped at 5 it must take
    // ceil(12/5) = 3, each batch <= 5
    val recs = (1 to 12).map(i => (s"r$i", s"u${i % 4}"))
    prod.putRecords(recs)
    val batchSizes = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int)]()
    val q = spark.readStream.format("kinesis-sim")
      .option("path", dir).option("shards", "2")
      .option("maxRecordsPerTrigger", "5").load()
      .selectExpr("CAST(data AS STRING) AS data",
        "CAST(replace(shardId, 'shard-', '') AS INT) AS shardId")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = batch.collect().map(r => (r.getString(0), r.getInt(1)))
        if (rows.nonEmpty) {
          batchSizes.add(rows.length)
          rows.foreach(seen.add)
        }
        ()
      }.start()
    try {
      q.processAllAvailable()
      val sizes = batchSizes.asScala.toSeq
      assert(seen.asScala.map(_._1).toSet == recs.map(_._1).toSet,
        s"every record exactly once: ${seen.asScala.toSeq}")
      assert(sizes.forall(_ <= 5), s"batches must respect the cap: $sizes")
      assert(sizes.length >= 3, s"12 records at cap 5 need >= 3 batches: $sizes")
      // fairness: the first capped batch draws from BOTH shards
      // (water-filling quotas, not shard-0-first exhaustion)
      val firstBatchShards = seen.asScala.toSeq.take(sizes.head).map(_._2).toSet
      assert(firstBatchShards == Set(0, 1),
        s"capped batch must split across shards: $firstBatchShards")
    } finally q.stop()
  }

  test("V2 connector: startingOffsets=latest skips history; JSON map resumes mid-stream") {
    val dir = Files.createTempDirectory("graft_kinesis_v2so").toString
    val prod = new SimulatedKinesis.ShardedProducer(dir, nShards = 2)
    prod.putRecords(Seq(("old1", "u1"), ("old2", "u2"), ("old3", "u1")))
    // latest: the bootstrap-then-stream pattern — a batch job seeds
    // the sink from the store; the stream answers only for NEW data
    val q = spark.readStream.format("kinesis-sim")
      .option("path", dir).option("shards", "2")
      .option("startingOffsets", "latest").load()
      .selectExpr("CAST(data AS STRING) AS data")
      .writeStream.format("memory").outputMode("append")
      .queryName("ksim_latest").start()
    try {
      q.processAllAvailable()
      assert(spark.table("ksim_latest").count() == 0,
        "latest must not replay history")
      prod.putRecords(Seq(("new1", "u1"), ("new2", "u2")))
      q.processAllAvailable()
      val got = spark.table("ksim_latest").collect()
        .map(_.getString(0)).toSet
      assert(got == Set("new1", "new2"), s"got $got")
    } finally q.stop()
    // explicit JSON shard map: resume at exact sequence positions
    // (skip the first record of each shard that has one)
    val q2 = spark.readStream.format("kinesis-sim")
      .option("path", dir).option("shards", "2")
      .option("startingOffsets", """{"0":1,"1":1}""").load()
      .selectExpr("CAST(data AS STRING) AS data")
      .writeStream.format("memory").outputMode("append")
      .queryName("ksim_jsonso").start()
    try {
      q2.processAllAvailable()
      val got = spark.table("ksim_jsonso").collect()
        .map(_.getString(0)).toSet
      // 5 records total across shards; skipping seq 0 on each shard
      // drops exactly 2 — whichever arrived first per shard
      assert(got.size == 3, s"expected 3 after skipping seq 0 per shard: $got")
      assert(got.subsetOf(Set("old1", "old2", "old3", "new1", "new2")))
    } finally q2.stop()
  }

  test("bootstrap-then-stream: batch seed + latest-offset stream equals full truth") {
    // the operational composition startingOffsets=latest exists for:
    // history is aggregated ONCE by a batch job straight off the
    // store, the stream picks up at the frontier, and the upsert sink
    // ends up identical to having streamed everything from earliest
    val dir = Files.createTempDirectory("graft_kinesis_boot").toString
    val ckpt = Files.createTempDirectory("graft_kinesis_bootc").toString
    val prod = new SimulatedKinesis.ShardedProducer(dir, nShards = 2)
    val history = (1 to 40).map(i =>
      (event(s"u${i % 3}", i, i, 100000L + i * 26L), s"u${i % 3}"))
    prod.putRecords(history)
    val table =
      new java.util.concurrent.ConcurrentHashMap[(String, Long), Long]()
    // batch seed: read the store directly (no streaming machinery),
    // run the SAME parse + aggregate, upsert into the sink table
    import org.apache.spark.sql.functions._
    // BATCH read of the retained stream through the SAME connector —
    // no side-channel file access; this is what BATCH_READ is for
    val rawHistory = spark.read.format("kinesis-sim")
      .option("path", dir).option("shards", "2").load()
      .select(col("data").cast("string").as("wire"))
    val seeded = MouseStream.parse(rawHistory.select(col("wire").as("value")))
      .groupBy(col("user_id"), expr("time div 1000").as("sec"))
      .agg(count(lit(1)).as("cnt"))
    seeded.collect().foreach { r =>
      table.put((r.getAs[String]("user_id"), r.getAs[Long]("sec")),
        r.getAs[Long]("cnt"))
    }
    val seededKeys = table.size()
    assert(seededKeys > 0, "batch seed must land aggregates")
    // stream from the frontier: only NEW records flow
    val wire = KinesisRecords.toWire(
      spark.readStream.format("kinesis-sim")
        .option("path", dir).option("shards", "2")
        .option("startingOffsets", "latest").load())
    val q = MouseStream.startToUpsert(
      spark, MouseStream.parse(wire), ckpt) { batch =>
      batch.collect().foreach { r =>
        table.put((r.getAs[String]("user_id"), r.getAs[Long]("sec")),
          r.getAs[Long]("cnt"))
      }
    }
    try {
      q.processAllAvailable()
      // live records in FRESH seconds (the stream's windows must not
      // collide with seeded ones — cross-source window merge is the
      // documented boundary of the pattern)
      prod.putRecords((1 to 10).map(i =>
        (event(s"u${i % 3}", i, i, 200000L + i * 26L), s"u${i % 3}")))
      q.processAllAvailable()
      // truth: batch aggregate over EVERYTHING ever produced
      val all = (history ++ (1 to 10).map(i =>
        (event(s"u${i % 3}", i, i, 200000L + i * 26L), s"u${i % 3}")))
      val expected = all.map { case (data, pk) =>
        val t = """"time":(\d+)""".r.findFirstMatchIn(data).get.group(1).toLong
        (pk, t / 1000L)
      }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      assert(table.asScala.toMap == expected,
        s"seed+stream must equal full-history truth")
    } finally q.stop()
  }

  test("V2 sink: streamed records land on shards with monotone sequences") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_kinesis_sink").toString
    val ckpt = Files.createTempDirectory("graft_kinesis_sinkc").toString
    val input = MemoryStream[(String, String)](spark)
    val q = input.toDF().toDF("payload", "partitionKey")
      .selectExpr("CAST(payload AS BINARY) AS data", "partitionKey")
      .writeStream.format("kinesis-sim")
      .option("path", dir).option("shards", "2")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      input.addData(("a1", "u1"), ("b1", "u2"))
      q.processAllAvailable()
      input.addData(("a2", "u1")) // epoch 2: must APPEND, sequences continue
      q.processAllAvailable()
    } finally q.stop()
    // read back through the V2 source: content, key→shard affinity and
    // cross-epoch sequence continuity all round-trip
    val back = spark.readStream.format("kinesis-sim")
      .option("path", dir).option("shards", "2").load()
      .selectExpr("CAST(data AS STRING) AS data", "partitionKey",
        "CAST(sequenceNumber AS LONG) AS sn", "shardId")
      .writeStream.format("memory").outputMode("append")
      .queryName("ksink_back").start()
    try back.processAllAvailable() finally back.stop()
    val rows = spark.table("ksink_back").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getString(3)))
    assert(rows.length == 3, s"got ${rows.toSeq}")
    val u1 = rows.filter(_._2 == "u1").sortBy(_._3)
    assert(u1.map(_._1).toSeq == Seq("a1", "a2"), s"u1 order: ${u1.toSeq}")
    assert(u1.map(_._4).distinct.length == 1, "one key must stay on one shard")
    assert(u1.map(_._3).toSeq == u1.map(_._3).toSeq.sorted &&
      u1.map(_._3).distinct.length == 2,
      s"sequences must continue across epochs: ${u1.toSeq}")
    // the epoch markers that make a retried commit a no-op
    assert(Files.list(Paths.get(dir, "_epochs")).iterator().asScala.nonEmpty)
  }
}
