package perfbench

import java.io.{BufferedReader, InputStreamReader}

import scala.util.Try

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import org.apache.spark.sql.types._

import graft.{GraftSession, SparkEntry}
import graft.serve.QueryEdge
import graft.sources.ShardService
import graft.streaming.MouseStream

/** The JVM under test. It starts graft's layers through their public
  * API, times its own calls into them, and talks to the benchmark's
  * load generator (`perfbench/run.py`) over a line protocol: it prints
  * `@@<tag> <json>` lines on stdout and reads one-word commands on
  * stdin.
  *
  *   java ... perfbench.Harness --workload live_steady --work DIR
  *     [--seed N] [--seconds S] [--trace 0|1] [--cores N] [--store DIR]
  *     [--queries a,b,c --data-dir DIR]
  *
  * `--workload digest --queries a,b --data-dir DIR` prints the digest of
  * each stored query output DIR/<query> (see perfbench/seed_expected.py).
  */
object Harness {
  private val Shards = 4
  // the replay reads a fixed backlog in capped micro-batches
  private val ReplayMaxPerTrigger = 30000L
  // kinesis-sim gives every shard an equal share of a capped batch, so
  // shards with fewer users run ahead in event time; the historical
  // backlog is read with a lateness that admits all of it
  private val ReplayLateness = "1 hour"
  private val stdin = new BufferedReader(new InputStreamReader(System.in))

  /** Set-up milestones, seconds since JVM start, reported with the result. */
  private val marks = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  private def mark(name: String): Unit = marks(name) =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  private def emit(tag: String, fields: Map[String, Any]): Unit = {
    println(s"@@$tag ${Json(fields)}")
    System.out.flush()
  }

  private def await(command: String): Unit = {
    val line = stdin.readLine()
    require(line != null && line.trim == command, s"expected '$command', got '$line'")
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    watchGc()
    val work = opt("work")
    val cores = opt.getOrElse("cores", "4").toInt
    val spark = GraftSession.builder(s"local[$cores]", cores)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(spark)
    mark("session")
    val probe = new Probe(spark, opt.getOrElse("trace", "0") == "1")
    val store = opt.getOrElse("store", s"$work/store")
    val result = opt("workload") match {
      case "live_steady" => live(spark, probe, work, store)
      case "replay_catchup" =>
        replay(spark, probe, work, store, opt.getOrElse("seconds", "10").toDouble)
      case "batch_mix" =>
        batch(spark, probe, opt("queries").split(",").toSeq, opt("data-dir"),
          opt.getOrElse("seed", "1").toLong, opt.getOrElse("seconds", "10").toDouble)
      case "digest" => // digests of stored query outputs, `data-dir`/<query>
        Map("digests" -> opt("queries").split(",").map { n =>
          n -> digest(spark.read.parquet(s"${opt("data-dir")}/$n"))
        }.toMap)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    probe.settle()
    val (layers, groups) = probe.report()
    if (probe.tracing) {
      val f = java.nio.file.Paths.get(work, "spans_jvm.json")
      java.nio.file.Files.write(f, Json(probe.spans.toArray.toSeq).getBytes("UTF-8"))
    }
    emit("result", result ++ Map(
      "layers" -> layers,
      "groups" -> groups.map { case (g, a) => g -> Map(
        "jobs" -> a.jobs, "plan_ms" -> a.planMs, "task_cpu_s" -> a.cpuNs / 1e9,
        "shuffle_mb" -> (a.shRead + a.shWrite) / 1e6) },
      "peak_rss_mb" -> vmHwmMb(), "peak_used_after_gc_mb" -> usedAfterGc.get / 1048576.0,
      "setup_marks" -> marks,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0))
    probe.uninstall()
    spark.stop()
    System.exit(0)
  }

  /** Highest memory in use right after a garbage collection, over every
    * pool, heap and non-heap: what the program held at that moment, plus
    * any old-generation garbage the collection left. */
  private val usedAfterGc = new java.util.concurrent.atomic.AtomicLong(0L)

  private def watchGc(): Unit =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.forEach { gc =>
      gc.asInstanceOf[javax.management.NotificationEmitter].addNotificationListener(
        (n: javax.management.Notification, _: AnyRef) => {
          val info = com.sun.management.GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.values.stream()
            .mapToLong(_.getUsed).sum()
          usedAfterGc.accumulateAndGet(used, (a: Long, b: Long) => math.max(a, b))
        }, null, null)
    }

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  // ---- the streaming path ---------------------------------------------

  private def createTable(spark: SparkSession, table: String): Unit =
    spark.sql(s"CREATE TABLE $table (user_id STRING, sec BIGINT, cnt BIGINT, " +
      "movs ARRAY<STRUCT<x: INT, y: INT, time: BIGINT>>) USING parquet")

  /** The benchmark's merge: append the micro-batch's changed windows
    * to the served table, then refresh the table so the serve edge on
    * the same session sees the new files. The edge reads the highest
    * count per (user, second), so appending every update is an upsert. */
  private def startStream(spark: SparkSession, probe: Probe, endpoint: String,
                          checkpoint: String, table: String,
                          lateness: String, maxPerTrigger: Option[Long]): StreamingQuery = {
    val reader = spark.readStream.format("kinesis-sim")
      .option("endpoint", endpoint).option("shards", Shards.toString)
      .option("startingOffsets", "earliest")
    val raw = maxPerTrigger.fold(reader)(m => reader.option("maxRecordsPerTrigger", m.toString)).load()
    val events = MouseStream.parse(raw.select(col("data").as("value")))
    MouseStream.startToUpsert(spark, events, checkpoint, lateness) { batch =>
      probe.merge {
        batch.write.insertInto(table)
        spark.catalog.refreshTable(table)
      }
    }
  }

  /** The served truth: the highest count per (user, second), as the edge
    * reads it, keyed `user|sec`. */
  private def servedCounts(spark: SparkSession, table: String): Map[String, Long] = {
    spark.sparkContext.setJobGroup("check", "output check")
    try spark.table(table).groupBy("user_id", "sec").agg(max("cnt")).collect()
      .map(r => s"${r.getString(0)}|${r.getLong(1)}" -> r.getLong(2)).toMap
    finally spark.sparkContext.clearJobGroup()
  }

  private def fileCount(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(f => java.nio.file.Files.isRegularFile(f) &&
        !f.getFileName.toString.startsWith(".")).count()
      finally s.close()
    }
  }

  private def live(spark: SparkSession, probe: Probe, work: String,
                   store: String): Map[String, Any] = {
    val srv = ShardService.start(store, Shards)
    val endpoint = s"http://localhost:${srv.getAddress.getPort}"
    val table = "movements_live"
    createTable(spark, table)
    val edge = QueryEdge.start(spark, table)
    val edgeUrl = s"http://localhost:${edge.getAddress.getPort}"
    probe.shardEndpoint = Some((endpoint, Shards))
    probe.install()
    val query = startStream(spark, probe, endpoint, s"$work/ckpt-live",
      table, "5 seconds", None)
    mark("stream_started")
    // warm-up: one user's second of events through every layer, then
    // each GET shape once
    val t = System.currentTimeMillis()
    ShardService.Client.putRecords(endpoint, (0 until 100).map { i =>
      (s"""{"user_id":"warmup","x":$i,"y":$i,"time":${t - 1000 + 10 * i}}""", "warmup")
    })
    query.processAllAvailable()
    mark("first_batch")
    Seq(s"${t / 1000 - 5}", s"${t / 1000 + 5}?reverse=true&limit=5",
      s"${t / 1000 + 5}?reverse=true", s"${t / 1000 + 5}?reverse=true&count=false&limit=10")
      .foreach(p => ShardService.Client.get(s"$edgeUrl/users/warmup/movements/$p"))
    mark("serve_warm")
    probe.startMeasure()
    emit("ready", Map("shard_port" -> srv.getAddress.getPort,
      "edge_port" -> edge.getAddress.getPort))
    await("drain")
    query.processAllAvailable()
    emit("drained", Map.empty)
    await("finish")
    probe.stopMeasure()
    val served = servedCounts(spark, table)
    query.stop()
    edge.stop(0)
    srv.stop(0)
    Map("served" -> served,
      "store_files" -> fileCount(store),
      "table_files" -> fileCount(s"$work/warehouse/$table"))
  }

  /** (start, end, rows) of each non-empty micro-batch, epoch ms. */
  private def batchTimes(ps: Seq[StreamingQueryProgress]): Seq[Seq[Double]] =
    ps.filter(_.numInputRows > 0).map { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      Seq(start, start + p.durationMs.get("triggerExecution").doubleValue,
        p.numInputRows.toDouble)
    }

  private def replay(spark: SparkSession, probe: Probe, work: String, store: String,
                     seconds: Double): Map[String, Any] = {
    val srv = ShardService.start(store, Shards)
    val endpoint = s"http://localhost:${srv.getAddress.getPort}"
    emit("store", Map("shard_port" -> srv.getAddress.getPort))
    mark("store")
    await("go") // the generator has pre-filled the backlog
    mark("prefilled")
    val backlog = (0 until Shards).map(ShardService.Client.latest(endpoint, _)).sum
    probe.shardEndpoint = Some((endpoint, Shards))
    probe.install()
    // warm-up: two small micro-batches through the same plan
    createTable(spark, "replay_warm")
    val warm = startStream(spark, probe, endpoint, s"$work/ckpt-warm",
      "replay_warm", ReplayLateness, Some(ReplayMaxPerTrigger / 10))
    while (warm.isActive && warm.recentProgress.count(_.numInputRows > 0) < 2)
      Thread.sleep(20)
    warm.stop()
    mark("warm_drain")
    emit("ready", Map("backlog" -> backlog))
    val t0 = System.nanoTime()
    var i = 0
    // at least two drains, so the best of them discards a slow spell
    while (i < 2 || ((System.nanoTime() - t0) / 1e9 < seconds && i < 20)) {
      val table = s"replay_$i"
      createTable(spark, table)
      probe.startMeasure()
      val start = probe.now()
      val query = startStream(spark, probe, endpoint, s"$work/ckpt-$i",
        table, ReplayLateness, Some(ReplayMaxPerTrigger))
      query.processAllAvailable()
      val end = probe.now()
      probe.stopMeasure()
      val batches = batchTimes(query.recentProgress.toSeq)
      query.stop()
      val served = servedCounts(spark, table)
      spark.sql(s"DROP TABLE $table")
      emit("drain", Map("i" -> i, "start" -> start, "end" -> end,
        "batches" -> batches, "served" -> served))
      i += 1
    }
    srv.stop(0)
    Map("backlog" -> backlog, "drains" -> i, "store_files" -> fileCount(store))
  }

  // ---- the batch suite ------------------------------------------------

  /** Row count plus an order-independent hash of every column, in the
    * one action that materializes the query: the two 32-bit halves of
    * each row's xxhash64 are summed separately so the sums cannot
    * overflow. */
  private def digest(df: DataFrame): Seq[Long] = {
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType => true
      case a: ArrayType => hasMap(a.elementType)
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case _ => false
    }
    val cols: Seq[Column] = lit(0) +: df.schema.fields.toSeq.map { f =>
      val c = df.col("`" + f.name.replace("`", "``") + "`")
      if (hasMap(f.dataType)) to_json(c) else c
    }
    val r = df.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").bitwiseAND(0xFFFFFFFFL)), sum(shiftright(col("h"), 32)))
      .collect()(0)
    Seq(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
      if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  private def batch(spark: SparkSession, probe: Probe, names: Seq[String],
                    dataDir: String, seed: Long, seconds: Double): Map[String, Any] = {
    val queries = SparkEntry.queries
    val rng = new scala.util.Random(seed)
    val times = scala.collection.mutable.Map.empty[String, List[Double]].withDefaultValue(Nil)
    val digests = scala.collection.mutable.Map.empty[String, Seq[Long]]
    val errors = scala.collection.mutable.Map.empty[String, String]
    def run(n: String): Try[Seq[Long]] = Try(digest(queries(n)(spark, dataDir)))
    // one pass in a seed-shuffled order; `timed` is the measured pass
    // number, or -1 for the warm-up pass
    def pass(timed: Int): Unit = rng.shuffle(names).foreach { n =>
      // one job group per query and pass: "name#pass"
      if (timed >= 0 && probe.tracing) spark.sparkContext.setJobGroup(s"$n#$timed", n)
      val s = probe.now()
      val r = run(n)
      val e = probe.now()
      r.fold(err => errors(n) = String.valueOf(err), d => digests(n) = d)
      if (timed >= 0) {
        probe.query(s"$n#$timed", n, s, e)
        times(n) = (e - s) / 1e3 :: times(n)
      }
    }
    // warm-up, all at the measured scale: two rounds of every query,
    // `cores` at a time (mostly one-off code generation and JIT, which
    // overlap this way), then one pass as measured. Per-query times
    // still fall over the first sequential passes; a slow host slows
    // that fall too, so timing the first pass would add to the spread.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      spark.sparkContext.defaultParallelism)
    val warmErrors = try Seq.fill(2)(names).flatten.map(n => n -> pool.submit(() => run(n)))
      .flatMap { case (n, f) => f.get().failed.toOption.map(e => n -> String.valueOf(e)) }.toMap
    finally pool.shutdown()
    mark("warm_rounds")
    pass(-1)
    mark("warm_pass")
    probe.install()
    emit("ready", Map("warm_errors" -> warmErrors))
    val t0 = System.nanoTime()
    var passes = 0
    probe.startMeasure()
    // at least four measured passes; each query's median pass counts,
    // which discards a slow spell shorter than half the passes
    while (passes < 4 || (System.nanoTime() - t0) / 1e9 < seconds) {
      pass(passes)
      passes += 1
    }
    probe.stopMeasure()
    spark.sparkContext.clearJobGroup()
    Map("passes" -> passes,
      "queries" -> names.map { n =>
        n -> Map("times" -> times(n).reverse, "digest" -> digests.get(n),
          "error" -> errors.get(n))
      }.toMap)
  }
}
