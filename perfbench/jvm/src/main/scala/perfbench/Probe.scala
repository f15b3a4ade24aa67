package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: `layer` names the graft module it belongs to,
  * times are epoch milliseconds. */
final case class Span(id: String, parent: String, name: String,
                      layer: String, start: Double, end: Double)

/** Layer probes hung on Spark's public listeners, plus the spans the
  * benchmark records around its own calls into graft.
  *
  * Untraced runs register no listener; they only time the merge
  * function. Traced runs register one `SparkListener`, one
  * `QueryExecutionListener` and one `StreamingQueryListener`, keep every
  * span in memory, and aggregate only what happens while `measuring`.
  */
final class Probe(spark: SparkSession, val tracing: Boolean) {
  private val t0Nano = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  def now(): Double = t0Ms + (System.nanoTime() - t0Nano) / 1e6

  val spans = new ConcurrentLinkedQueue[Span]()
  def span(id: String, parent: String, name: String, layer: String,
           start: Double, end: Double): Unit =
    if (tracing) spans.add(Span(id, parent, name, layer, start, end))

  // ---- measured intervals -------------------------------------------
  @volatile private var measuring = false
  private var measureFrom = 0.0
  private var measuredMs = 0.0
  def startMeasure(): Unit = synchronized { measuring = true; measureFrom = now() }
  def stopMeasure(): Unit = synchronized {
    if (measuring) measuredMs += now() - measureFrom
    measuring = false
  }

  // ---- merge timing: the benchmark-supplied upsert -------------------
  val mergeMs = new ConcurrentLinkedQueue[Double]()

  private def batchKey(): String = {
    val sc = spark.sparkContext
    val q = Option(sc.getLocalProperty("sql.streaming.queryId")).getOrElse("?")
    s"${q.take(8)}:${Option(sc.getLocalProperty("streaming.sql.batchId")).getOrElse("?")}"
  }

  def merge(body: => Unit): Unit = {
    val key = batchKey()
    val s = now()
    try body
    finally {
      val e = now()
      if (measuring) mergeMs.add(e - s)
      span(s"merge:$key", s"batch:$key", "merge", "streaming", s, e)
    }
  }

  // ---- engine: jobs, stages, tasks by group --------------------------
  final class Agg {
    var jobs, stages, tasks, runMs, cpuNs, gcMs = 0L
    var shRead, shWrite, spill, peakMem = 0L
    var planMs = 0.0
  }
  val groups = mutable.Map.empty[String, Agg]
  private def agg(g: String) = groups.getOrElseUpdate(g, new Agg)
  private val jobs = mutable.Map.empty[Int, (String, String, Double)]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val execGroup = mutable.Map.empty[Long, (String, String)]
  private val plans = mutable.ArrayBuffer.empty[(Long, Seq[(String, Double, Double)])]
  private val queries = mutable.ArrayBuffer.empty[(String, Double, Double)]
  private var active = 0
  private var busyFrom = 0.0
  private var busyMs = 0.0
  val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  val lagRecords = mutable.ArrayBuffer.empty[Long]
  @volatile var shardEndpoint: Option[(String, Int)] = None

  /** Jobs are attributed by the job group the benchmark sets around a
    * batch query, else by the micro-batch that ran them, else to the
    * serve edge (its GETs run jobs from the HTTP server thread). */
  private def classify(p: java.util.Properties): (String, String) = {
    def prop(k: String) = Option(p).flatMap(x => Option(x.getProperty(k)))
    (prop("spark.jobGroup.id"), prop("streaming.sql.batchId")) match {
      case (Some(g), _) => (g, s"q:$g")
      case (None, Some(b)) =>
        ("stream", s"batch:${prop("sql.streaming.queryId").getOrElse("?").take(8)}:$b")
      case _ => ("serve", "")
    }
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Probe.this.synchronized {
      if (measuring) {
        val (g, parent) = classify(e.properties)
        jobs(e.jobId) = (g, parent, e.time.toDouble)
        e.stageIds.foreach(stageGroup(_) = g)
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .foreach(id => execGroup(id.toLong) = (g, parent))
        agg(g).jobs += 1
        if (active == 0) busyFrom = e.time.toDouble
        active += 1
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Probe.this.synchronized {
      jobs.remove(e.jobId).foreach { case (_, parent, s) =>
        span(s"job:${e.jobId}", parent, "job", "engine", s, e.time.toDouble)
        active -= 1
        if (active == 0) busyMs += e.time - busyFrom
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Probe.this.synchronized {
        stageGroup.get(e.stageInfo.stageId).foreach(agg(_).stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Probe.this.synchronized {
      for (g <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
        val a = agg(g)
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        a.shWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = Probe.this.synchronized {
      if (measuring) plans += ((qe.id, qe.tracker.phases.toSeq.map { case (n, p) =>
        (n, p.startTimeMs.toDouble, p.endTimeMs.toDouble)
      }))
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val lag = shardEndpoint.map { case (ep, n) =>
        val latest = (0 until n).map(graft.sources.ShardService.Client.latest(ep, _)).sum
        latest - e.progress.sources.map(s => offsetsTotal(s.endOffset)).sum
      }
      Probe.this.synchronized {
        if (measuring) {
          progress += e.progress
          lag.foreach(lagRecords += _)
        }
        batchSpans(e.progress)
      }
    }
  }

  private def offsetsTotal(json: String): Long =
    "\"[0-9]+\"\\s*:\\s*([0-9]+)".r.findAllMatchIn(Option(json).getOrElse(""))
      .map(_.group(1).toLong).sum

  /** A micro-batch span and its `durationMs` phases. Progress reports
    * phase durations only, so the phases are laid end to end in the
    * order the engine runs them. */
  private def batchSpans(p: StreamingQueryProgress): Unit = if (tracing) {
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    val key = s"${p.id.toString.take(8)}:${p.batchId}"
    span(s"batch:$key", "", "micro-batch", "streaming", start,
      start + d.getOrElse("triggerExecution", 0.0))
    var at = start
    Seq("latestOffset" -> "sources", "walCommit" -> "streaming",
      "queryPlanning" -> "plans", "addBatch" -> "streaming",
      "commitOffsets" -> "streaming").foreach { case (phase, layer) =>
      d.get(phase).foreach { ms =>
        span(s"$phase:$key", s"batch:$key", phase, layer, at, at + ms)
        at += ms
      }
    }
  }

  def install(): Unit = if (tracing) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def uninstall(): Unit = if (tracing) {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Waits for the listener bus to deliver what is still queued. */
  def settle(): Unit = if (tracing) {
    var last = -1L
    var stable = 0
    while (stable < 3) {
      Thread.sleep(100)
      val n = synchronized(jobs.size.toLong * 1000000 + spans.size + plans.size)
      if (n == last) stable += 1 else { stable = 0; last = n }
    }
  }

  /** A batch query's interval, its job group and its span. */
  def query(group: String, name: String, start: Double, end: Double): Unit = synchronized {
    queries += ((group, start, end))
    span(s"q:$group", "", name, "queries", start, end)
  }

  // ---- report ---------------------------------------------------------
  private def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Per-layer metrics for the engine, plans and streaming layers, and
    * per-group aggregates for the batch families. Resolves each planned
    * execution to the group whose jobs carried its execution id. */
  def report(): (Map[String, Double], Map[String, Agg]) = synchronized {
    // an execution without jobs is attributed to the batch query whose
    // interval holds its planning
    def owner(id: Long, at: Double) = execGroup.get(id).orElse(
      queries.find { case (_, s, e) => s <= at && at <= e }.map { case (g, _, _) => (g, s"q:$g") })
    plans.foreach { case (id, phases) =>
      val (g, parent) = owner(id, phases.map(_._2).minOption.getOrElse(0.0)).getOrElse(("other", ""))
      agg(g).planMs += phases.map { case (_, s, e) => e - s }.sum
      phases.foreach { case (n, s, e) => span(s"plan:$id:$n", parent, n, "plans", s, e) }
    }
    val sys = groups.filter { case (g, _) => g != "check" }.values
    def sum(f: Agg => Double) = sys.map(f).sum
    val live = progress.filter(_.numInputRows > 0).toSeq
    def dur(p: StreamingQueryProgress, k: String) =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    def state[T](f: org.apache.spark.sql.streaming.StateOperatorProgress => T)(p: StreamingQueryProgress) =
      p.stateOperators.headOption.map(f)
    val m = Map(
      "exec.jobs" -> sum(_.jobs), "exec.stages" -> sum(_.stages),
      "exec.tasks" -> sum(_.tasks), "exec.task_run_s" -> sum(_.runMs) / 1e3,
      "exec.task_cpu_s" -> sum(_.cpuNs) / 1e9, "exec.gc_s" -> sum(_.gcMs) / 1e3,
      "exec.shuffle_read_mb" -> sum(_.shRead) / 1e6,
      "exec.shuffle_write_mb" -> sum(_.shWrite) / 1e6,
      "exec.spill_mb" -> sum(_.spill) / 1e6,
      "exec.peak_exec_mem_mb" -> (if (sys.isEmpty) 0.0 else sys.map(_.peakMem).max / 1e6),
      "exec.driver_gap_s" -> math.max(0.0, measuredMs - busyMs) / 1e3,
      "plans.plan_ms" -> sum(_.planMs),
      "streaming.batches" -> progress.size.toDouble,
      "streaming.rows_per_batch_p50" -> pct(live.map(_.numInputRows.toDouble), 0.5),
      "streaming.trigger_ms_p50" -> pct(live.map(dur(_, "triggerExecution")), 0.5),
      "streaming.trigger_ms_p95" -> pct(live.map(dur(_, "triggerExecution")), 0.95),
      "streaming.planning_ms_p50" -> pct(live.map(dur(_, "queryPlanning")), 0.5),
      "streaming.add_batch_ms_p50" -> pct(live.map(dur(_, "addBatch")), 0.5),
      "streaming.commit_ms_p50" ->
        pct(live.map(p => dur(p, "walCommit") + dur(p, "commitOffsets")), 0.5),
      "streaming.state_commit_ms_p50" ->
        pct(live.flatMap(state(_.commitTimeMs.toDouble)), 0.5),
      "streaming.state_rows" ->
        progress.lastOption.flatMap(state(_.numRowsTotal.toDouble)).getOrElse(0.0),
      "streaming.state_bytes" ->
        progress.lastOption.flatMap(state(_.memoryUsedBytes.toDouble)).getOrElse(0.0),
      "streaming.late_rows_dropped" ->
        progress.flatMap(state(_.numRowsDroppedByWatermark.toDouble)).sum,
      "streaming.merge_ms_p50" -> pct(mergeMs.asScala.toSeq, 0.5),
      "streaming.merge_rows" -> progress.flatMap(state(_.numRowsUpdated.toDouble)).sum,
      "sources.latest_offset_ms_p50" -> pct(live.map(dur(_, "latestOffset")), 0.5),
      "sources.lag_records_max" ->
        (if (lagRecords.isEmpty) 0.0 else lagRecords.max.toDouble))
    (m, groups.toMap)
  }
}

/** Minimal JSON writer for the harness's stdout protocol. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case s: Span => apply(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "layer" -> s.layer, "start" -> s.start, "end" -> s.end))
    case o => quote(o.toString)
  }

  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
}
