package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line with per-query seconds.
  *
  * Each query is fully materialized through the noop sink (count()
  * would let Catalyst prune the computed columns away and measure a
  * hollowed-out plan).
  *
  * A full warm-up pass runs every query once at the smallest scale
  * factor first: the dominant one-shot cost is Janino whole-stage
  * codegen compilation + JIT (measured ~5-7s cold vs ~1-2s warm for
  * the heavy dedup plans), and the generated-code cache keys on plan
  * shape, which is identical across scale factors. Warm-up failures
  * are loud on stderr — a query that fails warm-up pays cold codegen
  * cost in the timed pass, which is exactly the skew warm-up exists
  * to remove.
  *
  * The timed measurement is min-of-3 passes per query (round 13 —
  * "≥3 is the house minimum for any adopted conclusion" applied to
  * the one artifact still at 2; BENCH_r12's session-long loadavg
  * ~6.7 inflated BOTH of a 2-pass run's sweeps for several rows):
  * steady-state execution is what a long-running cluster
  * experiences, and the min discards one-off interference (GC
  * pause, page-cache miss, a co-tenant stealing cores) that a
  * single pass bakes in. The pass count is reported in the JSON
  * ("passes") for transparency.
  *
  * De-correlated passes (round 12): the passes are FULL-SUITE SWEEPS
  * — pass 1 runs the whole alphabet, then pass 2 re-runs it — so a
  * query's two timings land ~85 s apart instead of back-to-back.
  * Co-tenant load bursts on this machine last minutes; back-to-back
  * passes sat inside the same burst and min-of-2 failed for ~8 rows
  * in round 11 (graph_bfs committed [4.45, 4.16] vs a 2.63 s
  * interleaved min). Sweep separation makes the two samples
  * independent draws from the load distribution, so the committed
  * min tracks the interleaved-A/B min.
  *
  * Spike transparency (round 11): the artifact records EVERY pass
  * time per query ("pass_times") plus the machine's 1-minute load
  * average at start and end ("loadavg"), because on this co-tenanted
  * machine a single pass can spike 2-13× (round 10's
  * agg_arg_extremes: committed 2.69 s vs a 0.26 s interleaved-A/B
  * min). With both passes in the record, a spike self-documents as
  * one outlier pass instead of requiring a re-run to diagnose;
  * `scripts/counts.py` prints the worst pass-ratio outliers.
  *
  * A query that throws in the timed pass is recorded in an "errors"
  * array and its time is reported as -1 — failures must be visible in
  * the artifact, not only on stderr.
  *
  * Layers: the full record's "layers" object breaks each query's
  * reported pass into plan ms, jobs, stages, tasks, task run/CPU/GC,
  * shuffle, spill and peak execution memory ([[Profile]]), so a
  * wall-time delta names the layer that moved (`scripts/bench_diff.py`).
  * With SPARK_GRAFT_PLAN_DIR set, the selected queries' formatted
  * plans are written there as `<query>.txt` after the timed sweeps
  * (operators' eager checkpoints show as LogicalRDD leaves). Two
  * builds compare by running both, in alternation, with the same
  * SPARK_GRAFT_BENCH_ONLY.
  */
object Bench {
  private[graft] def fmt(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  // The measurement knobs, shared by Bench and the soaks: the load
  // gate's bound and its longest wait, the passes (or reps) per
  // measurement, and the small scale every harness warms codegen on.
  private[graft] val MaxLoad: Double =
    sys.env.get("SPARK_GRAFT_BENCH_MAX_LOAD").map(_.toDouble).getOrElse(8.0)
  private[graft] val MaxWaitS: Int =
    sys.env.get("SPARK_GRAFT_BENCH_MAX_WAIT_S").map(_.toInt).getOrElse(600)
  private[graft] val Passes: Int =
    sys.env.get("SPARK_GRAFT_BENCH_PASSES").map(_.toInt).getOrElse(3)
  private[graft] val WarmDir: String =
    sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")

  /** The 1-minute load average, -1 when `/proc/loadavg` is unreadable. */
  private[graft] def load1(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString
      .split("\\s+").head.toDouble
    catch { case _: Throwable => -1.0 }

  /** LOAD GATE: a measurement that starts against a loaded box measures the
    * queue, not the query. Waits (bounded by `maxWaitS`) for the
    * 1-minute load to drop to `maxLoad`; returns the seconds waited
    * and whether the measurement still starts GATED, which is loud on
    * stderr and recorded in the artifact, never silently averaged. */
  private[graft] def loadGate(log: String, maxLoad: Double = MaxLoad,
                              maxWaitS: Int = MaxWaitS): (Int, Boolean) = {
    var waited = 0
    if (load1() > maxLoad)
      System.err.println(f"[$log] load gate: loadavg ${load1()}%.1f > $maxLoad%.1f" +
        s" — waiting up to ${maxWaitS}s")
    while (load1() > maxLoad && waited < maxWaitS) {
      Thread.sleep(5000); waited += 5
    }
    val gated = load1() > maxLoad
    if (gated)
      System.err.println(f"[$log] WARNING: starting GATED at loadavg ${load1()}%.1f" +
        f" > $maxLoad%.1f after ${waited}s — the artifact is annotated")
    (waited, gated)
  }

  /** The timed region: `profile`'s tag for `key` is set before the
    * timer starts and cleared after it stops, so the profile counts
    * exactly the work the seconds measure. */
  private[graft] def timed(profile: Profile, key: String)(body: => Unit): Double =
    profile.attributed(key) {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }

  /** Runs `df` to completion through the noop sink: count() would let
    * Catalyst prune the computed columns and time a hollow plan. */
  private[graft] def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Runs each named query once over [[WarmDir]]: Janino codegen + JIT
    * is the dominant one-shot cost, and the generated-code cache keys
    * on plan shape, which is the same at every scale factor. A query
    * that fails warm-up pays cold codegen in its timed run, so the
    * failure is loud. */
  private[graft] def warm(spark: SparkSession, names: Iterable[String], log: String): Unit =
    names.foreach { n =>
      try noop(SparkEntry.queries(n)(spark, WarmDir))
      catch { case e: Throwable =>
        System.err.println(s"[$log] warm-up $n failed: ${e.getMessage}")
      }
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.get()
    // comma-separated allowlist for isolated reruns (mirrors
    // SPARK_GRAFT_VERIFY_ONLY); absent = the full suite. Warm-up is
    // restricted too: an isolated run measures the query alone, not
    // the full suite's codegen-cache state.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    warm(spark, SparkEntry.queries.keys.filter(n => only.forall(_.contains(n))), "bench")
    val profile = new Profile(spark)
    // a query lands in "errors" (and reports -1) only when EVERY pass
    // failed; a transient single-pass failure is stderr-only and the
    // min is taken over the passes that succeeded
    def timeOnce(name: String, fn: (SparkSession, String) => DataFrame,
                 pass: Int): Double =
      try timed(profile, s"$name#$pass")(noop(fn(spark, sfDir)))
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        -1.0
      }
    // gated once, before the timed sweeps: two consecutive official
    // runs drifted ~9% uniformly with nothing to arbitrate environment
    // vs code
    val (waitedS, gatedStart) = loadGate("bench")
    val loadStart = load1()
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // sweep the full suite once per pass (pass 2+ re-runs the whole
    // alphabet) so a query's samples are minutes apart — independent
    // draws w.r.t. minutes-scale co-tenant load bursts
    val sweeps = (1 to Passes).map { p =>
      ordered.map { case (name, fn) => timeOnce(name, fn, p) }
    }
    val results = ordered.zipWithIndex.map { case ((name, _), i) =>
      val ts = sweeps.map(_(i))
      val ok = ts.filter(_ >= 0)
      if (ok.isEmpty) failed += name
      (name, if (ok.isEmpty) -1.0 else ok.min, ts)
    }
    val loadEnd = load1()
    // the layers of the pass whose time is reported
    val layers = profile.layers(results.map { case (k, v, ts) =>
      s"$k#${ts.indexOf(v) + 1}" }: _*).zip(results)
      .map { case (l, (k, _, _)) => "\"" + k + "\":" + l.json }.mkString("{", ",", "}")
    sys.env.get("SPARK_GRAFT_PLAN_DIR").foreach { dir =>
      Files.createDirectories(Paths.get(dir))
      ordered.foreach { case (name, fn) =>
        try {
          val txt = fn(spark, sfDir).queryExecution.explainString(FormattedMode)
          Files.write(Paths.get(dir, s"$name.txt"), txt.getBytes("UTF-8"))
        } catch { case e: Throwable =>
          System.err.println(s"[bench] plan of $name failed: ${e.getMessage}")
        }
      }
    }
    val qs = results.map { case (k, v, _) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val pts = results.map { case (k, _, ts) =>
      "\"" + k + "\":" + ts.map(fmt).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val errs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val gate = s"""{"max_load":${fmt(MaxLoad)},"waited_s":$waitedS,"gated_start":$gatedStart}"""
    val line = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"sf":"$sfDir","passes":$Passes,"pass_times":$pts,"loadavg":{"start":${fmt(loadStart)},"end":${fmt(loadEnd)}},"load_gate":$gate,"errors":$errs,"layers":$layers}"""
    println(line)
    // the driver's artifact keeps only a truncated stdout tail, which
    // loses the first ~half of the per-query timings — persist the
    // complete record ourselves so every query has regression history
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_full.json")
    try Files.write(Paths.get(out), (line + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $out: ${e.getMessage}")
    }
    // LAST LINE: a compact summary that FITS the driver's ~2000-char
    // stdout tail (VERDICT r15 item 4: the full per-query line is
    // ~40 KB, so the tail truncates its head and the driver's
    // `parsed` field came out null four rounds running). Headline
    // numbers + error list here; the complete per-query record is
    // the line above and the persisted file.
    val compact = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","sf":"$sfDir","passes":$Passes,"n_queries":${results.size},"loadavg":{"start":${fmt(loadStart)},"end":${fmt(loadEnd)}},"load_gate":$gate,"errors":$errs,"full_record":"$out"}"""
    println(compact)
    spark.stop()
  }
}

/** One query's work by layer: planning (analysis, optimization and
  * physical planning of every SQL execution it started), the jobs,
  * stages and tasks it ran, executor time, shuffle and spill bytes,
  * and the largest per-task peak of execution memory. */
private[graft] final case class Layers(
    planMs: Long = 0, jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    taskRunMs: Long = 0, taskCpuNs: Long = 0, gcMs: Long = 0,
    shuffleReadBytes: Long = 0, shuffleWriteBytes: Long = 0,
    spillBytes: Long = 0, peakExecMemBytes: Long = 0) {
  def json: String = {
    import Bench.fmt
    s"""{"plan_ms":$planMs,"jobs":$jobs,"stages":$stages,"tasks":$tasks,""" +
      s""""task_run_s":${fmt(taskRunMs / 1e3)},"task_cpu_s":${fmt(taskCpuNs / 1e9)},""" +
      s""""gc_s":${fmt(gcMs / 1e3)},"shuffle_read_bytes":$shuffleReadBytes,""" +
      s""""shuffle_write_bytes":$shuffleWriteBytes,"spill_bytes":$spillBytes,""" +
      s""""peak_exec_mem_bytes":$peakExecMemBytes}"""
  }
}

/** Attributes Spark work to named keys through one `SparkListener`
  * and one `QueryExecutionListener`. [[attributed]] puts a job tag
  * (a thread-local property, inherited by the threads Spark starts
  * for a query's broadcasts and subqueries) on the calling thread for
  * the length of its body and clears it after; the jobs started under
  * the tag, and their stages and tasks, count toward its key. A SQL
  * execution's planning counts toward the key whose tagged interval
  * holds its start (the execution listener sees no job tags), so
  * keys are meant to be timed one at a time, as [[Bench]] does.
  * Untagged work is not counted.
  *
  * The listeners run on the listener bus, after the fact: [[layers]]
  * first runs a one-task marker job under its own key and waits for
  * that task's end, which the bus delivers after every event posted
  * before it. */
private[graft] final class Profile(spark: SparkSession) {
  private val Tag = "graft-profile:"
  private val Drain = "#drain"

  private val work = mutable.Map.empty[String, Layers].withDefaultValue(Layers())
  private val stageKey = mutable.Map.empty[Int, String]
  private val intervals = mutable.ArrayBuffer.empty[(String, Long, Long)]
  private val plans = mutable.ArrayBuffer.empty[(Long, Long)]

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Profile.this.synchronized {
      val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
      tags.toSeq.flatMap(_.split(",")).find(_.startsWith(Tag)).map(_.stripPrefix(Tag))
        .foreach { k =>
          work(k) = work(k).copy(jobs = work(k).jobs + 1)
          e.stageIds.foreach(stageKey(_) = k)
        }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Profile.this.synchronized {
        stageKey.get(e.stageInfo.stageId)
          .foreach(k => work(k) = work(k).copy(stages = work(k).stages + 1))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Profile.this.synchronized {
      for (k <- stageKey.get(e.stageId); m <- Option(e.taskMetrics)) {
        val l = work(k)
        work(k) = l.copy(tasks = l.tasks + 1,
          taskRunMs = l.taskRunMs + m.executorRunTime,
          taskCpuNs = l.taskCpuNs + m.executorCpuTime,
          gcMs = l.gcMs + m.jvmGCTime,
          shuffleReadBytes = l.shuffleReadBytes +
            m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
          shuffleWriteBytes = l.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
          spillBytes = l.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled,
          peakExecMemBytes = math.max(l.peakExecMemBytes, m.peakExecutionMemory))
      }
    }
  }

  /** Each execution's planning: (first phase start, summed phase ms). */
  private val planListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty) Profile.this.synchronized {
        plans += ((phases.map(_.startTimeMs).min,
          phases.map(p => p.endTimeMs - p.startTimeMs).sum))
      }
    }
  }

  spark.sparkContext.addSparkListener(jobListener)
  spark.listenerManager.register(planListener)

  /** Runs `body` with its Spark work attributed to `key`. */
  def attributed[T](key: String)(body: => T): T = {
    val sc = spark.sparkContext
    val start = System.currentTimeMillis()
    sc.addJobTag(Tag + key)
    try body
    finally {
      sc.removeJobTag(Tag + key)
      synchronized(intervals += ((key, start, System.currentTimeMillis())))
    }
  }

  /** What each key ran so far, once the bus has delivered it. */
  def layers(keys: String*): Seq[Layers] = {
    val drained = synchronized(work(Drain).tasks) + 1
    attributed(Drain)(spark.sparkContext.parallelize(Seq(0), 1).count())
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (synchronized(work(Drain).tasks) < drained && System.nanoTime() < deadline)
      Thread.sleep(5)
    synchronized {
      keys.map { k =>
        val in = intervals.filter(_._1 == k)
        work(k).copy(planMs = plans.collect {
          case (at, ms) if in.exists { case (_, s, e) => s <= at && at <= e } => ms
        }.sum)
      }
    }
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(planListener)
  }
}

/** One side's timed reps: seconds, and the [[Profile]] key of each. */
private[graft] final case class Reps(times: Seq[Double], keys: Seq[String]) {
  def min: Double = times.min
  def minKey: String = keys(times.indexOf(min))
}

/** The soaks' rep loop: sides are timed INTERLEAVED (A,B,A,B…), so
  * both sides of a ratio sample the same load trajectory — the soak
  * self-loads the machine, and all-A-then-all-B let the B side sample
  * the later, heavier part of it. Before every rep the
  * load gate runs and `System.gc()` nudges the ContextCleaner, so the
  * previous rep's dead checkpoint blocks leave the storage pool; both
  * stay outside the timer. Gate waits and gated starts are tallied
  * for the artifact. */
private[graft] final class RepLoop(spark: SparkSession, log: String,
                                   maxLoad: Double = Bench.MaxLoad,
                                   maxWaitS: Int = Bench.MaxWaitS) {
  val profile = new Profile(spark)
  private var waitedS = 0
  private var gatedReps = 0

  /** `passes` rounds of one rep per side, keyed `row/side#pass`. */
  def interleaved(row: String, passes: Int)(sides: (String, () => Unit)*): Seq[Reps] = {
    val rounds = (1 to passes).map { p =>
      sides.map { case (side, body) =>
        val (w, gated) = Bench.loadGate(log, maxLoad, maxWaitS)
        waitedS += w
        if (gated) gatedReps += 1
        System.gc()
        val key = s"$row/$side#$p"
        (Bench.timed(profile, key)(body()), key)
      }
    }
    sides.indices.map(i => Reps(rounds.map(_(i)._1), rounds.map(_(i)._2)))
  }

  /** `{side: Layers.json of that side's minimum rep, …}`. */
  def layersJson(sides: Seq[(String, Reps)]): String =
    profile.layers(sides.map(_._2.minKey): _*).zip(sides)
      .map { case (l, (side, _)) => s""""$side": ${l.json}""" }.mkString("{", ", ", "}")

  def gateJson: String =
    s"""{"max_load": $maxLoad, "per_rep": true, "gate_waited_s": $waitedS, "reps_started_gated": $gatedReps}"""
}
