package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.GraphOps
import graft.streaming.GraphRankStream

/** Streaming maintenance of the graph-IVM state pack: signed
  * micro-batches fold into the snapshot table, and the served ranks
  * (plain + PPR) AND component labels equal their from-scratch
  * operators on the cumulative survivor graph after every batch —
  * including across a mid-stream kill/restart and deletion batches.
  * Contract violations fail the query loudly; the writer lease
  * refuses a second maintainer; snapshots auto-vacuum; a grown
  * universe migrates via re-bootstrap. */
class GraphRankStreamSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def ranksOf(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def labelsOf(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  import scala.jdk.CollectionConverters._

  private def snapDirs(table: String): Int = {
    val l = java.nio.file.Files.list(java.nio.file.Paths.get(table))
    try l.iterator().asScala
      .count(_.getFileName.toString.startsWith("snap-"))
    finally l.close()
  }

  test("signed micro-batches maintain ALL THREE families (plain, PPR, " +
       "labels) equal to from-scratch on the final graph, across a " +
       "mid-stream kill/restart; stranded nodes survive to re-connect") {
    val table = tmp("graft_rankstream_tbl")
    val ckpt = tmp("graft_rankstream_ckpt")
    // universe: a 4-cycle and a 3-cycle
    val edges0 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L),
      (5L, 6L), (6L, 7L), (7L, 5L))
    val seeds = Seq(1L, 5L).toDF("node")
    GraphRankStream.bootstrap(edges0.toDF("id1", "id2"), table,
      iterations = 4, seeds = Some(seeds), withComponents = true)
    assert(ranksOf(GraphRankStream.currentRanks(spark, table)) ==
      ranksOf(GraphOps.pageRank(edges0.toDF("id1", "id2"),
        iterations = 4)),
      "bootstrap serves the from-scratch plain ranks")
    assert(ranksOf(GraphRankStream.currentPprRanks(spark, table)) ==
      ranksOf(GraphOps.personalizedPageRank(edges0.toDF("id1", "id2"),
        seeds, iterations = 4)),
      "bootstrap serves the from-scratch PPR ranks")
    val input = MemoryStream[(Long, Long, String)](spark)
    val stream = input.toDF().toDF("id1", "id2", "op")
    def start() = GraphRankStream.maintain(stream, table, Some(ckpt))
    val q1 = start()
    input.addData((1L, 3L, "add"))
    q1.processAllAvailable()
    input.addData((4L, 1L, "del"), (4L, 5L, "add"))
    q1.processAllAvailable()
    q1.stop() // mid-stream kill
    // the cumulative graph after two folded batches
    val g2 = (edges0.filterNot(_ == ((4L, 1L))) ++
      Seq((1L, 3L), (4L, 5L))).toDF("id1", "id2")
    assert(ranksOf(GraphRankStream.currentRanks(spark, table)) ==
      ranksOf(GraphOps.pageRank(g2, iterations = 4)),
      "pre-kill state serves from-scratch ranks on the batch-2 graph")
    assert(labelsOf(GraphRankStream.currentLabels(spark, table)) ==
      labelsOf(GraphOps.connectedComponents(g2)),
      "pre-kill labels reflect the 4-5 merge")
    val q2 = start()
    try {
      // batch 3 strands node 6 (both its edges retracted) — it must
      // hold a teleport-only rank / singleton label, not vanish
      input.addData((5L, 6L, "del"), (6L, 7L, "del"))
      q2.processAllAvailable()
      assert(GraphRankStream.currentRanks(spark, table).count() == 7L,
        "the universe never shrinks: stranded node 6 still served")
      assert(GraphRankStream.currentPprRanks(spark, table).count() == 7L,
        "the PPR trajectory keeps the stranded node too")
      assert(labelsOf(GraphRankStream.currentLabels(spark, table))
          .get(6L).contains(6L),
        "a stranded node survives as its own singleton cluster")
      // batch 4 re-connects it
      input.addData((6L, 1L, "add"))
      q2.processAllAvailable()
    } finally q2.stop()
    val finalEdges = (edges0
      .filterNot(e => Seq((4L, 1L), (5L, 6L), (6L, 7L)).contains(e)) ++
      Seq((1L, 3L), (4L, 5L), (6L, 1L)))
    val gF = finalEdges.toDF("id1", "id2")
    // nobody is stranded in the final graph, so the from-scratch
    // operators (edge-derived node sets) are directly comparable
    assert(ranksOf(GraphRankStream.currentRanks(spark, table)) ==
      ranksOf(GraphOps.pageRank(gF, iterations = 4)),
      "four signed batches across a restart == from-scratch (plain)")
    assert(ranksOf(GraphRankStream.currentPprRanks(spark, table)) ==
      ranksOf(GraphOps.personalizedPageRank(gF, seeds, iterations = 4)),
      "four signed batches across a restart == from-scratch (PPR)")
    assert(labelsOf(GraphRankStream.currentLabels(spark, table)) ==
      labelsOf(GraphOps.connectedComponents(gF)),
      "four signed batches across a restart == from-scratch (labels)")
    // the FULL maintained trajectories match from-scratch too — the
    // pack stays foldable, not just servable
    val st = GraphRankStream.readState(spark, table)
    def trajSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val stF = GraphOps.pageRankEdgeState(gF)
    assert(trajSet(st.traj) == trajSet(
        GraphOps.pageRankTrajectoryFromEdges(stF, iterations = 4)),
      "maintained plain trajectory == from-scratch trajectory")
    assert(trajSet(st.pprTraj.get) == trajSet(
        GraphOps.pprTrajectoryFromEdges(stF, seeds, iterations = 4)),
      "maintained PPR trajectory == from-scratch trajectory")
    assert(st.appliedBatch >= 3L, "the applied-batch marker advanced")
  }

  test("a replayed epoch is skipped: folding is exactly-once even " +
       "when the batch is re-delivered") {
    val table = tmp("graft_rankstream_replay")
    GraphRankStream.bootstrap(
      Seq((1L, 2L), (2L, 3L)).toDF("id1", "id2"), table, iterations = 3)
    val st0 = GraphRankStream.readState(spark, table)
    // manual re-delivery of epoch 0 twice against the same table —
    // the second publish must be skipped by the marker, leaving one
    // new snapshot, not two
    def foldEpoch(epoch: Long): Unit = {
      val st = GraphRankStream.readState(spark, table)
      if (epoch > st.appliedBatch) {
        val r = GraphOps.graphStatesFoldPack(st.traj, None, None,
          st.edgesDeg, Seq((1L, 3L)).toDF("id1", "id2"),
          Seq.empty[(Long, Long)].toDF("id1", "id2"), 3)
        GraphRankStream.publish(table, r.traj, r.edgesDeg, epoch, 3)
      }
    }
    foldEpoch(0L)
    val snapAfterFirst = graft.sources.Snapshots.currentId(table).get
    foldEpoch(0L) // replay
    assert(graft.sources.Snapshots.currentId(table).get == snapAfterFirst,
      "replayed epoch publishes nothing")
    assert(ranksOf(GraphRankStream.currentRanks(spark, table)) ==
      ranksOf(GraphOps.pageRank(
        Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("id1", "id2"), 3)),
      "state reflects exactly one application of the batch")
    assert(st0.appliedBatch == -1L, "bootstrap marker is -1")
  }

  test("contract violations fail the query loudly: a node-adding " +
       "batch, an unknown op, and a NULL op all refuse") {
    val table = tmp("graft_rankstream_refuse")
    GraphRankStream.bootstrap(
      Seq((1L, 2L), (2L, 3L)).toDF("id1", "id2"), table, iterations = 3)
    def refusing(rows: (Long, Long, String)*): String = {
      val input = MemoryStream[(Long, Long, String)](spark)
      val q = GraphRankStream.maintain(
        input.toDF().toDF("id1", "id2", "op"), table, None)
      try {
        input.addData(rows: _*)
        intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          q.processAllAvailable()
        }.getMessage
      } finally q.stop()
    }
    assert(refusing((3L, 99L, "add")).contains("new node"),
      "universe violation surfaces the fold's refusal")
    assert(refusing((1L, 3L, "upsert")).contains("op outside"),
      "unknown op refuses")
    // a NULL op must refuse, not silently vanish through the isin
    // three-valued logic (ADVICE r15)
    assert(refusing((1L, 3L, null)).contains("op outside"),
      "NULL op refuses")
    // the refused batches never mutated the state
    assert(ranksOf(GraphRankStream.currentRanks(spark, table)) ==
      ranksOf(GraphOps.pageRank(
        Seq((1L, 2L), (2L, 3L)).toDF("id1", "id2"), 3)))
  }

  test("a restart WITHOUT the original checkpoint refuses loudly " +
       "instead of silently dropping batches (epoch < marker)") {
    val table = tmp("graft_rankstream_epoch")
    GraphRankStream.bootstrap(
      Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("id1", "id2"), table,
      iterations = 3)
    val ckptA = tmp("graft_rankstream_epoch_ckA")
    val input = MemoryStream[(Long, Long, String)](spark)
    val q1 = GraphRankStream.maintain(
      input.toDF().toDF("id1", "id2", "op"), table, Some(ckptA))
    input.addData((1L, 3L, "add"))
    q1.processAllAvailable()
    input.addData((2L, 4L, "add"))
    q1.processAllAvailable()
    q1.stop() // marker is now 1
    val before = ranksOf(GraphRankStream.currentRanks(spark, table))
    // restart with a FRESH checkpoint: epochs restart at 0 < 1 — the
    // old guard silently skipped such batches (ADVICE r15); now loud
    val input2 = MemoryStream[(Long, Long, String)](spark)
    val q2 = GraphRankStream.maintain(
      input2.toDF().toDF("id1", "id2", "op"), table,
      Some(tmp("graft_rankstream_epoch_ckB")))
    try {
      input2.addData((1L, 4L, "add"))
      val e = intercept[
          org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      assert(e.getMessage.contains("without its original checkpoint"),
        s"mismatch is loud: ${e.getMessage}")
    } finally q2.stop()
    assert(ranksOf(GraphRankStream.currentRanks(spark, table)) == before,
      "the refused batch never mutated the state")
  }

  test("single-writer lease: a second concurrent maintain on the same " +
       "table refuses; after the first stops, a new one proceeds") {
    val table = tmp("graft_rankstream_lease")
    val ckpt = tmp("graft_rankstream_lease_ck")
    GraphRankStream.bootstrap(
      Seq((1L, 2L), (2L, 3L)).toDF("id1", "id2"), table, iterations = 3)
    val input = MemoryStream[(Long, Long, String)](spark)
    def start() = GraphRankStream.maintain(
      input.toDF().toDF("id1", "id2", "op"), table, Some(ckpt))
    val q1 = start()
    try {
      val input2 = MemoryStream[(Long, Long, String)](spark)
      val e = intercept[IllegalStateException] {
        GraphRankStream.maintain(
          input2.toDF().toDF("id1", "id2", "op"), table, None)
      }
      assert(e.getMessage.contains("writer lease"),
        s"second maintainer refuses: ${e.getMessage}")
      // the refused attempt must not have broken the live maintainer
      input.addData((1L, 3L, "add"))
      q1.processAllAvailable()
    } finally q1.stop()
    // after a stop, the lease is free (even before the async
    // termination listener fires) — the restart resumes the same
    // checkpoint, so its next batch continues the epoch sequence
    val q3 = start()
    try {
      input.addData((2L, 1L, "del"))
      q3.processAllAvailable()
    } finally q3.stop()
    // final graph: {(1,2),(2,3)} + (1,3) − (2,1) = {(2,3),(1,3)} — no
    // stranding, so the edge-derived from-scratch compare is direct
    assert(ranksOf(GraphRankStream.currentRanks(spark, table)) ==
      ranksOf(GraphOps.pageRank(
        Seq((2L, 3L), (1L, 3L)).toDF("id1", "id2"), 3)),
      "both maintainers' folds landed exactly once")
  }

  test("auto-vacuum bounds the snapshot count at keepSnapshots while " +
       "a reader pinned before the batch stays consistent") {
    val table = tmp("graft_rankstream_vac")
    GraphRankStream.bootstrap(
      (1L to 12L).sliding(2).map(s => (s.head, s.last)).toSeq
        .toDF("id1", "id2"), table, iterations = 3)
    val input = MemoryStream[(Long, Long, String)](spark)
    val q = GraphRankStream.maintain(
      input.toDF().toDF("id1", "id2", "op"), table, None,
      keepSnapshots = 2)
    try {
      for (i <- 1L to 5L) {
        // pin a reader BEFORE the batch publishes over it
        val pinned = GraphRankStream.readState(spark, table)
        val pinnedTip = ranksOf(pinned.traj
          .filter(col("iter") === pinned.iterations).select("node", "pr"))
        input.addData((1L, 2L + i, "add"))
        q.processAllAvailable()
        assert(snapDirs(table) <= 2,
          s"after batch $i: ${snapDirs(table)} snapshot dirs > keep=2")
        assert(ranksOf(pinned.traj
            .filter(col("iter") === pinned.iterations)
            .select("node", "pr")) == pinnedTip,
          "the pinned pre-batch reader still serves its snapshot")
      }
    } finally q.stop()
    val gF = ((1L to 12L).sliding(2).map(s => (s.head, s.last)).toSeq ++
      (1L to 5L).map(i => (1L, 2L + i))).toDF("id1", "id2")
    assert(ranksOf(GraphRankStream.currentRanks(spark, table)) ==
      ranksOf(GraphOps.pageRank(gF, iterations = 3)),
      "vacuuming never touched the served state")
  }

  test("universe growth migrates via re-bootstrap: refusal, then " +
       "bootstrap(v2) on the SAME table, then folding resumes from a " +
       "fresh checkpoint (epoch marker reset to -1)") {
    val table = tmp("graft_rankstream_reboot")
    val edges0 = Seq((1L, 2L), (2L, 3L))
    GraphRankStream.bootstrap(edges0.toDF("id1", "id2"), table,
      iterations = 3)
    val input = MemoryStream[(Long, Long, String)](spark)
    val q1 = GraphRankStream.maintain(
      input.toDF().toDF("id1", "id2", "op"), table,
      Some(tmp("graft_rankstream_reboot_ck1")))
    input.addData((1L, 3L, "add"))
    q1.processAllAvailable() // epoch 0 folds fine
    // node 9 is outside the universe: the fold refuses, the query dies
    input.addData((3L, 9L, "add"))
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.processAllAvailable()
    }
    q1.stop()
    // EPOCH MIGRATION: re-bootstrap the grown graph into the same
    // table — the marker resets to -1 and the node universe now
    // includes 9; resume with a FRESH checkpoint (the old one's
    // epochs belong to the dead universe)
    val g1 = edges0 ++ Seq((1L, 3L), (3L, 9L))
    GraphRankStream.bootstrap(g1.toDF("id1", "id2"), table,
      iterations = 3)
    assert(GraphRankStream.readState(spark, table).appliedBatch == -1L,
      "re-bootstrap resets the applied-batch marker")
    val input2 = MemoryStream[(Long, Long, String)](spark)
    val q2 = GraphRankStream.maintain(
      input2.toDF().toDF("id1", "id2", "op"), table,
      Some(tmp("graft_rankstream_reboot_ck2")))
    try {
      input2.addData((2L, 9L, "add"), (1L, 2L, "del"))
      q2.processAllAvailable()
    } finally q2.stop()
    val gF = (g1 :+ ((2L, 9L))).filterNot(_ == ((1L, 2L)))
    assert(ranksOf(GraphRankStream.currentRanks(spark, table)) ==
      ranksOf(GraphOps.pageRank(gF.toDF("id1", "id2"), iterations = 3)),
      "post-migration folds equal from-scratch on the final graph")
  }

  test("the identity-blind replay window is CLOSED (ADVICE r16): a " +
       "fresh-checkpoint restart whose epoch 0 collides with applied " +
       "marker 0 refuses instead of silently skipping the batch") {
    val table = tmp("graft_rankstream_ident")
    GraphRankStream.bootstrap(
      Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("id1", "id2"), table,
      iterations = 3)
    val input = MemoryStream[(Long, Long, String)](spark)
    val q1 = GraphRankStream.maintain(
      input.toDF().toDF("id1", "id2", "op"), table,
      Some(tmp("graft_rankstream_ident_ckA")))
    input.addData((1L, 3L, "add"))
    q1.processAllAvailable()
    q1.stop() // marker is now exactly 0
    val before = ranksOf(GraphRankStream.currentRanks(spark, table))
    val input2 = MemoryStream[(Long, Long, String)](spark)
    val q2 = GraphRankStream.maintain(
      input2.toDF().toDF("id1", "id2", "op"), table,
      Some(tmp("graft_rankstream_ident_ckB")))
    try {
      input2.addData((2L, 4L, "add")) // DIFFERENT data at epoch 0
      val e = intercept[
          org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      assert(e.getMessage.contains("DIFFERENT run"),
        s"identity mismatch is loud: ${e.getMessage}")
    } finally q2.stop()
    assert(ranksOf(GraphRankStream.currentRanks(spark, table)) == before,
      "the refused replay never mutated the state")
  }

  test("maintain refuses AT START to resume an applied table without " +
       "a checkpointDir, and the refusal frees the lease") {
    val table = tmp("graft_rankstream_nockpt")
    val ckpt = tmp("graft_rankstream_nockpt_ck")
    GraphRankStream.bootstrap(
      Seq((1L, 2L), (2L, 3L)).toDF("id1", "id2"), table, iterations = 3)
    val input = MemoryStream[(Long, Long, String)](spark)
    def start() = GraphRankStream.maintain(
      input.toDF().toDF("id1", "id2", "op"), table, Some(ckpt))
    val q1 = start()
    input.addData((1L, 3L, "add"))
    q1.processAllAvailable()
    q1.stop() // marker >= 0 now
    val input2 = MemoryStream[(Long, Long, String)](spark)
    val e = intercept[IllegalStateException] {
      GraphRankStream.maintain(
        input2.toDF().toDF("id1", "id2", "op"), table, None)
    }
    assert(e.getMessage.contains("no checkpointDir"),
      s"checkpoint-less resume refuses: ${e.getMessage}")
    // the early refusal released the lease: the legitimate restart
    // (original checkpoint) proceeds
    val q2 = start()
    try {
      input.addData((2L, 1L, "del"))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(ranksOf(GraphRankStream.currentRanks(spark, table)) ==
      ranksOf(GraphOps.pageRank(
        Seq((2L, 3L), (1L, 3L)).toDF("id1", "id2"), 3)),
      "the post-refusal restart folded normally")
  }

  test("bootstrap refuses under a LIVE maintainer (writer lease), " +
       "and a same-JVM refusal leaves the maintainer's OS lock " +
       "intact (ADVICE r16: no channel-close lock drop)") {
    val table = tmp("graft_rankstream_bootlease")
    GraphRankStream.bootstrap(
      Seq((1L, 2L), (2L, 3L)).toDF("id1", "id2"), table, iterations = 3)
    val input = MemoryStream[(Long, Long, String)](spark)
    val q1 = GraphRankStream.maintain(
      input.toDF().toDF("id1", "id2", "op"), table,
      Some(tmp("graft_rankstream_bootlease_ck")))
    try {
      val e = intercept[IllegalStateException] {
        GraphRankStream.bootstrap(
          Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("id1", "id2"), table,
          iterations = 3)
      }
      assert(e.getMessage.contains("writer lease"),
        s"re-bootstrap under a live maintainer refuses: ${e.getMessage}")
      // the refusal path must not have dropped the live maintainer's
      // POSIX lock (the r16-advised hazard: closing ANY channel to a
      // file releases ALL of the process's locks on it). Probe from a
      // fresh channel — the lock must still be held. The probe
      // channel is deliberately NOT closed: closing it would itself
      // drop the maintainer's lock under the same POSIX rule.
      val probe = java.nio.channels.FileChannel.open(
        java.nio.file.Paths.get(table, "_maintainer.lock"),
        java.nio.file.StandardOpenOption.WRITE)
      intercept[java.nio.channels.OverlappingFileLockException] {
        probe.tryLock()
      }
      // and the maintainer is still fully functional
      input.addData((1L, 3L, "add"))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(ranksOf(GraphRankStream.currentRanks(spark, table)) ==
      ranksOf(GraphOps.pageRank(
        Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("id1", "id2"), 3)),
      "the maintainer's fold landed after the refused bootstrap")
  }

  test("partial republish (VERDICT r16 item 8): a ball-bounded batch " +
       "writes only the touched buckets, hardlinks the rest, and the " +
       "linked pack serves AND folds exactly as a full rewrite") {
    import java.nio.file.{Files, Paths}
    val table = tmp("graft_rankstream_partial")
    val edges = (1L until 300L).map(i => (i, i + 1))
    GraphRankStream.bootstrap(edges.toDF("id1", "id2"), table,
      iterations = 3, numBuckets = 64)
    val input = MemoryStream[(Long, Long, String)](spark)
    val q = GraphRankStream.maintain(
      input.toDF().toDF("id1", "id2", "op"), table,
      Some(tmp("graft_rankstream_partial_ck")))
    def dataFiles(): Seq[java.nio.file.Path] = {
      val root = Paths.get(graft.sources.Snapshots.currentPath(table))
      val w = Files.walk(root)
      try w.iterator().asScala.filter(p => Files.isRegularFile(p) &&
          !p.getFileName.toString.startsWith("_") &&
          !p.getFileName.toString.startsWith(".")).toSeq
      finally w.close()
    }
    try {
      input.addData((5L, 3L, "add"))
      q.processAllAvailable()
      val files = dataFiles()
      def nlink(p: java.nio.file.Path): Long =
        Files.getAttribute(p, "unix:nlink").asInstanceOf[Number].longValue
      val linked = files.count(nlink(_) > 1L)
      val fresh = files.size - linked
      assert(linked > 0, "untouched buckets were hardlinked, not rewritten")
      assert(fresh < files.size / 2,
        s"a one-edge delta wrote $fresh of ${files.size} files fresh — " +
          "the republish is not partial")
      // the linked pack serves exactly the from-scratch answer
      assert(ranksOf(GraphRankStream.currentRanks(spark, table)) ==
        ranksOf(GraphOps.pageRank(
          (edges :+ ((5L, 3L))).toDF("id1", "id2"), iterations = 3)),
        "partial publish serves from-scratch ranks")
      // and stays FOLDABLE: a second batch (a deletion) folds on top
      // of the hardlinked snapshot
      input.addData((100L, 101L, "del"))
      q.processAllAvailable()
    } finally q.stop()
    val gF = (edges :+ ((5L, 3L))).filterNot(_ == ((100L, 101L)))
    assert(ranksOf(GraphRankStream.currentRanks(spark, table)) ==
      ranksOf(GraphOps.pageRank(gF.toDF("id1", "id2"), iterations = 3)),
      "a fold over a hardlink-reused snapshot equals from-scratch")
  }

  test("label-invariant republish (VERDICT r17 item 6): an adds-only " +
       "batch that merges nothing hardlinks the label buckets too; a " +
       "merging batch rewrites them; served labels always equal " +
       "from-scratch components") {
    import java.nio.file.{Files, Paths}
    val table = tmp("graft_rankstream_lblinv")
    // two chain components: 1..150 and 200..300
    val edges = (1L until 150L).map(i => (i, i + 1)) ++
      (200L until 300L).map(i => (i, i + 1))
    GraphRankStream.bootstrap(edges.toDF("id1", "id2"), table,
      iterations = 3, withComponents = true, numBuckets = 16)
    val input = MemoryStream[(Long, Long, String)](spark)
    val q = GraphRankStream.maintain(
      input.toDF().toDF("id1", "id2", "op"), table,
      Some(tmp("graft_rankstream_lblinv_ck")))
    def labelFiles(): Seq[java.nio.file.Path] = {
      val root = Paths.get(graft.sources.Snapshots.currentPath(table))
      val w = Files.walk(root.resolve("rel=label"))
      try w.iterator().asScala.filter(p => Files.isRegularFile(p) &&
          !p.getFileName.toString.startsWith("_") &&
          !p.getFileName.toString.startsWith(".")).toSeq
      finally w.close()
    }
    def nlink(p: java.nio.file.Path): Long =
      Files.getAttribute(p, "unix:nlink").asInstanceOf[Number].longValue
    try {
      // batch 1: an edge INSIDE component 1 — no merge, labels
      // provably invariant, so every label file must be a hardlink
      input.addData((5L, 3L, "add"))
      q.processAllAvailable()
      val lf1 = labelFiles()
      assert(lf1.nonEmpty && lf1.forall(nlink(_) > 1L),
        s"labels were invariant but ${lf1.count(nlink(_) == 1L)} of " +
          s"${lf1.size} label files were rewritten instead of linked")
      assert(labelsOf(GraphRankStream.currentLabels(spark, table)) ==
        labelsOf(GraphOps.connectedComponents(
          (edges :+ ((5L, 3L))).toDF("id1", "id2"))),
        "linked labels serve the from-scratch labeling")
      // batch 2: an edge BETWEEN the components — a merge; the label
      // relation changes and must be rewritten fresh
      input.addData((150L, 200L, "add"))
      q.processAllAvailable()
      val lf2 = labelFiles()
      assert(lf2.exists(nlink(_) == 1L),
        "a merging batch must rewrite label files, not link them")
      assert(labelsOf(GraphRankStream.currentLabels(spark, table)) ==
        labelsOf(GraphOps.connectedComponents(
          (edges ++ Seq((5L, 3L), (150L, 200L))).toDF("id1", "id2"))),
        "a merge rewrites labels to the from-scratch labeling")
    } finally q.stop()
  }

  test("a legacy unpartitioned pack reads fine and upgrades to the " +
       "partitioned layout on its next publish") {
    import java.nio.file.{Files, Paths}
    val table = tmp("graft_rankstream_legacy")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
      .toDF("id1", "id2")
    val st = GraphOps.pageRankEdgeState(pairs)
    val traj = GraphOps.pageRankTrajectoryFromEdges(st, iterations = 3)
    // the round-16 on-disk layout: one unpartitioned relation, no
    // fams row, meta c = 0
    val legacy = st.select(lit("edge").as("rel"), col("src").as("a"),
        col("dst").as("b"), col("deg").as("c"))
      .unionByName(traj.select(lit("traj").as("rel"),
        col("node").as("a"), col("iter").cast("long").as("b"),
        col("pr").as("c")))
      .unionByName(spark.range(1).select(lit("meta").as("rel"),
        lit(-1L).as("a"), lit(3L).as("b"), lit(0L).as("c")))
    graft.sources.Snapshots.publish(legacy, table)
    val st0 = GraphRankStream.readState(spark, table)
    assert(st0.numBuckets == 0 && st0.pprTraj.isEmpty &&
      st0.labels.isEmpty && st0.appliedBatch == -1L,
      "legacy pack reads with probed presence and bucket count 0")
    val input = MemoryStream[(Long, Long, String)](spark)
    val q = GraphRankStream.maintain(
      input.toDF().toDF("id1", "id2", "op"), table,
      Some(tmp("graft_rankstream_legacy_ck")))
    try {
      input.addData((1L, 3L, "add")) // first publish: full, new layout
      q.processAllAvailable()
      assert(Files.exists(Paths.get(
          graft.sources.Snapshots.currentPath(table), "rel=meta")),
        "the first post-legacy publish upgraded to the partitioned layout")
      input.addData((2L, 4L, "add")) // second: partial path available
      q.processAllAvailable()
    } finally q.stop()
    assert(ranksOf(GraphRankStream.currentRanks(spark, table)) ==
      ranksOf(GraphOps.pageRank(
        Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L), (2L, 4L))
          .toDF("id1", "id2"), iterations = 3)),
      "folds across the layout upgrade equal from-scratch")
  }
}
