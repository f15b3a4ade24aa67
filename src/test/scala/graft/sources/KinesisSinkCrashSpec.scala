package graft.sources

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.connector.write.WriterCommitMessage
import org.scalatest.funsuite.AnyFunSuite

/** Crash-retry semantics of the V2 sink's driver commit — the
  * exactly-once claim exercised at every crash boundary, not just the
  * happy path (the marker-only check cannot catch a crash BETWEEN the
  * shard appends and the marker write). No Spark session needed: the
  * committer is plain driver code. */
class KinesisSinkCrashSpec extends AnyFunSuite {

  private def bytes(s: String): Array[Byte] = s.getBytes("UTF-8")

  private def msgs(recs: (String, String)*): Array[WriterCommitMessage] =
    Array(SimRecords(0, recs.map { case (d, pk) => (bytes(d), pk) }))

  private def allRecords(dir: String, shards: Int): Seq[(String, String, String)] =
    (0 until shards).flatMap { s =>
      KinesisSimProvider.shardLines(dir, s).map { l =>
        val (sn, pk, data) = KinesisSimProvider.parse(l)
        (s"shard-$s", sn, new String(data, "UTF-8") + "@" + pk)
      }
    }

  test("retry after crash between data write and marker does not double-append") {
    val dir = Files.createTempDirectory("graft_sink_crash").toString
    val w = new KinesisSimStreamingWrite(dir, 2, 0, 1)
    val m = msgs(("a1", "u1"), ("b1", "u2"), ("a2", "u1"))
    w.commit(0L, m)
    val afterFirst = allRecords(dir, 2)
    assert(afterFirst.length == 3)
    // simulate the crash: data landed, marker write never happened
    Files.delete(Paths.get(dir, "_epochs", "epoch-0"))
    w.commit(0L, m) // Spark retries the epoch
    assert(allRecords(dir, 2) == afterFirst,
      "retried commit must not re-append already-written records")
    assert(Files.exists(Paths.get(dir, "_epochs", "epoch-0")),
      "retry must complete the interrupted commit")
  }

  test("retry after crash mid-shard-loop appends only the missing shards") {
    val dir = Files.createTempDirectory("graft_sink_midloop").toString
    val w = new KinesisSimStreamingWrite(dir, 2, 0, 1)
    // first, figure out which shard each key routes to
    val s1 = SimulatedKinesis.shardFor("u1", 2)
    val s2 = SimulatedKinesis.shardFor("u2", 2)
    assume(s1 != s2, "test needs keys on distinct shards")
    val m = msgs(("a1", "u1"), ("b1", "u2"))
    // simulate "crashed after writing shard s1 only": run a full
    // commit, then delete the OTHER shard's file and the marker —
    // leaving exactly the on-disk state of a mid-loop crash
    w.commit(0L, m)
    val shardDir = Paths.get(dir, s"shard-$s2")
    val st = Files.list(shardDir)
    try st.iterator().asScala.foreach(Files.delete) finally st.close()
    Files.delete(Paths.get(dir, "_epochs", "epoch-0"))
    w.commit(0L, m) // retry
    val recs = allRecords(dir, 2)
    assert(recs.count(_._1 == s"shard-$s1") == 1,
      s"already-written shard must not gain duplicates: $recs")
    assert(recs.count(_._1 == s"shard-$s2") == 1,
      s"missing shard must be completed by the retry: $recs")
  }

  test("sequences continue across epochs; partial file never visible") {
    val dir = Files.createTempDirectory("graft_sink_seq").toString
    val w = new KinesisSimStreamingWrite(dir, 1, 0, 1)
    w.commit(0L, msgs(("a1", "u1"), ("a2", "u1")))
    w.commit(1L, msgs(("a3", "u1")))
    val sns = KinesisSimProvider.shardLines(dir, 0)
      .map(KinesisSimProvider.parse).map(_._1.toLong)
    assert(sns == Seq(0L, 1L, 2L), s"dense cross-epoch sequences: $sns")
    // no temp artifacts survive a completed commit
    val leftover = KinesisSimProvider.shardFiles(dir, 0)
      .map(_.getFileName.toString)
    assert(leftover.forall(_.startsWith("batch-")), leftover.toString)
  }

  test("file transport range reads seek by cached counts across batch files") {
    val dir = Files.createTempDirectory("graft_ft_seek").toString
    val prod = new SimulatedKinesis.ShardedProducer(dir, 1)
    // 5 batch files × 3 records: ranges below exercise exact-file,
    // cross-boundary, tail and empty reads through the per-file seek
    (0 until 5).foreach { b =>
      prod.putRecords((0 until 3).map(i => (s"r${b * 3 + i}", "k")))
    }
    val t = FileTransport(dir)
    assert(t.recordCounts(1) == Map(0 -> 15L))
    def data(from: Long, until: Long): Seq[String] =
      t.lines(0, from, until)
        .map(l => new String(KinesisSimProvider.parse(l)._3, "UTF-8")).toSeq
    assert(data(0, 15) == (0 until 15).map(i => s"r$i"))
    assert(data(3, 6) == Seq("r3", "r4", "r5"), "whole-file range")
    assert(data(4, 8) == Seq("r4", "r5", "r6", "r7"), "cross-boundary range")
    assert(data(14, 99) == Seq("r14"), "tail range past the end")
    assert(data(7, 7).isEmpty, "empty half-open range")
  }

  test("countRecords streams the file without materializing it") {
    val f = Files.createTempFile("graft_count", ".json")
    Files.write(f, "one\ntwo\nthree\n".getBytes("UTF-8"))
    assert(KinesisSimProvider.countRecords(f) == 3L)
    Files.write(f, "one\ntwo\nno-trailing-newline".getBytes("UTF-8"))
    assert(KinesisSimProvider.countRecords(f) == 3L)
    Files.write(f, Array.emptyByteArray)
    assert(KinesisSimProvider.countRecords(f) == 0L)
  }

  test("restart with fewer shards than the checkpoint fails loud") {
    val stream = new KinesisSimMicroBatchStream(FileTransport("/tmp/none"), 2)
    val e = intercept[IllegalArgumentException] {
      stream.deserializeOffset("""{"0":5,"3":2}""")
    }
    assert(e.getMessage.contains("shards"))
    // same offsets under a wide-enough restart parse fine
    val ok = new KinesisSimMicroBatchStream(FileTransport("/tmp/none"), 4)
      .deserializeOffset("""{"0":5,"3":2}""")
    assert(ok.asInstanceOf[ShardOffsets].next == Map(0 -> 5L, 3 -> 2L))
  }
}
