package graft.sources

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** Failure injection at the STREAM level — the whole-pipeline form of
  * [[KinesisSinkCrashSpec]]'s driver-level commit retries: kill a
  * checkpointed source → sink query at the worst boundary and restart
  * it, asserting no-dup/no-loss from the sink's idempotence markers
  * plus the source's offset replay. */
class StreamCrashSpec extends SparkSpec {

  test("crash between sink commit and checkpoint commit: restart replays, sink dedupes") {
    // source → sink, both checkpointable: the stream dies after the
    // SINK durably committed the epoch but before the engine's commit
    // marker was written — restart must replay the epoch and the
    // replay must be a no-op.
    val src = Files.createTempDirectory("graft_crash_src").toString
    val out = Files.createTempDirectory("graft_crash_out").toString
    val ckpt = Files.createTempDirectory("graft_crash_ckpt").toString
    val prod = new SimulatedKinesis.ShardedProducer(src, nShards = 1)
    prod.putRecords(Seq(("a1", "u1"), ("a2", "u1")))
    def run() = spark.readStream.format("kinesis-sim")
      .option("path", src).option("shards", "1").load()
      .selectExpr("data", "partitionKey")
      .writeStream.format("kinesis-sim")
      .option("path", out).option("shards", "1")
      .option("checkpointLocation", ckpt)
      .start()
    def outRecords(): Seq[(String, Long)] =
      SimulatedKinesis.lines(out, 0).toSeq.map { l =>
        val (sn, _, data) = SimulatedKinesis.decode(l)
        (new String(data, "UTF-8"), sn.toLong)
      }
    val q1 = run()
    try q1.processAllAvailable() finally q1.stop()
    assert(outRecords().map(_._1) == Seq("a1", "a2"))
    // inject the crash: drop the engine's newest commit marker — the
    // on-disk state of a driver killed after the sink committed the
    // epoch but before the checkpoint recorded it
    val commits = Files.list(Paths.get(ckpt, "commits"))
    val newest = try commits.iterator().asScala
      .filter(_.getFileName.toString.forall(_.isDigit))
      .maxBy(_.getFileName.toString.toLong) finally commits.close()
    Files.delete(newest)
    // the local FS keeps a Hadoop checksum twin (.N.crc); a real crash
    // loses both, and a surviving twin would block the re-write
    Files.deleteIfExists(
      newest.resolveSibling("." + newest.getFileName.toString + ".crc"))
    val q2 = run()
    try q2.processAllAvailable() finally q2.stop()
    assert(outRecords() == Seq(("a1", 0L), ("a2", 1L)),
      s"replayed epoch must not duplicate: ${outRecords()}")
    // liveness after the recovery: new records flow, sequences continue
    prod.putRecords(Seq(("a3", "u1")))
    val q3 = run()
    try q3.processAllAvailable() finally q3.stop()
    assert(outRecords() == Seq(("a1", 0L), ("a2", 1L), ("a3", 2L)),
      s"post-recovery delivery must be exactly-once: ${outRecords()}")
  }
}
