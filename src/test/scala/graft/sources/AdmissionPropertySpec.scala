package graft.sources

import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.SparkSpec

/** Property tests for the admission-control water-fill — invariants
  * of the maxRecordsPerTrigger split, driven through the real source
  * against a real store. */
class AdmissionPropertySpec extends SparkSpec {

  private def check(name: String, p: Prop, minSuccess: Int = 100): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(minSuccess), p)
    assert(res.passed, s"$name: $res")
  }

  test("admission water-fill: cap respected, fair, exhaustive, deterministic") {
    // the pure invariants of the maxRecordsPerTrigger split, driven
    // through the real source against a real store
    val dir = java.nio.file.Files
      .createTempDirectory("graft_prop_adm").toString
    val prod = new SimulatedKinesis.ShardedProducer(dir, 3)
    // skew: shard loads decided by the partition keys' hash spread
    prod.putRecords((1 to 60).map(i => (s"r$i", s"u${i % 7}")))
    val stream = new KinesisSimMicroBatchStream(
      FileTransport(dir), 3)
    val avail = FileTransport(dir).recordCounts(3)
    val total = avail.values.sum
    assert(total == 60L)
    check("water-fill", Prop.forAllNoShrink(Gen.chooseNum(1L, 80L)) { cap =>
      val start = stream.initialOffset()
      val end = stream.latestOffset(start,
        org.apache.spark.sql.connector.read.streaming.ReadLimit.maxRows(cap))
      val end2 = stream.latestOffset(start,
        org.apache.spark.sql.connector.read.streaming.ReadLimit.maxRows(cap))
      val taken = end.asInstanceOf[ShardOffsets].next
      val takenTotal = taken.values.sum
      val capHolds = takenTotal == math.min(cap, total)
      val bounded = taken.forall { case (s, n) => n <= avail(s) }
      val deterministic = end.json == end2.json
      // max-min fairness: redistribution may push an unexhausted
      // shard past the naive cap/n quota ONLY by absorbing capacity
      // exhausted shards could not use — so all UNexhausted shards
      // sit at the same water level (within the final round's +-1)
      val unexhausted = taken.collect {
        case (s, n) if n < avail(s) => n
      }.toSeq
      val fair = unexhausted.isEmpty ||
        (unexhausted.max - unexhausted.min) <= 1
      capHolds && bounded && deterministic && fair
    }, minSuccess = 60)
  }
}
