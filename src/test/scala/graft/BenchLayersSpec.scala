package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The bench's per-layer fields are outputs like any other: checked on
  * fixtures whose shape fixes what each layer must show. */
class BenchLayersSpec extends SparkSpec {
  import Bench.noop

  private def grouped: DataFrame = spark.range(0, 20000, 1, 4)
    .groupBy((col("id") % 97).as("k")).agg(sum(col("id")).as("s"))
  private def narrow: DataFrame = spark.range(0, 20000, 1, 4)
    .filter(col("id") % 3 === 0).toDF()

  test("a groupBy shows jobs, shuffle and planning; a narrow filter shuffles nothing") {
    val profile = new Profile(spark)
    try {
      profile.attributed("grouped")(noop(grouped))
      profile.attributed("narrow")(noop(narrow))
      val Seq(g, n) = profile.layers("grouped", "narrow")
      assert(g.jobs >= 1 && g.stages >= 2 && g.tasks >= 1 && g.planMs > 0, g)
      assert(g.shuffleWriteBytes > 0 && g.shuffleReadBytes > 0, g)
      assert(g.peakExecMemBytes > 0, g)
      assert(n.jobs >= 1 && n.tasks >= 1 && n.spillBytes == 0, n)
      assert(n.shuffleReadBytes == 0 && n.shuffleWriteBytes == 0, n)
    } finally profile.close()
  }

  test("queries timed back to back do not leak counts into each other") {
    val profile = new Profile(spark)
    try {
      profile.attributed("narrow alone")(noop(narrow))
      profile.attributed("grouped alone")(noop(grouped))
      val Seq(narrowAlone, groupedAlone) = profile.layers("narrow alone", "grouped alone")
      profile.attributed("grouped then")(noop(grouped))
      profile.attributed("narrow after")(noop(narrow))
      // untagged work in between is nobody's
      noop(grouped)
      val Seq(groupedThen, narrowAfter, groupedAgain) =
        profile.layers("grouped then", "narrow after", "grouped alone")
      def counts(l: Layers) = (l.jobs, l.stages, l.tasks, l.shuffleWriteBytes)
      assert(counts(narrowAfter) == counts(narrowAlone))
      assert(narrowAfter.shuffleReadBytes == 0)
      assert(counts(groupedThen) == counts(groupedAlone))
      // planning is attributed by interval, so only the counted work is
      // compared: the tier-1 JVM may be planning other suites' streams
      assert(groupedAgain.copy(planMs = 0) == groupedAlone.copy(planMs = 0),
        "a finished key never grows")
      assert(profile.layers("never ran") == Seq(Layers()))
    } finally profile.close()
  }

  test("the load gate returns at once: ungated under an unreachable max") {
    val t0 = System.nanoTime()
    assert(Bench.loadGate("spec", maxLoad = Double.MaxValue, maxWaitS = 600) == ((0, false)))
    assert((System.nanoTime() - t0) / 1e9 < 1.0)
  }

  test("the load gate returns at once: gated when the max is -1 and the wait is 0") {
    val t0 = System.nanoTime()
    assert(Bench.loadGate("spec", maxLoad = -1.0, maxWaitS = 0) == ((0, true)))
    assert((System.nanoTime() - t0) / 1e9 < 1.0)
  }

  test("the interleaved rep loop alternates sides and its rep keys read back layers") {
    val loop = new RepLoop(spark, "spec", maxLoad = Double.MaxValue, maxWaitS = 0)
    try {
      val order = scala.collection.mutable.ArrayBuffer.empty[String]
      val Seq(a, b) = loop.interleaved("row", passes = 3)(
        "a" -> (() => { order += "a"; noop(narrow) }),
        "b" -> (() => { order += "b"; noop(grouped) }))
      assert(order == Seq("a", "b", "a", "b", "a", "b"))
      assert(a.times.size == 3 && b.times.size == 3 && (a.times ++ b.times).forall(_ > 0))
      assert(a.keys == Seq("row/a#1", "row/a#2", "row/a#3"))
      assert(b.keys == Seq("row/b#1", "row/b#2", "row/b#3"))
      val layers = loop.profile.layers(a.keys ++ b.keys: _*)
      assert(layers.forall(_.jobs >= 1), layers)
      assert(layers.drop(3).forall(_.shuffleWriteBytes > 0), layers)
      val json = loop.layersJson(Seq("a" -> a, "b" -> b))
      assert(json.startsWith("{\"a\": {\"plan_ms\":") && json.contains("\"b\": {"), json)
      assert(loop.gateJson.contains("\"gate_waited_s\": 0, \"reps_started_gated\": 0"))
    } finally loop.profile.close()
  }
}
