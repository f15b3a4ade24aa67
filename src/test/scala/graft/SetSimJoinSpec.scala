package graft

import org.apache.spark.sql.functions._

import graft.dedup.SetSimJoin

class SetSimJoinSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2L, "the quick brown fox jumps over the lazy dog near the river edge"),
    (3L, "completely different words about spark shuffles and partitions here"),
    (4L, "x y"))
    .toDF("doc_id", "text")

  /** Brute-force shingle-set Jaccard over every pair — the oracle the
    * prefix filter must never fall short of. Full output rows: (id1,
    * id2, n1, n2, inter, jaccard rounded HALF_UP at 4 as Spark's
    * `round` does). */
  private def brute(rows: Seq[(Long, String)], tNum: Long, tDen: Long)
      : Set[(Long, Long, Long, Long, Long, Double)] = {
    def shingles(t: String): Set[String] = {
      val toks = t.split(" ")
      if (toks.length < 3) Set.empty
      else toks.sliding(3).map(_.mkString(" ")).toSet
    }
    val sets = rows.map { case (id, t) => id -> shingles(t) }
      .filter(_._2.nonEmpty)
    (for {
      (i, si) <- sets; (j, sj) <- sets if i < j
      inter = (si & sj).size.toLong
      union = si.size + sj.size - inter
      if inter * tDen >= tNum * union
    } yield (i, j, si.size.toLong, sj.size.toLong, inter,
      BigDecimal(inter.toDouble / union)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)).toSet
  }

  test("exact dup pair has jaccard 1.0; near dup above threshold") {
    val got = SetSimJoin.jaccardJoin(docs).orderBy("id1", "id2").collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(4), r.getDouble(5)))).toMap
    assert(got((0L, 1L))._2 == 1.0)
    assert(got.contains((0L, 2L)) && got((0L, 2L))._2 < 1.0)
    assert(!got.keySet.exists(p => p._1 == 3L || p._2 == 3L))
    assert(!got.keySet.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("prefix filter is complete: matches brute force on a seeded corpus") {
    // deterministic corpus with planted near-dups, shared boilerplate,
    // and varied lengths — the shapes that break naive prefix logic
    val vocab = Array("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "data", "spark", "join", "scan")
    def doc(seed: Int, len: Int): String =
      (0 until len).map(i => vocab(math.abs(seed * 31 + i * 7) % vocab.length))
        .mkString(" ")
    val rows = (0 until 24).map { i =>
      val base = doc(i % 6, 8 + (i % 5))           // 6 near-dup families
      val tail = if (i % 3 == 0) " data spark join" else ""
      (i.toLong, base + tail)
    }
    for ((tn, td) <- Seq((1L, 2L), (3L, 10L), (7L, 10L), (1L, 1L))) {
      val got = SetSimJoin.jaccardJoin(rows.toDF("doc_id", "text"), tn, td)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getDouble(5))).toSet
      assert(got == brute(rows, tn, td), s"threshold $tn/$td")
    }
  }

  test("R-S join matches brute force across two relations at every threshold") {
    val vocab = Array("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "data", "spark", "join", "scan")
    def doc(seed: Int, len: Int): String =
      (0 until len).map(i => vocab(math.abs(seed * 31 + i * 7) % vocab.length))
        .mkString(" ")
    // ODD family modulus: with % 6, a family's members all share one
    // parity and the even/odd split has no cross-side near-dups —
    // the R-S tests would pass vacuously
    val rows = (0 until 24).map { i =>
      val base = doc(i % 5, 8 + (i % 4))
      val tail = if (i % 3 == 0) " data spark join" else ""
      (i.toLong, base + tail)
    }
    val (lRows, rRows) = rows.partition(_._1 % 2 == 0)
    def shingles(t: String): Set[String] = {
      val toks = t.split(" ")
      if (toks.length < 3) Set.empty
      else toks.sliding(3).map(_.mkString(" ")).toSet
    }
    for ((tn, td) <- Seq((1L, 2L), (3L, 10L), (7L, 10L), (1L, 1L))) {
      val got = SetSimJoin.jaccardJoinRS(
          lRows.toDF("doc_id", "text"), rRows.toDF("doc_id", "text"), tn, td)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4))).toSet
      val want = (for {
        (i, lt) <- lRows; (j, rt) <- rRows
        si = shingles(lt); sj = shingles(rt)
        if si.nonEmpty && sj.nonEmpty
        inter = (si & sj).size.toLong
        if inter * td >= tn * (si.size + sj.size - inter)
      } yield (i, j, inter)).toSet
      if (tn * 2 <= td)
        assert(want.nonEmpty, s"fixture must cross-match at $tn/$td")
      assert(got == want, s"threshold $tn/$td")
    }
  }

  test("routed R-S join is a subset of the exact R-S join with identical values") {
    val vocab = Array("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "data", "spark", "join", "scan")
    def doc(seed: Int, len: Int): String =
      (0 until len).map(i => vocab(math.abs(seed * 31 + i * 7) % vocab.length))
        .mkString(" ")
    // odd family modulus — see the R-S brute-force test's fixture note
    val rows = (0 until 24).map { i =>
      val base = doc(i % 5, 8 + (i % 4))
      val tail = if (i % 3 == 0) " data spark join" else ""
      (i.toLong, base + tail)
    }
    val (lRows, rRows) = rows.partition(_._1 % 2 == 0)
    val l = lRows.toDF("doc_id", "text")
    val r = rRows.toDF("doc_id", "text")
    val exact = SetSimJoin.jaccardJoinRS(l, r).collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> (x.getLong(4), x.getDouble(5)))
      .toMap
    val routed = SetSimJoin.routedJoinRS(l, r).collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> (x.getLong(4), x.getDouble(5)))
      .toMap
    assert(routed.nonEmpty, "fixture must produce cross-side near-dups")
    routed.foreach { case (pair, v) =>
      assert(exact.get(pair).contains(v),
        s"routed pair $pair must appear in the exact join with equal values")
    }
  }

  test("threshold gate is integer-exact at the boundary") {
    // sets of size 4 and 4 sharing exactly 2 shingles: J = 2/6 = 1/3
    val a = "a b c d e f"   // shingles: abc bcd cde def (4)
    val b = "c d e f g h"   // shingles: cde def efg fgh (4)
    val df = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    assert(SetSimJoin.jaccardJoin(df, 1L, 3L).count() == 1) // J == t keeps
    assert(SetSimJoin.jaccardJoin(df, 34L, 100L).count() == 0) // J < t drops
  }

  test("result is partitioning-invariant") {
    val base = SetSimJoin.jaccardJoin(docs).collect().toSet
    val re = SetSimJoin.jaccardJoin(docs.repartition(7)).collect().toSet
    assert(base == re)
  }

  test("routed join is a subset of the exact join with identical values") {
    val exact = SetSimJoin.jaccardJoin(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    val routed = SetSimJoin.routedJoin(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    // precision 1.0: every routed pair is in the exact set, same values
    routed.foreach { case (k, v) => assert(exact.get(k).contains(v), k) }
    // identical texts always share every band — the exact-dup pair
    // cannot be missed, whatever the LSH configuration
    assert(routed.contains((0L, 1L)))
  }

  test("routeRecall reports hit counts consistent with both joins") {
    val r = SetSimJoin.routeRecall(docs).collect()(0)
    val nExact = SetSimJoin.jaccardJoin(docs).count()
    val nRouted = SetSimJoin.routedJoin(docs).count()
    assert(r.getLong(0) == nExact)
    assert(r.getLong(1) == nRouted)
    assert(r.getLong(2) == nRouted) // precision 1.0 → every routed pair hits
    assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
  }

  test("routeRecallRS reports hit counts consistent with both R-S joins") {
    val l = docs.filter(col("doc_id") % 2 === 0)
    val r0 = docs.filter(col("doc_id") % 2 === 1)
    val r = SetSimJoin.routeRecallRS(l, r0).collect()(0)
    val nExact = SetSimJoin.jaccardJoinRS(l, r0).count()
    val nRouted = SetSimJoin.routedJoinRS(l, r0).count()
    assert(r.getLong(0) == nExact)
    assert(r.getLong(1) == nRouted)
    assert(r.getLong(2) == nRouted) // precision 1.0 across relations too
    assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
  }
}
