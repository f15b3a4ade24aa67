package graft

import org.apache.spark.sql.functions._

import graft.operators.GraphOps

/** Integer-exact PageRank: structural sanity (symmetry, hubs win),
  * partitioning invariance, and mass accounting under floor
  * division. */
class GraphOpsSpec extends SparkSpec {
  import spark.implicits._

  private val Scale = 1000000000000L

  test("path graph a-b-c: endpoints tie, middle node ranks highest") {
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id1", "id2")
    val pr = GraphOps.pageRank(pairs, iterations = 10).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pr(1L) == pr(3L), "symmetric endpoints must tie exactly")
    assert(pr(2L) > pr(1L), "the middle node has both endpoints feeding it")
  }

  test("star graph: the hub outranks every leaf; leaves tie") {
    val pairs = (2L to 6L).map(l => (1L, l)).toDF("id1", "id2")
    val pr = GraphOps.pageRank(pairs, iterations = 10).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val leaves = (2L to 6L).map(pr)
    assert(leaves.distinct.size == 1, "leaves are interchangeable")
    assert(pr(1L) > leaves.head)
  }

  test("partitioning invariance: identical ranks at 1 and 7 partitions") {
    val rnd = new scala.util.Random(5)
    val pairs = (1 to 300).map(_ => (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter(p => p._1 != p._2).toDF("id1", "id2")
    val a = GraphOps.pageRank(pairs.repartition(1), 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val b = GraphOps.pageRank(pairs.repartition(7), 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(a == b)
  }

  test("canonical pick composition: per-cluster argmax(pr) selects each cluster's hub") {
    import org.apache.spark.sql.expressions.Window
    // two disjoint stars — cluster ids are the min member label
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (10L, 11L), (10L, 12L))
      .toDF("id1", "id2")
    val clusters = graft.dedup.Dedup.nearDupClusters(pairs)
    val pr = GraphOps.pageRank(pairs, iterations = 10)
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("pr").desc, col("doc_id"))
    val picks = clusters.join(pr, clusters("doc_id") === pr("node"))
      .select(col("cluster_id"), col("doc_id"), col("pr"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(picks == Map(1L -> 1L, 10L -> 10L))
  }

  test("mass is conserved up to floor-division loss: sum(pr) in (scale - n·(iters+2), scale]") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L)).toDF("id1", "id2")
    val iters = 10
    val total = GraphOps.pageRank(pairs, iters).agg(sum("pr")).collect()(0).getLong(0)
    // floor-division loss per iteration < Σdeg (contrib divs) + n
    // (damping div) + n+1 (base div) = 10+4+5 = 19 for this graph;
    // 1000 over-covers 10 iterations + init — still 1e-9 of scale
    val maxLoss = 1000L
    assert(total <= Scale && total > Scale - maxLoss, s"total=$total")
  }

  test("triangle census: exact counts on a hand-built graph") {
    import spark.implicits._
    // K3 on {1,2,3} plus a pendant edge 3-4; reversed/duplicate rows
    // must collapse to the same canonical edges
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L),
      (2L, 1L),          // reverse duplicate -> same canonical edge
      (4L, 3L))          // duplicate
      .toDF("id1", "id2")
    val r = graft.operators.GraphOps.triangleCensus(pairs).collect()(0)
    assert(r.getAs[Long]("n_nodes") == 4L)
    assert(r.getAs[Long]("n_edges") == 4L)
    assert(r.getAs[Long]("n_triangles") == 1L)
    // 2-paths Σ C(deg,2): deg(1)=2, deg(2)=2, deg(3)=3, deg(4)=1
    //   -> 1 + 1 + 3 + 0 = 5
    assert(r.getAs[Long]("n_wedges") == 5L)
    assert(r.getAs[Double]("closure8") == 0.6)
  }

  test("triangle census: a clique closes every 2-path (closure = 1)") {
    // K4: degrees all 3 -> wedges = 4·C(3,2) = 12, triangles = 4,
    // closure = 3·4/12 = 1.0 — the invariant only the TRUE 2-path
    // count satisfies
    val pairs = (for { a <- 1L to 4L; b <- (a + 1) to 4L } yield (a, b))
      .toDF("id1", "id2")
    val r = graft.operators.GraphOps.triangleCensus(pairs).collect()(0)
    assert(r.getAs[Long]("n_edges") == 6L)
    assert(r.getAs[Long]("n_wedges") == 12L)
    assert(r.getAs[Long]("n_triangles") == 4L)
    assert(r.getAs[Double]("closure8") == 1.0)
  }

  test("degree-ordered wedges: a hub contributes ZERO enumerated wedges") {
    // star with the hub at a MIDDLE id (20): under round-8's id-order
    // pivot this graph enumerated 19·21 = 399 wedges through the hub;
    // degree-ordering points every edge INTO the hub (leaves have the
    // lower degree), so the hub pivots nothing and the enumerated
    // volume is 0 — the Suri-Vassilvitskii bound in its purest case.
    val leaves = (1L to 41L).filter(_ != 20L)
    val pairs = leaves.map(l => (20L, l)).toDF("id1", "id2")
    assert(graft.operators.GraphOps.orientedWedges(pairs).count() == 0L)
    val r = graft.operators.GraphOps.triangleCensus(pairs).collect()(0)
    // the REPORTED statistic is still the true 2-path count C(40,2)
    assert(r.getAs[Long]("n_wedges") == 780L)
    assert(r.getAs[Long]("n_triangles") == 0L)
  }

  test("pageRank never flips the caller's session AQE conf, even mid-run") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val rnd = new scala.util.Random(11)
    val pairs = (1 to 400)
      .map(_ => (rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .filter(p => p._1 != p._2).toDF("id1", "id2")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var running = true
    val poller = new Thread(() => while (running) {
      seen.add(spark.conf.get("spark.sql.adaptive.enabled"))
      Thread.sleep(2)
    })
    poller.start()
    val res = try GraphOps.pageRank(pairs, iterations = 3)
    finally { running = false }
    poller.join()
    assert(res.count() > 0)
    import scala.jdk.CollectionConverters._
    assert(seen.asScala.nonEmpty && seen.asScala.forall(_ == "true"),
      "a concurrent reader of the session conf observed the AQE flip")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
  }

  test("two concurrent pageRank calls don't race and leave session conf intact") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val p1 = Seq((1L, 2L), (2L, 3L)).toDF("id1", "id2")
    val p2 = (2L to 6L).map(l => (1L, l)).toDF("id1", "id2")
    // sequential baselines
    val b1 = GraphOps.pageRank(p1, 5).collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val b2 = GraphOps.pageRank(p2, 5).collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    // concurrent: the round-8 save/restore race (the second restore
    // could pin AQE off for the whole session) is structurally
    // impossible now that pageRank mutates no session state; results
    // must match the sequential baselines exactly (integer-exact
    // recurrence)
    val f1 = Future(GraphOps.pageRank(p1, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq)
    val f2 = Future(GraphOps.pageRank(p2, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq)
    assert(Await.result(f1, 120.seconds) == b1)
    assert(Await.result(f2, 120.seconds) == b2)
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
  }

  test("connectedComponents: a 64-node chain resolves in logarithmic rounds") {
    // THE case min-label propagation cannot do: diameter 63 would
    // need 63 min-label rounds (nearDupClusters' default cap of 25
    // throws); the alternating star contraction must land the whole
    // chain on node 0 within a dozen alternations
    val pairs = (0L until 63L).map(i => (i, i + 1)).toDF("id1", "id2")
    val labels = GraphOps.connectedComponents(pairs, maxIters = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(labels.size == 64)
    assert(labels.values.forall(_ == 0L), "one chain, one root")
    // and the min-label path indeed cannot, at its default cap — the
    // reason this operator exists
    intercept[IllegalStateException] {
      graft.dedup.Dedup.nearDupClusters(pairs).collect()
    }
  }

  test("connectedComponents agrees with min-label propagation on random graphs") {
    for (seed <- Seq(3, 17)) {
      val rnd = new scala.util.Random(seed)
      val pairs = (1 to 250)
        .map(_ => (rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
        .filter(p => p._1 != p._2).toDF("id1", "id2")
      val stars = GraphOps.connectedComponents(pairs)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
      val minLabel = graft.dedup.Dedup.nearDupClusters(pairs)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
      assert(stars == minLabel, s"seed $seed")
    }
  }

  test("connectedComponents equals local union-find on mixed random topologies") {
    // an independent oracle (path-compressed union-find on the
    // driver) over topologies that stress different convergence
    // paths: sparse random, dense random, chain+star mixtures, and
    // a graph of many small cliques
    def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x
        else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      nodes.map(v => v -> find(v)).toMap
    }
    val topologies: Seq[(String, Seq[(Long, Long)])] = Seq(
      "sparse" -> {
        val rnd = new scala.util.Random(41)
        (1 to 120).map(_ => (rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
      },
      "dense" -> {
        val rnd = new scala.util.Random(42)
        (1 to 400).map(_ => (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      },
      "chains+stars" -> {
        val chains = (0L until 30L).map(i => (i * 7 + 100, i * 7 + 107))
        val star = (1L to 20L).map(l => (1000L, 1000L + l))
        chains ++ star
      },
      "cliques" -> (for {
        c <- 0L until 8L
        a <- 0L until 5L; b <- (a + 1) until 5L
      } yield (c * 10 + a, c * 10 + b)))
    topologies.foreach { case (name, raw) =>
      val edges = raw.filter(e => e._1 != e._2)
      val got = GraphOps.connectedComponents(edges.toDF("id1", "id2"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == unionFind(edges), s"topology $name")
    }
  }

  test("connectedComponents: self-pairs and empty inputs are safe") {
    val selfs = Seq((5L, 5L), (7L, 7L)).toDF("id1", "id2")
    val got = GraphOps.connectedComponents(selfs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((5L, 5L), (7L, 7L)), "isolated nodes label themselves")
    assert(GraphOps.connectedComponents(
      Seq.empty[(Long, Long)].toDF("id1", "id2")).count() == 0)
  }

  test("bfsHops: chain distances, multi-seed min, unreachable excluded") {
    // chain 0-1-...-9 plus a disconnected pair (100, 101)
    val pairs = ((0L until 9L).map(i => (i, i + 1)) :+ (100L, 101L))
      .toDF("id1", "id2")
    val fromZero = GraphOps.bfsHops(pairs, Seq(0L).toDF("seed"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(fromZero == (0L to 9L).map(i => i -> i.toInt).toMap,
      "hop = chain position; the disconnected pair never appears")
    // two seeds: every node takes the NEARER one
    val twoSeeds = GraphOps.bfsHops(pairs, Seq(0L, 9L).toDF("seed"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(twoSeeds == (0L to 9L).map(i => i -> math.min(i, 9 - i).toInt).toMap)
  }

  test("bfsHops: maxHops caps the output; cycle distances wrap both ways") {
    val cycle = (0L until 8L).map(i => (i, (i + 1) % 8)).toDF("id1", "id2")
    val d = GraphOps.bfsHops(cycle, Seq(0L).toDF("seed"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(d == Map(0L -> 0, 1L -> 1, 7L -> 1, 2L -> 2, 6L -> 2,
      3L -> 3, 5L -> 3, 4L -> 4), "cycle distance is min of both directions")
    val capped = GraphOps.bfsHops(cycle, Seq(0L).toDF("seed"), maxHops = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(capped == Map(0L -> 0, 1L -> 1, 7L -> 1, 2L -> 2, 6L -> 2),
      "nodes beyond the cap are absent, not clamped")
  }

  test("bfsHops: seeds outside the graph and empty seed sets are safe") {
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id1", "id2")
    val ghost = GraphOps.bfsHops(pairs, Seq(99L).toDF("seed")).collect()
    assert(ghost.isEmpty, "a seed absent from the graph reaches nothing")
    val none = GraphOps.bfsHops(pairs, Seq.empty[Long].toDF("seed")).collect()
    assert(none.isEmpty)
    val mixed = GraphOps.bfsHops(pairs, Seq(99L, 3L).toDF("seed"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(mixed == Map(3L -> 0, 2L -> 1, 1L -> 2),
      "in-graph seeds still expand next to absent ones")
  }

  test("bfsHops equals driver-side BFS on random graphs, any partitioning") {
    def driverBfs(edges: Seq[(Long, Long)], seeds: Set[Long],
                  cap: Int): Map[Long, Int] = {
      val adj = (edges ++ edges.map(_.swap)).filter(e => e._1 != e._2)
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).distinct }
      val nodes = adj.keySet
      val dist = scala.collection.mutable.Map.empty[Long, Int]
      var frontier = seeds.intersect(nodes)
      frontier.foreach(dist(_) = 0)
      var h = 0
      while (frontier.nonEmpty && h < cap) {
        h += 1
        frontier = frontier.flatMap(adj.getOrElse(_, Seq.empty))
          .filterNot(dist.contains)
        frontier.foreach(dist(_) = h)
      }
      dist.toMap
    }
    for (seed <- Seq(7, 23); parts <- Seq(1, 5)) {
      val rnd = new scala.util.Random(seed)
      val edges = (1 to 200)
        .map(_ => (rnd.nextInt(150).toLong, rnd.nextInt(150).toLong))
        .filter(e => e._1 != e._2)
      val seedNodes = (0L until 150L).filter(_ % 13 == 0).toSet
      val got = GraphOps.bfsHops(edges.toDF("id1", "id2").repartition(parts),
          seedNodes.toSeq.toDF("seed"), maxHops = 6)
        .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
      assert(got == driverBfs(edges, seedNodes, cap = 6),
        s"seed $seed parts $parts")
    }
  }

  test("personalizedPageRank: mass concentrates at and decays from the seeds") {
    // path 1-2-3-4-5 seeded at node 1: rank must strictly decay with
    // distance from the seed
    val path = (1L until 5L).map(i => (i, i + 1)).toDF("id1", "id2")
    val pr = GraphOps.personalizedPageRank(path, Seq(1L).toDF("seed"),
        iterations = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 4L).forall(i => pr(i) > pr(i + 1)),
      s"rank must decay along the path: $pr")
    // symmetric seeds on a symmetric graph tie symmetrically
    val two = GraphOps.personalizedPageRank(path,
        Seq(1L, 5L).toDF("seed"), iterations = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(two(1L) == two(5L) && two(2L) == two(4L), s"$two")
  }

  test("personalizedPageRank: no in-graph seed throws; ghost seeds ignored") {
    val pairs = Seq((1L, 2L)).toDF("id1", "id2")
    intercept[IllegalArgumentException] {
      GraphOps.personalizedPageRank(pairs, Seq(99L).toDF("seed"))
    }
    // even iteration count: a 2-node graph is bipartite, so odd
    // counts park the oscillating mass on the neighbor — the damped
    // limit (0.54/0.46 of scale) favors the seed
    val mixed = GraphOps.personalizedPageRank(pairs,
        Seq(99L, 1L).toDF("seed"), iterations = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(mixed(1L) > mixed(2L), "only the in-graph seed carries mass")
  }

  test("personalizedPageRank equals the driver integer recurrence on random graphs") {
    def driverPpr(edges: Seq[(Long, Long)], seeds: Set[Long], iters: Int,
                  scale: Long = 1000000000000L): Map[Long, Long] = {
      val sym = (edges ++ edges.map(_.swap)).filter(e => e._1 != e._2).distinct
      val adj = sym.groupBy(_._1).map { case (n, v) => n -> v.map(_._2) }
      val deg = adj.map { case (n, v) => n -> v.size.toLong }
      val nodes = adj.keySet
      val inGraph = seeds.intersect(nodes)
      val tele = nodes.map(n =>
        n -> (if (inGraph(n)) scale / inGraph.size else 0L)).toMap
      var pr = tele
      for (_ <- 1 to iters) {
        val in = scala.collection.mutable.Map.empty[Long, Long]
          .withDefaultValue(0L)
        for ((u, vs) <- adj; v <- vs) in(v) += pr(u) / deg(u)
        pr = nodes.map(n =>
          n -> ((15L * tele(n)) / 100L + (85L * in(n)) / 100L)).toMap
      }
      pr
    }
    for (seed <- Seq(6, 31); parts <- Seq(1, 5)) {
      val rnd = new scala.util.Random(seed)
      val edges = (1 to 200)
        .map(_ => (rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
        .filter(e => e._1 != e._2)
      val seedNodes = (0L until 80L).filter(_ % 11 == 0).toSet
      val got = GraphOps.personalizedPageRank(
          edges.toDF("id1", "id2").repartition(parts),
          seedNodes.toSeq.toDF("seed"), iterations = 6)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == driverPpr(edges, seedNodes, iters = 6),
        s"seed $seed parts $parts")
    }
  }

  test("componentsDelta: merges, untouched components, and singletons") {
    // prior world: component {1,2,3} rooted at 1, component {10,11}
    // rooted at 10, singleton {20}
    val prev = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L),
      (20L, 20L)).toDF("doc_id", "cluster_id")
    // delta: 3-10 merges the two components; 30-31 is brand new
    val delta = Seq((3L, 10L), (30L, 31L)).toDF("id1", "id2")
    val got = GraphOps.componentsDelta(prev, delta)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 1L, 11L -> 1L,
      20L -> 20L, 30L -> 30L, 31L -> 30L),
      "merged component takes the global min; the untouched singleton survives")
  }

  test("componentsDelta(cc(A), B) == cc(A ∪ B) on random splits") {
    for (seed <- Seq(5, 17)) {
      val rnd = new scala.util.Random(seed)
      val edges = (1 to 250)
        .map(_ => (rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
      val (a, b) = edges.partition(_ => rnd.nextBoolean())
      val full = GraphOps.connectedComponents(edges.toDF("id1", "id2"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val prev = GraphOps.connectedComponents(a.toDF("id1", "id2"))
      val inc = GraphOps.componentsDelta(prev, b.toDF("id1", "id2"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // the incremental labeling covers A's nodes ∪ B's nodes = the
      // full graph's nodes, with identical labels
      assert(inc == full, s"seed $seed")
    }
  }

  // ---- incremental PageRank (trajectory state + ball-limited fold) ----

  private def prRows(df: org.apache.spark.sql.DataFrame) =
    df.select("node", "pr").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap

  /** The served tip of a (node, iter, pr) trajectory. */
  private def tipOf(traj: org.apache.spark.sql.DataFrame, iterations: Int) =
    traj.filter(col("iter") === iterations)

  test("pageRankTrajectory: iterate `iterations` equals pageRank's " +
       "output row for row; iterate 0 is uniform") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L),
      (10L, 11L)).toDF("id1", "id2")
    val traj = GraphOps.pageRankTrajectoryFromEdges(
      GraphOps.pageRankEdgeState(pairs), iterations = 4)
    val last = prRows(traj.filter(col("iter") === 4))
    val direct = prRows(GraphOps.pageRank(pairs, iterations = 4))
    assert(last == direct, "trajectory tip == pageRank")
    val it0 = traj.filter(col("iter") === 0).select("pr")
      .distinct().collect().map(_.getLong(0)).toSeq
    assert(it0 == Seq(Scale / 6), "iterate 0 is scale div n, uniform")
    assert(traj.count() == 5L * 6L, "(iterations+1) x |V| state rows")
  }

  test("pageRankDelta == from-scratch pageRank on the union graph: " +
       "merge edge, within-component edge, and a duplicate edge") {
    // two components: a 4-cycle with a chord and a 3-chain
    val prior = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L),
      (10L, 11L), (11L, 12L)).toDF("id1", "id2")
    val deltas = Seq(
      Seq((4L, 10L)),             // merges the two components
      Seq((2L, 4L)),              // rewires inside one component
      Seq((1L, 2L), (3L, 10L)))   // duplicate of a prior edge + merge
    val st = GraphOps.pageRankEdgeState(prior)
    val traj = GraphOps.pageRankTrajectoryFromEdges(st, iterations = 5)
    for ((d, i) <- deltas.zipWithIndex) {
      val inc = prRows(GraphOps.pageRankDeltaFromState(traj, st,
        d.toDF("id1", "id2"), iterations = 5))
      val scratch = prRows(GraphOps.pageRank(
        prior.unionByName(d.toDF("id1", "id2")), iterations = 5))
      assert(inc == scratch, s"delta case $i folds bit-exactly")
    }
  }

  test("pageRankDelta == from-scratch on random graphs and splits") {
    for ((name, prior, delta, _, majority) <- randomSplits(Seq(3, 23))) {
      val st = GraphOps.pageRankEdgeState(prior.toDF("id1", "id2"))
      val traj = GraphOps.pageRankTrajectoryFromEdges(st, iterations = 5)
      GraphOps.lastBranch = None
      val inc = prRows(GraphOps.pageRankDeltaFromState(traj, st,
        delta.toDF("id1", "id2"), iterations = 5))
      assert(GraphOps.lastBranch.contains(("pageRankDelta", majority)),
        s"$name: saw ${GraphOps.lastBranch}")
      val scratch = prRows(GraphOps.pageRank(
        (prior ++ delta).toDF("id1", "id2"), iterations = 5))
      assert(inc == scratch, s"$name (|delta| = ${delta.size})")
      assert(inc == refRanks(universeOf(prior), prior ++ delta, None, 5),
        s"$name: driver reference")
    }
  }

  /** Node-preserving (prior, delta) splits: one dense random graph per
    * seed, whose delta balls cover a majority of the nodes, plus one
    * [[blockGraph]] whose delta stays inside one block and so takes
    * the restricted fold. Yields (name, prior, delta, the kept part's
    * nodes, majority). */
  private def randomSplits(seeds: Seq[Int]): Seq[(String,
      Seq[(Long, Long)], Seq[(Long, Long)], Set[Long], Boolean)] =
    seeds.map { seed =>
      val rnd = new scala.util.Random(seed)
      val edges = (1 to 150).map(_ =>
        (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
        .filter(e => e._1 != e._2).distinct
      // node-preserving split: delta edges drawn from pairs whose
      // endpoints both appear in the kept prior part
      val (cand, rest) = edges.partition(_ => rnd.nextInt(10) == 0)
      val nodes = rest.flatMap(e => Seq(e._1, e._2)).toSet
      val delta = cand.filter(e => nodes(e._1) && nodes(e._2))
      (s"seed $seed", rest ++ cand.filterNot(delta.contains), delta, nodes,
        true)
    } :+ {
      val (edges, absent) = blockGraph(seeds.head)
      (s"blocks ${seeds.head}", edges, absent.take(2),
        universeOf(edges).toSet, false)
    }

  /** A random graph of eight disjoint 6-node blocks, each a path plus
    * random chords, and the pairs of block 0 it lacks: a delta inside
    * one block keeps the locality ball within those six nodes — a
    * small minority — so the folds take the restricted branch. */
  private def blockGraph(seed: Int)
      : (Seq[(Long, Long)], Seq[(Long, Long)]) = {
    val rnd = new scala.util.Random(seed)
    val edges = (0L until 8L).flatMap { b =>
      val ids = (0L until 6L).map(_ + 10L * b)
      ids.zip(ids.tail) ++
        (1 to 3).map(_ => (ids(rnd.nextInt(6)), ids(rnd.nextInt(6))))
    }.filter(e => e._1 != e._2)
      .map(e => (e._1 min e._2, e._1 max e._2)).distinct
    val absent = for (a <- 0L until 6L; b <- a + 1L until 6L
                      if !edges.contains((a, b))) yield (a, b)
    (edges, absent)
  }

  test("pageRankDelta: an empty delta returns the prior tip; a " +
       "node-adding delta refuses loudly") {
    val prior = Seq((1L, 2L), (2L, 3L)).toDF("id1", "id2")
    val st = GraphOps.pageRankEdgeState(prior)
    val traj = GraphOps.pageRankTrajectoryFromEdges(st, iterations = 3)
    val empty = Seq.empty[(Long, Long)].toDF("id1", "id2")
    assert(prRows(GraphOps.pageRankDeltaFromState(traj, st, empty,
        iterations = 3)) ==
      prRows(GraphOps.pageRank(prior, iterations = 3)))
    val e = intercept[IllegalArgumentException] {
      GraphOps.pageRankDeltaFromState(traj, st,
        Seq((3L, 99L)).toDF("id1", "id2"), iterations = 3)
    }
    assert(e.getMessage.contains("new node"))
  }

  test("componentsDelete: a bridge deletion SPLITS the component; " +
       "stranded nodes stay labeled as singletons") {
    val prior = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id1", "id2")
    val prev = GraphOps.connectedComponents(prior)
    val out = GraphOps.componentsDelete(prev, prior,
        Seq((2L, 3L)).toDF("id1", "id2"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L,
      10L -> 10L, 11L -> 10L), s"split into {1,2} and {3,4}: $out")
    // deleting BOTH of a node's edges strands it as its own cluster
    val out2 = GraphOps.componentsDelete(prev, prior,
        Seq((1L, 2L), (2L, 3L)).toDF("id1", "id2"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out2 == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 3L,
      10L -> 10L, 11L -> 10L), s"node 2 stranded as a singleton: $out2")
  }

  test("componentsDelete == from-scratch over the survivors on random " +
       "graphs; empty and never-existed deletions are safe") {
    for (seed <- Seq(7, 41)) {
      val rnd = new scala.util.Random(seed)
      val edges = (1 to 120).map(_ =>
        (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
        .filter(e => e._1 != e._2).distinct
      val del = edges.filter(_ => rnd.nextInt(5) == 0)
      val prior = edges.toDF("id1", "id2")
      val prev = GraphOps.connectedComponents(prior)
      val inc = GraphOps.componentsDelete(prev, prior,
          del.toDF("id1", "id2"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
      // from-scratch over survivors, with prior nodes kept as
      // self-pair singletons — the operator's stated node contract
      val surv = edges.filterNot(e =>
        del.contains(e) || del.contains((e._2, e._1)))
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val scratch = GraphOps.connectedComponents(
          (surv ++ nodes.map(n => (n, n))).toDF("id1", "id2"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
      assert(inc == scratch, s"seed $seed (|del| = ${del.size})")
    }
    // empty deletion returns the prior labeling; a deletion naming
    // an edge that never existed is ignored (labels unchanged)
    val prior = Seq((1L, 2L), (3L, 4L)).toDF("id1", "id2")
    val prev = GraphOps.connectedComponents(prior)
    val prevSet = prev.collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    val none = Seq.empty[(Long, Long)].toDF("id1", "id2")
    assert(GraphOps.componentsDelete(prev, prior, none)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet == prevSet)
    assert(GraphOps.componentsDelete(prev, prior,
        Seq((1L, 4L)).toDF("id1", "id2"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet == prevSet)
  }

  test("pageRankDelta: a LOCAL delta (minority ball) takes the " +
       "ball-restricted fold and still equals from-scratch") {
    // 60-node path; delta chords one end. With 4 iterations the ball
    // is the 4-hop neighborhood of {2, 4} — 8 of 60 nodes — so this
    // exercises the restricted-fold branch, not the recompute branch
    val prior = (1L until 60L).map(i => (i, i + 1)).toDF("id1", "id2")
    val delta = Seq((2L, 4L)).toDF("id1", "id2")
    val st = GraphOps.pageRankEdgeState(prior)
    val traj = GraphOps.pageRankTrajectoryFromEdges(st, iterations = 4)
    val inc = prRows(GraphOps.pageRankDeltaFromState(traj, st, delta,
      iterations = 4))
    val scratch = prRows(GraphOps.pageRank(prior.unionByName(delta),
      iterations = 4))
    assert(inc == scratch, "local fold == from-scratch on the union")
  }

  test("pprDelta: a LOCAL delta (minority ball) takes the " +
       "ball-restricted fold and still equals from-scratch") {
    val prior = (1L until 60L).map(i => (i, i + 1)).toDF("id1", "id2")
    val delta = Seq((2L, 4L)).toDF("id1", "id2")
    val seeds = (1L to 60L).filter(_ % 6 == 0).toDF("node")
    val st = GraphOps.pageRankEdgeState(prior)
    val traj = GraphOps.pprTrajectoryFromEdges(st, seeds, iterations = 4)
    val inc = prRows(GraphOps.pprDeltaFromState(traj, st, delta, seeds,
      iterations = 4))
    val scratch = prRows(GraphOps.personalizedPageRank(
      prior.unionByName(delta), seeds, iterations = 4))
    assert(inc == scratch, "local fold == from-scratch on the union")
  }

  test("pageRankDeltaFromState: the maintained state pair folds " +
       "bit-equal, duplicate delta edges never double-count degrees") {
    val prior = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L),
      (10L, 11L), (11L, 12L)).toDF("id1", "id2")
    val st = GraphOps.pageRankEdgeState(prior)
    val traj = GraphOps.pageRankTrajectoryFromEdges(st, iterations = 5)
    val deltas = Seq(
      Seq((4L, 10L)),                 // merge, minority-ball fold path
      Seq((1L, 2L), (3L, 10L)),       // DUPLICATE prior edge + merge
      Seq((2L, 1L)))                  // duplicate in REVERSED orientation
    for ((d, i) <- deltas.zipWithIndex) {
      val inc = prRows(GraphOps.pageRankDeltaFromState(traj, st,
        d.toDF("id1", "id2"), iterations = 5))
      val scratch = prRows(GraphOps.pageRank(
        prior.unionByName(d.toDF("id1", "id2")), iterations = 5))
      assert(inc == scratch, s"state-fold case $i == from-scratch")
    }
    // the long-path local shape drives the restricted-fold branch
    // against the state pair too
    val chain = (1L until 60L).map(i => (i, i + 1)).toDF("id1", "id2")
    val st2 = GraphOps.pageRankEdgeState(chain)
    val traj2 = GraphOps.pageRankTrajectoryFromEdges(st2, iterations = 4)
    assert(prRows(GraphOps.pageRankDeltaFromState(traj2, st2,
        Seq((2L, 4L)).toDF("id1", "id2"), iterations = 4)) ==
      prRows(GraphOps.pageRank(
        chain.unionByName(Seq((2L, 4L)).toDF("id1", "id2")),
        iterations = 4)),
      "local state-fold == from-scratch")
  }

  test("pprTrajectory: iterate `iterations` equals personalizedPageRank " +
       "row for row; iterate 0 is the teleport vector") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L),
      (10L, 11L)).toDF("id1", "id2")
    val seeds = Seq(1L, 10L).toDF("node")
    val traj = GraphOps.pprTrajectoryFromEdges(
      GraphOps.pageRankEdgeState(pairs), seeds, iterations = 4)
    val last = prRows(traj.filter(col("iter") === 4))
    val direct = prRows(
      GraphOps.personalizedPageRank(pairs, seeds, iterations = 4))
    assert(last == direct, "trajectory tip == personalizedPageRank")
    val it0 = traj.filter(col("iter") === 0)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(it0(1L) == Scale / 2 && it0(10L) == Scale / 2,
      "iterate 0 carries scale div |S| on each in-graph seed")
    assert(Seq(2L, 3L, 4L, 11L).forall(it0(_) == 0L),
      "iterate 0 is zero off the seed set")
    assert(traj.count() == 5L * 6L, "(iterations+1) x |V| state rows")
  }

  test("pprDelta == from-scratch personalizedPageRank on the union: " +
       "merge edge, within-component edge, duplicate edge") {
    val prior = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L),
      (10L, 11L), (11L, 12L)).toDF("id1", "id2")
    val seeds = Seq(1L, 11L).toDF("node")
    val deltas = Seq(
      Seq((4L, 10L)),             // merges the two components
      Seq((2L, 4L)),              // rewires inside one component
      Seq((1L, 2L), (3L, 10L)))   // duplicate of a prior edge + merge
    val st = GraphOps.pageRankEdgeState(prior)
    val traj = GraphOps.pprTrajectoryFromEdges(st, seeds, iterations = 5)
    for ((d, i) <- deltas.zipWithIndex) {
      val inc = prRows(GraphOps.pprDeltaFromState(traj, st,
        d.toDF("id1", "id2"), seeds, iterations = 5))
      val scratch = prRows(GraphOps.personalizedPageRank(
        prior.unionByName(d.toDF("id1", "id2")), seeds, iterations = 5))
      assert(inc == scratch, s"delta case $i folds bit-exactly")
    }
  }

  test("pprDelta == from-scratch on random graphs and splits") {
    for ((name, prior, delta, kept, majority) <- randomSplits(Seq(5, 31))) {
      val seedSet = kept.filter(_ % 5 == 0)
      val seeds = seedSet.toSeq.toDF("node")
      val st = GraphOps.pageRankEdgeState(prior.toDF("id1", "id2"))
      val traj = GraphOps.pprTrajectoryFromEdges(st, seeds, iterations = 5)
      GraphOps.lastBranch = None
      val inc = prRows(GraphOps.pprDeltaFromState(traj, st,
        delta.toDF("id1", "id2"), seeds, iterations = 5))
      assert(GraphOps.lastBranch.contains(("pprDelta", majority)),
        s"$name: saw ${GraphOps.lastBranch}")
      val scratch = prRows(GraphOps.personalizedPageRank(
        (prior ++ delta).toDF("id1", "id2"), seeds, iterations = 5))
      assert(inc == scratch, s"$name (|delta| = ${delta.size})")
      assert(inc == refRanks(universeOf(prior), prior ++ delta,
        Some(seedSet), 5), s"$name: driver reference")
    }
  }

  test("pprDeltaFromState: maintained state folds bit-equal; tele is " +
       "read from verified iterate 0; duplicate delta edges absorbed") {
    val prior = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L),
      (10L, 11L), (11L, 12L)).toDF("id1", "id2")
    val seeds = Seq(1L, 11L).toDF("node")
    val st = GraphOps.pageRankEdgeState(prior)
    val traj = GraphOps.pprTrajectoryFromEdges(st, seeds, iterations = 5)
    val deltas = Seq(
      Seq((4L, 10L)),             // merge
      Seq((1L, 2L), (3L, 10L)),   // duplicate prior edge + merge
      Seq((2L, 1L)))              // duplicate, reversed orientation
    for ((d, i) <- deltas.zipWithIndex) {
      val inc = prRows(GraphOps.pprDeltaFromState(traj, st,
        d.toDF("id1", "id2"), seeds, iterations = 5))
      val scratch = prRows(GraphOps.personalizedPageRank(
        prior.unionByName(d.toDF("id1", "id2")), seeds, iterations = 5))
      assert(inc == scratch, s"state-fold case $i == from-scratch")
    }
    // wrong seed set still refuses through the state path
    val e = intercept[IllegalArgumentException] {
      GraphOps.pprDeltaFromState(traj, st,
        Seq((1L, 3L)).toDF("id1", "id2"), Seq(2L).toDF("node"),
        iterations = 5)
    }
    assert(e.getMessage.contains("different seed set"))
  }

  test("pprDelta: empty delta returns the prior tip; node-adding and " +
       "SEED-CHANGING deltas both refuse loudly") {
    val prior = Seq((1L, 2L), (2L, 3L)).toDF("id1", "id2")
    val seeds = Seq(1L).toDF("node")
    val st = GraphOps.pageRankEdgeState(prior)
    val traj = GraphOps.pprTrajectoryFromEdges(st, seeds, iterations = 3)
    val empty = Seq.empty[(Long, Long)].toDF("id1", "id2")
    assert(prRows(GraphOps.pprDeltaFromState(traj, st, empty, seeds,
        iterations = 3)) ==
      prRows(GraphOps.personalizedPageRank(prior, seeds, iterations = 3)))
    val eNode = intercept[IllegalArgumentException] {
      GraphOps.pprDeltaFromState(traj, st,
        Seq((3L, 99L)).toDF("id1", "id2"), seeds, iterations = 3)
    }
    assert(eNode.getMessage.contains("new node"))
    // the stateful-fold hazard the check exists for: same state,
    // DIFFERENT seed set — iterate 0 no longer matches the teleport
    // vector and the fold must refuse, not silently mix recurrences
    val eSeed = intercept[IllegalArgumentException] {
      GraphOps.pprDeltaFromState(traj, st,
        Seq((1L, 3L)).toDF("id1", "id2"), Seq(2L).toDF("node"),
        iterations = 3)
    }
    assert(eSeed.getMessage.contains("different seed set"))
  }

  test("streaming label maintenance: componentsDelta folds micro-batch deltas") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val input = MemoryStream[(Long, Long)](spark)
    // the label state a real pipeline would keep in a table; foreachBatch
    // executes serially so a plain var models it faithfully
    var labels: Option[org.apache.spark.sql.DataFrame] = None
    val q = input.toDF().toDF("id1", "id2").writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val delta = batch.localCheckpoint(true)
        labels = Some((labels match {
          case None       => GraphOps.connectedComponents(delta)
          case Some(prev) => GraphOps.componentsDelta(prev, delta)
        }).localCheckpoint(true))
        ()
      }.start()
    try {
      input.addData((1L, 2L), (3L, 4L)); q.processAllAvailable()
      input.addData((2L, 3L)); q.processAllAvailable() // merge {1,2} ∪ {3,4}
      input.addData((10L, 11L), (4L, 10L)); q.processAllAvailable() // extend
      val got = labels.get.collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
        10L -> 1L, 11L -> 1L),
        "three folded deltas converge on one min-rooted component")
      // the invariant the operator exists for: folded-per-batch equals
      // from-scratch over the concatenation of every delta
      val fromScratch = GraphOps.connectedComponents(
        Seq((1L, 2L), (3L, 4L), (2L, 3L), (10L, 11L), (4L, 10L))
          .toDF("id1", "id2"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got == fromScratch)
    } finally q.stop()
  }

  test("kCore: stars and chains peel away, cliques survive") {
    // triangle {1,2,3} + tail 3-4-5 + star hub 10 with leaves 11-14
    val pairs = (Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L)) ++
      (11L to 14L).map(l => (10L, l))).toDF("id1", "id2")
    val core2 = GraphOps.kCore(pairs, k = 2).collect().map(_.getLong(0)).toSet
    assert(core2 == Set(1L, 2L, 3L),
      "only the triangle is 2-mutually-similar; the tail and the star peel")
    assert(GraphOps.kCore(pairs, k = 3).collect().isEmpty,
      "a triangle has degree 2 — no 3-core anywhere")
    // k=1 keeps every non-self-loop node (no peel fires)
    val core1 = GraphOps.kCore(pairs, k = 1).collect().map(_.getLong(0)).toSet
    assert(core1 == Set(1L, 2L, 3L, 4L, 5L, 10L, 11L, 12L, 13L, 14L))
  }

  test("kCore: peeling cascades — removing leaves can unravel a whole chain") {
    // path 0-1-...-19: every 2-core peel round removes both current
    // endpoints, so the chain unravels end-in; 10 rounds empty it
    val path = (0L until 19L).map(i => (i, i + 1)).toDF("id1", "id2")
    assert(GraphOps.kCore(path, k = 2).collect().isEmpty,
      "a path has no cycle, hence no 2-core")
    // maxRounds below the peel depth leaves the unconverged middle —
    // the documented bound-is-part-of-the-contract behavior
    val partial = GraphOps.kCore(path, k = 2, maxRounds = 3)
      .collect().map(_.getLong(0)).toSet
    assert(partial == (3L to 16L).toSet,
      "3 peels strip exactly 3 nodes from each end")
  }

  test("kCore: self-loops don't count toward degree; empty input is safe") {
    val loops = Seq((1L, 1L), (1L, 2L), (2L, 1L)).toDF("id1", "id2")
    assert(GraphOps.kCore(loops, k = 2).collect().isEmpty,
      "1-2 is a single undirected edge; self-loops add no degree")
    assert(GraphOps.kCore(
      Seq.empty[(Long, Long)].toDF("id1", "id2"), k = 2).collect().isEmpty)
  }

  test("kCore equals driver-side peel on random graphs, any partitioning") {
    def driverKCore(edges: Seq[(Long, Long)], k: Int): Set[Long] = {
      var adj = (edges ++ edges.map(_.swap)).filter(e => e._1 != e._2)
        .groupBy(_._1).map { case (n, v) => n -> v.map(_._2).toSet }
      var changed = true
      while (changed) {
        val drop = adj.collect { case (n, nb) if nb.size < k => n }.toSet
        changed = drop.nonEmpty
        adj = adj.removedAll(drop).map { case (n, nb) => n -> (nb -- drop) }
          .filter(_._2.nonEmpty)
      }
      adj.keySet
    }
    for (seed <- Seq(11, 42); parts <- Seq(1, 7); k <- Seq(2, 3)) {
      val rnd = new scala.util.Random(seed)
      val edges = (1 to 300)
        .map(_ => (rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
        .filter(e => e._1 != e._2)
      // maxRounds high enough that the operator reaches the true
      // fixpoint the driver model computes
      val got = GraphOps.kCore(edges.toDF("id1", "id2").repartition(parts), k,
          maxRounds = 200)
        .collect().map(_.getLong(0)).toSet
      assert(got == driverKCore(edges, k), s"seed $seed parts $parts k $k")
    }
  }

  test("localClustering: triangles per corner, hubs score zero, cliques one") {
    // triangle {1,2,3} + hub 10 with leaves 11-13 (no leaf-leaf edges)
    val pairs = (Seq((1L, 2L), (2L, 3L), (3L, 1L)) ++
      (11L to 13L).map(l => (10L, l))).toDF("id1", "id2")
    val got = GraphOps.localClustering(pairs)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    (1L to 3L).foreach(v => assert(got(v) == (1L, 1L, 1.0), s"node $v"))
    assert(got(10L) == (0L, 3L, 0.0), "star hub: wedges but no closures")
    (11L to 13L).foreach(v => assert(got(v) == (0L, 0L, 0.0),
      "degree-1 leaves have no wedges — coefficient pinned to 0"))
    // K4: every node sits in C(3,2)=3 wedges, all closed
    val k4 = (for (a <- 1L to 4L; b <- a + 1 to 4L) yield (a, b))
      .toDF("id1", "id2")
    GraphOps.localClustering(k4).collect().foreach { r =>
      assert((r.getLong(1), r.getLong(2), r.getDouble(3)) == (3L, 3L, 1.0))
    }
  }

  test("localClustering sums to the census: Σ n_tri = 3 × triangles") {
    val rnd = new scala.util.Random(13)
    val pairs = (1 to 300)
      .map(_ => (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter(e => e._1 != e._2).toDF("id1", "id2")
    val local = GraphOps.localClustering(pairs)
    val sumTri = local.agg(sum("n_tri")).head().getLong(0)
    val sumWedges = local.agg(sum("n_wedges")).head().getLong(0)
    val census = GraphOps.triangleCensus(pairs).head()
    assert(sumTri == 3L * census.getAs[Long]("n_triangles"),
      "each triangle must be credited to exactly its three corners")
    assert(sumWedges == census.getAs[Long]("n_wedges"))
  }

  test("triangle census: self-loops and empty graphs are safe") {
    import spark.implicits._
    val loops = Seq((1L, 1L), (2L, 2L)).toDF("id1", "id2")
    val r = graft.operators.GraphOps.triangleCensus(loops).collect()(0)
    assert(r.getAs[Long]("n_edges") == 0L)
    assert(r.getAs[Long]("n_triangles") == 0L)
    assert(r.getAs[Double]("closure8") == 0.0)
  }

  test("commonNeighbors: path graph scores exactly the distance-2 pairs") {
    // path 1-2-3-4: non-adjacent pairs at distance 2 are (1,3) via
    // middle 2 (deg 2) and (2,4) via middle 3 (deg 2); (1,4) shares
    // no neighbor and must be absent
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("id1", "id2")
    val r = GraphOps.commonNeighbors(pairs).collect()
      .map(x => ((x.getLong(0), x.getLong(1)), (x.getLong(2), x.getLong(3))))
      .toMap
    assert(r.keySet == Set((1L, 3L), (2L, 4L)))
    assert(r((1L, 3L)) == (1L, 500000L), "one middle of degree 2 → ra = 1e6/2")
    assert(r((2L, 4L)) == (1L, 500000L))
  }

  test("commonNeighbors: adjacent pairs are excluded, shared-many rank first") {
    // diamond 1-2, 1-3, 4-2, 4-3 plus chord 2-3: (1,4) shares {2,3}
    // (cn 2); 2-3 ARE adjacent so the wedge through 1 or 4 must not
    // resurface them
    val pairs = Seq((1L, 2L), (1L, 3L), (4L, 2L), (4L, 3L), (2L, 3L))
      .toDF("id1", "id2")
    val rows = GraphOps.commonNeighbors(pairs).collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 4L)))
    val top = rows.head
    // middles 2 and 3 both have degree 3 → ra = 2 × (1e6 div 3)
    assert(top.getLong(2) == 2L && top.getLong(3) == 2L * 333333L)
  }

  test("commonNeighbors: the middle-degree cap silences hub wedges") {
    // star hub 100 with 10 leaves: every leaf pair shares the hub —
    // C(10,2)=45 pairs below the default cap, zero once the cap
    // excludes the hub
    val pairs = (1L to 10L).map(l => (100L, l)).toDF("id1", "id2")
    assert(GraphOps.commonNeighbors(pairs, limit = 100).count() == 45L)
    assert(GraphOps.commonNeighbors(pairs, limit = 100,
      maxMiddleDegree = 5).isEmpty)
  }

  test("commonNeighbors: the DEFAULT cap bounds hub wedge volume") {
    // star hub with 70 leaves: degree 70 exceeds the default cap of
    // 64, so the default-parameter call excludes the hub middle and
    // emits ZERO of the C(70,2)=2415 uncapped wedge pairs — the
    // round-9 verdict's "quadratic default" hazard is closed. The
    // explicit uncapped opt-in (0) still enumerates them all.
    val pairs = (1L to 70L).map(l => (1000L, l)).toDF("id1", "id2")
    assert(GraphOps.commonNeighbors(pairs, limit = 5000).isEmpty)
    assert(GraphOps.commonNeighbors(pairs, limit = 5000,
      maxMiddleDegree = 0).count() == 2415L)
    intercept[IllegalArgumentException] {
      GraphOps.commonNeighbors(pairs, maxMiddleDegree = -1)
    }
  }

  // ---- signed folds: deletions for the ranking family (round 15) ----

  /** Independent reference for the signed folds: the integer
    * recurrence over an EXPLICIT node universe, plain Scala maps —
    * blind to the ball, branch, and state machinery. `seeds = None`
    * is plain PageRank (uniform teleport over the universe),
    * `Some(s)` the seed-teleport recurrence. Floor division on
    * non-negative longs matches Spark's `div` exactly. */
  private def refRanks(universe: Seq[Long], edges: Seq[(Long, Long)],
                       seeds: Option[Set[Long]], iters: Int,
                       dampNum: Long = 85, dampDen: Long = 100)
      : Map[Long, Long] = {
    val sym = edges.flatMap { case (a, b) =>
      if (a == b) Nil else Seq((a, b), (b, a)) }.distinct
    val deg = sym.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val n = universe.size.toLong
    val tele: Long => Long = seeds match {
      case None => _ => Scale / n
      case Some(s) =>
        val inS = s.intersect(universe.toSet)
        val ns = inS.size.toLong
        v => if (inS(v)) Scale / ns else 0L
    }
    val tpTerm: Long => Long = seeds match {
      case None => _ => Scale * (dampDen - dampNum) / dampDen / n
      case Some(_) => v => (dampDen - dampNum) * tele(v) / dampDen
    }
    var pr: Map[Long, Long] = universe.map(v => v -> tele(v)).toMap
    for (_ <- 1 to iters) {
      val inSum = sym.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) => pr(src) / deg(src) }.sum }
      pr = universe.map(v =>
        v -> (tpTerm(v) + dampNum * inSum.getOrElse(v, 0L) / dampDen)).toMap
    }
    pr
  }

  private def universeOf(edges: Seq[(Long, Long)]): Seq[Long] =
    edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted

  test("pageRankDelete: a bridge deletion equals the recurrence over " +
       "the survivors on the PRIOR node universe; when nothing " +
       "strands it also equals plain pageRank on the survivors") {
    val prior = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L),
      (3L, 5L), (5L, 6L), (6L, 7L)).toDF("id1", "id2")
    val priorSeq = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L),
      (3L, 5L), (5L, 6L), (6L, 7L))
    val st = GraphOps.pageRankEdgeState(prior)
    val traj = GraphOps.pageRankTrajectoryFromEdges(st, iterations = 5)
    // delete the 3-5 bridge: the component splits, nobody strands
    val out = prRows(GraphOps.pageRankDelete(traj, st,
      Seq((3L, 5L)).toDF("id1", "id2"), iterations = 5))
    val surv = priorSeq.filterNot(_ == ((3L, 5L)))
    assert(out == refRanks(universeOf(priorSeq), surv, None, 5),
      "delete == reference recurrence on the prior universe")
    assert(out == prRows(GraphOps.pageRank(surv.toDF("id1", "id2"),
        iterations = 5)),
      "no stranding, so the edge-derived node set coincides")
  }

  test("pageRankDelete: stranded nodes stay in the output at the " +
       "teleport-only rank — the node universe is the trajectory's") {
    val priorSeq = Seq((1L, 2L), (2L, 3L), (10L, 11L))
    val prior = priorSeq.toDF("id1", "id2")
    val st = GraphOps.pageRankEdgeState(prior)
    val traj = GraphOps.pageRankTrajectoryFromEdges(st, iterations = 4)
    // delete BOTH of node 2's edges: 1, 2, 3 all strand
    val out = prRows(GraphOps.pageRankDelete(traj, st,
      Seq((1L, 2L), (2L, 3L)).toDF("id1", "id2"), iterations = 4))
    val ref = refRanks(universeOf(priorSeq), Seq((10L, 11L)), None, 4)
    assert(out == ref, "stranded trio at teleport-only rank")
    val tp = Scale * 15 / 100 / 5
    assert(Seq(1L, 2L, 3L).forall(v => ref(v) == tp),
      "reference itself confirms the teleport constant")
  }

  test("pageRankDeltaSigned: delete-then-re-add in one batch is an " +
       "identity; phantom deletions are ignored") {
    val prior = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id1", "id2")
    val st = GraphOps.pageRankEdgeState(prior)
    val traj = GraphOps.pageRankTrajectoryFromEdges(st, iterations = 4)
    val tip = prRows(traj.filter(col("iter") === 4))
    // same edge added AND deleted in one batch: survivor law keeps it
    assert(prRows(tipOf(GraphOps.graphStatesFoldPack(traj, None, None, st,
        Seq((2L, 3L)).toDF("id1", "id2"),
        Seq((2L, 3L)).toDF("id1", "id2"), iterations = 4).traj, 4)) == tip,
      "(prior − del) ∪ add = prior when add = del ⊆ prior")
    // deleting an edge that never existed changes nothing
    assert(prRows(GraphOps.pageRankDelete(traj, st,
        Seq((1L, 4L)).toDF("id1", "id2"), iterations = 4)) == tip,
      "phantom deletion is a no-op")
  }

  test("pageRankDelete then re-add across TWO folds is an identity " +
       "(the maintained pair carries stranded nodes through)") {
    val prior = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id1", "id2")
    val (traj0, st0) = (GraphOps.pageRankTrajectoryFromEdges(
      GraphOps.pageRankEdgeState(prior), iterations = 4),
      GraphOps.pageRankEdgeState(prior))
    val tip0 = prRows(traj0.filter(col("iter") === 4))
    // fold 1: delete both of node 2's edges (strands 1, 2, 3)
    val del = Seq((1L, 2L), (2L, 3L)).toDF("id1", "id2")
    val r1 = GraphOps.graphStatesFoldPack(traj0, None, None, st0,
      del.limit(0), del, iterations = 4)
    // fold 2: re-add them — the final graph is the original, and the
    // universe never moved, so the tip must match bit for bit
    val r2 = GraphOps.graphStatesFoldPack(r1.traj, None, None, r1.edgesDeg,
      del, del.limit(0), iterations = 4)
    assert(prRows(tipOf(r2.traj, 4)) == tip0,
      "delete + re-add across maintained folds == original tip")
  }

  test("pageRankDeltaSigned == reference on random graphs with mixed " +
       "additions and deletions (stranding allowed)") {
    for ((name, edges, adds, del, majority) <- signedBatches(Seq(11, 47))) {
      val prior = edges.toDF("id1", "id2")
      val nodes = universeOf(edges)
      val st = GraphOps.pageRankEdgeState(prior)
      val traj = GraphOps.pageRankTrajectoryFromEdges(st, iterations = 5)
      GraphOps.lastBranch = None
      val out = prRows(tipOf(GraphOps.graphStatesFoldPack(traj, None, None,
        st, adds.toDF("id1", "id2"), del.toDF("id1", "id2"),
        iterations = 5).traj, 5))
      assert(GraphOps.lastBranch.contains(("graphStatesFold", majority)),
        s"$name: saw ${GraphOps.lastBranch}")
      val surv = edges.filterNot(e =>
        del.contains(e) || del.contains(e.swap)) ++ adds
      assert(out == refRanks(nodes, surv, None, 5),
        s"$name (|add| = ${adds.size}, |del| = ${del.size})")
    }
  }

  /** Mixed signed batches: one dense random graph per seed (additions
    * drawn WITHIN the universe and absent from the prior, deletions a
    * random fifth of its edges — majority balls), plus one
    * [[blockGraph]] batch adding and deleting inside block 0 only
    * (restricted fold). Yields (name, edges, adds, dels, majority). */
  private def signedBatches(seeds: Seq[Int]): Seq[(String,
      Seq[(Long, Long)], Seq[(Long, Long)], Seq[(Long, Long)], Boolean)] =
    seeds.map { seed =>
      val rnd = new scala.util.Random(seed)
      val edges = (1 to 140).map(_ =>
        (rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
        .filter(e => e._1 != e._2).distinct
      val del = edges.filter(_ => rnd.nextInt(5) == 0)
      val nodes = universeOf(edges)
      val adds = (1 to 10).map(_ =>
        (nodes(rnd.nextInt(nodes.size)), nodes(rnd.nextInt(nodes.size))))
        .filter(e => e._1 != e._2)
        .filterNot(e => edges.contains(e) || edges.contains(e.swap))
        .distinct
      (s"seed $seed", edges, adds, del, true)
    } :+ {
      val (edges, absent) = blockGraph(seeds.head)
      (s"blocks ${seeds.head}", edges, absent.take(2), Seq((2L, 3L)), false)
    }

  test("pprDelete == reference; a stranded non-seed decays to zero, " +
       "a stranded seed keeps its teleport share") {
    val priorSeq = Seq((1L, 2L), (2L, 3L), (10L, 11L))
    val prior = priorSeq.toDF("id1", "id2")
    val seeds = Seq(1L, 10L).toDF("node")
    val st = GraphOps.pageRankEdgeState(prior)
    val traj = GraphOps.pprTrajectoryFromEdges(st, seeds, iterations = 4)
    val out = prRows(GraphOps.pprDelete(traj, st,
      Seq((1L, 2L), (2L, 3L)).toDF("id1", "id2"), seeds, iterations = 4))
    val ref = refRanks(universeOf(priorSeq), Seq((10L, 11L)),
      Some(Set(1L, 10L)), 4)
    assert(out == ref, "ppr delete == reference")
    assert(ref(2L) == 0L && ref(3L) == 0L,
      "stranded non-seeds decay to zero")
    assert(ref(1L) == (100L - 85L) * (Scale / 2) / 100L,
      "a stranded seed keeps the damped teleport share")
  }

  test("pprDeltaSigned == reference on random graphs with mixed " +
       "additions and deletions") {
    for ((name, edges, adds, del, majority) <- signedBatches(Seq(13, 59))) {
      val nodes = universeOf(edges)
      val seedSet = nodes.filter(_ % 5 == 0).toSet
      val prior = edges.toDF("id1", "id2")
      val st = GraphOps.pageRankEdgeState(prior)
      val traj = GraphOps.pprTrajectoryFromEdges(st,
        seedSet.toSeq.toDF("node"), iterations = 5)
      // mixed signed batches fold through the pack, which carries the
      // PPR family next to the plain trajectory it shares a universe with
      GraphOps.lastBranch = None
      val out = prRows(tipOf(GraphOps.graphStatesFoldPack(
        GraphOps.pageRankTrajectoryFromEdges(st, iterations = 5),
        Some(traj), None, st, adds.toDF("id1", "id2"),
        del.toDF("id1", "id2"), iterations = 5).pprTraj.get, 5))
      assert(GraphOps.lastBranch.contains(("graphStatesFold", majority)),
        s"$name: saw ${GraphOps.lastBranch}")
      val surv = edges.filterNot(e =>
        del.contains(e) || del.contains(e.swap)) ++ adds
      assert(out == refRanks(nodes, surv, Some(seedSet), 5),
        s"$name (|add| = ${adds.size}, |del| = ${del.size})")
    }
  }

  test("pageRankStateFold: the folded pair equals the from-scratch " +
       "pair on the survivor graph and keeps folding (chained)") {
    val edges0 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (5L, 6L))
    val st0 = GraphOps.pageRankEdgeState(edges0.toDF("id1", "id2"))
    val traj0 = GraphOps.pageRankTrajectoryFromEdges(st0, iterations = 4)
    // batch 1: add a chord + delete a cycle edge (no stranding)
    val r1 = GraphOps.graphStatesFoldPack(traj0, None, None, st0,
      Seq((1L, 3L)).toDF("id1", "id2"),
      Seq((4L, 1L)).toDF("id1", "id2"), iterations = 4)
    val (traj1, st1) = (r1.traj, r1.edgesDeg)
    val g1 = edges0.filterNot(_ == ((4L, 1L))) :+ ((1L, 3L))
    val stG1 = GraphOps.pageRankEdgeState(g1.toDF("id1", "id2"))
    assert(trajRows(traj1) == trajRows(
        GraphOps.pageRankTrajectoryFromEdges(stG1, iterations = 4)),
      "folded trajectory == from-scratch trajectory on batch-1 graph")
    assert(st1.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq ==
      stG1.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq,
      "folded edge state == from-scratch edge state")
    // batch 2 folds FROM THE FOLDED PAIR: merge the two components
    val traj2 = GraphOps.graphStatesFoldPack(traj1, None, None, st1,
      Seq((4L, 5L)).toDF("id1", "id2"),
      Seq.empty[(Long, Long)].toDF("id1", "id2"), iterations = 4).traj
    val g2 = g1 :+ ((4L, 5L))
    assert(prRows(traj2.filter(col("iter") === 4)) ==
      prRows(GraphOps.pageRank(g2.toDF("id1", "id2"), iterations = 4)),
      "chained fold tip == from-scratch on the final graph")
  }

  test("signed folds VERIFY the state pair: a state with nodes the " +
       "trajectory lacks refuses; a non-uniform iterate 0 refuses") {
    val prior = Seq((1L, 2L), (2L, 3L)).toDF("id1", "id2")
    val st = GraphOps.pageRankEdgeState(prior)
    val traj = GraphOps.pageRankTrajectoryFromEdges(st, iterations = 3)
    // state from a BIGGER graph than the trajectory's
    val stBig = GraphOps.pageRankEdgeState(
      Seq((1L, 2L), (2L, 3L), (3L, 9L)).toDF("id1", "id2"))
    val e1 = intercept[IllegalArgumentException] {
      GraphOps.pageRankDeltaFromState(traj, stBig,
        Seq((1L, 3L)).toDF("id1", "id2"), iterations = 3)
    }
    assert(e1.getMessage.contains("mismatched"))
    // trajectory whose iterate 0 is not scale div n (wrong scale)
    val trajBad = GraphOps.pageRankTrajectoryFromEdges(st,
      iterations = 3, scale = 1000000L)
    val e2 = intercept[IllegalArgumentException] {
      GraphOps.pageRankDeltaFromState(trajBad, st,
        Seq((1L, 3L)).toDF("id1", "id2"), iterations = 3)
    }
    assert(e2.getMessage.contains("different graph or scale"))
  }

  private def trajRows(df: org.apache.spark.sql.DataFrame) =
    df.select("node", "iter", "pr").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq

  // ---- PPR and multi-family signed folds (graphStatesFoldPack) ----

  test("pprStateFold: the folded pair's tip equals the reference over " +
       "the survivors on the PRIOR universe; delete then re-add " +
       "across TWO folds is an identity (trajectory row for row)") {
    val priorSeq = Seq((1L, 2L), (2L, 3L), (10L, 11L))
    val prior = priorSeq.toDF("id1", "id2")
    val seeds = Seq(1L, 10L).toDF("node")
    val st0 = GraphOps.pageRankEdgeState(prior)
    val traj0 = GraphOps.pprTrajectoryFromEdges(st0, seeds, iterations = 4)
    val del = Seq((1L, 2L), (2L, 3L)).toDF("id1", "id2")
    // fold 1: strand nodes 1, 2, 3 (1 is a seed — keeps its damped
    // teleport share; 2, 3 decay to zero)
    val r1 = GraphOps.graphStatesFoldPack(
      GraphOps.pageRankTrajectoryFromEdges(st0, iterations = 4),
      Some(traj0), None, st0, del.limit(0), del, iterations = 4)
    val traj1 = r1.pprTraj.get
    assert(prRows(traj1.filter(col("iter") === 4)) ==
      refRanks(universeOf(priorSeq), Seq((10L, 11L)),
        Some(Set(1L, 10L)), 4),
      "folded tip == reference over the survivors on the prior universe")
    assert(traj1.groupBy("iter").count().collect()
        .forall(_.getLong(1) == 5L),
      "every iterate keeps one row per universe node (stranded included)")
    // fold 2 FROM THE FOLDED PAIR: re-add — bit-for-bit identity
    val traj2 = GraphOps.graphStatesFoldPack(r1.traj, Some(traj1), None,
      r1.edgesDeg, del, del.limit(0), iterations = 4).pprTraj.get
    assert(trajRows(traj2) == trajRows(traj0),
      "delete + re-add across maintained PPR folds == original trajectory")
  }

  test("pprStateFold == from-scratch pprTrajectory on a no-strand " +
       "mixed batch (the majority/minority branches agree with the " +
       "from-scratch pair)") {
    val edges0 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (5L, 6L),
      (6L, 7L), (7L, 5L))
    val seeds = Seq(1L, 5L).toDF("node")
    val st0 = GraphOps.pageRankEdgeState(edges0.toDF("id1", "id2"))
    val traj0 = GraphOps.pprTrajectoryFromEdges(st0, seeds, iterations = 4)
    val r1 = GraphOps.graphStatesFoldPack(
      GraphOps.pageRankTrajectoryFromEdges(st0, iterations = 4),
      Some(traj0), None, st0, Seq((1L, 3L)).toDF("id1", "id2"),
      Seq((4L, 1L)).toDF("id1", "id2"), iterations = 4)
    val (traj1, st1) = (r1.pprTraj.get, r1.edgesDeg)
    val g1 = (edges0.filterNot(_ == ((4L, 1L))) :+ ((1L, 3L)))
      .toDF("id1", "id2")
    val stG1 = GraphOps.pageRankEdgeState(g1)
    assert(trajRows(traj1) == trajRows(
        GraphOps.pprTrajectoryFromEdges(stG1, seeds, iterations = 4)),
      "folded PPR trajectory == from-scratch on the batch-1 graph")
    assert(st1.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq ==
      stG1.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq,
      "folded edge state == from-scratch edge state")
  }

  test("graphStatesFold == the single-family folds AND from-scratch " +
       "components on random graphs with mixed additions and " +
       "deletions (stranding allowed)") {
    for (seed <- Seq(17, 71)) {
      val rnd = new scala.util.Random(seed)
      val edges = (1 to 140).map(_ =>
        (rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
        .filter(e => e._1 != e._2).distinct
      val del = edges.filter(_ => rnd.nextInt(5) == 0)
      val nodes = universeOf(edges)
      val adds = (1 to 10).map(_ =>
        (nodes(rnd.nextInt(nodes.size)), nodes(rnd.nextInt(nodes.size))))
        .filter(e => e._1 != e._2)
        .filterNot(e => edges.contains(e) || edges.contains(e.swap))
        .distinct
      val seedSet = nodes.filter(_ % 5 == 0).toSet
      val prior = edges.toDF("id1", "id2")
      val st = GraphOps.pageRankEdgeState(prior)
      val traj = GraphOps.pageRankTrajectoryFromEdges(st, iterations = 5)
      val ptraj = GraphOps.pprTrajectoryFromEdges(st,
        seedSet.toSeq.toDF("node"), iterations = 5)
      val labels = GraphOps.connectedComponents(prior)
      val r = GraphOps.graphStatesFoldPack(traj, Some(ptraj),
        Some(labels), st, adds.toDF("id1", "id2"), del.toDF("id1", "id2"),
        iterations = 5)
      val (t2, p2, l2, st2) = (r.traj, r.pprTraj, r.labels, r.edgesDeg)
      val surv = edges.filterNot(e =>
        del.contains(e) || del.contains(e.swap)) ++ adds
      assert(prRows(t2.filter(col("iter") === 5)) ==
        refRanks(nodes, surv, None, 5), s"plain tip (seed $seed)")
      assert(prRows(p2.get.filter(col("iter") === 5)) ==
        refRanks(nodes, surv, Some(seedSet), 5), s"ppr tip (seed $seed)")
      // labels law: components over the survivors with the PRIOR node
      // set (stranded nodes as their own singletons — the self-pair
      // trick keeps them in the reference's node set)
      val refLabels = GraphOps.connectedComponents(
        (surv ++ nodes.map(v => (v, v))).toDF("id1", "id2"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(l2.get.collect().map(r =>
          (r.getLong(0), r.getLong(1))).toSet == refLabels,
        s"labels == from-scratch components over survivors (seed $seed)")
      // the returned edge state is the survivor state
      assert(st2.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq ==
        GraphOps.pageRankEdgeState(surv.toDF("id1", "id2")).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .sorted.toSeq,
        s"edge state == from-scratch on survivors (seed $seed)")
    }
  }

  test("triangleCountsFromEdges == localClustering's per-node census " +
       "(zero-triangle rows kept — the row set is the fold universe)") {
    val rnd = new scala.util.Random(29)
    val edges = (1 to 120).map(_ =>
      (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter(e => e._1 != e._2).distinct
    val st = GraphOps.pageRankEdgeState(edges.toDF("id1", "id2"))
    val got = GraphOps.triangleCountsFromEdges(st)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val ref = GraphOps.localClustering(edges.toDF("id1", "id2"))
      .select(col("doc_id"), col("n_tri"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == ref, "per-node counts (universe = graph nodes)")
  }

  test("trianglesDelta == from-scratch census on the survivors over " +
       "the PRIOR universe (random mixed signed deltas; stranding " +
       "allowed, stranded nodes decay to 0)") {
    for (seed <- Seq(13, 47)) {
      val rnd = new scala.util.Random(seed)
      val edges = (1 to 140).map(_ =>
        (rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
        .filter(e => e._1 != e._2).distinct
      val del = edges.filter(_ => rnd.nextInt(4) == 0)
      val nodes = universeOf(edges)
      val adds = (1 to 12).map(_ =>
        (nodes(rnd.nextInt(nodes.size)), nodes(rnd.nextInt(nodes.size))))
        .filter(e => e._1 != e._2)
        .filterNot(e => edges.contains(e) || edges.contains(e.swap))
        .distinct
      val prior = edges.toDF("id1", "id2")
      val st = GraphOps.pageRankEdgeState(prior)
      val tri0 = GraphOps.triangleCountsFromEdges(st)
      val out = GraphOps.trianglesDelta(tri0, st,
          adds.toDF("id1", "id2"), del.toDF("id1", "id2"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val surv = edges.filterNot(e =>
        del.contains(e) || del.contains(e.swap)) ++ adds
      val ref = GraphOps.localClustering(surv.toDF("id1", "id2"))
        .select(col("doc_id"), col("n_tri"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(out.keySet == nodes.toSet,
        s"universe preserved (seed $seed)")
      nodes.foreach(v => assert(out(v) == ref.getOrElse(v, 0L),
        s"node $v: fold ${out(v)} != scratch ${ref.getOrElse(v, 0L)} " +
          s"(seed $seed)"))
    }
  }

  test("trianglesDelta: delete-then-re-add is an identity; duplicate " +
       "adds and phantom deletes are absorbed") {
    // two triangles sharing an edge: (1,2,3) and (2,3,4), plus a tail
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L))
    val prior = edges.toDF("id1", "id2")
    val st = GraphOps.pageRankEdgeState(prior)
    val tri0 = GraphOps.triangleCountsFromEdges(st)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val base = rows(tri0)
    assert(base == Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 1L, 5L -> 0L))
    // retract the shared edge (kills both triangles), then add it back
    val cut = Seq((2L, 3L)).toDF("id1", "id2")
    val afterDel = GraphOps.trianglesDelta(tri0, st,
      cut.limit(0), cut)
    assert(rows(afterDel) ==
      Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 0L, 5L -> 0L),
      "both triangles through the cut edge retract")
    val stCut = GraphOps.pageRankEdgeState(
      edges.filterNot(_ == ((2L, 3L))).toDF("id1", "id2"))
    val back = GraphOps.trianglesDelta(afterDel, stCut, cut, cut.limit(0))
    assert(rows(back) == base, "delete-then-re-add is an identity")
    // absorbed no-ops: a duplicate add (edge already present) and a
    // phantom delete (edge never present) perturb nothing
    val noop = GraphOps.trianglesDelta(tri0, st,
      Seq((1L, 2L)).toDF("id1", "id2"),
      Seq((1L, 5L)).toDF("id1", "id2"))
    assert(rows(noop) == base, "duplicate add + phantom delete absorb")
  }

  test("trianglesDelta refuses an addition naming a node outside the " +
       "count relation's universe (the family's node-preserving law)") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L))
    val st = GraphOps.pageRankEdgeState(edges.toDF("id1", "id2"))
    val tri0 = GraphOps.triangleCountsFromEdges(st)
    val e = intercept[IllegalArgumentException] {
      GraphOps.trianglesDelta(tri0, st,
        Seq((3L, 99L)).toDF("id1", "id2"),
        Seq.empty[(Long, Long)].toDF("id1", "id2")).collect()
    }
    assert(e.getMessage.contains("new node"),
      s"unexpected message: ${e.getMessage}")
  }

  test("a LOCAL delta on a long path takes the restricted-fold branch " +
       "(ball ≪ graph) and both state folds still match the reference") {
    // 120-node path: a 4-iteration ball around a delta at one end is
    // ~5 hops of ~240 symmetrized endpoints — a small minority
    val edges = (1L until 120L).map(i => (i, i + 1L))
    val nodes = universeOf(edges)
    val seedSet = nodes.filter(_ % 5 == 0).toSet
    val prior = edges.toDF("id1", "id2")
    val st = GraphOps.pageRankEdgeState(prior)
    val traj = GraphOps.pageRankTrajectoryFromEdges(st, iterations = 4)
    val ptraj = GraphOps.pprTrajectoryFromEdges(st,
      seedSet.toSeq.toDF("node"), iterations = 4)
    val labels = GraphOps.connectedComponents(prior)
    val adds = Seq((1L, 3L))
    val dels = Seq((4L, 5L)) // splits the path near the delta end
    val r1 = GraphOps.graphStatesFoldPack(traj, Some(ptraj),
      Some(labels), st, adds.toDF("id1", "id2"), dels.toDF("id1", "id2"),
      iterations = 4)
    val (t2, p2, l2) = (r1.traj, r1.pprTraj, r1.labels)
    val surv = edges.filterNot(_ == ((4L, 5L))) ++ adds
    assert(prRows(t2.filter(col("iter") === 4)) ==
      refRanks(nodes, surv, None, 4), "plain tip via the fold branch")
    assert(prRows(p2.get.filter(col("iter") === 4)) ==
      refRanks(nodes, surv, Some(seedSet), 4), "ppr tip via the fold branch")
    assert(l2.get.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      GraphOps.connectedComponents(
          (surv ++ nodes.map(v => (v, v))).toDF("id1", "id2"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet,
      "labels reflect the split via the scoped re-eval")
    // the merged PPR trajectory keeps folding: re-add the deleted
    // edge, drop the chord — back to the original pair bit for bit
    val pt2 = GraphOps.graphStatesFoldPack(t2, p2, None, r1.edgesDeg,
      dels.toDF("id1", "id2"), adds.toDF("id1", "id2"),
      iterations = 4).pprTraj.get
    assert(trajRows(pt2) == trajRows(ptraj),
      "swap-back across two fold-branch PPR folds is an identity")
  }

  test("graphStatesFold: an empty batch is an identity; a mismatched " +
       "PPR pack (different universe) refuses loudly") {
    val prior = Seq((1L, 2L), (2L, 3L)).toDF("id1", "id2")
    val st = GraphOps.pageRankEdgeState(prior)
    val traj = GraphOps.pageRankTrajectoryFromEdges(st, iterations = 3)
    val ptraj = GraphOps.pprTrajectoryFromEdges(st,
      Seq(1L).toDF("node"), iterations = 3)
    val labels = GraphOps.connectedComponents(prior)
    val empty = Seq.empty[(Long, Long)].toDF("id1", "id2")
    val r = GraphOps.graphStatesFoldPack(traj, Some(ptraj),
      Some(labels), st, empty, empty, iterations = 3)
    val (t2, p2, l2) = (r.traj, r.pprTraj, r.labels)
    assert(trajRows(t2) == trajRows(traj) &&
      trajRows(p2.get) == trajRows(ptraj),
      "empty batch leaves both trajectories bit-identical")
    assert(l2.get.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      labels.collect().map(r => (r.getLong(0), r.getLong(1))).toSet,
      "empty batch leaves the labels identical")
    // PPR trajectory from a BIGGER graph: universe mismatch refuses
    val stBig = GraphOps.pageRankEdgeState(
      Seq((1L, 2L), (2L, 3L), (3L, 9L)).toDF("id1", "id2"))
    val ptrajBig = GraphOps.pprTrajectoryFromEdges(stBig,
      Seq(1L).toDF("node"), iterations = 3)
    val e = intercept[IllegalArgumentException] {
      GraphOps.graphStatesFoldPack(traj, Some(ptrajBig), None, st,
        Seq((1L, 3L)).toDF("id1", "id2"), empty, iterations = 3)
    }
    assert(e.getMessage.contains("universe"),
      s"mismatched family pack refuses: ${e.getMessage}")
  }

  test("the locality probe's branch decision is PINNED (VERDICT r16 " +
       "item 6): a tight one-edge delta takes the restricted-fold " +
       "branch, a scattered delta the incremental-recompute branch") {
    val chain = (1L until 80L).map(i => (i, i + 1)).toDF("id1", "id2")
    val st = GraphOps.pageRankEdgeState(chain)
    val traj = GraphOps.pageRankTrajectoryFromEdges(st, iterations = 4)
    GraphOps.lastBranch = None
    GraphOps.pageRankDeltaFromState(traj, st,
      Seq((2L, 4L)).toDF("id1", "id2"), iterations = 4)
    assert(GraphOps.lastBranch.contains(("pageRankDelta", false)),
      s"tight delta must take the restricted fold, " +
        s"saw ${GraphOps.lastBranch}")
    // scattered: endpoints on every other node — the ball covers the
    // graph, so a fold would cost MORE than the priced recompute
    val scattered = (1L until 79L by 2).map(i => (i, i + 2))
      .toDF("id1", "id2")
    GraphOps.lastBranch = None
    GraphOps.pageRankDeltaFromState(traj, st, scattered, iterations = 4)
    assert(GraphOps.lastBranch.contains(("pageRankDelta", true)),
      s"scattered delta must take the incremental recompute, " +
        s"saw ${GraphOps.lastBranch}")
    // the shared three-family fold prices with the same probe
    GraphOps.lastBranch = None
    GraphOps.graphStatesFoldPack(traj, None, None, st,
      Seq((2L, 4L)).toDF("id1", "id2"),
      Seq.empty[(Long, Long)].toDF("id1", "id2"), iterations = 4)
    assert(GraphOps.lastBranch.contains(("graphStatesFold", false)),
      s"tight delta folds restricted in graphStatesFold too, " +
        s"saw ${GraphOps.lastBranch}")
  }

  test("a (trajectory, iterations) depth mismatch refuses loudly in " +
       "every signed fold instead of merging against missing or " +
       "non-final iterates (ADVICE r16)") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
      .toDF("id1", "id2")
    val st = GraphOps.pageRankEdgeState(pairs)
    val traj = GraphOps.pageRankTrajectoryFromEdges(st, iterations = 3)
    val d = Seq((1L, 3L)).toDF("id1", "id2")
    val none = Seq.empty[(Long, Long)].toDF("id1", "id2")
    val e1 = intercept[IllegalArgumentException] {
      GraphOps.pageRankDeltaFromState(traj, st, d, iterations = 5)
    }
    assert(e1.getMessage.contains("holds 3 iterations"),
      s"plain fold refuses: ${e1.getMessage}")
    val seeds = Seq(1L).toDF("node")
    val ptraj = GraphOps.pprTrajectoryFromEdges(st, seeds,
      iterations = 3)
    val e2 = intercept[IllegalArgumentException] {
      GraphOps.pprDeltaFromState(ptraj, st, d, seeds, iterations = 5)
    }
    assert(e2.getMessage.contains("holds 3 iterations"),
      s"PPR fold refuses: ${e2.getMessage}")
    val e3 = intercept[IllegalArgumentException] {
      GraphOps.graphStatesFoldPack(traj, None, None, st, d, none,
        iterations = 5)
    }
    assert(e3.getMessage.contains("holds 3 iterations"),
      s"shared fold refuses: ${e3.getMessage}")
    // a PPR FAMILY pack at the wrong depth refuses on the fused
    // union probe (its tip cannot cover the universe at `iterations`)
    val shallow = GraphOps.pprTrajectoryFromEdges(st, seeds,
      iterations = 2)
    val e4 = intercept[IllegalArgumentException] {
      GraphOps.graphStatesFoldPack(traj, Some(shallow), None, st, d, none,
        iterations = 3)
    }
    assert(e4.getMessage.contains("depth differs"),
      s"mismatched PPR family depth refuses: ${e4.getMessage}")
  }
}
