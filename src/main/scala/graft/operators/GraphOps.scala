package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Checkpoints.{lazyMat, materialize}

/** Iterative graph analytics over edge-list DataFrames — the second
  * graph family next to Dedup.nearDupClusters (label propagation).
  * PageRank here scores nodes of the near-dup similarity graph:
  * within a duplicate cluster the highest-rank node is the natural
  * canonical representative (most-connected copy), a standard
  * curation signal when picking which duplicate to KEEP.
  *
  * All arithmetic is scaled-integer with floor division, so every
  * iteration is engine-exact and partitioning-invariant: no float
  * accumulation, no rounding-mode ambiguity — the DuckDB oracle
  * replays the identical recurrence and the gate hash-matches.
  *
  * Scale posture (100 TB): each iteration is one join of the edge
  * list against the rank vector (both partitioned by src) plus one
  * groupBy(dst) — the canonical distributed PageRank shape; the edge
  * list is materialized ONCE up front so the (possibly expensive)
  * pair-producing pipeline doesn't re-execute per round, and each
  * round's rank vector is materialized to truncate lineage (reliable
  * checkpoint when a checkpoint dir is set, localCheckpoint
  * otherwise — `graft.Checkpoints`). The node count enters as a
  * 1-row broadcast aggregate (crossJoin idiom), never a driver
  * collect. */
object GraphOps {

  /** Fixed-iteration PageRank over an UNDIRECTED edge list `pairs`
    * (columns id1, id2; symmetrized and deduplicated internally).
    * Returns (node, pr) where pr is the rank scaled by `scale`:
    * pr₀ = scale/n, prₖ₊₁(v) = (scale·(1−d))/n + d·Σᵤ→ᵥ prₖ(u)/deg(u),
    * d = dampNum/dampDen, every division a floor division. The
    * [[Uniform]] family of [[rankLoop]].
    *
    * The rank lineage is a CHAIN (each prₖ feeds only prₖ₊₁), so
    * per-round materialization would only add a full job per round —
    * instead the edge list materializes once and the rank vector only
    * every `checkpointEvery` rounds, bounding both plan depth and the
    * recomputation a lost executor could trigger at scale.
    *
    * Executes under the SESSION'S OWN conf — pageRank mutates no
    * session state, so it is reentrant and safe next to concurrent
    * queries (a library operator's obligation; the round-8 version
    * toggled session-global AQE off for its iterations and was
    * neither).
    *
    * AQE is inherited, not toggled: round 9 re-measured both scales
    * with interleaved single-session reps and AQE-on won or tied
    * everywhere (sf0.1: 2.62 vs 3.51 s; sf1: 12.11 vs 12.77 s) —
    * ARCHITECTURE §7 carries the full table and round 8's
    * non-reproducing counter-measurement. */
  def pageRank(pairs: DataFrame, iterations: Int = 10,
               dampNum: Long = 85, dampDen: Long = 100,
               scale: Long = 1000000000000L,
               checkpointEvery: Int = 5): DataFrame = {
    rankArgs("pageRank", iterations, dampNum, dampDen)
    require(checkpointEvery >= 1, "pageRank: checkpointEvery must be >= 1")
    // materialize the INPUT first: `pairs` is typically an expensive
    // mining pipeline (LSH band expansion), and it appears twice in
    // the symmetrizing union — and `edges` twice more in the degree
    // self-join below. Without this the miner executed 4× before the
    // first checkpoint (round-6 soak: pagerank 16.0 s → the fix's
    // re-measure in ARCHITECTURE §7).
    fromScratch(pageRankEdgeState(pairs), None, iterations, dampNum,
      dampDen, scale, "pageRank", trajectory = false, checkpointEvery)
  }

  private def rankArgs(who: String, iterations: Int, dampNum: Long,
                       dampDen: Long): Unit = {
    require(iterations >= 1, s"$who: need >= 1 iteration")
    require(dampNum > 0 && dampNum < dampDen, s"$who: need 0 < damp < 1")
  }

  /** Symmetrized (src, dst, deg) relation, materialized hash-
    * partitioned on src — degree travels WITH each edge: one
    * materialized relation means each rank round is a single join +
    * a single groupBy (the division per edge row recomputes a
    * per-src constant, free next to the exchange it avoids), and the
    * checkpointed src layout means every round's join satisfies its
    * distribution from storage, so only the rank vector — |V| rows,
    * not |E| — crosses the wire per round. */
  private def edgesWithDegree(pairsM: DataFrame): DataFrame = {
    val edges = pairsM.select(col("id1").as("src"), col("id2").as("dst"))
      .unionByName(pairsM.select(col("id2").as("src"), col("id1").as("dst")))
      .distinct()
    // lazy since round 17: the consuming loop's first action (the
    // node count) materializes the state in-job — same blocks, one
    // less standalone action
    lazyMat(edges.as("e")
      .join(edges.groupBy("src").agg(count(lit(1)).as("deg")).as("g"), "src")
      .repartition(col("src")))
  }

  /** Connected components by ALTERNATING LARGE-STAR / SMALL-STAR
    * (Kiveris, Lattanzi, Mirrokni, Rastogi & Vassilvitskii,
    * "Connected components in MapReduce and beyond", SoCC 2014) —
    * the O(log n)-round labeling that [[graft.dedup.Dedup
    * .nearDupClusters]]'s min-label propagation is NOT: min-label
    * needs one round per unit of component DIAMETER, so a
    * chain-shaped component (URL redirect chains, citation paths,
    * doc-revision lineages) of length d costs d shuffles — at 100 TB
    * a 10⁴-long chain is a job that never finishes. The star
    * operations contract every component onto its minimum in rounds
    * logarithmic in component SIZE regardless of shape:
    *
    *  - **large-star** (per node u): point every LARGER neighbor at
    *    u's minimum neighborhood label m(u) = min(Γ(u) ∪ {u}) —
    *    `⋃_u {(m(u), v) : v ∈ Γ(u), v > u}`.
    *  - **small-star** (per node u over its SMALLER neighbors S):
    *    point u and all of S at m = min(S) —
    *    `⋃_u {(m, v) : v ∈ (S ∪ {u}) \ {m}}`.
    *
    * Both preserve connectivity exactly (proved in the paper); the
    * unique fixpoint is a forest of stars rooted at each component's
    * minimum id, read off as the label relation. Every round is two
    * groupBy/join rounds over the current edge set — plain shuffles
    * AQE can re-split on skew, nothing driver-side but the
    * convergence Boolean.
    *
    * Same output contract as nearDupClusters: (doc_id, cluster_id =
    * component-minimum id) for every id appearing in `pairs`. Use
    * nearDupClusters for KNOWN-shallow graphs (near-dup clusters —
    * one shuffle per round beats two when diameter ≤ 3); use this
    * when component shape is unknown or adversarial. */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 50): DataFrame = {
    // materialize the INPUT once — `pairs` is typically a mining
    // pipeline, and it feeds BOTH the node set (self-pairs label
    // themselves even though the loop-free edge set drops them) and
    // the edge canonicalization; without this the miner executed
    // twice (same lesson as pageRank's input materialize).
    // EAGER deliberately (round 18 tried the lazyMat fusion here and
    // REVERTED it): folding pairsM + e + the convergence probe into
    // one job makes the pair relation's multi-hundred-MB checkpoint
    // partitions cache concurrently with the canonicalization's
    // distinct hash maps — at the 100× soak volume that contention
    // OOM'd the 16 GiB driver ("Unable to acquire ... got 0",
    // SOAK_r18 log) where the sequential eager shape fits. Guide §5:
    // peak memory is part of the plan; one action per materialization
    // is the price of bounding it.
    val pairsM = materialize(pairs.select(col("id1"), col("id2")))
    val nodes = pairsM.select(col("id1").as("doc_id"))
      .unionByName(pairsM.select(col("id2").as("doc_id"))).distinct()
    var e = materialize(canonicalEdges(pairsM))
    var converged = isMinRootedStarForest(e)
    var iter = 0
    while (!converged && iter < maxIters) {
      // large-star: neighbors of u with v > u attach to m(u)
      val nbrs = e.select(col("a").as("u"), col("b").as("v"))
        .unionByName(e.select(col("b").as("u"), col("a").as("v")))
      val lsMin = nbrs.groupBy(col("u"))
        .agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      // m ≤ u < v, so (m, v) is already canonical and loop-free
      val ls = nbrs.join(lsMin, "u").filter(col("v") > col("u"))
        .select(col("m").as("a"), col("v").as("b")).distinct()
      // small-star: direct high→low; u and its smaller neighbors S
      // all attach to min(S). Row-wise over (u, v ∈ S): the row
      // holding the minimum contributes (m, u), every other row
      // (m, v) — exactly (S ∪ {u}) \ {m}.
      val dn = ls.select(col("b").as("u"), col("a").as("v"))
      val ssMin = dn.groupBy(col("u")).agg(min(col("v")).as("m"))
      val ss = dn.join(ssMin, "u")
        .select(col("m").as("a"),
          when(col("v") === col("m"), col("u")).otherwise(col("v")).as("b"))
        .distinct()
      // eager per round — same §5 reasoning as the setup above: the
      // round's contracted edge set materializes alone, then the
      // convergence probe aggregates over its blocks
      val newE = materialize(ss)
      converged = isMinRootedStarForest(newE)
      e = newE
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents: not converged after $maxIters alternating " +
          "rounds (pathological — expected O(log n); raise maxIters)")
    // the fixpoint is a star forest rooted at component minima: each
    // non-root appears exactly once as b; roots (and isolated nodes)
    // label themselves
    nodes.join(e.select(col("b").as("doc_id"), col("a").as("root")),
        Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("root"), col("doc_id")).as("cluster_id"))
  }

  /** Personalized PageRank: importance RELATIVE to a trusted seed
    * set. Same integer recurrence as [[pageRank]] but the teleport
    * mass lands only on seeds — tele(v) = scale/|S| for in-graph
    * seeds, 0 elsewhere; pr₀ = tele, prₖ₊₁(v) = ((dampDen−dampNum)·
    * tele(v)) div dampDen + (dampNum·Σᵤ→ᵥ prₖ(u)/deg(u)) div dampDen,
    * every division a floor division so both engines agree bit-
    * for-bit. The [[Seeded]] family of [[rankLoop]].
    *
    * The curation read: [[bfsHops]] grades proximity in HOPS —
    * binary per ring, blind to how many independent paths connect a
    * doc to the trusted set. PPR weights multiplicity and closeness
    * together (the standard TrustRank/spam-mass construction:
    * Gyöngyi, Garcia-Molina & Pedersen, "Combating web spam with
    * TrustRank", VLDB 2004), so a doc similar to MANY trusted docs
    * outranks one hanging off a single thread, and mass decays
    * geometrically with distance.
    *
    * Scale posture: identical to pageRank — the (src, dst, deg,
    * tele_dst) relation checkpoints once hash-partitioned on src and
    * rounds shuffle only the |V|-row rank vector (the tele fusion:
    * see [[rankLoop]]). Throws if no seed is in the graph (PPR is
    * undefined without teleport mass). */
  def personalizedPageRank(pairs: DataFrame, seeds: DataFrame,
                           iterations: Int = 10,
                           dampNum: Long = 85, dampDen: Long = 100,
                           scale: Long = 1000000000000L,
                           checkpointEvery: Int = 5): DataFrame = {
    rankArgs("personalizedPageRank", iterations, dampNum, dampDen)
    require(checkpointEvery >= 1,
      "personalizedPageRank: checkpointEvery must be >= 1")
    fromScratch(pageRankEdgeState(pairs), Some(seeds), iterations, dampNum,
      dampDen, scale, "personalizedPageRank", trajectory = false,
      checkpointEvery)
  }

  /** The teleport term of the ranking recurrence — the ONE place
    * plain PageRank and PPR differ (ARCHITECTURE §3; TrustRank reads
    * plain PageRank as the uniform-seed case), so one loop
    * ([[rankLoop]]) and one signed fold ([[signedFold]]) serve both.
    * It carries iterate 0 AND the term itself rather than a tele
    * vector, because the two terms round differently: plain
    * PageRank's literal scale·(den−num)/den/n is not the per-node
    * ((den−num)·(scale/n)) div den — at scale 10¹², n = 3 they are
    * 50,000,000,000 vs 49,999,999,999 — and the oracle hashes pin
    * each. `nodes` is the node universe: bare ids for [[Uniform]],
    * the (node, tele) relation for [[Seeded]]. */
  private sealed abstract class Teleport(dampNum: Long, dampDen: Long) {
    def nodes: DataFrame
    /** iterate 0, a column over `nodes` */
    def pr0: Column
    /** the term, a column over rows carrying `nodes`' columns */
    def term: Column
    /** `sub`'s nodes, carrying the term's inputs */
    def on(sub: DataFrame): DataFrame
    /** the edge layout a universe-less round reads, and the per-dst
      * aggregates it needs beyond in_sum */
    def fuse(edgesDeg: DataFrame): DataFrame
    def edgeAggs: Seq[Column]
    /** the next iterate from the in-mass (null in_sum: no surviving
      * in-edge, a stranded node keeps its teleport-only rank) */
    def next: Column =
      (term + expr(s"($dampNum * coalesce(in_sum, CAST(0 AS BIGINT))) " +
        s"div $dampDen")).as("pr")
  }

  /** Plain PageRank: iterate 0 is scale div n, the term a LITERAL —
    * no tele relation and no tele join, the plan the bench prices. */
  private final class Uniform(val nodes: DataFrame, n: Long, scale: Long,
                              dampNum: Long, dampDen: Long)
      extends Teleport(dampNum, dampDen) {
    def pr0: Column = lit(scale / n)
    def term: Column = lit((scale * (dampDen - dampNum)) / dampDen / n)
    def on(sub: DataFrame): DataFrame = sub
    def fuse(edgesDeg: DataFrame): DataFrame = edgesDeg
    def edgeAggs: Seq[Column] = Nil
  }

  /** PPR: iterate 0 IS the (node, tele) vector, the term
    * ((den−num)·tele) div den per node — read from the fused
    * `tele_dst` edge column in a universe-less round, joined per
    * ball or universe node elsewhere. */
  private final class Seeded(tele: DataFrame, dampNum: Long, dampDen: Long)
      extends Teleport(dampNum, dampDen) {
    def nodes: DataFrame = tele
    def pr0: Column = col("tele")
    def term: Column = expr(s"((${dampDen - dampNum}) * tele) div $dampDen")
    def on(sub: DataFrame): DataFrame = tele.join(sub, Seq("node"), "left_semi")
    def fuse(edgesDeg: DataFrame): DataFrame =
      // one edge-sized join + checkpoint at setup saves one |V|-row
      // tele join PER ROUND; tele_dst is constant per dst group
      lazyMat(edgesDeg.join(
          tele.select(col("node").as("dst"), col("tele").as("tele_dst")),
          Seq("dst"))
        .repartition(col("src")))
    def edgeAggs: Seq[Column] = Seq(max(col("e.tele_dst")).as("tele"))
  }

  /** The ranking loop of both families: `iterations` rounds, each one
    * join of the edge relation against the rank vector plus one
    * groupBy(dst), from iterate 0 = `t.pr0` over `t.nodes`.
    *
    *  - `universe`: every round left-joins `t.nodes` back and
    *    coalesces the in-mass, so nodes stranded out of the edge
    *    relation by deletions keep one row per iterate at their
    *    teleport-only rank (the signed folds' majority-branch
    *    trajectories). Without it a round emits only nodes with
    *    in-edges — every node of a symmetrized graph — and PPR reads
    *    tele off the fused edge layout ([[Seeded.fuse]]) instead of
    *    a per-round join: round 9 shipped that join, and soak
    *    measured it at 5.6× on 10× data, the steepest of the graph
    *    family.
    *  - `trajectory`: return (node, iter, pr) for iter =
    *    0..iterations — the state the signed folds maintain — every
    *    iterate a LAZY checkpoint: the first consumer action (every
    *    fold starts with a full-trajectory probe aggregate)
    *    materializes all iterate blocks in ONE job where eager
    *    per-iterate checkpoints paid one action each (round 17: 40 →
    *    21 jobs for the 5-iterate build, values bit-identical under
    *    an exceptAll gate). Otherwise return the final (node, pr),
    *    eagerly checkpointed every `checkpointEvery` rounds.
    *
    * shuffle_hash is PINNED on the rank-vector side: this chained
    * plan carries no runtime stats, so the static estimator can
    * shrink a mid-chain intermediate under the broadcast threshold
    * and the planner then BUILDS an |V|+-scale hashed relation on the
    * driver — observed as a driver OOM on the 30× soak fixture (round
    * 16), and at 100 TB the rank vector is billions of rows, so a
    * broadcast there can never be right. The hint forces the designed
    * shape: edges satisfy the join's distribution from their
    * checkpointed src layout, only the |V|-row vector crosses the
    * wire, and the per-task build side is |V|/partitions. The join is
    * alias-qualified because after round 1 the rank vector's lineage
    * contains the edge relation itself. */
  private def rankLoop(edgesDeg: DataFrame, t: Teleport, iterations: Int,
                       universe: Boolean, trajectory: Boolean,
                       checkpointEvery: Int = 5): DataFrame = {
    val edges = if (universe) edgesDeg else t.fuse(edgesDeg)
    val it0 = t.nodes.select(col("node"), t.pr0.as("pr"))
    var pr = if (trajectory) lazyMat(it0) else it0
    var iterates = Vector(pr.withColumn("iter", lit(0)))
    for (i <- 1 to iterations) {
      val inSums = edges.as("e")
        .join(pr.hint("shuffle_hash").as("p"), col("e.src") === col("p.node"))
        .groupBy(col("e.dst"))
        .agg(sum(expr("pr div deg")).as("in_sum"),
          (if (universe) Nil else t.edgeAggs): _*)
        .withColumnRenamed("dst", "node")
      val next =
        (if (universe) t.nodes.join(inSums, Seq("node"), "left") else inSums)
          .select(col("node"), t.next)
      if (trajectory) {
        pr = lazyMat(next)
        iterates :+= pr.withColumn("iter", lit(i))
      } else
        pr = if (i % checkpointEvery == 0 && i < iterations) materialize(next)
          else next
    }
    // lazy result checkpoint (round 17): lineage-free for the caller,
    // whose first action materializes it without a standalone job
    if (trajectory) iterates.reduce(_ unionByName _).select("node", "iter", "pr")
    else lazyMat(pr)
  }

  /** From-scratch ranking over a built edge state: plain PageRank when
    * `seeds` is None, PPR otherwise. Plain n_nodes enters as a
    * COUNTED LITERAL (round 17): the former 1-row broadcast-aggregate
    * crossJoin re-built its broadcast exchange on every downstream
    * action — one extra job each, 26 vs 40 jobs for the 5-iterate
    * trajectory at round 17 — while the count is a metadata-sized
    * driver read of the checkpointed edge state, the same class of
    * probe as [[teleportVector]]'s seed count (floor division of
    * nonneg longs in Scala == SQL `div`, so every rank is
    * bit-identical). The node set is lazily checkpointed BEFORE it is
    * counted (round 18): the count materializes it, and iterate 0
    * then reads the checkpointed |V| blocks instead of re-running the
    * |E|-row distinct exchange. */
  private def fromScratch(edgesDeg: DataFrame, seeds: Option[DataFrame],
                          iterations: Int, dampNum: Long, dampDen: Long,
                          scale: Long, who: String, trajectory: Boolean,
                          checkpointEvery: Int = 5): DataFrame = {
    val nodes = edgesDeg.select(col("src").as("node")).distinct()
    val t = seeds match {
      case Some(s) =>
        new Seeded(teleportVector(nodes, s, scale, who), dampNum, dampDen)
      case None =>
        val pinned = lazyMat(nodes)
        val n = pinned.count()
        if (n == 0L) {
          // empty graph: zero-row result
          val none = edgesDeg.select(col("src").as("node"), col("deg").as("pr"))
            .limit(0)
          return if (trajectory) none.select(col("node"), lit(0).as("iter"), col("pr"))
            else materialize(none)
        }
        new Uniform(pinned, n, scale, dampNum, dampDen)
    }
    rankLoop(edgesDeg, t, iterations, universe = false, trajectory,
      checkpointEvery)
  }

  /** (node, tele) teleport vector over `nodes` for `seeds`:
    * scale/|S∩V| on in-graph seeds, 0 elsewhere; refuses loudly on a
    * seedless graph. One small count action (|S∩V| enters the
    * integer division as a literal). */
  private def teleportVector(nodes: DataFrame, seeds: DataFrame,
                             scale: Long, who: String): DataFrame = {
    val seedCol = seeds.columns.head
    val seedNodes = nodes.join(
      seeds.select(col(seedCol).as("node")), Seq("node"), "left_semi")
    val nSeeds = seedNodes.count()
    if (nSeeds == 0L)
      throw new IllegalArgumentException(
        s"$who: no seed appears in the graph — teleport mass would " +
          "be undefined")
    lazyMat(
      nodes.join(seedNodes.withColumn("is_seed", lit(1L)), Seq("node"), "left")
        .select(col("node"),
          when(col("is_seed").isNotNull, lit(scale / nSeeds))
            .otherwise(lit(0L)).as("tele")))
  }

  /** The symmetrized (src, dst, deg) relation as PUBLIC maintainable
    * state — the recurrence-agnostic half of the incremental ranking
    * state pair, shared by PageRank, PPR and the triangle census. A
    * pipeline that keeps it folds a delta paying only SCANS of this
    * relation plus touched-sized degree fixes, never the union
    * symmetrize + distinct + degree self-join + repartition exchange
    * chain this builder runs (SOAK_r14_fold measured that setup chain
    * as the fold's whole floor: with it re-run per batch, fold ≈
    * recompute even on a concentrated delta). Build once per graph,
    * feed every consumer. */
  def pageRankEdgeState(pairs: DataFrame): DataFrame =
    edgesWithDegree(lazyMat(pairs.select(col("id1"), col("id2"))))

  /** The iterate TRAJECTORY of [[pageRank]] over a built
    * [[pageRankEdgeState]], as maintainable state: (node, iter, pr)
    * for iter = 0..`iterations` of the exact integer recurrence,
    * iterate `iterations` being the served rank (equal to pageRank's
    * output row for row, spec-pinned). The trajectory — not just the
    * final vector — is what makes an edge delta foldable
    * ([[pageRankDeltaFromState]]): a fixed-iteration rank is NOT a
    * fixpoint, so re-deriving iterate i of the modified graph needs
    * iterate i−1 of the OLD graph on every node the delta hasn't
    * reached yet. State is (iterations+1)·|V| rows — the
    * bounded-state bargain [[graft.operators.Cdc.topkShadowState]]
    * strikes with k′ shadow rows, struck here with the iterate axis. */
  def pageRankTrajectoryFromEdges(edgesDeg: DataFrame,
                                  iterations: Int = 10,
                                  dampNum: Long = 85, dampDen: Long = 100,
                                  scale: Long = 1000000000000L): DataFrame = {
    rankArgs("pageRankTrajectory", iterations, dampNum, dampDen)
    fromScratch(edgesDeg, None, iterations, dampNum, dampDen, scale,
      "pageRankTrajectory", trajectory = true)
  }

  /** The PPR twin of [[pageRankTrajectoryFromEdges]] off the same
    * edge state (the edge relation is agnostic of which recurrence
    * reads it, so both share ONE build). Iterate 0 IS the teleport
    * vector (scale/|S| on in-graph seeds, 0 elsewhere), which is what
    * lets the folds VERIFY a caller's seed set against the state
    * instead of trusting it; iterate `iterations` equals
    * personalizedPageRank's output row for row (spec-pinned). */
  def pprTrajectoryFromEdges(edgesDeg: DataFrame, seeds: DataFrame,
                             iterations: Int = 10,
                             dampNum: Long = 85, dampDen: Long = 100,
                             scale: Long = 1000000000000L): DataFrame = {
    rankArgs("pprTrajectory", iterations, dampNum, dampDen)
    fromScratch(edgesDeg, Some(seeds), iterations, dampNum, dampDen, scale,
      "pprTrajectory", trajectory = true)
  }

  /** Incremental [[pageRank]]: fold a node-preserving edge delta into
    * a maintained ([[pageRankTrajectoryFromEdges]],
    * [[pageRankEdgeState]]) pair WITHOUT re-running the per-round
    * |E|-sized joins — the IVM family's ranking member, next to the
    * additive `aggDelta`, the fixpoint [[componentsDelta]], and the
    * bounded-state `topkFold`. Returns (node, pr) EQUAL row for row to
    * `pageRank(prevPairs ∪ newPairs)` (the spec and the
    * `graph_pagerank_delta` oracle both check against the from-scratch
    * recompute on the union graph).
    *
    * Why it's exact — the ball argument: with additions only, the set
    * of nodes whose iterate i can differ from the old trajectory is
    * Aᵢ = the i-hop ball around T = endpoints(newPairs). A₀ = T (only
    * degrees changed there), and Aᵢ = Aᵢ₋₁ ∪ N(Aᵢ₋₁): a node v outside
    * Aᵢ has no neighbor in Aᵢ₋₁ ⊇ T, so every in-neighbor u keeps
    * deg_old(u) = deg_new(u) AND its old iterate i−1 — v's iterate i
    * is bit-identical by induction. The fold recomputes iterates only
    * INSIDE the growing ball (reading old-trajectory values at the
    * ball's rim) and merges iterate `iterations` back over the
    * untouched rows.
    *
    * Contract: the delta must not add nodes — a new node changes
    * n_nodes, which moves EVERY node's teleport term and the ball is
    * the whole graph; the fold REFUSES loudly (rerun from scratch or
    * segment). Delta edges already present are absorbed exactly (the
    * anti-join drops them, so degrees never double-count). Deletions
    * fold through [[pageRankDelete]].
    *
    * Setup is SCAN-ONLY against the maintained state: degrees move only
    * at delta endpoints, so degree maintenance is a delta-sized
    * aggregate plus one broadcast-filtered scan. The win is
    * proportional to delta locality, so the fold PRICES IT: the capped
    * ball probe bails the moment the ball reaches a majority of the
    * node set, and the fold machinery is abandoned for the
    * from-scratch loop on the incrementally-built survivor state
    * (exact by the fold's own equality contract, so the branch is a
    * plan choice, never a semantics choice). A CONCENTRATED delta
    * takes the ball-restricted fold (priced by SOAK_r14); a delta
    * whose endpoints scatter across components (the bench fixture's
    * %101 split) takes the recompute branch and pays from-scratch plus
    * the ball probe, never fold overhead on a graph-sized ball. */
  def pageRankDeltaFromState(prevTraj: DataFrame, prevEdgesDeg: DataFrame,
                             newPairs: DataFrame, iterations: Int = 10,
                             dampNum: Long = 85, dampDen: Long = 100,
                             scale: Long = 1000000000000L): DataFrame =
    foldTip(prevTraj, prevEdgesDeg, newPairs, newPairs.limit(0), None,
      iterations, dampNum, dampDen, scale, maybeDeletes = false)

  /** EDGE DELETIONS for the ranking fold, with one crucial difference
    * of LAW from [[componentsDelete]]: an edge deletion never deletes
    * a document, so the NODE UNIVERSE IS THE TRAJECTORY'S, forever. A
    * node whose last edge is deleted stays in the output at its
    * teleport-only rank ((scale·(1−d)) div dampDen div n from iterate
    * 1 on), keeps its trajectory rows, and can be re-connected by a
    * later addition — which is exactly what makes delete-then-re-add
    * an identity (spec-pinned). n_nodes therefore NEVER moves on a
    * deletion, and the ball induction carries over signed: a deleted
    * edge perturbs exactly its endpoints (a degree decrement + a lost
    * in-mass term), so the set of nodes whose iterate i can change is
    * still the i-hop ball around the changed endpoints — under the
    * UNION of old and new edges, since a lost in-neighbor is still a
    * neighbor of the ball in the OLD graph. Equality contract:
    * row-for-row equal to the recurrence over (prevPairs −
    * deletedPairs) on the PRIOR node set — the `graph_pagerank_delete`
    * oracle's from-scratch derivation. Deleted edges that never
    * existed are tolerated (ignored, as in [[componentsDelete]]).
    * Mixed signed batches fold through [[graphStatesFoldPack]]. */
  def pageRankDelete(prevTraj: DataFrame, prevEdgesDeg: DataFrame,
                     deletedPairs: DataFrame, iterations: Int = 10,
                     dampNum: Long = 85, dampDen: Long = 100,
                     scale: Long = 1000000000000L): DataFrame =
    foldTip(prevTraj, prevEdgesDeg, deletedPairs.limit(0), deletedPairs,
      None, iterations, dampNum, dampDen, scale, maybeDeletes = true)

  /** Incremental [[personalizedPageRank]] — [[pageRankDeltaFromState]]
    * with the seed-relative recurrence, against a maintained
    * ([[pprTrajectoryFromEdges]], [[pageRankEdgeState]]) pair. Returns
    * (node, pr) EQUAL row for row to `personalizedPageRank(prevPairs ∪
    * newPairs, seeds)` (the `graph_ppr_delta` oracle's check).
    *
    * The ball argument CARRIES OVER UNCHANGED: tele(v) depends on the
    * seed set alone — never on n_nodes, degrees, or other nodes'
    * iterates — so a node outside the i-hop ball keeps every
    * in-neighbor's degree and iterate i−1 AND its own teleport term.
    *
    * Two contracts, both VERIFIED (not trusted), both loud: the delta
    * is node-preserving, and the state is seed-consistent — iterate 0
    * IS tele, so the fold recomputes the expected teleport value per
    * node from `seeds` IN THE SAME probe aggregate that derives |V|
    * and |S∩V| and REFUSES if any row differs (a caller passing a
    * different seed set — the silent-wrong-answer hazard of stateful
    * folds — is caught by construction). Once verified, iterate 0 is
    * the fold's teleport relation, with no |E|-distinct tele rebuild.
    * Deletions fold through [[pprDelete]]. */
  def pprDeltaFromState(prevTraj: DataFrame, prevEdgesDeg: DataFrame,
                        newPairs: DataFrame, seeds: DataFrame,
                        iterations: Int = 10,
                        dampNum: Long = 85, dampDen: Long = 100,
                        scale: Long = 1000000000000L): DataFrame =
    foldTip(prevTraj, prevEdgesDeg, newPairs, newPairs.limit(0),
      Some(seeds), iterations, dampNum, dampDen, scale, maybeDeletes = false)

  /** EDGE DELETIONS for the PPR fold — [[pageRankDelete]]'s law with
    * the seed-relative recurrence: the node universe is the
    * trajectory's (a stranded node keeps its teleport-only rank
    * ((dampDen−dampNum)·tele(v)) div dampDen from iterate 1 on — zero
    * off the seed set, so a stranded non-seed simply decays to 0),
    * tele(v) depends on the seed set alone and so NEVER moves on a
    * deletion, and the signed ball induction carries over unchanged.
    * Equality contract: the recurrence over (prevPairs −
    * deletedPairs) on the prior node set — the `graph_ppr_delete`
    * oracle's from-scratch derivation. */
  def pprDelete(prevTraj: DataFrame, prevEdgesDeg: DataFrame,
                deletedPairs: DataFrame, seeds: DataFrame,
                iterations: Int = 10,
                dampNum: Long = 85, dampDen: Long = 100,
                scale: Long = 1000000000000L): DataFrame =
    foldTip(prevTraj, prevEdgesDeg, deletedPairs.limit(0), deletedPairs,
      Some(seeds), iterations, dampNum, dampDen, scale, maybeDeletes = true)

  /** The standalone tip folds: one family through [[signedFold]],
    * returning the final (node, pr). The contract probe legs are the
    * family's own: plain verifies iterate 0 is uniformly scale div n;
    * PPR recomputes the expected teleport per node from `seeds` — the
    * seed rows' iterate-0 min/max must equal scale div |S∩V| and no
    * non-seed row may carry mass — in the same single aggregate. */
  private def foldTip(prevTraj: DataFrame, prevEdgesDeg: DataFrame,
                      addedPairs: DataFrame, deletedPairs: DataFrame,
                      seeds: Option[DataFrame], iterations: Int,
                      dampNum: Long, dampDen: Long, scale: Long,
                      maybeDeletes: Boolean): DataFrame = {
    val who = if (seeds.isEmpty) "pageRankDelta" else "pprDelta"
    rankArgs(who, iterations, dampNum, dampDen)
    val traj0 = prevTraj.select("node", "iter", "pr")
    val it0 = traj0.filter(col("iter") === 0)
    val remedy = "rebuild the trajectory and its edge state together"
    val (legs, check, fam) = seeds match {
      case None =>
        (Seq(uniformLeg(traj0)),
         (probe: Map[String, ProbeRow]) =>
           uniformCheck(probe, who, scale, iterations, remedy),
         RankFamily(who, traj0,
           n => new Uniform(it0.select("node"), n, scale, dampNum, dampDen)))
      case Some(s) =>
        val trajS = traj0.join(
          broadcast(s.select(col(s.columns.head).as("node")).distinct()
            .withColumn("is_seed", lit(1L))), Seq("node"), "left")
        val leg = probeLeg(trajS, "traj",
          cnt = when(col("iter") === 0, 1L).otherwise(0L),
          aux = when(col("iter") === 0 && col("is_seed").isNotNull, 1L)
            .otherwise(0L),
          aux2 = when(col("iter") === 0 && col("is_seed").isNull &&
            col("pr") =!= 0L, 1L).otherwise(0L),
          v = when(col("iter") === 0 && col("is_seed").isNotNull, col("pr")),
          vi = col("iter"))
        def seededCheck(probe: Map[String, ProbeRow]): Long = {
          val t = probe.getOrElse("traj", ProbeZero)
          val (nSeeds, nNodes) = (t.aux, t.c)
          if (nNodes == 0L)
            throw new IllegalArgumentException(
              s"$who: prevTraj has no iterate-0 rows — not a PPR trajectory")
          if (nSeeds == 0L)
            throw new IllegalArgumentException(
              s"$who: no seed appears in the graph — teleport mass " +
                "would be undefined")
          if (t.aux2 > 0L || t.mn.get != scale / nSeeds ||
              t.mx.get != scale / nSeeds)
            throw new IllegalArgumentException(
              s"$who: teleport vector from `seeds` differs from the " +
                s"trajectory's iterate 0 (${t.aux2} non-seed node(s) with " +
                s"mass; seed iterate-0 range [${t.mn.get}, ${t.mx.get}] vs " +
                s"expected ${scale / nSeeds}) — the state was built with a " +
                s"different seed set; $remedy")
          depthCheck(who, t.mxi.get, iterations, remedy)
          nNodes
        }
        (Seq(leg), seededCheck _, RankFamily(who, traj0, _ => new Seeded(
          lazyMat(it0.select(col("node"), col("pr").as("tele"))),
          dampNum, dampDen)))
    }
    signedFold(who, it0, Seq(fam), legs, check, prevEdgesDeg, addedPairs,
      deletedPairs, maybeDeletes, iterations, trajectory = false).outs.head
  }

  /** The plain trajectory's contract leg: iterate-0 row count (|V|),
    * iterate-0 min/max (iterate 0 of a plain trajectory is scale div
    * n EVERYWHERE, so a stored value off it means the pair isn't this
    * graph's) and the stored depth (ADVICE r16: a trajectory
    * shallower than the requested depth would leave the per-iterate
    * merges silently empty past the stored tip, a deeper one would
    * serve a stale interior iterate as the tip). */
  private def uniformLeg(traj0: DataFrame): DataFrame =
    probeLeg(traj0, "traj",
      cnt = when(col("iter") === 0, 1L).otherwise(0L),
      v = when(col("iter") === 0, col("pr")),
      vi = col("iter"))

  private def uniformCheck(probe: Map[String, ProbeRow], who: String,
                           scale: Long, iterations: Int,
                           remedy: String): Long = {
    val t = probe.getOrElse("traj", ProbeZero)
    val n = t.c
    if (n == 0L)
      throw new IllegalArgumentException(
        s"$who: the plain trajectory has no iterate-0 rows — not a " +
          "pageRank trajectory")
    if (t.mn.get != scale / n || t.mx.get != scale / n)
      throw new IllegalArgumentException(
        s"$who: trajectory iterate 0 is not uniformly scale div n " +
          s"(min=${t.mn.get}, max=${t.mx.get}, expected ${scale / n}) — " +
          s"the trajectory belongs to a different graph or scale; $remedy")
    depthCheck(who, t.mxi.get, iterations, remedy)
    n
  }

  private def depthCheck(who: String, stored: Int, iterations: Int,
                         remedy: String): Unit =
    if (stored != iterations)
      throw new IllegalArgumentException(
        s"$who: the stored trajectory holds $stored iterations but the " +
          s"fold was asked for $iterations — a mismatched (trajectory, " +
          "iterations) pair would silently merge against missing or " +
          s"non-final iterates; pass the trajectory's own depth or $remedy")

  /** [[graphStatesFoldPack]]'s result plus the fold's LOCALITY
    * EVIDENCE: `touched` is the ball node set when the restricted-fold
    * branch ran (every changed row of the trajectories and of the edge
    * state has its node / src in this set), or None when the majority
    * branch recomputed (everything may have changed). The streaming
    * pack writer uses it to republish only the storage partitions the
    * batch actually touched (VERDICT r16 item 8). Labels are NOT
    * ball-bounded — a component merge relabels nodes arbitrarily far
    * from the delta — so `touched` says nothing about them. */
  case class GraphFoldResult(traj: DataFrame, pprTraj: Option[DataFrame],
                             labels: Option[DataFrame],
                             edgesDeg: DataFrame,
                             touched: Option[DataFrame],
                             touchedBuckets: Option[Set[Int]] = None)

  /** Fold ONE signed edge delta through EVERY maintained graph-state
    * family off one shared setup — the one signed multi-family entry
    * point, and the streaming seam's per-batch engine
    * ([[graft.streaming.GraphRankStream]]). Additions and deletions
    * fold in one pass under the survivor law `(prior − deleted) ∪
    * added` (an edge both deleted and re-added in the same batch nets
    * to "present, degree unchanged"); the deletion law is
    * [[pageRankDelete]]'s, the additions economics
    * [[pageRankDeltaFromState]]'s — one ball, one branch decision.
    * Returns the plain trajectory′, the PPR trajectory′ and labels′
    * (each iff its prior state was passed), and the edge state′ — the
    * inputs of the NEXT fold: every iterate keeps ONE row per universe
    * node (stranded nodes at their teleport-only rank), so the
    * produced pack satisfies the invariants the fold verifies on
    * input and keeps folding.
    *
    * What is PAID ONCE, regardless of how many families fold:
    * [[prepSigned]] (the delta reduced to genuinely-new/-gone rows,
    * touched degrees), ONE fused contract probe for the whole pack,
    * the capped ball probe (which also ors the touched storage-bucket
    * mask when `bucketMaskOf` names the pack's bucket count), the
    * survivor edge-state scan, and — on the fold branch — the
    * ball-restricted edge relation. Per extra family the incremental
    * cost is its own ball rounds or its own trajectory loop on the
    * majority branch; the components fold adds one scoped re-cluster
    * (deletions) and/or one label-star contraction (additions), each
    * skipped when that side of the delta is empty.
    *
    * Persistence contract: on the RESTRICTED-FOLD branch the returned
    * frames are LAZY plans over the caller's own prior state plus
    * internally-materialized ball-sized rounds — nothing
    * full-pack-sized is checkpointed here, because the one production
    * consumer ([[graft.streaming.GraphRankStream.maintain]]) persists
    * the pack (touched partitions only) and pins its INPUTS per family
    * at read time; an extra checkpoint would write the full pack twice
    * per batch (VERDICT r16 item 2). A caller that reads the returned
    * frames many times without persisting them should pin them
    * itself. The majority branch returns loop outputs whose iterates
    * are already materialized.
    *
    * Seed handling: the PPR teleport vector IS the PPR trajectory's
    * iterate 0 (verified non-degenerate, depth-consistent and
    * universe-consistent with the plain trajectory in the same fused
    * action) — no caller-supplied seed set, because the maintained
    * pack is the source of truth ([[pprDeltaFromState]] and
    * [[pprDelete]] verify a caller's seeds).
    *
    * Labels law: the returned labeling equals [[connectedComponents]]
    * over the survivor graph, with nodes stranded by deletions
    * surviving as their own singletons — the [[componentsDelete]] +
    * [[componentsDelta]] composition under the same survivor law (an
    * edge deleted and re-added in one batch nets to present: the
    * genuine sets exclude it from both phases). */
  def graphStatesFoldPack(prevPrTraj: DataFrame,
                          prevPprTraj: Option[DataFrame],
                          prevLabels: Option[DataFrame],
                          prevEdgesDeg: DataFrame,
                          addedPairs: DataFrame, deletedPairs: DataFrame,
                          iterations: Int = 10,
                          dampNum: Long = 85, dampDen: Long = 100,
                          scale: Long = 1000000000000L,
                          bucketMaskOf: Option[Int] = None)
      : GraphFoldResult = {
    val who = "graphStatesFold"
    rankArgs(who, iterations, dampNum, dampDen)
    val traj0 = prevPrTraj.select("node", "iter", "pr")
    val it0 = traj0.filter(col("iter") === 0)
    val ppr0 = prevPprTraj.map(_.select("node", "iter", "pr"))
    val remedy = "re-bootstrap the pack"
    // the PPR legs: iterate 0 IS the teleport vector — verify it lives
    // on the plain trajectory's universe, carries mass, and holds the
    // SAME depth
    val pprLegs = ppr0.toSeq.flatMap(pt => Seq(
      probeLeg(pt, "ppr",
        cnt = when(col("iter") === 0, 1L).otherwise(0L),
        aux = when(col("iter") === 0 && col("pr") > 0, 1L).otherwise(0L),
        aux2 = when(col("iter") === iterations, 1L).otherwise(0L),
        vi = col("iter")),
      probeLeg(pt.filter(col("iter") === 0)
        .join(it0.select("node"), Seq("node"), "left_anti"), "ppr_extra")))
    def check(probe: Map[String, ProbeRow]): Long = {
      val nNodes = uniformCheck(probe, who, scale, iterations, remedy)
      if (ppr0.isDefined) {
        val pc = probe.getOrElse("ppr", ProbeZero)
        if (pc.c != nNodes || probe.getOrElse("ppr_extra", ProbeZero).c > 0L)
          throw new IllegalArgumentException(
            s"$who: the PPR trajectory's node universe differs from the " +
              s"plain trajectory's — a mismatched family pack; $remedy")
        if (pc.aux == 0L)
          throw new IllegalArgumentException(
            s"$who: the PPR trajectory's iterate 0 carries no teleport " +
              "mass — not a PPR trajectory")
        if (pc.aux2 != nNodes || pc.mxi.exists(_ > iterations))
          throw new IllegalArgumentException(
            s"$who: the PPR trajectory's depth differs from the requested " +
              s"$iterations iterations (tip rows: ${pc.aux2} of $nNodes, " +
              s"max stored iterate: ${pc.mxi.getOrElse(-1)}) — a " +
              s"mismatched family pack; $remedy")
      }
      nNodes
    }
    val fams = RankFamily(s"$who[pagerank]", traj0,
        n => new Uniform(it0.select("node"), n, scale, dampNum, dampDen)) +:
      ppr0.toSeq.map(pt => RankFamily(s"$who[ppr]", pt, _ => new Seeded(
        lazyMat(pt.filter(col("iter") === 0)
          .select(col("node"), col("pr").as("tele"))), dampNum, dampDen)))
    val f = signedFold(who, it0, fams, uniformLeg(traj0) +: pprLegs, check,
      prevEdgesDeg, addedPairs, deletedPairs, maybeDeletes = true,
      iterations, trajectory = true, bucketMaskOf)
    val p = f.prep
    // components off the same genuine delta: scoped re-eval for the
    // gone side, label-star fold for the new side — each phase
    // skipped when its RAW delta side is empty (the genuine sets are
    // subsets, so an empty raw side proves an empty genuine side).
    // Lazy since round 18: the labels' one consumer is the caller's
    // persist (or the label-invariance probe before it), so the
    // eager checkpoint only added one full |V|-write action per batch
    val labels2 = prevLabels.map { lbl =>
      val afterDel =
        if (p.nDelRaw > 0L)
          componentsDelete(lbl,
            prevEdgesDeg.filter(col("src") < col("dst"))
              .select(col("src").as("id1"), col("dst").as("id2")),
            p.dGone.filter(col("src") < col("dst"))
              .select(col("src").as("id1"), col("dst").as("id2")))
        else lbl.select("doc_id", "cluster_id")
      if (p.nAddRaw > 0L)
        lazyMat(componentsDelta(afterDel,
          p.dNew.filter(col("src") < col("dst"))
            .select(col("src").as("id1"), col("dst").as("id2"))))
      else lazyMat(afterDel)
    }
    GraphFoldResult(f.outs.head, f.outs.lift(1), labels2, f.edgesDeg.get,
      f.touched,
      touchedBuckets = f.touched.flatMap(_ => bucketMaskOf.map(nb =>
        (0 until nb).filter(b => (f.touchedMask & (1L << b)) != 0L).toSet)))
  }

  /** One ranking family of a signed fold: the `label` its ball
    * coverage check refuses under, its stored trajectory, and its
    * [[Teleport]] given the verified n_nodes. */
  private final case class RankFamily(label: String, traj: DataFrame,
                                      teleport: Long => Teleport)

  private final case class SignedFold(outs: Seq[DataFrame],
                                      edgesDeg: Option[DataFrame],
                                      prep: SignedPrep,
                                      touched: Option[DataFrame],
                                      touchedMask: Long)

  /** THE signed ranking fold, for a list of families sharing one node
    * universe `it0` (the first family's iterate 0) and one edge state.
    * Verifies the state pack (it refuses rather than trusts — the
    * stateful-fold posture), prices locality with the capped ball
    * probe, then either folds ball-restricted or recomputes on the
    * incrementally-built survivor state. Driver actions before the
    * rounds: ONE fused contract probe — the families' `legs` union
    * with [[prepSigned]]'s added-nodes / state-extra / envelope legs
    * into one tagged aggregate (round 18, VERDICT r17 item 1: this was
    * up to three actions), `check` then reading n_nodes off it — and
    * the ball probe. Per family, `outs` holds the merged trajectory
    * (`trajectory`) or the final (node, pr) tip; `edgesDeg` is the
    * survivor edge state in `trajectory` mode. */
  private def signedFold(who: String, it0: DataFrame, fams: Seq[RankFamily],
                         legs: Seq[DataFrame],
                         check: Map[String, ProbeRow] => Long,
                         prevEdgesDeg: DataFrame,
                         addedPairs: DataFrame, deletedPairs: DataFrame,
                         maybeDeletes: Boolean, iterations: Int,
                         trajectory: Boolean,
                         bucketMaskOf: Option[Int] = None): SignedFold = {
    val (pin, plegs) = prepSignedLegs(it0, prevEdgesDeg, addedPairs,
      deletedPairs, maybeDeletes)
    val probe = runProbe(legs ++ plegs)
    val nNodes = check(probe)
    val p = prepSignedFromProbe(pin, prevEdgesDeg, probe, who)
    val tps = fams.map(_.teleport(nNodes))
    // capped ball probe over prior ∪ new edges: deleted edges are
    // still prior edges, so the union reaches the old in-neighbors a
    // deletion perturbs (see pageRankDelete's signed induction). Lazy
    // hop0: the probe's first count materializes it (and the prep's
    // lazy checkpoints behind it) in one job
    val edgesAll = prevEdgesDeg.select("src", "dst")
      .unionByName(p.dNew.select("src", "dst"))
    val hop0 = lazyMat(
      p.endsChanged.select(col("node").as("doc_id"), lit(0).as("hops")))
    val (ball, majority, mask) = bfsRoundsAggCapped(edgesAll, hop0,
      iterations, (nNodes + 1L) / 2L, bucketMaskOf)
    logBranch(who, majority)
    if (majority) {
      // the survivor state, pinned when a loop scans it per round: a
      // trajectory loop always does, a tip loop unless it is PPR's,
      // whose one consumer re-checkpoints the tele-fused |E| layout
      // anyway — pinning both wrote the |E| relation twice (round 18)
      val st = survivorEdgeState(prevEdgesDeg, p,
        pin = trajectory || tps.exists(_.isInstanceOf[Uniform]))
      val outs = tps.map { t =>
        if (trajectory)
          rankLoop(st, t, iterations, universe = true, trajectory = true)
        else {
          // seeded from the universe (already pinned or the caller's
          // state) instead of the survivor state's |E|-row distinct,
          // then the node-universe merge: nodes stranded by deletions
          // keep their teleport-only rank
          val ranks = rankLoop(st, t, iterations, universe = false,
            trajectory = false)
          lazyMat(t.nodes.join(ranks, Seq("node"), "left")
            .select(col("node"), coalesce(col("pr"), t.term).as("pr")))
        }
      }
      SignedFold(outs, if (trajectory) Some(st) else None, p, None, mask)
    } else {
      // minority ball: commit to the fold. `ball` is already a counted
      // lazy checkpoint from the probe (blocks materialized, lineage
      // cut) — no second copy. The stored trajectories are NOT
      // checkpointed: they are the caller's maintained state, read
      // only through restrict-or-filter-first plans, so re-scanning
      // them beats writing (iterations+1)·|V| rows to checkpoint
      // storage first (SOAK_r16_fold_100x: that write was the fold's
      // residual floor — VERDICT r16 item 2)
      val ballMax = ball.select(col("doc_id").as("node"))
      // ball-restricted survivors, shared by every family (the edge
      // relation is recurrence-agnostic)
      val edgesBall = ballEdges(prevEdgesDeg, p, ballMax)
      // the only nodes whose OLD iterates any round reads are
      // edgesBall's sources: restrict each trajectory to that set
      // once, then VERIFY the restriction covers it — a trajectory
      // from a different graph silently dropping in-neighbor
      // contributions is the one mismatch the global probes can't see
      // (ADVICE r14). One action for every family; its aggregate
      // materializes the lazy restrictions in-job
      val srcBall = edgesBall.select(col("src").as("node")).distinct()
      val trajBalls = fams.map(f =>
        lazyMat(f.traj.join(srcBall, Seq("node"), "left_semi")))
      ballCoverageCheck(srcBall, fams.map(_.label).zip(trajBalls))
      val outs = fams.indices.map { k =>
        val traj = fams(k).traj
        val rounds = ballRounds(traj, trajBalls(k), ball, edgesBall,
          iterations, tps(k))
        def merged(i: Int): DataFrame =
          traj.filter(col("iter") === i).as("o")
            .join(rounds(i - 1).as("n"), Seq("node"), "left")
            .select(col("node"), col("iter"),
              coalesce(col("n.pr"), col("o.pr")).as("pr"))
        if (trajectory)
          // iterate 0 is delta-invariant; the merged pack's one
          // consumer is the caller's persist
          (traj.filter(col("iter") === 0) +: (1 to iterations).map(merged))
            .reduce(_ unionByName _)
        else
          // untouched rows keep iterate `iterations` verbatim
          lazyMat(merged(iterations).drop("iter"))
      }
      // the ball bounds every changed trajectory row and every changed
      // edge-state row (degree patches and added/gone rows all have
      // src ∈ endsChanged ⊆ ball hop 0)
      SignedFold(outs,
        if (trajectory) Some(survivorEdgeState(prevEdgesDeg, p, pin = false))
        else None,
        p, Some(ballMax), mask)
    }
  }

  /** Delta-size envelope for the folds' broadcast-hinted setup joins
    * (ADVICE r14): the symmetrized delta, its state remnants, and the
    * touched-degree patch are all delta-endpoint-sized and ride
    * explicit broadcasts — right for the daily-batch deployment
    * shape, but a pathological delta (half the graph re-sent) would
    * OOM the driver before the locality pricing ever ran. Past this
    * many symmetrized delta rows the folds keep the SAME joins
    * without the hints (Spark shuffles them — slower, never fatal). */
  private val MaxBroadcastDeltaRows: Long = 4000000L

  private def hintIf(small: Boolean)(df: DataFrame): DataFrame =
    if (small) broadcast(df) else df

  /** One stderr line per fold naming the priced branch decision —
    * VERDICT r15 item 8 asks the decision be VISIBLE, so a fixture
    * (e.g. the hash-sliced `graph_pagerank_delta_rand`) documents
    * which branch its delta shape exercised. The last decision is
    * also recorded for SPECS (VERDICT r16 item 6: a pricing
    * regression must fail a test, not just change a log line) —
    * `lastBranch` holds (fold name, tookMajorityBranch). */
  @volatile private[graft] var lastBranch: Option[(String, Boolean)] = None
  private def logBranch(who: String, majority: Boolean): Unit = {
    lastBranch = Some((who, majority))
    System.err.println(s"[graphops] $who: locality probe -> " +
      (if (majority) "MAJORITY ball (incremental-recompute branch)"
       else "minority ball (restricted-fold branch)"))
  }

  /** One aggregated row of the folds' FUSED contract probe (round 18,
    * VERDICT r17 item 1): every driver-side contract check and
    * envelope size a fold needs rides ONE union-tagged relation whose
    * rows are (k, cnt, aux, aux2, v, vi), aggregated per tag as
    * (Σcnt, Σaux, Σaux2, min v, max v, max vi) — one driver action
    * for the whole probe inventory. */
  private case class ProbeRow(c: Long, aux: Long, aux2: Long,
                              mn: Option[Long], mx: Option[Long],
                              mxi: Option[Int])
  private val ProbeZero = ProbeRow(0L, 0L, 0L, None, None, None)

  private def probeLeg(df: DataFrame, k: String,
                       cnt: Column = lit(1L), aux: Column = lit(0L),
                       aux2: Column = lit(0L),
                       v: Column = lit(null).cast("long"),
                       vi: Column = lit(null).cast("int")): DataFrame =
    df.select(lit(k).as("k"), cnt.cast("long").as("cnt"),
      aux.cast("long").as("aux"), aux2.cast("long").as("aux2"),
      v.cast("long").as("v"), vi.cast("int").as("vi"))

  private def runProbe(legs: Seq[DataFrame]): Map[String, ProbeRow] =
    legs.reduce(_ unionByName _)
      .groupBy(col("k"))
      .agg(sum(col("cnt")).as("c"), sum(col("aux")).as("aux"),
        sum(col("aux2")).as("aux2"), min(col("v")).as("mn"),
        max(col("v")).as("mx"), max(col("vi")).as("mxi"))
      .collect()
      .map(r => r.getString(0) -> ProbeRow(
        r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)),
        if (r.isNullAt(5)) None else Some(r.getLong(5)),
        if (r.isNullAt(6)) None else Some(r.getInt(6)))).toMap

  /** Shared setup of the signed ranking folds: the delta reduced to
    * its GENUINELY new / genuinely gone directed rows, the
    * touched-degree patch, the changed-endpoint ball seeds, and the
    * fused contract probe. All relations delta-endpoint-sized and
    * materialized; `small` says they fit [[MaxBroadcastDeltaRows]]. */
  private case class SignedPrep(dNew: DataFrame, dGone: DataFrame,
                                touchedDeg: DataFrame,
                                endsChanged: DataFrame,
                                hasDeletes: Boolean, small: Boolean,
                                nAddRaw: Long, nDelRaw: Long)

  /** The pre-probe half of [[prepSigned]]: the symmetrized delta
    * sides, read again once the probe has priced them. */
  private case class SignedPrepIn(dSym: DataFrame, delSym: DataFrame,
                                  maybeDeletes: Boolean)

  /** Both directions of the (id1, id2) delta, deduplicated — by a
    * single explode pass (round 18, guide §2.3): the old self-union
    * scanned `pairs` twice, and a fold's delta argument is typically
    * an UNMATERIALIZED fixture pipeline (slice filters + semi-joins
    * over the pair miner), so the double scan re-executed that whole
    * pipeline per side. Self-pairs are kept (deduplicated), exactly
    * as the union form kept them. */
  private def symPairs(pairs: DataFrame): DataFrame =
    pairs.select(explode(array(
        struct(col("id1").as("src"), col("id2").as("dst")),
        struct(col("id2").as("src"), col("id1").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct()

  /** Delta prep + the fused structural probe (ONE driver action, a
    * union-tagged count over small relations): delta endpoints
    * must all carry trajectory rows (a new node moves every teleport
    * term — rerun from scratch or segment), and the STATE must not
    * carry nodes the trajectory lacks (a mismatched (traj, state)
    * pair — ADVICE r14's silent-wrong-answer hazard; the state's
    * distinct-src reuses its src hash partitioning, so the probe is
    * one scan, no exchange. The state MAY carry fewer nodes: a
    * deletion strands nodes out of the edge relation while the
    * trajectory keeps them — that direction is verified ball-locally
    * by [[ballCoverageCheck]]). The broadcast-envelope sizes (|add| +
    * |del| symmetrized rows vs [[MaxBroadcastDeltaRows]]) ride the
    * SAME aggregate (VERDICT r15 item 5 — they were two separate
    * count() actions; the fold's pitch is per-batch latency and
    * actions are its floor), so the whole prep pays ONE driver
    * round-trip. Deletion rows naming edges absent from the state
    * are tolerated (they vanish in the semi-join), matching
    * [[componentsDelete]]. */
  private def prepSigned(it0: DataFrame, prevEdgesDeg: DataFrame,
                         addedPairs: DataFrame, deletedPairs: DataFrame,
                         maybeDeletes: Boolean,
                         who: String): SignedPrep = {
    val (in, legs) = prepSignedLegs(it0, prevEdgesDeg, addedPairs,
      deletedPairs, maybeDeletes)
    prepSignedFromProbe(in, prevEdgesDeg, runProbe(legs), who)
  }

  /** The probe legs of [[prepSigned]], which a fold unions with its
    * own trajectory legs into ONE driver action (round 18). */
  private def prepSignedLegs(it0: DataFrame, prevEdgesDeg: DataFrame,
                             addedPairs: DataFrame,
                             deletedPairs: DataFrame,
                             maybeDeletes: Boolean)
      : (SignedPrepIn, Seq[DataFrame]) = {
    // round 17: ONE lazily-materialized checkpoint for both signed
    // sides (sign-tagged union of the two per-side distincts) instead
    // of one eager checkpoint each — the fused probe's collect below
    // is the action that materializes the blocks, so the prep pays no
    // standalone checkpoint jobs at all. Values unchanged: the tag
    // keeps the sides disjoint, and each side was distinct'd before
    // the union exactly as before.
    val bothSym =
      if (maybeDeletes) lazyMat(
        symPairs(addedPairs).withColumn("sgn", lit(1))
          .unionByName(symPairs(deletedPairs).withColumn("sgn", lit(-1))))
      else lazyMat(symPairs(addedPairs).withColumn("sgn", lit(1)))
    val dSym = bothSym.filter(col("sgn") === 1).drop("sgn")
    val delSym =
      if (maybeDeletes) bothSym.filter(col("sgn") === -1).drop("sgn")
      else dSym.limit(0)
    val it0N = it0.select(col("node"))
    // node check on ADDITION endpoints only: deletion endpoints are
    // either prior-state nodes (⊆ trajectory by the state_extra
    // probe) or phantom rows the semi-join already dropped
    val ends = dSym.select(col("src").as("node")).distinct()
    val legs = Seq(
      probeLeg(ends.join(it0N, Seq("node"), "left_anti"), "added_nodes"),
      probeLeg(prevEdgesDeg.select(col("src").as("node")).distinct()
        .join(it0N, Seq("node"), "left_anti"), "state_extra"),
      probeLeg(dSym, "n_add"),
      probeLeg(delSym, "n_del"))
    (SignedPrepIn(dSym, delSym, maybeDeletes), legs)
  }

  /** The post-probe half of [[prepSigned]]: validate the probe's
    * contract counts, then build the genuine delta sets / degree
    * patch under the envelope verdict. */
  private def prepSignedFromProbe(in: SignedPrepIn,
                                  prevEdgesDeg: DataFrame,
                                  probe: Map[String, ProbeRow],
                                  who: String): SignedPrep = {
    val dSym = in.dSym
    val delSym = in.delSym
    val maybeDeletes = in.maybeDeletes
    val small = probe.getOrElse("n_add", ProbeZero).c +
      probe.getOrElse("n_del", ProbeZero).c <= MaxBroadcastDeltaRows
    // two-step anti-join: a direct `dSym ANTI prevEdgesDeg` cannot
    // broadcast (only the RIGHT side of a left-anti broadcasts, and
    // the state is |E|-sized), so Spark would sort-merge-shuffle the
    // whole state — measured as the fold's dominant cost. Restrict
    // the state to the delta's keys first (semi, scan-only) and anti
    // against that delta-sized remnant.
    val existing = prevEdgesDeg.select("src", "dst")
      .join(hintIf(small)(dSym), Seq("src", "dst"), "left_semi")
    // genuinely gone = (deleted ∩ prior) − added: an edge deleted and
    // re-added in the same batch nets to "present, degree unchanged"
    // under the survivor law (prior − deleted) ∪ added.
    // round 17: new and gone share ONE lazy sign-tagged checkpoint
    // (they were two eager ones); the ball probe's first count below
    // (via endsChanged/hop0) materializes the blocks in-job.
    val newPlan = dSym
      .join(hintIf(small)(existing), Seq("src", "dst"), "left_anti")
    val bothNg =
      if (maybeDeletes) lazyMat(
        newPlan.withColumn("sgn", lit(1)).unionByName(
          prevEdgesDeg.select("src", "dst")
            .join(hintIf(small)(delSym), Seq("src", "dst"), "left_semi")
            .join(hintIf(small)(dSym), Seq("src", "dst"), "left_anti")
            .withColumn("sgn", lit(-1))))
      else lazyMat(newPlan.withColumn("sgn", lit(1)))
    val dNew = bothNg.filter(col("sgn") === 1).drop("sgn")
    val dGone =
      if (maybeDeletes) bothNg.filter(col("sgn") === -1).drop("sgn")
      else delSym
    val addedN = probe.getOrElse("added_nodes", ProbeZero).c
    if (addedN > 0L)
      throw new IllegalArgumentException(
        s"$who: delta adds $addedN new node(s) — the trajectory " +
          "carries no iterates for them and n_nodes would move every " +
          "teleport term; rerun the trajectory from scratch or " +
          "segment the graph")
    val extraN = probe.getOrElse("state_extra", ProbeZero).c
    if (extraN > 0L)
      throw new IllegalArgumentException(
        s"$who: the edge state carries $extraN node(s) the " +
          "trajectory lacks — a mismatched (trajectory, state) pair; " +
          "rebuild the pair from the same graph")
    // touched-sized degree maintenance: new degree = old + additions
    // − deletions, for changed endpoints only; the old-degree read is
    // one filtered SCAN of the state
    val degInc = dNew.groupBy(col("src")).agg(count(lit(1)).as("inc"))
    val degDec = dGone.groupBy(col("src")).agg(count(lit(1)).as("dec"))
    val touched = degInc.join(degDec, Seq("src"), "full_outer")
      .select(col("src"), coalesce(col("inc"), lit(0L)).as("inc"),
        coalesce(col("dec"), lit(0L)).as("dec"))
    val touchedDeg = lazyMat(
      touched.join(
          prevEdgesDeg
            .join(hintIf(small)(touched.select(col("src"))), Seq("src"),
              "left_semi")
            .groupBy(col("src")).agg(max(col("deg")).as("deg_old")),
          Seq("src"), "left")
        .select(col("src"),
          (coalesce(col("deg_old"), lit(0L)) + col("inc") - col("dec"))
            .as("deg")))
    // ball seeds: endpoints of GENUINE changes only (absorbed
    // duplicate additions and phantom deletions perturb nothing)
    val endsChanged = dNew.select(col("src").as("node"))
      .unionByName(dGone.select(col("src").as("node"))).distinct()
    SignedPrep(dNew, dGone, touchedDeg, endsChanged, maybeDeletes, small,
      probe.getOrElse("n_add", ProbeZero).c,
      probe.getOrElse("n_del", ProbeZero).c)
  }

  /** One scan of `edges` with the changed endpoints' degrees patched
    * from the touched relation (broadcast inside the envelope). */
  private def patchDegrees(edges: DataFrame, p: SignedPrep): DataFrame =
    edges.as("e")
      .join(hintIf(p.small)(
          p.touchedDeg.select(col("src"), col("deg").as("deg_new"))),
        Seq("src"), "left")
      .select(col("src"), col("dst"),
        coalesce(col("deg_new"), col("deg")).as("deg"))

  /** The UPDATED [[pageRankEdgeState]] after a signed delta — one
    * scan of the prior state (gone rows anti-joined away, touched
    * degrees patched) plus the genuinely-new rows, repartitioned on
    * the per-round join key and materialized. Nodes whose last edge
    * was deleted simply have no rows; the TRAJECTORY still carries
    * them (the node universe is the trajectory's — see
    * [[pageRankDelete]]). */
  private def survivorEdgeState(prevEdgesDeg: DataFrame,
                                p: SignedPrep,
                                pin: Boolean = true): DataFrame = {
    val kept =
      if (p.hasDeletes)
        prevEdgesDeg.select("src", "dst", "deg")
          .join(hintIf(p.small)(p.dGone), Seq("src", "dst"), "left_anti")
      else prevEdgesDeg.select("src", "dst", "deg")
    val out = patchDegrees(kept, p)
      .unionByName(p.dNew.join(hintIf(p.small)(p.touchedDeg), Seq("src"))
        .select(col("src"), col("dst"), col("deg")))
      .repartition(col("src"))
    // pin = false when the state is only PERSISTED downstream (the
    // pack fold's restricted branch: the publisher's parquet write is
    // the one consumer) — a checkpoint there would write the full |E|
    // relation once extra for nothing (VERDICT r16 item 2's floor).
    // pin = true is a LAZY checkpoint since round 17: the consuming
    // loop's first action materializes it, same blocks, one less job
    if (pin) lazyMat(out) else out
  }

  /** The fold's edge relation: ball-restricted survivors,
    * degree-patched, partitioned on the per-round join key — built
    * from one scan of the state plus the (ball-restricted) new
    * rows. */
  private def ballEdges(prevEdgesDeg: DataFrame, p: SignedPrep,
                        ballMax: DataFrame): DataFrame = {
    val priorBall = prevEdgesDeg.as("pe")
      .join(ballMax, col("pe.dst") === ballMax("node"), "left_semi")
    val kept =
      if (p.hasDeletes)
        priorBall.join(hintIf(p.small)(p.dGone), Seq("src", "dst"),
          "left_anti")
      else priorBall
    lazyMat(
      patchDegrees(kept.select("src", "dst", "deg"), p)
        .unionByName(
          p.dNew.as("d")
            .join(ballMax, col("d.dst") === ballMax("node"), "left_semi")
            .join(hintIf(p.small)(p.touchedDeg), Seq("src"))
            .select(col("src"), col("dst"), col("deg")))
        .repartition(col("src")))
  }

  /** Verify each family's restricted trajectory covers every
    * in-neighbor the ball rounds will read — the DIRECT, ball-sized
    * guard against a mismatched (trajectory, state) pair silently
    * dropping in-neighbor contributions (ADVICE r14). ONE driver
    * action for every family (round 18, VERDICT r17 item 1): a single
    * union-tagged aggregate, which also materializes the restricted
    * trajectories' lazy checkpoints in-job; refuses loudly under the
    * family's label. */
  private def ballCoverageCheck(srcBall: DataFrame,
                                covs: Seq[(String, DataFrame)]): Unit = {
    val legs = probeLeg(srcBall, "src") +: covs.zipWithIndex.map {
      case ((_, tb), i) => probeLeg(tb.filter(col("iter") === 0), s"cov$i")
    }
    val m = runProbe(legs)
    val s = m.getOrElse("src", ProbeZero).c
    covs.zipWithIndex.foreach { case ((who, _), i) =>
      val c = m.getOrElse(s"cov$i", ProbeZero).c
      if (s != c)
        throw new IllegalArgumentException(
          s"$who: ${s - c} in-neighbor node(s) of the delta ball have " +
            "no trajectory rows — a mismatched (trajectory, state) " +
            "pair would silently drop their contributions; rebuild the " +
            "pair from the same graph")
    }
  }

  /** The ball-restricted rounds of one family: for i = 1..iterations,
    * join the ball-i-restricted survivor edges against iterate i−1
    * (old trajectory at the rim, the growing newVals inside),
    * aggregate in-mass per dst, then apply the family's teleport term
    * to EVERY node of ball i — inSums omits ball nodes with no
    * surviving in-edges (deletions strand such nodes), so the left
    * join plus the coalesced in-mass is what makes the override
    * relation cover the ball exactly. Returns the per-iterate
    * overrides (index i−1 = iterate i), each lazily materialized. */
  private def ballRounds(traj: DataFrame, trajBall: DataFrame,
                         ball: DataFrame, edgesBall: DataFrame,
                         iterations: Int, t: Teleport)
      : Vector[DataFrame] = {
    var newVals = traj.filter(col("iter") === 0)
      .join(ball.filter(col("hops") <= 0).select(col("doc_id").as("node")),
        Seq("node"), "left_semi")
      .select(col("node"), col("pr"))
    var out = Vector.empty[DataFrame]
    for (i <- 1 to iterations) {
      val ballI = ball.filter(col("hops") <= i)
        .select(col("doc_id").as("node"))
      // iterate i−1 over edgesBall's source set = old trajectory
      // overridden inside ball i−1 (newVals covers exactly that
      // ball; newVals rows outside the source set feed no round-i
      // edge and are re-merged from the FINAL overrides at the end)
      val prPrev = trajBall.filter(col("iter") === i - 1).as("o")
        .join(newVals.as("n"), Seq("node"), "left")
        .select(col("node"),
          coalesce(col("n.pr"), col("o.pr")).as("pr"))
      val inSums = edgesBall.as("e")
        .join(ballI.as("b"), col("e.dst") === col("b.node"), "left_semi")
        .join(prPrev.as("p"), col("e.src") === col("p.node"))
        .groupBy(col("e.dst"))
        .agg(sum(expr("pr div deg")).as("in_sum"))
        .select(col("dst").as("node"), col("in_sum"))
      // lazy: no action runs between rounds, so the whole round chain
      // materializes inside the caller's merge action (round 17)
      newVals = lazyMat(t.on(ballI).join(inSums, Seq("node"), "left")
        .select(col("node"), t.next))
      out :+= newVals
    }
    out
  }

  /** Incremental [[connectedComponents]]: fold a NEW edge delta into
    * an existing labeling without re-clustering the old graph.
    * `prevLabels` is a (doc_id, cluster_id) relation from a prior
    * components run; `newPairs` (id1, id2) is the delta — edges among
    * new documents and/or between new and old. Returns the labeling
    * of the UNION graph, identical to re-running components from
    * scratch (the equivalence the spec proves on random splits).
    *
    * Why it's exact: a prior component re-enters as its label STAR
    * (every member paired with the root), which preserves its
    * connectivity exactly, and the union's component minima are the
    * true minima because star edges keep original node ids. Prior
    * singletons ride along as self-pairs — the edge canonicalization
    * drops the loop but the node set keeps the id, so an untouched
    * singleton stays labeled by itself.
    *
    * The 100 TB point: a daily corpus delta re-clusters |V_old| + |Δ|
    * rows, never the old |E| — the mined pair set (tens of edges per
    * boilerplate-heavy doc) collapses to one row per document, and
    * the star input is already at the contraction fixpoint for every
    * untouched component, so rounds are spent only where the delta
    * actually rewires. */
  def componentsDelta(prevLabels: DataFrame, newPairs: DataFrame,
                      maxIters: Int = 50): DataFrame =
    connectedComponents(
      prevLabels.select(col("doc_id").as("id1"), col("cluster_id").as("id2"))
        .unionByName(newPairs.select(col("id1"), col("id2"))),
      maxIters)

  /** EDGE DELETIONS for the components IVM — the maintenance law
    * [[componentsDelta]] declares out of scope, closed by SCOPED
    * RE-EVALUATION (the standard treatment for decremental
    * connectivity in batch-ish systems: deletions can SPLIT a
    * component, which no label fold can repair, so re-cluster — but
    * only where a deletion actually landed). Returns the labeling of
    * `prevPairs − deletedPairs` over the PRIOR node set (an edge
    * deletion never deletes a document: a node stranded by the
    * deletion survives as its own singleton cluster), row-for-row
    * equal to `connectedComponents` from scratch on the surviving
    * edges (the `graph_components_delete` oracle's closure).
    *
    * Why scoped is exact: components partition the node set, so an
    * edge deletion inside component C changes NOTHING outside C —
    * untouched components keep their exact member sets and therefore
    * their exact min-id labels; re-clustering the TOUCHED components
    * from scratch on their induced surviving edges reproduces the
    * from-scratch result on those nodes by definition.
    *
    * Cost model (the 100 TB point): one canonicalize + anti-join
    * pass over the prior edge set (the deleted set broadcasts — a
    * daily deletion batch is small), one labels pass to split
    * touched from untouched, then star contraction over ONLY the
    * touched components' edges. Locality economics as in
    * [[pageRankDeltaFromState]]: deletions concentrated in a few
    * components re-cluster a sliver; deletions sprayed across every
    * component degrade to a full re-cluster (and the untouched pass-through
    * costs one anti-join on top — same honest degradation). Deleted
    * edges that never existed are tolerated: the anti-join ignores
    * them, at worst their endpoints' components re-cluster to the
    * labels they already had. */
  def componentsDelete(prevLabels: DataFrame, prevPairs: DataFrame,
                       deletedPairs: DataFrame,
                       maxIters: Int = 50): DataFrame = {
    // eager checkpoints, deliberately (round 18 tried lazy here and
    // reverted with connectedComponents — see its §5 note): the
    // deleted set's count is the broadcast-envelope gate either way;
    // e and labels are |E|-class relations whose concurrent in-job
    // materialization is exactly the 100× OOM shape
    val e = materialize(canonicalEdges(prevPairs))
    val d = materialize(canonicalEdges(deletedPairs))
    // the broadcast-envelope gate the ranking folds carry (ADVICE
    // r15): size the canonical deleted set BEFORE pinning its
    // broadcast, so a pathological batch (half the graph retracted)
    // degrades to a shuffled anti-join instead of a driver OOM
    val small = d.count() <= MaxBroadcastDeltaRows
    val survivors = survivingEdges(e, d, small)
    // clusters holding any deleted-edge endpoint re-cluster; all
    // others pass through verbatim (their member sets are untouched)
    val labels = materialize(prevLabels.select("doc_id", "cluster_id"))
    val delNodes = d.select(col("a").as("doc_id"))
      .unionByName(d.select(col("b").as("doc_id"))).distinct()
    val touched = labels.join(delNodes, Seq("doc_id"), "left_semi")
      .select(col("cluster_id")).distinct()
    val untouched = labels.join(touched, Seq("cluster_id"), "left_anti")
    val touchedNodes = labels.join(touched, Seq("cluster_id"), "left_semi")
      .select(col("doc_id"))
    // both endpoints of a surviving edge share a prior component, so
    // one-sided membership decides the whole edge; self-pairs keep
    // stranded nodes labeled (the componentsDelta singleton trick)
    val subEdges = survivors
      .join(touchedNodes.withColumnRenamed("doc_id", "a"), Seq("a"),
        "left_semi")
      .select(col("a").as("id1"), col("b").as("id2"))
      .unionByName(touchedNodes
        .select(col("doc_id").as("id1"), col("doc_id").as("id2")))
    connectedComponents(subEdges, maxIters)
      .unionByName(untouched.select("doc_id", "cluster_id"))
  }

  /** Multi-source BFS over an UNDIRECTED edge list `pairs` (columns
    * id1, id2): minimum hop distance from any node of `seeds` (a
    * 1-column relation of node ids) to every reachable node, capped
    * at `maxHops`. Returns (doc_id, hops) for nodes at distance
    * ≤ maxHops ONLY — seeds outside the pair graph and nodes beyond
    * the cap are absent, so the cap is part of the output contract
    * (the oracle bounds its path recursion identically).
    *
    * This is the curation primitive the component/cluster labels
    * don't give: PROXIMITY to a trusted set — "how many similarity
    * hops from a known-good (or known-bad) document" grades
    * contamination spread and seed-set expansion, where
    * [[connectedComponents]] only answers reachable-or-not.
    *
    * Scale posture (100 TB): textbook frontier BSP, one Spark job per
    * round. The edge list checkpoints once, hash-partitioned on src
    * (symmetrized by a single explode pass — the pair source is
    * scanned once — and deduplicated by a post-repartition aggregate
    * that reuses that partitioning, so setup is ONE exchange). Each
    * round joins the frontier (a narrow filter on the distance
    * relation, whose groupBy partitioning aligns with the edges' —
    * no exchange on either join side) and folds the candidates in
    * with ONE min-aggregate shuffle: rows whose min stays at an older
    * hop are exactly the already-visited ones, so the aggregate IS
    * the dedup + anti-join. The round's `count()` doubles as the
    * materialization action (lazy localCheckpoint — lineage depth one
    * per round) AND the convergence probe: the relation only ever
    * grows, so a stable count means an empty frontier and the loop
    * exits without a separate isEmpty job.
    *
    * The first cut's round shape — distinct + anti-join against every
    * prior frontier, two extra shuffles and a second job per round —
    * TIED this one at sf0.1 (round 9, interleaved reps: both
    * ~3.1-3.5 s; per-round cost 0.06-0.11 s against ~1.5 s of
    * pair-gen + setup) and LOST every rep at sf1 (min 17.11 / median
    * 17.75 s here vs 18.14 / 19.27 s). The agg fold is kept because
    * its per-round cost is one shuffle of the |V|-row distance
    * relation with O(1) checkpoint scans, where the anti-join shape
    * scans all k prior frontier checkpoints in round k, the term that
    * grows with graph diameter at 100 TB. */
  def bfsHops(pairs: DataFrame, seeds: DataFrame, maxHops: Int = 10): DataFrame = {
    require(maxHops >= 0, "bfsHops: maxHops must be >= 0")
    // lazy checkpoints: hop0's count() below materializes the whole
    // setup chain — edges included — in a single job
    val edges = symmetrize(pairs).repartition(col("src"))
      .dropDuplicates("src", "dst").localCheckpoint(eager = false)
    val hop0 = bfsSeedFrontier(edges, seeds).localCheckpoint(eager = false)
    bfsRoundsAgg(edges, hop0, maxHops)
  }

  /** Both directions of an (id1, id2) pair list as (src, dst) rows,
    * self-loops dropped — ONE pass over the source (explode, not a
    * self-union, so an expensive upstream miner is scanned once). */
  private def symmetrize(pairs: DataFrame): DataFrame =
    pairs.select(explode(array(
        struct(col("id1").as("src"), col("id2").as("dst")),
        struct(col("id2").as("src"), col("id1").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .filter(col("src") =!= col("dst"))

  /** Hop 0 = seed nodes that exist in the graph; left_semi keeps the
    * node set's own (deduplicated) rows whatever the seed relation
    * holds. Every node of the symmetrized edge list appears as a src,
    * so src alone covers the vertex set. */
  private def bfsSeedFrontier(edges: DataFrame, seeds: DataFrame): DataFrame = {
    val seedCol = seeds.columns.head
    edges.select(col("src").as("doc_id")).distinct()
      .join(seeds.select(col(seedCol).as("doc_id")), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), lit(0).as("hops"))
  }

  /** One job and one shuffle per round:
    * dist ∪ (edges ⋈ frontier) → min(hops), count as the probe. */
  private def bfsRoundsAgg(edges: DataFrame, hop0: DataFrame,
                           maxHops: Int): DataFrame =
    bfsRoundsAggCapped(edges, hop0, maxHops, Long.MaxValue)._1

  /** [[bfsRoundsAgg]] with a SIZE bail-out for the delta folds'
    * locality pricing: the ball only grows, so the moment `dist`
    * reaches `stopAtSize` the majority verdict is already decided —
    * stop, return (partial dist, true, _), and let the caller take
    * the recompute branch without paying the remaining |V|-sized
    * rounds (on a scattered delta those are most of the probe's
    * cost). The convergence probe's count doubles as the size check,
    * so the cap costs nothing.
    *
    * `bucketMaskOf` (round 18, VERDICT r17 item 1 — "the bucket set
    * can ride the ball count"): when the caller persists the fold
    * partitioned into `nb` node-hash buckets, each round's count
    * aggregate ALSO bit-ors the ball's bucket mask
    * (1 << pmod(xxhash64(doc_id), nb), the streaming pack's exact
    * bucket formula), so the final mask names every storage bucket
    * the ball touches with ZERO extra driver actions — the publisher
    * previously paid a separate distinct().collect() per batch for
    * the same set. Caller guarantees nb ≤ 64 (the mask is one
    * long). */
  private def bfsRoundsAggCapped(edges: DataFrame, hop0: DataFrame,
                                 maxHops: Int, stopAtSize: Long,
                                 bucketMaskOf: Option[Int] = None)
      : (DataFrame, Boolean, Long) = {
    require(bucketMaskOf.forall(nb => nb >= 1 && nb <= 64),
      "bfsRoundsAggCapped: bucket mask needs 1 <= buckets <= 64")
    def probe(d: DataFrame): (Long, Long) = bucketMaskOf match {
      case Some(nb) =>
        val r = d.agg(count(lit(1)).as("n"),
          coalesce(expr(
            s"bit_or(shiftleft(1L, cast(pmod(xxhash64(doc_id), $nb) " +
              "as int)))"), lit(0L)).as("mask")).head()
        (r.getLong(0), r.getLong(1))
      case None => (d.count(), 0L)
    }
    var dist = hop0
    var (size, mask) = probe(dist)
    if (size >= stopAtSize) return (dist, true, mask)
    var hop = 0
    var done = size == 0L
    while (!done && hop < maxHops) {
      hop += 1
      val frontier = dist.filter(col("hops") === hop - 1)
      val cand = edges.join(frontier.select(col("doc_id").as("src")), Seq("src"))
        .select(col("dst").as("doc_id"), lit(hop).as("hops"))
      dist = dist.unionByName(cand).groupBy("doc_id")
        .agg(min(col("hops")).as("hops"))
        .localCheckpoint(eager = false)
      val (n, m) = probe(dist)
      mask = m
      if (n >= stopAtSize) return (dist, true, mask)
      done = n == size
      size = n
    }
    (dist, false, mask)
  }

  /** k-core of an UNDIRECTED edge list `pairs` (columns id1, id2):
    * the maximal subgraph in which every node has degree ≥ k,
    * computed by the standard peel — repeatedly drop every node whose
    * CURRENT degree is below k until a fixpoint (or `maxRounds`
    * peels; a converged graph is a no-op under further peels, so the
    * bound only matters for adversarially deep peel chains and the
    * oracle applies the identical bound). Returns the surviving node
    * ids as (doc_id).
    *
    * The curation read: in a near-duplicate similarity graph, plain
    * components find reachable groups but a k-core finds the DENSE
    * groups — template farms, boilerplate rings, mirror clusters —
    * where every member is similar to k+ others. Pairs and stars
    * (one hub, many leaves) peel away; mutually-similar cliques
    * survive. That makes core membership a per-document removal
    * signal components can't give (a star's leaves share a component
    * with the hub but are NOT in its 2-core).
    *
    * Scale posture (100 TB): one job and at most one |E|-row shuffle
    * per peel round. Degrees reuse the edge relation's src hash
    * partitioning (no exchange); dropped nodes come back as an
    * anti-join on both endpoints, and because the dropped set shrinks
    * to near-nothing after the first rounds AQE turns those
    * anti-joins into broadcasts — late rounds shuffle nothing. The
    * round's `count()` doubles as the lazy-checkpoint materialization
    * and the convergence probe: peeling only removes edges, so a
    * stable edge count ⟺ no node dropped ⟺ fixpoint. */
  def kCore(pairs: DataFrame, k: Int, maxRounds: Int = 30): DataFrame = {
    require(k >= 1, "kCore: k must be >= 1")
    require(maxRounds >= 0, "kCore: maxRounds must be >= 0")
    var edges = symmetrize(pairs)
      .repartition(col("src")).dropDuplicates("src", "dst")
      .localCheckpoint(eager = false)
    var size = edges.count()
    var round = 0
    var done = size == 0L
    while (!done && round < maxRounds) {
      round += 1
      val dropped = edges.groupBy("src").agg(count(lit(1)).as("deg"))
        .filter(col("deg") < k).select(col("src"))
      edges = edges.join(dropped, Seq("src"), "left_anti")
        .join(dropped.select(col("src").as("dst")), Seq("dst"), "left_anti")
        .select(col("src"), col("dst"))
        .localCheckpoint(eager = false)
      val n = edges.count()
      done = n == size
      size = n
    }
    edges.select(col("src").as("doc_id")).distinct()
  }

  /** Structural convergence test for [[connectedComponents]]: a
    * canonical (a < b, distinct) edge set is a min-rooted star forest
    * iff NO node appears as both a source and a target (depth ≤ 1)
    * and every target has exactly ONE source (parent function). Then
    * each component IS one star and canonicality makes its root the
    * component minimum — the labels are final. Checking the NEW edge
    * set structurally, instead of comparing it to the previous round
    * (count + exceptAll), both halves the per-round bookkeeping jobs
    * and exits a full alternation EARLIER: the compare-based test
    * must run one more round just to observe "no change". */
  private def isMinRootedStarForest(e: DataFrame): Boolean =
    e.select(col("a").as("n"), lit(1L).as("s"), lit(0L).as("t"))
      .unionByName(e.select(col("b").as("n"), lit(0L).as("s"), lit(1L).as("t")))
      .groupBy(col("n"))
      .agg(sum(col("s")).as("s"), sum(col("t")).as("t"))
      .filter((col("s") > 0 && col("t") > 0) || col("t") > 1)
      .isEmpty

  /** Prior canonical edges minus the deleted set. The deleted side is
    * PINNED broadcast (VERDICT r14 item 5): the doc's cost model says
    * "a daily deletion batch is small", and on a mis-estimate Spark
    * would otherwise sort-merge the full |E| prior relation against
    * it — exactly the scale-killer the model promises away. Plan
    * shape asserted by PlanSpec (package-private for that). `small`
    * is the caller's [[MaxBroadcastDeltaRows]] envelope verdict
    * (ADVICE r15): a pathological deletion batch past the envelope
    * keeps the SAME anti-join unhinted — Spark shuffles it, slower
    * but never a driver OOM — instead of an unconditional hint. */
  private[graft] def survivingEdges(canonPrior: DataFrame,
                                    canonDeleted: DataFrame,
                                    small: Boolean = true): DataFrame =
    canonPrior.join(hintIf(small)(canonDeleted), Seq("a", "b"), "left_anti")

  /** Canonical (a < b, distinct, loop-free) edge relation. */
  private def canonicalEdges(pairs: DataFrame): DataFrame =
    pairs
      .select(least(col("id1"), col("id2")).as("a"),
        greatest(col("id1"), col("id2")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()

  /** Per-vertex degree over the canonical edge relation. */
  private def degrees(e: DataFrame): DataFrame =
    e.select(col("a").as("v"))
      .unionByName(e.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))

  /** DEGREE-ORDERED oriented wedges — the Suri & Vassilvitskii
    * ("Counting triangles and the curse of the last reducer",
    * WWW 2011) remedy for the skew hot spot: orient every edge from
    * its endpoint LOWER in the total (deg, id) order to the higher
    * one, then form wedges only as pairs of OUT-edges of a shared
    * pivot. Each vertex's out-degree is bounded by O(√m) — a celebrity
    * node of degree d contributes 0 wedges as a pivot (all its edges
    * point IN) instead of Θ(d²) — so total wedge volume is O(m^{3/2})
    * regardless of skew, and a triangle's pivot is UNIQUE (its
    * (deg, id)-minimal vertex), so the closing join counts each
    * triangle exactly once with no /3 correction. Package-private so
    * the skew spec can measure the wedge volume directly.
    * Columns: (wp, wu, ww) — the pivot and its two out-neighbors,
    * wu < ww by id, the candidate closing edge already in canonical
    * form (the pivot rides along for per-node statistics). */
  private[graft] def orientedWedges(pairs: DataFrame): DataFrame = {
    val e = canonicalEdges(pairs)
    val deg = degrees(e)
    // the degree rides onto each edge via two equi-joins keyed on the
    // edge's own endpoints — the same keys the wedge join shuffles on
    val eo = e
      .join(deg.withColumnRenamed("v", "a").withColumnRenamed("deg", "da"), "a")
      .join(deg.withColumnRenamed("v", "b").withColumnRenamed("deg", "db"), "b")
      .select(
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")),
          col("a")).otherwise(col("b")).as("src"),
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")),
          col("b")).otherwise(col("a")).as("dst"))
    eo.alias("o1")
      .join(eo.alias("o2"), col("o1.src") === col("o2.src") &&
        col("o1.dst") < col("o2.dst"))
      .select(col("o1.src").as("wp"),
        col("o1.dst").as("wu"), col("o2.dst").as("ww"))
  }

  /** Triangle census of an undirected pair graph — the classic
    * cohesion statistic (and the textbook distributed-join graph
    * kernel). Triangles enumerate as degree-ordered oriented wedges
    * ([[orientedWedges]]) joined against the closing edge: each
    * triangle found EXACTLY once, wedge volume bounded O(m^{3/2})
    * under any skew — one hub of degree d costs Θ(d²) wedges under
    * naive id-ordering (round 8's shape) and 0 as a pivot here.
    *
    * `n_wedges` reports the GRAPH statistic — the number of 2-paths,
    * Σ_v C(deg(v), 2) — computed exactly from the degree relation
    * (one |V|-row aggregate, no enumeration at all), so
    * closure8 = 3·triangles / wedges is the standard global
    * clustering coefficient. The enumerated oriented-wedge volume is
    * an EXECUTION detail, deliberately smaller. Output is one row
    * (n_nodes, n_edges, n_wedges, n_triangles, closure8). */
  def triangleCensus(pairs: DataFrame): DataFrame = {
    val e = canonicalEdges(pairs)
    val deg = degrees(e)
    val nodes = deg.select(col("v"))
    val wedges = orientedWedges(pairs)
    val triangles = wedges.join(e.alias("e3"),
      col("wu") === col("e3.a") && col("ww") === col("e3.b"))
    // four 1-row aggregates crossed into one row: a single plan, no
    // driver-side count choreography
    nodes.agg(count(lit(1)).as("n_nodes"))
      .crossJoin(broadcast(e.agg(count(lit(1)).as("n_edges"))))
      .crossJoin(broadcast(deg.agg(
        coalesce(sum(expr("deg * (deg - 1) div 2")), lit(0L))
          .as("n_wedges"))))
      .crossJoin(broadcast(triangles.agg(count(lit(1)).as("n_triangles"))))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        round(
          when(col("n_wedges") === 0L, 0.0)
            .otherwise(lit(3.0) * col("n_triangles") / col("n_wedges")),
          8).as("closure8"))
  }

  /** Per-node triangle participation and LOCAL clustering coefficient
    * — [[triangleCensus]]'s global statistic broken down per vertex:
    * (doc_id, n_tri, n_wedges = C(deg, 2), lcc8 = n_tri / n_wedges).
    * In a near-dup similarity graph high lcc marks nodes whose
    * neighborhoods are mutually similar — template neighborhoods —
    * where a star hub (many neighbors, none similar to each other)
    * scores 0; the per-document score the census's single global
    * number can't give.
    *
    * Same skew posture as the census: triangles enumerate once via
    * the degree-ordered oriented wedges (O(m^{3/2}) volume under any
    * skew), each triangle explodes to its three corners, and the
    * per-node count is one aggregate; wedge counts come from the
    * degree relation — no enumeration. Integer columns are exact;
    * lcc8 follows closure8's round-to-8 contract. */
  def localClustering(pairs: DataFrame): DataFrame = {
    val e = canonicalEdges(pairs)
    val deg = degrees(e)
    val tri = orientedWedges(pairs).join(e.alias("e3"),
      col("wu") === col("e3.a") && col("ww") === col("e3.b"))
    val perNode = tri
      .select(explode(array(col("wp"), col("wu"), col("ww"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("n_tri"))
    deg.join(perNode, Seq("v"), "left")
      .select(col("v").as("doc_id"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        expr("deg * (deg - 1) div 2").as("n_wedges"),
        round(
          when(col("deg") < 2, 0.0)
            .otherwise(coalesce(col("n_tri"), lit(0L)) /
              expr("deg * (deg - 1) div 2")),
          8).as("lcc8"))
  }

  /** Per-node triangle counts off a MAINTAINED [[pageRankEdgeState]]
    * — the bootstrap of the triangles IVM pair ([[trianglesDelta]]
    * folds signed edge deltas into it). Output: (doc_id, n_tri) with
    * one row per STATE NODE (zero-triangle nodes kept — the row set
    * IS the fold's node universe), n_tri equal row for row to
    * [[localClustering]]'s per-node census on the same graph.
    * Shares [[triangleCensus]]'s skew posture: degree-ordered
    * oriented wedges, O(m^{3/2}) volume under any skew. The edge
    * state is recurrence-agnostic (the same relation feeds the
    * ranking and components folds), so one maintained state serves
    * a fourth family. */
  def triangleCountsFromEdges(edgesDeg: DataFrame): DataFrame = {
    val uni = edgesDeg.select(col("src").as("v")).distinct()
    val pairs = edgesDeg.filter(col("src") < col("dst"))
      .select(col("src").as("id1"), col("dst").as("id2"))
    val e = canonicalEdges(pairs)
    val tri = orientedWedges(pairs).join(e.alias("e3"),
      col("wu") === col("e3.a") && col("ww") === col("e3.b"))
    val perNode = tri
      .select(explode(array(col("wp"), col("wu"), col("ww"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("n_tri"))
    uni.join(perNode, Seq("v"), "left")
      .select(col("v").as("doc_id"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
  }

  /** Incremental per-node triangle counting — the triangles family
    * joins the graph IVM set (ranking trajectories, components
    * labels) under the same signed survivor law
    * `(prior − deleted) ∪ added` and the same refuse-rather-than-
    * trust prep: additions naming nodes outside the count relation's
    * universe refuse (the node-preserving contract every fold in the
    * family carries), state/universe mismatches refuse, phantom
    * deletions and duplicate additions are absorbed exactly
    * ([[prepSigned]]'s genuine sets). `prevTri` is
    * [[triangleCountsFromEdges]]'s output (or a prior fold's);
    * `prevEdgesDeg` the matching [[pageRankEdgeState]]. Like
    * [[componentsDelta]]'s labeling, the count relation itself is
    * trusted to belong to the state — there is no cheap invariant
    * that could verify counts without recounting.
    *
    * Result: (doc_id, n_tri) over the SAME universe, equal row for
    * row to the from-scratch census on the survivor graph (stranded
    * nodes decay to 0 as their triangles retract — the
    * `graph_triangles_fold` oracle's derivation).
    *
    * Why it's exact: a triangle's membership changes iff it contains
    * a changed edge. Every triangle of the survivor graph containing
    * ≥ 1 genuinely-added edge is NEW (the added edge wasn't in the
    * prior graph), and every prior triangle containing ≥ 1
    * genuinely-gone edge is DEAD (the gone edge isn't in the
    * survivor graph); a triangle with both kinds is in neither graph
    * and in neither enumeration (the add side probes survivor
    * adjacency only, the delete side prior adjacency only). Each
    * side enumerates DISTINCT sorted node triples — a triangle
    * closed by two or three delta edges dedups to one row — then
    * explodes to its three corners: ΔT = corners(+) − corners(−).
    *
    * Scale shape: candidate volume is Σ_{(u,v)∈Δ} min(deg u, deg v)
    * — each delta edge probes its LOWER-degree endpoint's adjacency
    * (additions use the post-delta degrees the prep already
    * maintains; deletions read the touched nodes' prior degrees in
    * one filtered state scan), then one equi-join against the
    * closing edge. Delta-sized relations broadcast inside the
    * [[MaxBroadcastDeltaRows]] envelope and degrade to shuffles past
    * it — never a nested loop, never an all-pairs. */
  def trianglesDelta(prevTri: DataFrame, prevEdgesDeg: DataFrame,
                     addedPairs: DataFrame,
                     deletedPairs: DataFrame): DataFrame = {
    val uni = prevTri.select(col("doc_id"), col("n_tri"))
    val it0 = uni.select(col("doc_id").as("node"))
    val p = prepSigned(it0, prevEdgesDeg, addedPairs, deletedPairs,
      maybeDeletes = true, "trianglesDelta")
    // survivor adjacency: read by both add-side joins — pinned
    val adjS = survivorEdgeState(prevEdgesDeg, p)
    // prior degrees of the delta's endpoints (deletion orientation):
    // one filtered scan of the state, touched-sized result. Lazy
    // (round 18): its first consumer's broadcast build materializes
    // it in-job — the eager checkpoint was a standalone action
    val degOld = lazyMat(
      prevEdgesDeg
        .join(hintIf(p.small)(p.endsChanged.select(col("node").as("src"))),
          Seq("src"), "left_semi")
        .groupBy(col("src")).agg(max(col("deg")).as("deg")))
    // canonical delta edges with the probe (lower-degree) endpoint
    // first; deg defaults 0 for endpoints absent from the degree
    // relation (an addition endpoint stranded in the prior state —
    // its adjacency is empty, probing it is free and correct)
    def oriented(deltaSym: DataFrame, endDeg: DataFrame): DataFrame = {
      val dc = deltaSym.filter(col("src") < col("dst"))
        .select(col("src").as("eu"), col("dst").as("ev"))
      dc.join(hintIf(p.small)(
            endDeg.select(col("src").as("eu"), col("deg").as("du"))),
          Seq("eu"), "left")
        .join(hintIf(p.small)(
            endDeg.select(col("src").as("ev"), col("deg").as("dv"))),
          Seq("ev"), "left")
        .select(col("eu"), col("ev"),
          when(coalesce(col("du"), lit(0L)) <= coalesce(col("dv"), lit(0L)),
            col("eu")).otherwise(col("ev")).as("pu"),
          when(coalesce(col("du"), lit(0L)) <= coalesce(col("dv"), lit(0L)),
            col("ev")).otherwise(col("eu")).as("po"))
    }
    // distinct triangles (sorted triples) with >= 1 delta edge, all
    // edges within `adj`: probe the delta edge's cheap endpoint for
    // w, then require the closing (other-endpoint, w) edge
    def triples(dc: DataFrame, adj: DataFrame): DataFrame = {
      val cand = dc.as("d")
        .join(adj.select(col("src").as("pu"), col("dst").as("w")),
          Seq("pu"))
        .filter(col("w") =!= col("po"))
      cand.join(adj.select(col("src").as("po"), col("dst").as("w")),
          Seq("po", "w"), "left_semi")
        .select(array_sort(array(col("eu"), col("ev"), col("w")))
          .as("t"))
        .distinct()
    }
    def corners(ts: DataFrame, sign: Int): DataFrame =
      ts.select(explode(col("t")).as("node"))
        .groupBy(col("node"))
        .agg((count(lit(1)) * sign).as("d"))
    val born = triples(oriented(p.dNew, p.touchedDeg), adjS)
    val dead = triples(oriented(p.dGone, degOld),
      prevEdgesDeg.select("src", "dst", "deg"))
    val delta = corners(born, 1).unionByName(corners(dead, -1))
      .groupBy(col("node")).agg(sum(col("d")).as("d"))
    uni.join(delta, col("doc_id") === col("node"), "left")
      .select(col("doc_id"),
        (col("n_tri") + coalesce(col("d"), lit(0L))).as("n_tri"))
  }

  /** Link prediction over the similarity graph: score every
    * NON-adjacent pair by shared neighborhood — `cn` = common-neighbor
    * count, `ra_ppm` = the resource-allocation index (Zhou, Lü &
    * Zhang, "Predicting missing links via local information", EPJ B
    * 2009: Σ 1/deg(middle), which down-weights promiscuous middles)
    * scaled to integer parts-per-million (`div(1000000, deg)` summed)
    * so the score is engine-portable with no float summation order.
    * In a near-dup curation pipeline this surfaces the pairs the
    * miner's threshold MISSED: two docs sharing many near-dup
    * neighbors are near-dups the hamming cut split.
    *
    * Exact CN inherently enumerates every 2-path — Σ C(deg(m), 2)
    * wedges, quadratic in a hub's degree (the triangle census's
    * degree-ordered orientation does NOT apply: it keeps only the one
    * wedge per triangle whose edges both leave the pivot, undercounting
    * open wedges). The scale lever is `maxMiddleDegree`: middles above
    * the cap are excluded BEFORE the wedge join, bounding volume at
    * cap·Σdeg — at 100 TB a promiscuous middle contributes near-zero
    * RA mass (1e6/deg → 0) anyway, so capping changes little signal
    * for quadratically less work. The cap is part of the operator's
    * SEMANTICS (the oracle replicates it), not a silent approximation.
    * The cap is DEFAULT-ON (64, the bench semantics): the uncapped
    * sf0.1 near-dup graph already enumerates 301M wedges, so an
    * unbounded default is a scale hazard — pass `maxMiddleDegree = 0`
    * only as an explicit "I know this is quadratic in hub degree".
    *
    * One wedge join (shuffle on the middle id), one (id1, id2)
    * aggregate, one anti-join against the edge list; the pair miner
    * feeding `pairs` should be checkpointed by the caller when
    * expensive — this relation is scanned for edges and degrees. */
  def commonNeighbors(pairs: DataFrame, limit: Int = 50,
                      maxMiddleDegree: Int = 64): DataFrame = {
    require(maxMiddleDegree >= 0,
      "commonNeighbors: maxMiddleDegree must be >= 0 (0 = explicitly uncapped)")
    val e = canonicalEdges(pairs)
    val sym = symmetrize(e.select(col("a").as("id1"), col("b").as("id2")))
    val deg = sym.groupBy(col("src").as("m")).agg(count(lit(1)).as("deg"))
    val mids = if (maxMiddleDegree > 0) deg.filter(col("deg") <= maxMiddleDegree)
               else deg
    val adj = sym.join(mids.withColumnRenamed("m", "src"), "src")
    val scored = adj.alias("s1")
      .join(adj.alias("s2"), col("s1.src") === col("s2.src") &&
        col("s1.dst") < col("s2.dst"))
      .groupBy(col("s1.dst").as("id1"), col("s2.dst").as("id2"))
      .agg(count(lit(1)).as("cn"),
        sum(expr("1000000 div s1.deg")).as("ra_ppm"))
    scored.join(e,
        scored("id1") === e("a") && scored("id2") === e("b"), "left_anti")
      .orderBy(desc("cn"), desc("ra_ppm"), col("id1"), col("id2"))
      .limit(limit)
  }
}
