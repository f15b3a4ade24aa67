package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Portable

/** EXACT set-similarity self-join with prefix filtering — the
  * deterministic member of the near-dup family, next to the
  * probabilistic miners (MinHash banding, SimHash) in [[Dedup]].
  * Where LSH trades recall for bucket locality, the prefix filter
  * keeps 100% recall at threshold: every emitted pair is verified
  * exactly, and the candidate set is PROVABLY complete.
  *
  * The prefix-filtering principle (Chaudhuri, Ganti & Kaushik,
  * "A primitive operator for similarity joins in data cleaning",
  * ICDE 2006; Bayardo, Ma & Srikant, "Scaling up all pairs similarity
  * search", WWW 2007; distributed form in Vernica, Carey & Li,
  * "Efficient parallel set-similarity joins using MapReduce",
  * SIGMOD 2010): order every set by one GLOBAL total order (here:
  * ascending document frequency, rarest first, ties by value) and
  * keep each set's first |x| − ⌈t·|x|⌉ + 1 elements as its prefix.
  * If J(x,y) ≥ t then |x∩y| ≥ ⌈t·|x|⌉ and ≥ ⌈t·|y|⌉, and two sets
  * whose prefixes are disjoint can share at most ⌈t·|x|⌉ − 1
  * elements — so every qualifying pair collides on at least one
  * PREFIX element, and an equi-join on prefix elements loses nothing.
  *
  * Scale posture (100 TB): the equi-join key is a prefix shingle,
  * and prefixes hold each document's RAREST shingles by construction
  * — the frequent keys that make token self-joins quadratic are
  * exactly the ones the prefix excludes (they sort last). Candidate
  * volume is further cut by the length filter (|x| and |y| within a
  * factor t of each other — a necessary condition for J ≥ t) before
  * any verification happens, and verification touches only candidate
  * pairs, never all pairs. Every stage is a plain groupBy/join that
  * AQE can re-split on skew; nothing collects to the driver.
  */
object SetSimJoin {

  /** All document pairs with 3-gram shingle-set Jaccard ≥ tNum/tDen
    * (a rational threshold, so the gate `inter·tDen ≥ tNum·union` is
    * integer-exact — no float comparison at the decision boundary).
    *
    * Output: (id1 < id2, n1, n2, inter, jaccard rounded at 4).
    * Documents with fewer than 3 tokens have no shingles and no
    * similarity under this measure; they do not appear. */
  def jaccardJoin(docs: DataFrame, tNum: Long = 1L, tDen: Long = 2L): DataFrame =
    jaccardJoinOfShingles(shingleRelation(docs), tNum, tDen)

  /** The materialized distinct (doc_id, sh) relation both joins
    * verify against. Checkpointed: it feeds several consumers
    * (document frequency, prefix ranking, exact verification) and
    * the tokenize+explode+distinct shuffle must not re-run per
    * consumer. */
  private[graft] def shingleRelation(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), explode(Portable.shingles(col("text"))).as("sh"))
    .distinct()
    .localCheckpoint()

  /** The shipped shape; its alternatives were A/B-measured at sf1
    * (two interleaved single-JVM sessions × 3 reps, rounds 8-9):
    *  - document frequency via a window over `sh` (ADOPTED — min
    *    15.1 s vs 16.2 s for groupBy(sh) + equi-join back, 4/6
    *    pairwise rep wins): ONE corpus exchange instead of an
    *    aggregate exchange plus a second corpus exchange for the join,
    *    the structurally right trade at 100 TB.
    *  - pruning the verification relation to candidate docs (REJECTED
    *    — 18.2-20.3 s, consistently worse): the left-semi re-pays a
    *    corpus pass that the verify joins then pay again; at t=1/2
    *    most docs are in some candidate anyway. (The prune IS right
    *    when candidates are a small slice — that is routedJoin, where
    *    the miner guarantees it.)
    *  - the All-Pairs/PPJoin INDEXING-PREFIX asymmetry (REJECTED —
    *    18.7/19.5/21.6 s vs 16.7/15.4/14.9 s, lost every rep, output
    *    identical; Bayardo §3.1, Xiao's self-join form): with pairs
    *    ordered by (set size, doc_id) the smaller record's join prefix
    *    can shrink from |x| − ⌈t|x|⌉ + 1 to |x| − ⌈2t/(1+t)|x|⌉ + 1
    *    (≈|x|/2 → ≈|x|/3 at t=1/2) at 100% recall. It loses because
    *    the df-ascending order already packs each prefix with the
    *    RAREST shingles, so the symmetric candidates after the length
    *    and positional filters are close to the verified set, while
    *    the asymmetric join pays a disjunctive size-order predicate and
    *    id re-canonicalization per collision. On a corpus with flatter
    *    prefix df (less selective prefixes) it is the first thing to
    *    re-try, timed with `Bench` under SPARK_GRAFT_BENCH_ONLY.
    */
  private[graft] def jaccardJoinOfShingles(ds: DataFrame, tNum: Long,
                                           tDen: Long): DataFrame = {
    require(tNum > 0 && tNum <= tDen, "threshold must be in (0, 1]")
    // one doc_id exchange serves both windows (rank and set size):
    // same partitioning, Catalyst stacks the two Window nodes
    val byDoc = Window.partitionBy(col("doc_id"))
    val ranked = ds
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("sh"))))
      .select(col("doc_id"), col("sh"),
        row_number().over(byDoc.orderBy(col("df"), col("sh"))).as("rnk"),
        count(lit(1)).over(byDoc).as("n"))
    // symmetric prefix length |x| − ⌈t·|x|⌉ + 1; ceil as integer
    // floor-div
    val need = floor((col("n") * lit(tNum) + lit(tDen - 1)) / lit(tDen))
      .cast("long")
    val prefix = ranked.filter(col("rnk") <= col("n") - need + lit(1))
      .select(col("sh"), col("doc_id"), col("n"), col("rnk"))
    // PPJoin positional filter (Xiao, Wang, Lin & Yu, "Efficient
    // similarity joins for near duplicate detection", WWW 2008): a
    // collision at ranks (ra, rb) bounds the overlap by
    // 1 + min(na−ra, nb−rb) when it is the pair's FIRST collision in
    // the global order; J ≥ t needs inter·(tDen+tNum) ≥ tNum·(na+nb),
    // so collisions whose bound can't reach that are dropped before
    // the (expensive) verification join. A qualifying pair always
    // survives through its first collision, so recall stays 100%.
    val positional =
      (lit(1L) + least(col("a.n") - col("a.rnk"),
                       col("b.n") - col("b.rnk"))) * lit(tDen + tNum) >=
        (col("a.n") + col("b.n")) * lit(tNum)
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.sh") === col("b.sh") &&
          col("a.doc_id") < col("b.doc_id") &&
          // length filter: J ≥ t forces t·|y| ≤ |x| for |x| ≤ |y|
          least(col("a.n"), col("b.n")) * lit(tDen) >=
            greatest(col("a.n"), col("b.n")) * lit(tNum) &&
          positional)
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
        col("a.n").as("n1"), col("b.n").as("n2"))
      .distinct()
    // exact verification: count the shared shingles of each candidate
    // pair — cost is Σ|x| over candidates, never over all pairs.
    // (An array_intersect variant — one shingle ARRAY per doc joined
    // to each pair, no re-aggregation — was measured both ways in
    // round 5: faster at sf0.1 (3.9 s vs 5.7 s) but SLOWER at sf1
    // (45 s vs 40 s, 11.5× vs 7.1× soak): candidate fan-out
    // replicates the full arrays through two wide shuffles, while the
    // exploded form keeps shuffle rows narrow and the count
    // map-side-combinable. The exploded form is the 100 TB posture.)
    val verified = cand
      .join(ds.select(col("doc_id").as("id1"), col("sh")), "id1")
      .join(ds.select(col("doc_id").as("id2"), col("sh")), Seq("id2", "sh"))
      .groupBy(col("id1"), col("id2"), col("n1"), col("n2"))
      .agg(count(lit(1)).as("inter"))
    verified
      .filter(col("inter") * lit(tDen) >=
        (col("n1") + col("n2") - col("inter")) * lit(tNum))
      .select(col("id1"), col("id2"), col("n1"), col("n2"), col("inter"),
        round(col("inter").cast("double") /
          (col("n1") + col("n2") - col("inter")), 4).as("jaccard"))
  }

  /** TWO-RELATION (R-S) exact set-similarity join — the general form
    * of [[jaccardJoin]] (Vernica, Carey & Li's SIGMOD 2010 setting is
    * R-S; the self-join is its special case): all (r, s) pairs with
    * shingle-set Jaccard ≥ tNum/tDen between two DIFFERENT document
    * relations. The training-pipeline uses are cross-corpus: match a
    * crawl against a reference/blocklist corpus, a new snapshot
    * against the previous one, eval sets against training shards
    * (pair-level contamination, complementing doc_decontaminate's
    * n-gram containment).
    *
    * Same machinery, R-S specifics:
    *  - the GLOBAL prefix order must be one order shared by both
    *    sides, so document frequency is computed over the UNION of
    *    the two shingle relations (each side alone would rank the
    *    same shingle differently — completeness requires one total
    *    order);
    *  - no id-inequality: the pair space is R × S, so both sides keep
    *    the symmetric prefix (the self-join's size-ordering trick
    *    does not apply) and every qualifying cross pair must share a
    *    prefix element under the shared order — same lemma, same
    *    100% recall;
    *  - length + positional filters apply unchanged (both are
    *    per-pair bounds, indifferent to which relation a side is
    *    from).
    *
    * Output: (id1 = left doc_id, id2 = right doc_id, n1, n2, inter,
    * jaccard) — id1/id2 are NOT ordered against each other (they
    * live in different id spaces). */
  def jaccardJoinRS(left: DataFrame, right: DataFrame,
                    tNum: Long = 1L, tDen: Long = 2L): DataFrame =
    jaccardJoinRSOfShingles(shingleRelation(left), shingleRelation(right),
      tNum, tDen)

  private[graft] def jaccardJoinRSOfShingles(lds: DataFrame, rds: DataFrame,
                                             tNum: Long, tDen: Long)
      : DataFrame = {
    require(tNum > 0 && tNum <= tDen, "threshold must be in (0, 1]")
    // ONE shared global order: df over the union corpus, computed
    // with the fused one-exchange window (the adopted self-join
    // shape), then split back per side. `side` rides through the
    // window at zero extra shuffle cost.
    val tagged = lds.withColumn("side", lit("l"))
      .unionByName(rds.withColumn("side", lit("r")))
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("sh"))))
    val byDoc = Window.partitionBy(col("side"), col("doc_id"))
    val ranked = tagged.select(col("side"), col("doc_id"), col("sh"),
      row_number().over(byDoc.orderBy(col("df"), col("sh"))).as("rnk"),
      count(lit(1)).over(byDoc).as("n"))
    val need = floor((col("n") * lit(tNum) + lit(tDen - 1)) / lit(tDen))
      .cast("long")
    val prefix = ranked.filter(col("rnk") <= col("n") - need + lit(1))
      .select(col("side"), col("sh"), col("doc_id"), col("n"), col("rnk"))
    val cand = prefix.filter(col("side") === "l").as("a")
      .join(prefix.filter(col("side") === "r").as("b"),
        col("a.sh") === col("b.sh") &&
          least(col("a.n"), col("b.n")) * lit(tDen) >=
            greatest(col("a.n"), col("b.n")) * lit(tNum) &&
          (lit(1L) + least(col("a.n") - col("a.rnk"),
                           col("b.n") - col("b.rnk"))) * lit(tDen + tNum) >=
            (col("a.n") + col("b.n")) * lit(tNum))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
        col("a.n").as("n1"), col("b.n").as("n2"))
      .distinct()
    val verified = cand
      .join(lds.select(col("doc_id").as("id1"), col("sh")), "id1")
      .join(rds.select(col("doc_id").as("id2"), col("sh")), Seq("id2", "sh"))
      .groupBy(col("id1"), col("id2"), col("n1"), col("n2"))
      .agg(count(lit(1)).as("inter"))
    verified
      .filter(col("inter") * lit(tDen) >=
        (col("n1") + col("n2") - col("inter")) * lit(tNum))
      .select(col("id1"), col("id2"), col("n1"), col("n2"), col("inter"),
        round(col("inter").cast("double") /
          (col("n1") + col("n2") - col("inter")), 4).as("jaccard"))
  }

  /** ROUTED near-dup join — the 100 TB composition of the dedup
    * family: MinHash-LSH banding mines the bulk candidate pairs
    * (near-linear: one signature pass + bucket grouping, the 1.2×
    * soak path), and the EXACT shingle-set verifier runs only over
    * that candidate slice — never over the prefix-filter candidate
    * space, whose volume at t=1/2 is what makes [[jaccardJoin]] the
    * steepest soak row in the suite.
    *
    * The trade is explicit and measured: [[jaccardJoin]] keeps 100%
    * recall by construction; this path's recall is whatever the LSH
    * band configuration captures (every emitted pair is still
    * exactly verified, so precision is 1.0 — output ⊆ the exact
    * join's output). [[routeRecall]] reports that recall against the
    * exact join the same way `knn_recall` reports IVF vs brute
    * force. Output schema matches [[jaccardJoin]]. */
  def routedJoin(docs: DataFrame, tNum: Long = 1L, tDen: Long = 2L,
                 maxBucket: Int = 10000): DataFrame = {
    require(tNum > 0 && tNum <= tDen, "threshold must be in (0, 1]")
    // candidates feed two consumers (the doc pruning and the
    // verification join); the pair set is small — checkpoint it
    val cand = graft.dedup.Dedup.minhashPairs(docs, maxBucket)
      .localCheckpoint()
    // THE scale point of routing: verification only ever tokenizes
    // docs that appear in some candidate pair. At a realistic dup
    // rate that is a small slice of the corpus — the exact verifier's
    // cost tracks the duplicates, not the 100 TB.
    val candDocs = cand.select(col("id1").as("doc_id"))
      .unionAll(cand.select(col("id2").as("doc_id")))
      .distinct()
    val ds = shingleRelation(docs.join(candDocs, Seq("doc_id"), "left_semi"))
    verifyCandidates(cand, ds, tNum, tDen)
  }

  /** [[routedJoin]] in the R-S setting — THE 100 TB path for
    * cross-corpus matching, composing [[jaccardJoinRS]]'s exact
    * verification with cross-side LSH mining: band signatures are
    * computed per side (a doc's MinHash signature depends on nothing
    * but the doc), candidates are the cross-side collisions on
    * (band, key), and verification tokenizes ONLY docs appearing in
    * some candidate pair. Precision 1.0 (output ⊆ the exact R-S
    * join, spec-asserted); recall is the band configuration's, same
    * contract as [[routedJoin]]. */
  /** Cross-side LSH band collisions — the shared candidate miner of
    * [[routedJoinRS]] and [[routeRecallRS]] (one definition, so the
    * eval always measures the candidate set the shipped path uses).
    * `maxBucket` bounds the degenerate-bucket blowup the same way
    * [[graft.dedup.Dedup.minhashPairs]] does for the self-join: an
    * oversized (band, key) bucket contributes only its `maxBucket`
    * smallest doc_ids PER SIDE (deterministic truncation), capping
    * per-bucket pair volume at maxBucket² instead of B_L·B_R — a
    * common boilerplate family present in both corpora is exactly the
    * key that would otherwise dominate the join at scale. Truncation
    * trades recall on pathological buckets only; [[routeRecallRS]]
    * reports it, and the default keeps exact behavior at the
    * oracle-checked corpus sizes (no bucket approaches the cap). The
    * per-side row_number window shuffles on (band, key) — the same
    * keys the collision join needs, so the cap adds a sort, not an
    * exchange. */
  private def bandCollisionsRS(left: DataFrame, right: DataFrame,
                               maxBucket: Int): DataFrame = {
    def capped(docs: DataFrame, idName: String): DataFrame = {
      val w = Window.partitionBy(col("band"), col("key"))
        .orderBy(col("doc_id"))
      graft.dedup.Dedup.minhashBands(docs)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= maxBucket)
        .select(col("doc_id").as(idName), col("band"), col("key"))
    }
    capped(left, "id1").join(capped(right, "id2"), Seq("band", "key"))
      .select(col("id1"), col("id2")).distinct()
  }

  def routedJoinRS(left: DataFrame, right: DataFrame,
                   tNum: Long = 1L, tDen: Long = 2L,
                   maxBucket: Int = 10000): DataFrame = {
    require(tNum > 0 && tNum <= tDen, "threshold must be in (0, 1]")
    val cand = bandCollisionsRS(left, right, maxBucket)
      .localCheckpoint()
    val lds = shingleRelation(left.join(
      cand.select(col("id1").as("doc_id")).distinct(),
      Seq("doc_id"), "left_semi"))
    val rds = shingleRelation(right.join(
      cand.select(col("id2").as("doc_id")).distinct(),
      Seq("doc_id"), "left_semi"))
    verifyCandidatesRS(cand, lds, rds, tNum, tDen)
  }

  /** [[routeRecall]] for the R-S composition: routed vs exact over
    * the SAME pair of relations, one shingle relation per side
    * serving both paths. Output: one row (n_exact, n_routed, n_hit,
    * recall4). Same cost note as the self-join eval — the exact
    * ground truth dominates; run on sampled/gated slices, never the
    * full corpora (the shipped query gates each side to a quarter of
    * the corpus). */
  def routeRecallRS(left: DataFrame, right: DataFrame,
                    tNum: Long = 1L, tDen: Long = 2L,
                    maxBucket: Int = 10000): DataFrame = {
    val lds = shingleRelation(left)
    val rds = shingleRelation(right)
    val exact = jaccardJoinRSOfShingles(lds, rds, tNum, tDen)
      .select(col("id1"), col("id2"))
    val routed = verifyCandidatesRS(
        bandCollisionsRS(left, right, maxBucket), lds, rds, tNum, tDen)
      .select(col("id1"), col("id2"))
    val hits = routed.join(exact, Seq("id1", "id2"))
      .agg(count(lit(1)).as("n_hit"))
    exact.agg(count(lit(1)).as("n_exact"))
      .crossJoin(broadcast(routed.agg(count(lit(1)).as("n_routed"))))
      .crossJoin(broadcast(hits))
      .select(col("n_exact"), col("n_routed"), col("n_hit"),
        round(when(col("n_exact") === 0L, 1.0)
          .otherwise(col("n_hit").cast("double") / col("n_exact")), 4)
          .as("recall4"))
  }

  /** [[verifyCandidates]] against two DIFFERENT shingle relations
    * (id1 resolves in `lds`, id2 in `rds`) — the R-S verification. */
  private[dedup] def verifyCandidatesRS(cand: DataFrame, lds: DataFrame,
                                        rds: DataFrame, tNum: Long,
                                        tDen: Long): DataFrame = {
    val sizesL = lds.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val sizesR = rds.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    cand
      .join(lds.select(col("doc_id").as("id1"), col("sh")), "id1")
      .join(rds.select(col("doc_id").as("id2"), col("sh")), Seq("id2", "sh"))
      .groupBy(col("id1"), col("id2"))
      .agg(count(lit(1)).as("inter"))
      .join(sizesL.select(col("doc_id").as("id1"), col("n").as("n1")), "id1")
      .join(sizesR.select(col("doc_id").as("id2"), col("n").as("n2")), "id2")
      .filter(col("inter") * lit(tDen) >=
        (col("n1") + col("n2") - col("inter")) * lit(tNum))
      .select(col("id1"), col("id2"), col("n1"), col("n2"), col("inter"),
        round(col("inter").cast("double") /
          (col("n1") + col("n2") - col("inter")), 4).as("jaccard"))
  }

  /** Exact verification of candidate pairs against a (doc_id, sh)
    * relation covering at least the candidate docs: cost Σ|x| over the
    * mined pairs, shuffle rows narrow and map-side-combinable.
    * `cand` needs (id1, id2) columns; ids need not be ordered — each
    * directed pair verifies independently (the delta path emits both
    * directions when two NEW docs collide). */
  private[dedup] def verifyCandidates(cand: DataFrame, ds: DataFrame,
                                      tNum: Long, tDen: Long): DataFrame = {
    val sizes = ds.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val verified = cand
      .join(ds.select(col("doc_id").as("id1"), col("sh")), "id1")
      .join(ds.select(col("doc_id").as("id2"), col("sh")), Seq("id2", "sh"))
      .groupBy(col("id1"), col("id2"))
      .agg(count(lit(1)).as("inter"))
    verified
      .join(sizes.select(col("doc_id").as("id1"), col("n").as("n1")), "id1")
      .join(sizes.select(col("doc_id").as("id2"), col("n").as("n2")), "id2")
      .filter(col("inter") * lit(tDen) >=
        (col("n1") + col("n2") - col("inter")) * lit(tNum))
      .select(col("id1"), col("id2"), col("n1"), col("n2"), col("inter"),
        round(col("inter").cast("double") /
          (col("n1") + col("n2") - col("inter")), 4).as("jaccard"))
  }

  /** Recall eval for [[routedJoin]] vs the 100%-recall
    * [[jaccardJoin]] ground truth — one row: exact pair count,
    * routed pair count, intersection, recall rounded at 4. The
    * intersection join (rather than assuming routed ⊆ exact) guards
    * against the two paths' shingle definitions ever drifting.
    *
    * COST NOTE: this eval runs BOTH paths — the exact prefix-filter
    * join AND the routed join — so its wall time is dominated by the
    * exact ground truth (~3-4× the routed operator alone in the
    * bench). That is the price of measuring recall, not the price of
    * routing; the shipped bulk path is [[routedJoin]], and this eval
    * runs on a sample or at gate scale, never over the full corpus.
    *
    * `sampleMod` is that gate: > 1 restricts the eval to the
    * deterministic slice `doc_id % sampleMod == 0` — the exact
    * ground-truth's pair space (the quadratic term) shrinks by
    * ~sampleMod², while the recall estimate stays unbiased (LSH
    * banding treats every doc identically, so a uniform doc slice is
    * a uniform pair slice). 1 (the default) evals the full input. */
  def routeRecall(docs: DataFrame, tNum: Long = 1L,
                  tDen: Long = 2L, sampleMod: Long = 1L): DataFrame = {
    require(sampleMod >= 1L, "sampleMod must be >= 1")
    val slice = if (sampleMod <= 1L) docs
                else docs.filter(col("doc_id") % sampleMod === 0L)
    // ONE shingle relation serves both paths: the eval is a compare,
    // and a compare must not pay the corpus tokenization twice
    val ds = shingleRelation(slice)
    val exact = jaccardJoinOfShingles(ds, tNum, tDen)
      .select(col("id1"), col("id2"))
    val routed = verifyCandidates(
        graft.dedup.Dedup.minhashPairs(slice, 10000), ds, tNum, tDen)
      .select(col("id1"), col("id2"))
    val hits = routed.join(exact, Seq("id1", "id2"))
      .agg(count(lit(1)).as("n_hit"))
    exact.agg(count(lit(1)).as("n_exact"))
      .crossJoin(broadcast(routed.agg(count(lit(1)).as("n_routed"))))
      .crossJoin(broadcast(hits))
      .select(col("n_exact"), col("n_routed"), col("n_hit"),
        round(when(col("n_exact") === 0L, 1.0)
          .otherwise(col("n_hit").cast("double") / col("n_exact")), 4)
          .as("recall4"))
  }
}
