package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Checkpoints.materialize
import graft.functions.Portable._

/** Deduplication operators for a training-data pipeline.
  *
  * Scale design: every variant is a hash-partitioned groupBy or an
  * equi-join on a derived bucket key — never an all-pairs comparison,
  * and never a self-join that recomputes its input twice:
  *  - exact:    one shuffle on md5(text)
  *  - minhash:  signatures in one pass (2 md5 calls/shingle, split
  *              into 4×32-bit lanes each); LSH candidate pairs via
  *              bucket grouping + in-bucket pair expansion — the
  *              shingle/signature pipeline runs ONCE
  *  - simhash:  one shuffle on doc_id for bit aggregation
  *  - ngram:    inverted-index bucketing on shingle with in-bucket
  *              pair expansion (bounded by shingle document frequency)
  *
  * Pair expansion instead of self-join matters at scale: a self-join
  * of a derived table evaluates the derivation twice (no common
  * subexpression elimination across join sides in Catalyst), doubling
  * the dominant scan+explode cost and shuffling the big side twice.
  *
  * Algorithms follow the public literature: MinHash resemblance
  * sketches (Broder, "On the resemblance and containment of
  * documents", 1997), LSH banding (Leskovec/Rajaraman/Ullman, Mining
  * of Massive Datasets ch.3), SimHash (Charikar, "Similarity
  * estimation techniques from rounding algorithms", STOC 2002).
  */
object Dedup {

  /** Fan a small-file scan out to the session's parallelism before
    * compute-heavy per-row work (shingling, hashing). A single parquet
    * file otherwise pins the whole explode to one task; at cluster
    * scale inputs split naturally and this repartition is a no-op
    * cost-wise relative to the work it parallelizes. */
  private def spread(df: DataFrame): DataFrame =
    graft.Spread.byVolume(df, graft.Spread.DenseTarget)

  /** Exact dedup: canonical id = min(doc_id) over identical texts.
    * Output is a complete doc→canonical mapping (group_size 1 for
    * unique docs). */
  def exact(documents: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("h"))
    documents
      .select(col("doc_id"), md5(col("text")).as("h"))
      .withColumn("canonical_id", min(col("doc_id")).over(w))
      .withColumn("group_size", count(lit(1)).over(w))
      .select(col("doc_id"), col("canonical_id"), col("group_size"))
  }

  val NumSeeds  = 2 // md5 invocations per shingle
  val LanesPerSeed = 4 // 8-hex-char (32-bit) windows per digest
  val NumHashes: Int = NumSeeds * LanesPerSeed
  val BandSize  = 2
  val NumBands: Int = NumHashes / BandSize

  /** MinHash signatures: per doc, `NumHashes` independent minima over
    * its 3-gram shingles. Hash family = disjoint 32-bit hex lanes of
    * seeded md5 digests (2 md5 calls per shingle instead of 8). Docs
    * with fewer than 3 tokens get no signature (no shingles).
    *
    * Computed by the native [[graft.functions.MinHashSig]] kernel —
    * one compiled call per document, NO explode and NO shuffle: the
    * signature stage is embarrassingly parallel and runs at scan
    * speed; only the (tiny) band-bucket stage shuffles. (The
    * declarative transform/array_min chain evaluates its lambdas
    * interpreted per element and measured ~3x slower.) */
  def minhashSignatures(docs: DataFrame): DataFrame = {
    val sig = spread(docs)
      .select(col("doc_id"),
        call_function("graft_minhash", tokens(col("text"))).as("sig"))
      .filter(col("sig").isNotNull)
    val mins = (0 until NumHashes).map(i =>
      element_at(col("sig"), i + 1).as(s"mh$i"))
    sig.select(col("doc_id") +: mins: _*)
  }

  /** LSH band keys: signature split into `NumBands` bands; band key =
    * md5 of the concatenated member hashes. One row per (doc, band). */
  def minhashBands(documents: DataFrame): DataFrame = {
    val sigs = minhashSignatures(documents)
    val bands = (0 until NumBands).map { b =>
      val members = (b * BandSize until (b + 1) * BandSize)
        .map(i => col(s"mh$i"))
      struct(lit(b).as("band"),
        md5(concat_ws("|", members: _*)).as("key"))
    }
    sigs
      .select(col("doc_id"), explode(array(bands: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** All ordered pairs (a<b) from a sorted array column — the
    * in-bucket candidate expansion for LSH-style dedup. In-row form:
    * right for MANY SMALL buckets (e.g. shingle posting lists) where
    * replicating the array per element would dominate. */
  private def pairsOf(ids: Column): Column =
    flatten(transform(ids, (a, i) =>
      transform(slice(ids, i + lit(2), size(ids)),
        b => struct(a.as("id1"), b.as("id2")))))

  /** Distributed in-bucket pair expansion for FEW, POSSIBLY HUGE
    * buckets (band/prefix LSH): posexplode each bucket's sorted
    * `items`, spread the element rows across the cluster, and pair
    * element `pos` with the array tail — so one degenerate bucket of
    * B docs becomes B parallel rows of ≤B work instead of one B²/2
    * task (the straggler that dominates an all-identical boilerplate
    * corpus at scale).
    *
    * `maxBucket` truncation semantics match the in-row path: pairs
    * expand among the first `maxBucket` (smallest) members, and every
    * overflow member still pairs with the bucket minimum (`pos` 0
    * pairs with the FULL tail), keeping the cluster spine connected
    * for transitive clustering while the pair count stays linear in B.
    *
    * Input: one row per bucket with a sorted array column `items`.
    * Output: columns (a, b) of the items' element type, a < b.
    * (`private[graft]`: the multimodal near-dup banding reuses it.) */
  private[graft] def pairRowsOf(bucketed: DataFrame, maxBucket: Int): DataFrame = {
    // Shuffle-byte bound: only the first maxBucket element rows carry
    // the (maxBucket-capped) array; overflow rows carry one scalar —
    // ≤ maxBucket² + B cells exchanged for a B-doc bucket, not B².
    // Overflow elements pair with the bucket minimum directly (the
    // same pair the old pos==0-pairs-with-full-tail form produced).
    val rows = bucketed
      .select(col("items")(0).as("min_item"),
        when(size(col("items")) > maxBucket,
          slice(col("items"), 1, maxBucket)).otherwise(col("items"))
          .as("head"),
        posexplode(col("items")))
      .withColumnRenamed("col", "item")
      .repartition(bucketed.sparkSession.sparkContext.defaultParallelism)
    rows.select(
      when(col("pos") < maxBucket, col("item")).otherwise(col("min_item"))
        .as("a"),
      explode(
        when(col("pos") < maxBucket,
          slice(col("head"), col("pos") + lit(2),
            greatest(lit(maxBucket) - col("pos") - 1, lit(0))))
          .otherwise(array(col("item")))).as("b"))
      .select(col("a"), col("b"))
  }

  /** LSH candidate pairs: docs sharing any band bucket (id1 < id2).
    * One pass: bucket-group, expand pairs inside each bucket.
    *
    * `maxBucket` bounds the in-bucket expansion: a degenerate bucket
    * of B docs produces B²/2 pairs, so one pathological key (an
    * all-identical boilerplate corpus) can dominate the job at scale.
    * Oversized buckets are truncated to their `maxBucket` smallest
    * doc_ids — every member still pairs with the bucket minimum, so
    * transitive clustering (nearDupClusters) recovers the full group
    * while the pair count stays linear in B. Default keeps exact
    * behavior for the oracle-checked corpus sizes. */
  def minhashPairs(documents: DataFrame,
                   maxBucket: Int = 10000): DataFrame = {
    val bucketed = minhashBands(documents)
      .groupBy(col("band"), col("key"))
      .agg(sort_array(collect_set(col("doc_id"))).as("items"))
      .filter(size(col("items")) > 1)
    pairRowsOf(bucketed, maxBucket)
      .select(col("a").as("id1"), col("b").as("id2"))
      .distinct()
  }

  /** 16-bit portable SimHash: bit i of a token's md5 (top bit of hex
    * nibble i) votes +1/−1; sign of the per-bit sum forms the
    * fingerprint bitstring. Computed by the native
    * [[graft.functions.SimHashBits]] kernel — pure projection, no
    * explode/shuffle, values identical to the declarative
    * 16-conditional-sum aggregation (and the oracle). */
  def simhash(docs: DataFrame): DataFrame =
    spread(docs)
      .select(col("doc_id"),
        call_function("graft_simhash", tokens(col("text"))).as("simhash16"))
      .filter(col("simhash16").isNotNull)

  /** SimHash near-dup candidate pairs: bucket on the first 8 bits of
    * the fingerprint (docs within small Hamming distance usually agree
    * on a prefix band), expand pairs per bucket, then filter by exact
    * Hamming distance — computed by the native codegen'd
    * [[graft.functions.HammingDistance]] expression. `maxBucket`
    * bounds the expansion like [[minhashPairs]]: truncated members
    * still pair with the bucket minimum (the cluster spine). */
  def simhashPairs(documents: DataFrame, maxHamming: Int = 3,
                   maxBucket: Int = 10000,
                   prefixHexChars: Int = 0): DataFrame = {
    require(prefixHexChars <= 15,
      "prefix must leave at least one non-band hex char")
    // scale knob (soak §7): a longer prefix makes more, smaller
    // buckets — the DEFAULT (0) derives it from the corpus so
    // in-bucket pair expansion stays flat as data grows (recall
    // trades off: near-dups must agree on the whole band). Tiers,
    // not a log formula, so the oracle SQL states the same rule
    // verbatim; measured at sf1: 8→10 hex chars cuts candidate
    // pairs 9.96 M → 5.68 M and runtime 6.87 s → 3.65 s.
    val plen =
      if (prefixHexChars >= 1) prefixHexChars
      else {
        val n = documents.count()
        if (n >= 320000L) 10 else if (n >= 20000L) 9 else 8
      }
    val bucketed = simhash(documents)
      .groupBy(substring(col("simhash16"), 1, plen).as("prefix"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("simhash16"))))
        .as("items"))
      .filter(size(col("items")) > 1)
    pairRowsOf(bucketed, maxBucket)
      .select(
        col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
        expr("graft_hamming(a.simhash16, b.simhash16)").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Connected components over candidate pairs — turns pairwise
    * near-dup evidence into dedup GROUPS (cluster id = min doc_id of
    * the component). Iterative min-label propagation to fixpoint,
    * the standard distributed union-find substitute (cf. the
    * alternating-star algorithms of Kiveris et al., "Connected
    * components in MapReduce and beyond", SoCC 2014): each round is
    * one shuffle; rounds needed = graph diameter (near-dup clusters
    * are shallow, so this converges in 2-3 rounds). For graphs whose
    * component SHAPE is unknown or adversarial (long chains), use
    * [[graft.operators.GraphOps.connectedComponents]] — the actual
    * Kiveris star contraction, O(log n) rounds at two shuffles each,
    * regardless of diameter.
    *
    * `pairs` must have columns (id1, id2); returns (doc_id,
    * cluster_id) for every doc appearing in any pair. */
  def nearDupClusters(pairs: DataFrame, maxIters: Int = 25): DataFrame = {
    // materialize the edge list ONCE — every iteration joins it, and
    // without this the (possibly expensive) pair-producing pipeline
    // upstream would re-execute per round
    val edges = materialize(pairs.select(col("id1"), col("id2"))
      .union(pairs.select(col("id2").as("id1"), col("id1").as("id2"))))
    var labels = edges.select(col("id1").as("doc_id"))
      .distinct()
      .withColumn("cluster_id", col("doc_id"))
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      val neighborMin = edges
        .join(labels, edges("id2") === labels("doc_id"))
        .groupBy(edges("id1").as("doc_id"))
        .agg(min(col("cluster_id")).as("nmin"))
      // carry old_c through the same join so the convergence check is
      // a filter on the materialized result, not a second join
      val updated = materialize(labels
        .join(neighborMin, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), col("cluster_id").as("old_c"),
          least(col("cluster_id"), coalesce(col("nmin"), col("cluster_id")))
            .as("cluster_id"))) // truncate the growing lineage
      converged = updated.filter(col("cluster_id") =!= col("old_c")).isEmpty
      labels = updated.select(col("doc_id"), col("cluster_id"))
      iter += 1
    }
    // rounds needed = component diameter; a graph that exhausts the
    // cap would silently ship split components — make it loud
    if (!converged)
      throw new IllegalStateException(
        s"nearDupClusters: not converged after $maxIters rounds " +
          "(component diameter exceeds the iteration cap; raise maxIters)")
    labels
  }

  /** N-gram Jaccard near-duplicates via inverted-index bucketing on
    * distinct shingles: pairs expand inside each shingle's posting
    * list (bounded by document frequency), |A∩B| = pair count across
    * buckets, |A∪B| = |A|+|B|−|A∩B|. Returns the top `k` pairs by
    * similarity (deterministic tiebreak). */
  def ngramJaccardTop(docs: DataFrame, k: Int = 50,
                      maxDocFreq: Int = Int.MaxValue): DataFrame = {
    // The shingle kernel deliberately runs TWICE (posting-list explode
    // + size projection): both are pipelined scans, and the round-6
    // A/B showed materializing the per-doc shingle arrays instead
    // (localCheckpoint) costs 2.3× at sf1 — writing + re-reading the
    // array blob is slower than recomputing it from the text.
    val documents = spread(docs)
    val docShingles = documents
      .select(col("doc_id"), explode(array_distinct(shingles(col("text"))))
        .as("shingle"))
    val sizes = documents.select(col("doc_id"),
      size(array_distinct(shingles(col("text")))).as("n_shingles"))
    val common = docShingles
      .groupBy(col("shingle"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      // scale knob (soak §7): a shingle shared by more than maxDocFreq
      // docs is boilerplate, not evidence — dropping it bounds the
      // per-bucket pair expansion as the corpus grows (default keeps
      // every bucket; intersections then stay exact)
      .filter(size(col("ids")) <= maxDocFreq)
      .select(explode(pairsOf(col("ids"))).as("p"))
      .groupBy(col("p.id1").as("id1"), col("p.id2").as("id2"))
      .agg(count(lit(1)).as("n_common"))
    common
      .join(broadcast(sizes.withColumnRenamed("doc_id", "id1")
        .withColumnRenamed("n_shingles", "n1")), "id1")
      .join(broadcast(sizes.withColumnRenamed("doc_id", "id2")
        .withColumnRenamed("n_shingles", "n2")), "id2")
      .select(col("id1"), col("id2"),
        round(col("n_common").cast("double") /
          (col("n1") + col("n2") - col("n_common")), 4).as("jaccard"))
      .orderBy(col("jaccard").desc, col("id1"), col("id2"))
      .limit(k)
  }

  /** Asymmetric n-gram CONTAINMENT — |A∩B| / min(|A|, |B|) over
    * distinct shingle sets (Broder's containment measure): detects
    * quote/near-superset relationships Jaccard under-scores, e.g. a
    * short document wholly embedded in a long one scores 1.0 here
    * but near 0 on Jaccard. Same inverted-index posting-list shape
    * as [[ngramJaccardTop]] — pair expansion bounded by per-shingle
    * document frequency, never an all-pairs join. Returns the top
    * `k` pairs (id1 < id2) by containment, deterministic tiebreak. */
  def containmentTop(docs: DataFrame, k: Int = 50,
                     maxDocFreq: Int = Int.MaxValue): DataFrame = {
    // double kernel pass on purpose — see [[ngramJaccardTop]]'s note
    val documents = spread(docs)
    val docShingles = documents
      .select(col("doc_id"), explode(array_distinct(shingles(col("text"))))
        .as("shingle"))
    val sizes = documents.select(col("doc_id"),
      size(array_distinct(shingles(col("text")))).as("n_shingles"))
    val common = docShingles
      .groupBy(col("shingle"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .filter(size(col("ids")) <= maxDocFreq)
      .select(explode(pairsOf(col("ids"))).as("p"))
      .groupBy(col("p.id1").as("id1"), col("p.id2").as("id2"))
      .agg(count(lit(1)).as("n_common"))
    common
      .join(broadcast(sizes.withColumnRenamed("doc_id", "id1")
        .withColumnRenamed("n_shingles", "n1")), "id1")
      .join(broadcast(sizes.withColumnRenamed("doc_id", "id2")
        .withColumnRenamed("n_shingles", "n2")), "id2")
      .select(col("id1"), col("id2"), col("n_common"),
        least(col("n1"), col("n2")).cast("long").as("n_small"),
        round(col("n_common").cast("double") /
          least(col("n1"), col("n2")), 4).as("containment"))
      .orderBy(col("containment").desc, col("id1"), col("id2"))
      .limit(k)
  }

  /** Incremental (delta) near-dup check — the daily-ingest shape at
    * corpus scale: flag each NEW document that shares any LSH band
    * with the existing corpus or another new document. The corpus
    * side contributes only its band keys (in production a maintained
    * band-index table — exactly this frame, appended per ingest), and
    * buckets without a new member are discarded before any pair work,
    * so each increment costs O(delta + colliding buckets), never a
    * corpus×corpus re-pairing.
    * Output per flagged new doc: the smallest colliding partner
    * (deterministic blame) and the distinct bands hit. */
  def dedupDelta(corpus: DataFrame, fresh: DataFrame): DataFrame = {
    val buckets = minhashBands(corpus).withColumn("is_new", lit(false))
      .unionAll(minhashBands(fresh).withColumn("is_new", lit(true)))
      .groupBy(col("band"), col("key"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("is_new"))))
        .as("items"))
      .filter(size(col("items")) > 1 &&
        exists(col("items"), m => m("is_new")))
    buckets
      .select(col("band"), col("items"), explode(col("items")).as("m"))
      .filter(col("m.is_new"))
      .select(col("band"), col("m.doc_id").as("doc_id"),
        explode(filter(col("items"),
          x => x("doc_id") =!= col("m.doc_id"))).as("o"))
      .groupBy(col("doc_id"))
      .agg(min(col("o.doc_id")).as("dup_of"),
        countDistinct(col("band")).as("n_band_hits"))
  }

  /** [[dedupDelta]] graduated to the ROUTED contract: the LSH
    * collisions are candidates, and each flagged (new, partner) pair
    * is verified EXACTLY — shingle-set Jaccard at a rational
    * threshold — before the new doc is called a duplicate. The
    * daily-ingest answer to LSH false positives: admission decisions
    * carry a verified similarity, not a band coincidence, and the
    * verification only ever tokenizes docs that collided (O(delta +
    * partners), never the corpus — the same pruning as
    * [[SetSimJoin.routedJoin]]).
    *
    * Output per REJECTED new doc: `dup_of` = the verified partner
    * with the highest Jaccard (ties to the smallest id), with the
    * exact evidence (sizes, intersection, jaccard at 4dp). New docs
    * whose collisions all verify below threshold are admitted — they
    * do not appear. Corpus and fresh must carry disjoint doc_ids
    * (same contract as [[dedupDelta]]). */
  def dedupDeltaVerified(corpus: DataFrame, fresh: DataFrame,
                         tNum: Long = 1L, tDen: Long = 2L): DataFrame = {
    // candidate mining — dedupDelta's bucket shape, but keeping every
    // colliding partner (the verifier decides blame, not band luck)
    val buckets = minhashBands(corpus).withColumn("is_new", lit(false))
      .unionAll(minhashBands(fresh).withColumn("is_new", lit(true)))
      .groupBy(col("band"), col("key"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("is_new"))))
        .as("items"))
      .filter(size(col("items")) > 1 &&
        exists(col("items"), m => m("is_new")))
    val cand = buckets
      .select(col("items"), explode(col("items")).as("m"))
      .filter(col("m.is_new"))
      .select(col("m.doc_id").as("id1"),
        explode(filter(col("items"),
          x => x("doc_id") =!= col("m.doc_id"))).as("o"))
      .select(col("id1"), col("o.doc_id").as("id2"))
      .distinct()
      .localCheckpoint() // feeds the doc pruning AND the verification
    val involved = cand.select(col("id1").as("doc_id"))
      .unionAll(cand.select(col("id2").as("doc_id")))
      .distinct()
    val texts = corpus.select(col("doc_id"), col("text"))
      .unionAll(fresh.select(col("doc_id"), col("text")))
    val ds = SetSimJoin.shingleRelation(
      texts.join(involved, Seq("doc_id"), "left_semi"))
    val verified = SetSimJoin.verifyCandidates(cand, ds, tNum, tDen)
    val best = Window.partitionBy(col("id1"))
      .orderBy(col("jaccard").desc, col("id2"))
    verified
      .withColumn("rk", row_number().over(best))
      .filter(col("rk") === 1)
      .select(col("id1").as("doc_id"), col("id2").as("dup_of"),
        col("n1"), col("n2"), col("inter"), col("jaccard"))
  }

  /** Exact verification of an arbitrary candidate-pair relation
    * (id1, id2) against a document store (doc_id, text) — the
    * downstream verifier [[graft.streaming.StreamingDedup
    * .candidatePairs]] is built for: each micro-batch's in-flight LSH
    * collisions verify here inside foreachBatch, against whatever
    * store the ingest maintains. Same pruning as the batch routes:
    * only docs appearing in some pair are ever tokenized. Output one
    * row per pair meeting the threshold, with the exact evidence. */
  def verifyPairs(cand: DataFrame, texts: DataFrame,
                  tNum: Long = 1L, tDen: Long = 2L): DataFrame = {
    val c = cand.select(col("id1"), col("id2")).distinct().localCheckpoint()
    val ds = SetSimJoin.shingleRelation(involvedTexts(c, texts))
    SetSimJoin.verifyCandidates(c, ds, tNum, tDen)
  }

  /** The candidate-slice store prune [[verifyPairs]] applies BEFORE
    * any tokenization: only docs appearing in some pair survive (a
    * left-semi join — never a row-multiplying one). Exposed as its
    * own seam so the scale contract is plan- and row-assertable; the
    * downstream shingle relation checkpoints eagerly, which hides
    * this join from its own optimized plan. */
  private[graft] def involvedTexts(cand: DataFrame,
                                   texts: DataFrame): DataFrame = {
    val involved = cand.select(col("id1").as("doc_id"))
      .unionAll(cand.select(col("id2").as("doc_id")))
      .distinct()
    texts.select(col("doc_id"), col("text"))
      .join(involved, Seq("doc_id"), "left_semi")
  }

  /** Benchmark decontamination: rank training documents by their
    * shingle overlap with an evaluation set — the pre-training check
    * that keeps test data out of the corpus. The eval set's DISTINCT
    * shingles broadcast (benchmarks are small — a few MB against a
    * 100 TB corpus, the textbook broadcast asymmetry); each candidate
    * doc joins its own distinct shingles against them, so the work is
    * one scan + one broadcast semi-ish join, no doc-doc pairs at all.
    * `evalMod` marks `doc_id % evalMod == 0` docs as the eval set (a
    * deterministic stand-in for a real benchmark table — swap any
    * DataFrame of shingles in at the call site). */
  def benchmarkOverlap(docs: DataFrame, evalMod: Int = 50,
                       topK: Int = 50): DataFrame = {
    val documents = spread(docs)
    val isEval = col("doc_id") % evalMod === 0
    val sh = documents
      .select(col("doc_id"), explode(array_distinct(shingles(col("text"))))
        .as("shingle"))
    val evalShingles = sh.filter(isEval).select(col("shingle")).distinct()
    val sizes = documents.filter(!isEval)
      .select(col("doc_id"),
        size(array_distinct(shingles(col("text")))).as("n_shingles"))
      .filter(col("n_shingles") > 0)
    sh.filter(!isEval)
      .join(broadcast(evalShingles), "shingle")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_overlap"))
      .join(sizes, "doc_id")
      .select(col("doc_id"), col("n_overlap"), col("n_shingles"),
        round(col("n_overlap").cast("double") / col("n_shingles"), 4)
          .as("overlap_frac"))
      .orderBy(col("overlap_frac").desc, col("doc_id"))
      .limit(topK)
  }

  /** Cross-document duplicated-SPAN detection — the substring-level
    * dedup of Lee et al., "Deduplicating Training Data Makes Language
    * Models Better" (ACL 2022), re-expressed without suffix arrays:
    * a token position is "duplicated" when its k-token shingle occurs
    * in ≥ `minDf` distinct documents, and maximal runs of duplicated
    * positions are merged into spans (the unit a cleaning pipeline
    * would cut). Output: one row per maximal span —
    * (doc_id, span_start, span_end, n_shingles, span_tokens).
    *
    * Scale shape: positions explode once; document frequency is a
    * hash-partitioned groupBy on the 64-bit shingle hash (map-side
    * combinable); only positions whose hash survives the df gate are
    * joined back (the duplicated subset, typically a small fraction
    * of the corpus); the gaps-and-islands merge is one window per
    * doc. No suffix array, no self-join, no all-pairs work — the same
    * bucket-bounded posture as the rest of this file. */
  def dupSpans(docs: DataFrame, minDf: Int = 2): DataFrame =
    dupSpansOfTokens(
      spread(docs).select(col("doc_id"), tokens(col("text")).as("t")), minDf)

  /** [[dupSpans]] over a pre-tokenized `(doc_id, t)` relation — the
    * admission gate tokenizes the corpus ONCE (materialized) and
    * derives both its signals from the shared relation; this is the
    * span miner's half of that contract. Values identical to
    * [[dupSpans]] by construction ([[graft.functions.Portable.shinglesOfTokens]]). */
  def dupSpansOfTokens(tok: DataFrame, minDf: Int = 2): DataFrame = {
    val k = 3 // token width of Portable.shingles
    // positioned-shingle relation feeds both the df aggregate and the
    // span join's probe side — materialize once (no Catalyst CSE
    // across join sides; the same idiom as SetSimJoin's ds).
    // xxhash64, not hex16/md5: the hash never reaches the output (the
    // oracle derives the same spans from its own hashing), and the
    // md5 digest per position was ~30% of the sf1 wall in an
    // interleaved A/B (3.9 s -> 2.8 s); rows also shrink to three
    // fixed-width numerics for the checkpoint and exchanges.
    val sh = tok
      .select(col("doc_id"),
        posexplode(shinglesOfTokens(col("t"), k)).as(Seq("pos", "shingle")))
      .select(col("doc_id"), col("pos"), xxhash64(col("shingle")).as("h"))
      .localCheckpoint()
    val dupHashes = sh
      .groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .where(col("df") >= minDf)
      .select(col("h"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    sh.join(dupHashes, "h")
      .withColumn("island", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("island"))
      .agg(
        min(col("pos")).cast("long").as("span_start"),
        max(col("pos")).cast("long").as("span_end"),
        count(lit(1)).as("n_shingles"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        col("n_shingles"),
        (col("span_end") - col("span_start") + k).as("span_tokens"))
  }

  /** Per-document duplicated-token FRACTION, exact. [[dupSpans]]'s
    * spans cover token intervals [span_start, span_end + 2] which can
    * OVERLAP by one token (islands two shingle-positions apart share
    * a token), so summing span_tokens overcounts; here the intervals
    * merge first by the classic cummax rule (a span opens a new
    * island only when it starts past everything seen), then coverage
    * sums disjoint island lengths. Docs with no duplicated span
    * report 0.0 — the output is a full per-doc assignment, ready to
    * threshold as a cleaning gate.
    *
    * Scale: inherits [[dupSpans]]'s shape; the merge windows run over
    * the SPAN table (a small fraction of positions), per-doc. */
  def dupRate(docs: DataFrame, minDf: Int = 2): DataFrame =
    dupRateOfTokens(
      spread(docs).select(col("doc_id"), tokens(col("text")).as("t")), minDf)

  /** [[dupRate]] over a pre-tokenized `(doc_id, t)` relation (see
    * [[dupSpansOfTokens]]). */
  /** The cleaning ACTION for [[dupSpans]]'s report — Lee et al.'s
    * pipeline doesn't just measure duplicated spans, it CUTS them:
    * every token position covered by a merged duplicated-span
    * interval is removed and the survivors rejoin into `clean_text`.
    * Removal is unconditional (boilerplate semantics — all copies
    * go); a keep-one-canonical-copy policy is a layer above this
    * operator, not inside it, because "which copy" is a corpus-level
    * choice this per-doc transform cannot see.
    *
    * Scale shape: inherits [[dupSpansOfTokens]] (positions explode
    * once, df gate on the 64-bit hash, one window per doc); the
    * interval merge runs over the SPAN table; the final cut is a
    * per-row array filter against the doc's own few merged intervals
    * (driver-free, no join back to positions). Output:
    * (doc_id, n_tokens, n_removed, clean_text). */
  def removeDupSpans(docs: DataFrame, minDf: Int = 2): DataFrame = {
    val tok = spread(docs)
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .localCheckpoint()
    val spans = dupSpansOfTokens(tok, minDf)
      .select(col("doc_id"), col("span_start").as("s"),
        (col("span_end") + 2).as("e"))
    val wOrd = Window.partitionBy(col("doc_id")).orderBy(col("s"))
    val merged = spans
      .withColumn("pme",
        max(col("e")).over(wOrd.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("ni",
        when(col("pme").isNull || col("s") > col("pme"), 1L).otherwise(0L))
      .withColumn("island",
        sum(col("ni")).over(wOrd.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("s")).as("ms"), max(col("e")).as("me"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("ms"), col("me")))).as("ivs"))
    val kept = filter(
      transform(col("t"), (w, i) => struct(w.as("w"), i.as("pos"))),
      x => !exists(col("ivs"),
        iv => iv.getField("ms") <= x.getField("pos") &&
          x.getField("pos") <= iv.getField("me")))
    tok.join(merged, Seq("doc_id"), "left")
      .select(col("doc_id"), col("t"),
        coalesce(col("ivs"),
          array().cast("array<struct<ms:bigint,me:bigint>>")).as("ivs"))
      .select(col("doc_id"),
        size(col("t")).cast("long").as("n_tokens"),
        (size(col("t")) - size(kept)).cast("long").as("n_removed"),
        concat_ws(" ", transform(kept, x => x.getField("w")))
          .as("clean_text"))
  }

  /** Canonical-document selection — the DROP step the cluster labels
    * exist for: per near-dup cluster keep exactly ONE survivor, the
    * document with the largest `sizeCol` (most-complete-version
    * heuristic), ties to the smallest doc_id. `docs` must carry
    * (doc_id, sizeCol); `labels` is a (doc_id, cluster_id) relation
    * covering the CLUSTERED docs only — unlabeled documents are their
    * own cluster and survive untouched. Returns
    * (doc_id, cluster_id, <sizeCol>) for survivors.
    *
    * Scale shape: one broadcast-or-shuffle join docs⋈labels (labels
    * is |paired docs| rows, far smaller than the corpus) and ONE
    * aggregate with a map-side partial combine — `max(struct(size,
    * -doc_id))` is the argmax, so only one struct per cluster per
    * partition crosses the exchange, where a window rank would
    * shuffle EVERY corpus row before sorting it. The struct buffer
    * makes the aggregate a SortAggregate (per-partition sort by the
    * group key — CPU, not network); the plan spec pins partial-below-
    * exchange and no-Window. */
  def canonicalPerCluster(docs: DataFrame, labels: DataFrame,
                          sizeCol: String = "n_chars"): DataFrame =
    docs.select(col("doc_id"), col(sizeCol))
      .join(labels.select(col("doc_id"), col("cluster_id")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col(sizeCol),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      .groupBy(col("cluster_id"))
      .agg(max(struct(col(sizeCol), (-col("doc_id")).as("neg_id"))).as("best"))
      .select(col("best.neg_id").unary_-.as("doc_id"), col("cluster_id"),
        col(s"best.$sizeCol").as(sizeCol))

  def dupRateOfTokens(tok: DataFrame, minDf: Int = 2): DataFrame = {
    val spans = dupSpansOfTokens(tok, minDf)
      .select(col("doc_id"), col("span_start").as("s"),
        (col("span_end") + 2).as("e"))
    val wOrd = Window.partitionBy(col("doc_id")).orderBy(col("s"))
    val covered = spans
      .withColumn("pme",
        max(col("e")).over(wOrd.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("ni",
        when(col("pme").isNull || col("s") > col("pme"), 1L).otherwise(0L))
      .withColumn("island",
        sum(col("ni")).over(wOrd.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("island"))
      .agg((max(col("e")) - min(col("s")) + 1).as("covered"))
      .groupBy(col("doc_id"))
      .agg(sum(col("covered")).as("dup_tokens"))
    tok.select(col("doc_id"), size(col("t")).cast("long").as("n_tokens"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        round(coalesce(col("dup_tokens"), lit(0L)).cast("double") /
          col("n_tokens"), 4).as("dup_frac"))
  }

  /** Contrastive training pairs — the data-GENERATION side of the
    * dedup stack: positives are the near-dup pairs the simhash miner
    * finds (label 1), negatives a deterministic hash-derived pairing
    * (label 0, partner of doc i = hash52(i) mod n, canonicalized,
    * existence-checked, anti-joined against the positives so no
    * accidental positive leaks in). BOTH sides carry the true simhash
    * hamming distance as the hardness signal — a negative at hamming
    * 4 is a hard negative, one at 8 is easy — which is what a
    * contrastive similarity model trains on (the SimCSE/E5-style
    * pair-mining recipe, expressed over the corpus's own near-dup
    * structure).
    *
    * Scale: negatives are ONE row per document derived by a
    * stateless hash — no sampling shuffle, no global order; the
    * hamming join ships two 16-char signatures per pair. Class
    * balance is corpus-dependent (≈ n negatives vs the miner's
    * positive count) — re-weight downstream, don't re-sample here. */
  def contrastivePairs(documents: DataFrame): DataFrame = {
    val pos = simhashPairs(documents)
      .select(col("id1"), col("id2"), col("hamming"), lit(1).as("label"))
      .localCheckpoint(true)
    val sigs = simhash(documents)
    val ids = documents.select(col("doc_id"))
    val nRow = broadcast(documents.agg(count(lit(1)).as("n")))
    val cand = ids.crossJoin(nRow)
      .select(col("doc_id").as("i"),
        pmod(hash52(col("doc_id")), col("n")).as("j"))
      .filter(col("i") =!= col("j"))
      .select(least(col("i"), col("j")).as("id1"),
        greatest(col("i"), col("j")).as("id2"))
      .distinct()
    val neg = cand
      .join(ids.withColumnRenamed("doc_id", "id1"), Seq("id1"), "left_semi")
      .join(ids.withColumnRenamed("doc_id", "id2"), Seq("id2"), "left_semi")
      .join(pos.select(col("id1"), col("id2")), Seq("id1", "id2"),
        "left_anti")
      .join(sigs.select(col("doc_id").as("id1"),
        col("simhash16").as("sh1")), Seq("id1"))
      .join(sigs.select(col("doc_id").as("id2"),
        col("simhash16").as("sh2")), Seq("id2"))
      .select(col("id1"), col("id2"),
        call_function("graft_hamming", col("sh1"), col("sh2"))
          .cast("long").as("hamming"),
        lit(0).as("label"))
    pos.unionByName(neg)
  }
}
