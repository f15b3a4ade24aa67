package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One-off scale soak (not part of the driver gate): derive an sf1-like
  * directory from sf0.1 by laying `copies` independent sf0.1-shaped
  * universes side by side, then time the heaviest queries at both
  * scales and print a markdown ratio table (ARCHITECTURE.md carries the
  * committed results).
  *
  * Scaling model — 10× the data with the SAME distributional shape:
  *  - fact keys (orderkey, event/user ids, doc/vec ids) shift by
  *    `copy × (max_key + 1)` so every copy's join/window/group
  *    structure is identical to sf0.1's, never overlapping;
  *  - dimension tables stay fixed (fan-out per dim key grows 10×,
  *    which is the stress a bigger fact table puts on a join);
  *  - document text gets a per-copy FULL-ALPHABET Caesar shift and
  *    embeddings a per-copy dimension rotation (both bijective /
  *    orthogonal, so within-copy duplicate and similarity structure
  *    is preserved EXACTLY), so cross-copy shingle/minhash/simhash/
  *    cosine collisions vanish and the near-duplicate RATE stays
  *    that of sf0.1 — naive replication would make every doc a
  *    10-way duplicate and inflate every pair expansion
  *    superlinearly, soaking a fiction (this was partially true of
  *    the pre-round-10 vowel-rotation fixture: 5 distinct rotations
  *    for 10 copies + verbatim vectors — see the generate() notes).
  *
  * Reps run through [[RepLoop]]: base and soaked interleaved, each
  * gated, timed and profiled by [[Bench]]'s core, so every JSON row
  * also carries the `layers` of each side's minimum rep.
  *
  * Usage: runMain graft.Soak [baseDir] [outDir] [copies] [queryCsv] [jsonOut]
  * (queryCsv = optional comma-separated subset of SoakQueries, or the
  * literal `gated` for the regression-gated slice; jsonOut = optional
  * path for the JSON artifact, e.g. SOAK_r08.json.)
  */
object Soak {

  val SoakQueries: Seq[String] = Seq(
    // heaviest in bench_full.json, plus the shapes VERDICT r3 called
    // out for the soak: profile's 4n+1 aggs, heatmapAll's two keyed
    // shuffles, the dedup pair expansions, and a window representative
    "profile_lineitem", "agg_sketch", "agg_kmv_distinct",
    "q21_waiting_suppliers", "join_bloom_prune", "func_json",
    "mov_heatmap_all", "hh_top_terms", "dedup_clusters",
    "dedup_simhash_pairs", "dedup_minhash_pairs", "dedup_ngram_jaccard",
    "doc_winnow_fp", "mov_sessions", "win_lag_gaps", "ts_twap",
    // round-4 additions: the corpus-pipeline stages with nontrivial
    // plan shapes (pair expansion, window cumsum, broadcast contamination)
    "dedup_delta", "emb_semantic_prune", "doc_decontaminate",
    "doc_repetition", "doc_chunks", "doc_pack_bins",
    // corpus-analysis additions: vocabulary-keyed join fan-in (tfidf),
    // gated bigram joins (collocations), per-shard rank windows
    "doc_tfidf_terms", "doc_collocations", "doc_shuffle_shards",
    // retrieval: one corpus pass + broadcast query vocab, then
    // query-set-sized fusion — ratio should be scan-bound
    "ret_bm25", "ret_rrf_hybrid",
    // round-4 session-2 additions: iterative graph rounds (pagerank),
    // the shared-aggregate sketch, the full-outer diff + SCD2 apply,
    // and the bin-table quantile pass
    "graph_pagerank", "cms_term_counts", "cdc_diff", "cdc_scd2",
    "agg_hist_quantiles", "qc_drift", "doc_forget", "knn_mrl", "knn_funnel",
    // session-3 additions: the 8× replicated salted join, the
    // single-pass expectation gate, quantized search, neighborhood
    // window pairs
    "join_salted", "qc_expectations", "emb_quantize", "knn_quantized", "qc_drift_seg", "ts_funnel", "ts_retention", "ts_ab_lift", "ts_paths", "graph_triangles", "basket_rules", "mov_bot_signals", "knn_ivf_sq8",
    "er_neighbors",
    // session-4 additions: the span-merge dedup (explode + df gate +
    // window), the posting-list containment expansion, the broadcast
    // vocab/stat joins, and the time-bounded anomaly window
    "dedup_dup_spans", "dedup_containment", "doc_lm_coverage",
    "qc_mad_outliers", "ts_anomaly",
    // session-4 late additions: the iterative ER closure, the
    // composed two-signal gate, and the double-search recall evals
    "er_entities", "doc_admission_gate", "knn_recall", "knn_recall_lsh",
    "doc_dup_rate",
    // round-5 additions: the exact prefix-filter similarity join
    // (candidate volume is its scale risk), the bigram-LM scorer
    // (two n-gram count joins), and the M4 display reducer (should
    // be scan-bound — its whole point is no per-bucket sort)
    "dedup_setsim_join", "dedup_setsim_strict", "doc_lm_score",
    "ts_m4_downsample", "knn_filtered", "doc_corpus_mix",
    // round-6 additions: the single-scan admission gates (shared
    // doc×token relation) and the routed dedup composition
    "doc_admission_lm", "dedup_route", "dedup_delta_verified",
    // round-7 additions: the frozen-centroid IVF delta probe and the
    // span-cutting transform (dupSpans' report turned into the action)
    "knn_ivf_delta", "doc_despan", "doc_markup",
    // round-8 additions: the gate-scaled recall eval (its exact ground
    // truth is the cost under watch) and the IVF drift report
    "dedup_route_recall", "knn_ivf_compact", "doc_token_stats",
    // round-9 additions: the O(log n)-round star-contraction
    // components and the cross-corpus R-S similarity joins (exact +
    // routed)
    "graph_components", "dedup_setsim_rs", "dedup_route_rs",
    "dedup_route_rs_recall",
    // late round 9: seed-proximity BFS, dense-core peel, incremental
    // components, and the canonical-survivor drop step
    "graph_bfs", "graph_kcore", "graph_components_delta",
    "dedup_canonical", "sample_budget", "sample_folds_safe",
    "skyline_parts", "join_editdist", "graph_ppr", "graph_lcc", "ts_cep_match", "qc_referential",
    // round-9 continuation: link prediction (capped wedge volume is
    // the claim under test), the mutual-kNN n² baseline, and the
    // pool-bounded MMR re-rank head
    "graph_common_neighbors", "emb_mutual_knn_clusters", "ret_mmr",
    "emb_mutual_knn_lsh", "cdc_agg_delta", "join_spatial_grid",
    "qc_uniqueness", "agg_skewness", "qc_ks_drift", "ts_attribution",
    "doc_contrastive_pairs", "emb_label_centroids",
    // round-10 additions: ranking eval (one corpus pass for qrels +
    // top-k-sized metrics), block-level media dedup (fingerprint-only
    // exchange), Benford first-digit audit (scan + 9-group aggregate)
    "ret_eval", "mm_dup_blocks", "qc_benford",
    // round-11 additions: perceptual media near-dup (bucketed band
    // join — expansion volume is the claim under test), graded nDCG
    // (qrel corpus pass + qid-keyed eval, expected scan-bound), PRF
    // expansion (two corpus scans, pool-sized everything after),
    // truncated EMA (grouping agg + 16-lag window), bounded-state
    // top-k IVM (group-limit windows), and the class-balance audit
    // (label-vocab-sized second agg)
    "mm_near_blocks", "ret_ndcg", "ret_expand", "ts_ema",
    "cdc_topk_delta", "qc_class_balance",
    // round-12 additions: the delete-capable top-k fold (state-sized
    // joins + group-limit windows; the facts scan dominates), the
    // closed PRF loop (three corpus scans, expected scan-bound), the
    // banded-bucket truncation audit (one signature pass + a
    // vocabulary-sized group-by), and the chi-square association
    // audit (one cells exchange + broadcast marginals)
    "cdc_topk_delete", "cdc_topk_refill", "ret_expand_eval",
    "mm_near_trunc", "qc_label_assoc",
    // exact trimmed mean: one fact exchange into a per-(group, cents)
    // histogram; everything after is histogram-sized
    "agg_trimmed_mean",
    // the refill repair: fold + a facts scan FILTERED to the refill
    // groups — prices the signal's promised cost model
    "cdc_topk_repair",
    // the PRF A/B (tf-graded qrels; one before-side + two after-sides)
    "ret_expand_ab_eval",
    // round-14 additions: the graph IVM demos and the deletion law
    "graph_pagerank_delta", "graph_pagerank_delta_rand", "graph_ppr_delta",
    "graph_components_delete",
    // round-15 additions: the ranking deletion laws (signed folds
    // against the full-graph state pair; the fold alone is priced by
    // graft.SoakFold's del_* rows)
    "graph_pagerank_delete", "graph_ppr_delete")

  /** The regression-gated slice: the steepest documented ratios plus
    * the queries past verdicts flagged — what `SOAK_r{N}.json` tracks
    * round over round (VERDICT r7 item 2). */
  val GatedQueries: Seq[String] = Seq(
    "dedup_setsim_join", "dedup_setsim_strict", "dedup_route_recall",
    "graph_pagerank", "doc_admission_lm", "basket_rules",
    // round-9 additions (VERDICT r8 item 6): the two shipped bulk
    // paths whose soak numbers previously lived only in prose
    "doc_admission_gate", "dedup_route",
    // round-10 addition (VERDICT r9 item 4): PPR was the steepest new
    // graph row (5.6×, per-round teleport join); gated after the
    // teleport-fusion fix so the ratio stays under watch
    "graph_ppr",
    // round-11 additions (VERDICT r10 item 3): the three most
    // expensive bench rows not previously gated — the incremental
    // clustering demo (#1 bench row; prices a from-scratch prior
    // build + fold, envelope ≈2×), the shipped ANN-clustering scale
    // path (bucket-bounded), and the survivor-selection agg
    // (one max(struct) per cluster, agg-bounded)
    "graph_components_delta", "emb_mutual_knn_lsh", "dedup_canonical",
    // round-12 additions (VERDICT r11 item 1): the perceptual media
    // near-dup — its sub-quadratic-candidate banding claim must be
    // MEASURED, not argued; the signature build is scan-bound, so the
    // expected envelope is admission_gate-like (~2×) and a
    // superlinear ratio means bucket expansion (re-audit the 64-bit
    // banding). ret_ndcg / ret_expand are expected scan-bound (one
    // qrel/corpus pass + pool-sized tails).
    "mm_near_blocks", "ret_ndcg", "ret_expand",
    // round-12 late additions: the two new rows with NOVEL cost
    // models worth tracking round-over-round — the PRF eval (two
    // bm25 chains + qrels; the most expensive new row, soaked 1.4×)
    // and the refill repair (fold + a facts scan FILTERED to the
    // refill groups — a regression here means the filter stopped
    // pruning; soaked 1.3×)
    "ret_expand_eval", "cdc_topk_repair",
    // round-14 additions: the graph IVM demos (state build + fold —
    // the fold alone is priced separately by graft.SoakFold, these
    // track the demo composition round over round), the deletion
    // law (touched-component re-cluster + pass-through anti-join),
    // and the combined PRF A/B (one before-side + two after-sides)
    "graph_pagerank_delta", "graph_pagerank_delta_rand", "graph_ppr_delta",
    "graph_components_delete", "ret_expand_ab_eval",
    // round-15 additions: the ranking deletion demos
    "graph_pagerank_delete", "graph_ppr_delete")

  private def stride(df: DataFrame, key: String): Long =
    df.agg(max(col(key))).head().getLong(0) + 1L

  private def copiesOf(df: DataFrame, copies: Int)
                      (shift: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until copies).map(i => shift(df, i)).reduce(_ unionAll _)

  def generate(spark: SparkSession, base: String, out: String,
               copies: Int): Unit = {
    // Fail LOUDLY past the transform families' distinctness range
    // (ADVICE r10 item 1): 312 affine ciphers for text, 2·dim
    // orthogonal transforms for embeddings (dim checked below).
    // Past these bounds copies silently degrade to verbatim
    // duplicates — the exact fixture bug round 10 fixed.
    require(copies >= 1 && copies <= 312,
      s"copies=$copies exceeds the 312 distinct affine text ciphers")
    def write(df: DataFrame, name: String, parts: Int): Unit =
      df.repartition(parts)
        .write.mode("overwrite").parquet(s"$out/$name.parquet")

    // dims: fixed across copies
    Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
      write(Tables.table(spark, base, t), t, 1)
    }

    val orders = Tables.table(spark, base, "orders")
    val okStride = stride(orders, "o_orderkey")
    write(copiesOf(orders, copies) { (d, i) =>
      d.withColumn("o_orderkey", col("o_orderkey") + lit(i * okStride))
    }, "orders", 8)

    val lineitem = Tables.table(spark, base, "lineitem")
    write(copiesOf(lineitem, copies) { (d, i) =>
      d.withColumn("l_orderkey", col("l_orderkey") + lit(i * okStride))
    }, "lineitem", 32)

    // events.parquet read under nanosAsLong: `ts` arrives as long
    // nanos and is written back as int64, which the same conf reads
    // identically — the canonical grains in Tables.events are
    // unchanged. User ids shift too, so per-user series keep their
    // sf0.1 lengths (window/session state per key is what matters).
    val events = Tables.table(spark, base, "events")
    val evStride = stride(events, "event_id")
    val userStride = stride(events, "user_id")
    write(copiesOf(events, copies) { (d, i) =>
      d.withColumn("event_id", col("event_id") + lit(i * evStride))
        .withColumn("user_id", col("user_id") + lit(i * userStride))
    }, "events", 16)

    // Per-copy AFFINE substitution cipher (round-10 fixture fix,
    // extended round 11): the old vowel rotation had only 5 distinct
    // rotations for 10 copies (copies i and i+5 were byte-identical)
    // and left consonant-heavy shingles shared across ALL copies, so
    // every doc soaked as a ~10-way near-dup and the dedup-family
    // ratios measured the fixture's quadratic pair blow-up, not data
    // growth (VERDICT r9 item 6). Round 10 used a Caesar shift — a
    // bijection, but only 26 distinct maps, so copies > 26 would have
    // silently re-introduced verbatim duplicates (ADVICE r10 item 1).
    // Round 11 generalizes to the affine cipher x → a·x + b (mod 26)
    // with a coprime to 26: 12 × 26 = 312 distinct bijections. Any
    // bijection preserves every within-copy shingle-set Jaccard, span
    // overlap, and duplicate relation EXACTLY (the distributional
    // shape the soak wants); two DISTINCT affine maps agree on at
    // most 2 of the 26 letters (a difference of two affine maps is
    // affine; gcd(a₁−a₂, 26) ≤ 2 solutions), so multi-letter
    // alphabetic shingles stay cross-copy disjoint except the
    // measure-zero case of a shingle drawn entirely from the ≤2
    // coincident letters. `MaxCopies` below makes any future bump
    // past the transform families' range fail LOUDLY at generate().
    val docs = Tables.table(spark, base, "documents")
    val docStride = stride(docs, "doc_id")
    val lower = "abcdefghijklmnopqrstuvwxyz"
    val upper = lower.toUpperCase
    val coprimes = Seq(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)
    write(copiesOf(docs, copies) { (d, i) =>
      val a = coprimes((i / 26) % coprimes.size) // copy 0 → identity
      val b = i % 26
      val mapped = (0 until 26).map(x => lower((a * x + b) % 26)).mkString
      d.withColumn("doc_id", col("doc_id") + lit(i * docStride))
        .withColumn("text", translate(col("text"), lower + upper,
          mapped + mapped.toUpperCase))
    }, "documents", 16)

    // Per-copy DIMENSION ROTATION for embeddings (same r10 fix): the
    // old generator copied vectors verbatim, so every vector soaked
    // with 9 exact duplicates — kNN/mutual-kNN/semantic-prune ratios
    // again measured fixture duplication. A circular shift of the
    // dimensions is an ORTHOGONAL transform: every within-copy dot
    // product (and hence cosine, LSH bucket geometry, IVF cell
    // structure) is preserved exactly, while cross-copy pairs
    // decorrelate to near-random cosines.
    // Round 11: rotation index is i mod dim (the raw `i` slice
    // degenerated at i = dim — verbatim copy — and errored past it,
    // ADVICE r10 item 1), and copies beyond dim compose a GLOBAL
    // NEGATION (also orthogonal: within-copy dot products, cosines,
    // LSH geometry all preserved; cross-copy cosines to the unnegated
    // twin flip sign — still decorrelated). 2·dim distinct transforms.
    val embs = Tables.table(spark, base, "embeddings")
    val dim = embs.select(size(col("embedding"))).head().getInt(0)
    require(copies <= 2 * dim,
      s"copies=$copies exceeds the 2·dim=${2 * dim} distinct orthogonal embedding transforms")
    val vecStride = stride(embs, "vec_id")
    write(copiesOf(embs, copies) { (d, i) =>
      val k = i % dim
      val shifted =
        if (k == 0) col("embedding")
        else concat(
          expr(s"slice(embedding, ${k + 1}, size(embedding) - $k)"),
          expr(s"slice(embedding, 1, $k)"))
      val oriented =
        if ((i / dim) % 2 == 0) shifted
        else transform(shifted, v => -v)
      d.withColumn("vec_id", col("vec_id") + lit(i * vecStride))
        .withColumn("embedding", oriented)
    }, "embeddings", 8)
  }

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("target/soak/sf1")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    // optional 4th arg: comma-separated subset of SoakQueries, so a
    // new operator can be soaked without re-timing the whole list
    val wanted = args.lift(3)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // fail fast, not 40 minutes in: the FULL sf1 soak needs a 16 GiB
    // driver (pagerank's checkpointed blocks plus a later broadcast
    // build exceed the 8 GiB default) — ARCHITECTURE §7 / README.
    // A subset run or a small copies count is exactly the cheap-run
    // use case, so the guard only hard-fails the full configuration;
    // otherwise it warns loudly and proceeds.
    val heapGiB = Runtime.getRuntime.maxMemory.toDouble / (1L << 30)
    if (heapGiB < 14.0) {
      val fullRun = wanted.isEmpty && copies >= 10
      val msg =
        f"sf1 soak at full scale needs a 16 GiB driver heap, " +
          f"got $heapGiB%.1f GiB — rerun with SPARK_DRIVER_MEM=16g"
      if (fullRun)
        throw new IllegalStateException(s"SoakDriverHeapTooSmall: $msg")
      else System.err.println(s"[soak] WARNING (subset/small-copies run): $msg")
    }
    val soakQueries = wanted match {
      case Some(ws) if ws == Set("gated") => GatedQueries
      case Some(ws) => SoakQueries.filter(ws)
      case None     => SoakQueries
    }
    // optional 5th arg: write the measured table as a JSON artifact
    // (SOAK_r{N}.json — the checked-in, regression-gated record)
    val jsonOut = args.lift(4)
    val spark = GraftSession.get()
    if (!java.nio.file.Files.exists(
        java.nio.file.Paths.get(out, "lineitem.parquet"))) {
      System.err.println(s"[soak] generating $out = $copies × $base")
      generate(spark, base, out, copies)
    }
    Bench.warm(spark, soakQueries, "soak")
    val loop = new RepLoop(spark, "soak")
    val loadStart = Bench.load1()
    println(s"| query | ${base.split('/').last} s | sf1 s | ratio (ideal ≤ ~$copies) |")
    println("|---|---|---|---|")
    val results = soakQueries.map { n =>
      def run(dir: String): () => Unit =
        () => Bench.noop(SparkEntry.queries(n)(spark, dir))
      val Seq(rB, rS) = loop.interleaved(n, Bench.Passes)("base" -> run(base), "sf1" -> run(out))
      println(f"| $n | ${rB.min}%.2f | ${rS.min}%.2f | ${rS.min / rB.min}%.1f× |")
      (n, rB, rS, loop.layersJson(Seq("base" -> rB, "sf1" -> rS)))
    }
    val loadEnd = Bench.load1()
    jsonOut.foreach { path =>
      // every rep, not just the min, so a reader can tell noise from
      // drift, as with bench_full.json's pass_times
      def arr(v: Reps) =
        v.times.map(t => f"$t%.3f").mkString("[", ", ", "]")
      val rows = results.map { case (n, rB, rS, layers) =>
        val (tB, tS) = (rB.min, rS.min)
        f"""    "$n": {"base_s": $tB%.3f, "sf1_s": $tS%.3f, "ratio": ${tS / tB}%.2f, "base_reps": ${arr(rB)}, "sf1_reps": ${arr(rS)}, "layers": $layers}"""
      }.mkString(",\n")
      val json =
        s"""{
           |  "base": "$base",
           |  "copies": $copies,
           |  "passes": ${Bench.Passes},
           |  "loadavg": {"start": $loadStart, "end": $loadEnd},
           |  "load_gate": ${loop.gateJson},
           |  "queries": {
           |$rows
           |  }
           |}
           |""".stripMargin
      java.nio.file.Files.writeString(java.nio.file.Paths.get(path), json)
      System.err.println(s"[soak] wrote $path")
    }
    spark.stop()
  }
}
