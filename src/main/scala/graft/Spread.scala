package graft

import org.apache.spark.sql.DataFrame

/** VOLUME-DERIVED fan-out before compute-heavy per-row work (round
  * 18, VERDICT r17 item 4). The old `spread` idiom repartitioned to
  * `defaultParallelism` — a CORE-COUNT constant the bench's own
  * scaling block indicted: at sf0.1 the documents table is ~600 KB,
  * so 32-way fan-out hands each task ~18 KB and the per-task overhead
  * dominates — the `knn_ivf_*` / `doc_*` / `ret_eval` cluster ran
  * 30-55% FASTER on 8 cores than 32. An explicit `repartition(n)` is
  * also exactly the hand-set partition count AQE's coalescing is not
  * allowed to touch, so the planner could never fix it at runtime.
  *
  * The partition count now derives from the INPUT SIZE (Catalyst's
  * own size estimate — for a parquet scan, the file bytes), one task
  * per `targetBytes` (default 64 KB of compressed input — sized so
  * the sf0.1 corpus fans to ~10 tasks, the neighborhood the 8-core
  * bench measured as overhead-optimal; these operators do hashing /
  * shingling / vector math, so compute per compressed byte is high
  * and the target is deliberately far below a scan-split size). The count is CAPPED at
  * `defaultParallelism`, so at cluster volume the behavior is
  * byte-identical to the old idiom (want saturates at the cap); the
  * change only removes the fixed fan-out where there is no volume to
  * fan out.
  *
  * Values are unchanged by construction: every consumer is
  * partition-count-invariant (the bench runs the same queries at 8
  * and 32 cores and the DuckDB oracle hash-matches both today). */
private[graft] object Spread {
  /** Default bytes-per-task for token-stat / BM25 / IVF-assignment
    * class work (one linear pass per row). Sites whose compute per
    * byte is an order denser — shingling + multi-seed hashing
    * (Dedup), mutual-kNN candidate scoring — pass [[DenseTarget]]
    * instead: the same volume law with a target sized to their
    * arithmetic intensity (the round-18 A/B: a single 64 KB target
    * fixed the named inverse-scaling cluster but cost the pair-mining
    * heavies ~15-30% at 32 cores; 8 KB keeps their full fan-out at
    * bench volume while still collapsing the 32-way fan-out of the
    * oracle-scale inputs). */
  val DefaultTarget: Long = 64L << 10
  val DenseTarget: Long = 8L << 10

  def byVolume(df: DataFrame,
               targetBytes: Long = DefaultTarget): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    // a STREAMING frame has no batch stats (reading its optimizedPlan
    // trips the batch-only assertion) and its micro-batch volume is
    // unknowable at plan time — keep the historical core-count
    // fan-out there; the volume law applies to the batch operators
    if (df.isStreaming) return df.repartition(par)
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val want = ((bytes + targetBytes - 1) / targetBytes)
      .max(1).min(BigInt(par))
    df.repartition(want.toInt)
  }
}
