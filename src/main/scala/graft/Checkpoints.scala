package graft

import org.apache.spark.sql.DataFrame

/** The one checkpoint policy: materialize an iteration artifact and
  * truncate its lineage. `localCheckpoint` blocks live only on
  * executors — fine on local[*], but on a real cluster an executor
  * loss makes them unrecoverable and fails the whole iterative job.
  * When the session has a reliable checkpoint dir configured
  * (`sc.setCheckpointDir`, typically HDFS/S3 at 100TB scale), the
  * fault-tolerant `checkpoint()` is used instead. */
private[graft] object Checkpoints {

  def materialize(df: DataFrame, eager: Boolean = true): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(eager)
    else df.localCheckpoint(eager)

  /** Lineage-truncating checkpoint whose blocks materialize inside
    * the FIRST consumer's job instead of a standalone eager action —
    * the `GraphOps.bfsRoundsAgg` idiom generalized (round 17, guide
    * §1/§2). Same storage, same truncation, same once-computed blocks
    * for every later reader (concurrent readers of an unmaterialized
    * block serialize on the block lock, so work is never doubled);
    * what it removes is one full AQE action — result-stage + driver
    * round-trip — per checkpoint, which a per-phase job profile
    * measured as the iterative families' floor at bench scale: the
    * per-round compute is tiny next to the fixed per-action overhead,
    * and a 5-iterate trajectory paid 6 such actions where one final
    * action materializes the same blocks.
    * Use [[materialize]] only where a driver probe (count/head)
    * follows immediately anyway, or where eagerness is the point. */
  def lazyMat(df: DataFrame): DataFrame = materialize(df, eager = false)
}
