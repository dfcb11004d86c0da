package graft.io

import org.apache.spark.sql.DataFrame

/**
 * The one materialization policy for an intermediate that is read more
 * than once (or whose lineage must be cut, as in iterative rounds).
 *
 * Local mode (`local[n]`): `localCheckpoint()`. The executor is the driver
 * JVM, so reliable storage would recover nothing a lost block could not.
 * Cluster mode: reliable `checkpoint()`, so every intermediate survives
 * executor loss. It needs a checkpoint directory on shared storage; without
 * one Spark fails with its named "Checkpoint directory has not been set"
 * error instead of running on unrecoverable state. The apps' `main`s
 * default it to `<workRoot>/_spark_ckpt`.
 *
 * Both branches are eager (one job, at the call), so an `observe` metric
 * on `df` is ready on return. Neither leaves a CacheManager entry: the
 * ContextCleaner frees local blocks once the result is unreachable
 * (reliable checkpoint files stay under the checkpoint directory).
 */
private[graft] object Materialize {
  def apply(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.isLocal) df.localCheckpoint()
    else df.checkpoint()
}
