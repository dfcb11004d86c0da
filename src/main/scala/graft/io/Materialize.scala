package graft.io

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.graft.ColumnBridge

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

  /** Materializes `df` and returns the named aggregate `metrics` over its
    * rows, computed by the same job (no extra pass, no driver round-trip).
    * Fails if the job surfaced no metrics. */
  def observed(df: DataFrame, metric: Column, more: Column*)
      : (DataFrame, Map[String, Any]) = {
    val obs = Observation()
    val out = apply(df.observe(obs, metric, more: _*))
    val m = ColumnBridge.metricsOrEmpty(obs)
    require(m.nonEmpty, "materialization did not surface its observed metrics")
    (out, m)
  }
}
