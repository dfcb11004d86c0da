package graft.io

import graft.SparkSuite
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

/** The materialization policy. Both of its branches must be eager: an
  * `observe` metric on the input is ready when the call returns
  * (ConnectedComponents reads its convergence checksum that way), and
  * neither may leave a CacheManager entry behind. */
class MaterializeSpec extends SparkSuite {

  /** Applies `f` to an observed 100-row frame; returns the result and the
    * metrics as they stand right after `f`, before any action. */
  private def observed(f: DataFrame => DataFrame)
      : (DataFrame, Map[String, Any]) = {
    val obs = Observation()
    val out = f(spark.range(100).toDF("id")
      .observe(obs, count(lit(1)).as("n"), sum(col("id")).as("s")))
    (out, ColumnBridge.metricsOrEmpty(obs))
  }

  /** Files under the session's checkpoint dir (reliable checkpoints). */
  private def checkpointFiles(): Long = {
    val dir = new org.apache.hadoop.fs.Path(
      spark.sparkContext.getCheckpointDir.get)
    val it = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listFiles(dir, true)
    var n = 0L
    while (it.hasNext) { it.next(); n += 1 }
    n
  }

  test("local session: metric ready at build time, no cache entry, no " +
      "reliable checkpoint files") {
    spark.catalog.clearCache()
    assert(spark.sparkContext.isLocal)
    val before = checkpointFiles()
    val (out, m) = observed(Materialize(_))
    assert(m === Map("n" -> 100L, "s" -> 4950L))
    assert(spark.sharedState.cacheManager.isEmpty)
    assert(checkpointFiles() === before,
      "local mode must take localCheckpoint, not reliable storage")
    assert(out.count() === 100L)
  }

  test("checkpoint(), the cluster branch, also surfaces the metric at " +
      "build time") {
    spark.catalog.clearCache()
    val before = checkpointFiles()
    val (out, m) = observed(_.checkpoint())
    assert(m === Map("n" -> 100L, "s" -> 4950L))
    assert(spark.sharedState.cacheManager.isEmpty)
    assert(checkpointFiles() > before)
    assert(out.count() === 100L)
  }
}
