package graft.app

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The session every app `main` runs on: AQE, UTC session time, WARN
  * logging, and a Spark checkpoint dir for `graft.io.Materialize`'s
  * reliable checkpoints outside local mode.
  *
  * The checkpoint dir defaults to `<workRoot>/_spark_ckpt`, which serves
  * single-host deployments (incl. the bench/cluster_submit.sh standalone
  * demo, where all executor JVMs share the local filesystem); on a real
  * multi-node cluster pre-set shared storage (HDFS/S3) via
  * spark.checkpoint.dir. The context cleaner deletes a checkpoint once
  * its frame is unreferenced, and [[stop]] deletes what is still
  * referenced at the end of the run, so a run's intermediates do not pile
  * up there. */
private[app] object AppSession {

  def apply(appName: String, workRoot: String): SparkSession = {
    val spark = SparkSession.builder()
      .appName(appName)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (spark.sparkContext.getCheckpointDir.isEmpty)
      spark.sparkContext.setCheckpointDir(s"$workRoot/_spark_ckpt")
    spark
  }

  /** Deletes this run's checkpoint directory, then stops the session. */
  def stop(spark: SparkSession): Unit =
    try deleteCheckpointDir(spark) finally spark.stop()

  /** Deletes Spark's per-context checkpoint directory (the uuid
    * subdirectory `setCheckpointDir` made, never its parent, which other
    * runs may share). */
  def deleteCheckpointDir(spark: SparkSession): Unit =
    spark.sparkContext.getCheckpointDir.foreach { d =>
      val dir = new Path(d)
      dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(dir, true)
    }
}
