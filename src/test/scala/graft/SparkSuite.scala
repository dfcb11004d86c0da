package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole forked test JVM. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s.sparkContext.setCheckpointDir(
      java.nio.file.Files.createTempDirectory("graft-ckpt").toString)
    s
  }
}

abstract class SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** Runs `body`; returns its result and the number of Spark jobs it
    * started. `JobTally.snapshot` drains the listener bus before and after,
    * so jobs of earlier work never leak into the count. */
  def withJobCount[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val tally = new JobTally
    sc.addSparkListener(tally)
    try {
      val before = tally.snapshot(sc)
      val r = body
      (r, (tally.snapshot(sc) - before).jobs.toInt)
    } finally sc.removeSparkListener(tally)
  }

  /** Runs `body` with broadcast joins off (see `withBroadcastThreshold`).
    * The driver paths of PageRank and ConnectedComponents share this
    * budget, so it also sends them to their distributed rounds. */
  def withNoBroadcast[A](body: => A): A = withBroadcastThreshold("-1")(body)

  /** Runs `body` with the broadcast threshold at `bytes`, restoring the
    * settings after: both the static and the AQE-runtime thresholds, since
    * AQE can re-plan a small side to broadcast even when the static one is
    * off. */
  def withBroadcastThreshold[A](bytes: String)(body: => A): A = {
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(spark.conf.set(_, bytes))
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
