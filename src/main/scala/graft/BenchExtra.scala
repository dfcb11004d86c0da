package graft

import org.apache.spark.sql.SparkSession

/** Optimization-round instrumentation (guide §1): NOT part of the driver
  * contract — Bench.scala stays the artifact of record. Per query this
  * main reports wall seconds per rep plus the job/stage/task counts and
  * shuffle bytes the query generated, and can dump the final plan's
  * `.explain("formatted")` to a directory (plans/r06/...).
  *
  * Env:
  *   SPARK_GRAFT_SF_DIR      data dir (default /root/testdata/sf0.1)
  *   SPARK_GRAFT_CPUS        local core count (default: this host's)
  *   SPARK_GRAFT_BENCH_ONLY  comma-separated query subset
  *   SPARK_GRAFT_EXTRA_REPS  reps per query (default 3)
  *   SPARK_GRAFT_EXTRA_MODE  count (Bench parity, default) | noop (§1.4)
  *   SPARK_GRAFT_PLAN_DIR    if set, write <dir>/<query>.txt formatted plans
  */
object BenchExtra {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val reps = sys.env.getOrElse("SPARK_GRAFT_EXTRA_REPS", "3").toInt.max(1)
    val mode = sys.env.getOrElse("SPARK_GRAFT_EXTRA_MODE", "count")
    val planDir = sys.env.get("SPARK_GRAFT_PLAN_DIR")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", Bench.localDir)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.setCheckpointDir(
      java.nio.file.Files.createTempDirectory("graft-extra-ckpt").toString)
    // same warmup shape as Bench: codegen/parquet/shuffle/UDF classloading
    locally {
      import org.apache.spark.sql.functions._
      val tmp = java.nio.file.Files.createTempDirectory("graft-warm").toString
      val w = spark.range(10000).toDF("id")
        .withColumn("s", concat(lit("COL title VAL w"), col("id")))
      w.groupBy(pmod(col("id"), lit(7))).count().count()
      w.write.mode("overwrite").parquet(s"$tmp/w")
      graft.convert.DittoConverter.convertLines(spark,
        spark.read.parquet(s"$tmp/w")
          .select(concat(col("s"), lit("\tCOL title VAL x\t1")).as("value"))
          .limit(50),
        graft.convert.DittoConverter.Config()).count()
    }
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter(q => names(q._1))
      case None => SparkEntry.queries
    }
    val tally = new JobTally
    spark.sparkContext.addSparkListener(tally)
    selected.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      var r = 0
      while (r < reps) {
        val before = tally.snapshot(spark.sparkContext)
        spark.sparkContext.setJobDescription(s"$name rep$r")
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        if (mode == "noop")
          df.write.format("noop").mode("overwrite").save()
        else df.count()
        val sec = (System.nanoTime() - t0) / 1e9
        val d = tally.snapshot(spark.sparkContext) - before
        println(f"""{"query":"$name","rep":$r,"sec":$sec%.3f,"jobs":${d.jobs},"stages":${d.stages},"tasks":${d.tasks},"shuf_write_kb":${d.shuffleWriteBytes / 1024},"shuf_read_kb":${d.shuffleReadBytes / 1024}}""")
        if (r == 0) planDir.foreach { d =>
          new java.io.File(d).mkdirs()
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(s"$d/$name.txt"),
            df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode))
        }
        r += 1
      }
    }
    spark.stop()
  }
}
