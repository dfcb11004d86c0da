package graft.io

import graft.SparkSuite
import java.nio.file.Files

class SnapshotsSpec extends SparkSuite {
  import spark.implicits._

  test("commit writes data + manifest; getOrCompute resumes without recompute") {
    val root = Files.createTempDirectory("snap").toString
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    Snapshots.commit(spark, df, root, "stage1")
    assert(Snapshots.isComplete(root, "stage1"))
    assert(Snapshots.listSnapshots(root) === Seq("stage1"))

    var recomputed = false
    val out = Snapshots.getOrCompute(spark, root, "stage1") {
      recomputed = true; df
    }
    assert(!recomputed, "resume must not recompute a committed stage")
    assert(out.count() === 2)

    val out2 = Snapshots.getOrCompute(spark, root, "stage2") {
      recomputed = true; df.withColumn("w", $"id" * 2)
    }
    assert(recomputed && out2.columns.contains("w"))
    assert(Snapshots.listSnapshots(root) === Seq("stage1", "stage2"))
  }

  test("lineage rows record per-partition counts") {
    val root = Files.createTempDirectory("snap2").toString
    val df = spark.range(100).toDF("id").repartition(4)
    Snapshots.commit(spark, df, root, "s")
    val lin = Snapshots.lineage(root, "s")
    assert(lin.size === 4)
    assert(lin.map(_._2).sum === 100L)
  }

  test("commit and commitBucketed each run exactly one Spark job") {
    val root = Files.createTempDirectory("snap3").toString
    val df = Seq((1L, "a", Seq(1.0)), (2L, null, Nil), (3L, "c", null))
      .toDF("id", "v", "xs")
    val (out, jobs) = withJobCount(Snapshots.commit(spark, df, root, "plain"))
    assert(jobs === 1)
    assert(Snapshots.manifestField(root, "plain", "rows") === Some("3"))
    // read back under the known schema: what an inferred read would give
    assert(out.schema === spark.read.parquet(s"$root/plain").schema)
    assert(out.count() === 3L)

    val (bOut, bJobs) = withJobCount(Snapshots.commitBucketed(spark, df,
      root, "bucketed", Seq("id"), nBuckets = 2))
    assert(bJobs === 1)
    assert(Snapshots.manifestField(root, "bucketed", "rows") === Some("3"))
    assert(Snapshots.lineage(root, "bucketed").map(_._2).sum === 3L)
    assert(bOut.count() === 3L)

    val (_, eJobs) = withJobCount(
      Snapshots.commit(spark, df.where($"id" < 0), root, "empty"))
    assert(eJobs === 1)
    assert(Snapshots.manifestField(root, "empty", "rows") === Some("0"))
    assert(Snapshots.lineage(root, "empty").isEmpty)
  }
}
