package graft.io

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/**
 * Co-located joins via bucketed snapshot tables: committing a stage with
 * `commitBucketed` must let every later equi-join / aggregation on the
 * bucket key run WITHOUT a shuffle exchange on the bucketed side — the
 * scale property that makes a canonical 100 TB corpus joinable against
 * incremental deltas without re-shuffling the corpus each batch.
 */
class BucketedSnapshotSpec extends SparkSuite {
  import spark.implicits._

  /** All shuffle exchanges in the final (post-AQE) physical plan. AQE
    * wraps executed shuffles in ShuffleQueryStageExec LEAVES, so a plain
    * `collect` never sees them — recurse into query stages explicitly
    * (otherwise the shuffle-free assertions pass vacuously). */
  private def shuffles(df: DataFrame): Seq[SparkPlan] = {
    df.collect() // finalize adaptive plan
    def rec(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => rec(a.executedPlan)
      case q: QueryStageExec => rec(q.plan)
      case r: ReusedExchangeExec => rec(r.child)
      case s: ShuffleExchangeLike => s +: s.children.flatMap(rec)
      case other => other.children.flatMap(rec)
    }
    rec(df.queryExecution.executedPlan)
  }

  test("bucketed-bucketed equi-join and bucket-key aggregation are shuffle-free") {
    val root = Files.createTempDirectory("bucketed").toString
    val corpus = spark.range(0, 1000)
      .select($"id", concat(lit("title "), $"id").as("title"))
    val delta = spark.range(0, 1000, 3)
      .select($"id", ($"id" % 7).cast("double").as("score"))

    val corpusB = Snapshots.commitBucketed(spark, corpus, root, "corpus",
      Seq("id"), nBuckets = 8)
    val deltaB = Snapshots.commitBucketed(spark, delta, root, "delta",
      Seq("id"), nBuckets = 8)
    assert(Snapshots.isComplete(root, "corpus") &&
      Snapshots.isComplete(root, "delta"))

    withNoBroadcast {
      val joined = corpusB.join(deltaB, "id")
      assert(shuffles(joined).isEmpty,
        "bucketed join must not shuffle:\n" +
          joined.queryExecution.executedPlan)
      assert(joined.count() === 334)

      val agg = corpusB.groupBy($"id").agg(count(lit(1)).as("n"))
      assert(shuffles(agg).isEmpty,
        "bucket-key aggregation must not shuffle:\n" +
          agg.queryExecution.executedPlan)
      assert(agg.count() === 1000)
    }

    // Same join against a PLAIN parquet read of identical data shuffles —
    // proving the assertion above is the bucket layout, not plan luck.
    withNoBroadcast {
      val plain = spark.read.parquet(s"$root/delta")
      val joined = corpusB.join(plain, "id")
      assert(shuffles(joined).nonEmpty)
    }
  }

  test("registerBucketed re-attaches the bucket layout over committed files") {
    val root = Files.createTempDirectory("bucketed2").toString
    val corpus = spark.range(0, 500)
      .select($"id", ($"id" * 2).as("v"))
    val committed = Snapshots.commitBucketed(spark, corpus, root, "c2",
      Seq("id"), nBuckets = 4)
    val schema = committed.schema

    // simulate a fresh session: drop the catalog entry, then re-register
    spark.sql("DROP TABLE graft_c2")
    val reattached = Snapshots.registerBucketed(spark, root, "c2",
      schema, Seq("id"), nBuckets = 4)
    assert(reattached.count() === 500)

    val other = Snapshots.commitBucketed(spark,
      spark.range(0, 500, 5).select($"id", lit("x").as("tag")),
      root, "d2", Seq("id"), nBuckets = 4)
    withNoBroadcast {
      val joined = reattached.join(other, "id")
      assert(shuffles(joined).isEmpty,
        "re-registered bucketed join must not shuffle:\n" +
          joined.queryExecution.executedPlan)
      assert(joined.count() === 100)
    }
  }

  test("bucketed resume honors the manifest's bucket spec, not the caller's") {
    val root = Files.createTempDirectory("bucketed3").toString
    val data = spark.range(0, 400).select($"id", ($"id" % 5).as("v"))
    Snapshots.commitBucketed(spark, data, root, "c3", Seq("id"), nBuckets = 8)
    spark.sql("DROP TABLE graft_c3") // fresh-session simulation

    // resume asks for 4 buckets; files carry ids 0..7 — registering 4
    // would silently drop every file with bucket id >= 4
    val resumed = Snapshots.getOrComputeBucketed(spark, root, "c3",
      Seq("id"), nBuckets = 4)(fail("must resume, not recompute"))
    assert(resumed.count() === 400)
    assert(Snapshots.manifestField(root, "c3", "buckets") === Some("8"))
  }

  test("a plain-committed stage resumes as a plain read, not a bucket claim") {
    val root = Files.createTempDirectory("bucketed4").toString
    val data = spark.range(0, 300).select($"id", ($"id" * 3).as("v"))
    Snapshots.commit(spark, data, root, "p4") // no bucket spec in manifest
    val resumed = Snapshots.getOrComputeBucketed(spark, root, "p4",
      Seq("id"), nBuckets = 8)(fail("must resume, not recompute"))
    assert(resumed.count() === 300) // would throw "Invalid bucket file" before
  }
}
