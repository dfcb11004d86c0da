package graft.app

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.gen.PageGen
import graft.pipeline.ERPipeline
import graft.io.Snapshots

/**
 * spark-submit entry point for the full ER pipeline with snapshot/resume
 * semantics (north_rule: "resumable from checkpoint with per-partition
 * lineage + metrics ... launched by spark-submit").
 *
 *   spark-submit --class graft.app.PipelineApp <jar> \
 *     <workRoot> [nEntities] [seed] [--input <pagesParquet>]
 *
 * Stages (each a named snapshot; a rerun resumes after the last complete
 * one — delete <workRoot>/_snapshots/<stage>.json to force re-run):
 *   pages → extracted → blocked → scored → clusters → metrics
 */
object PipelineApp {

  def main(args: Array[String]): Unit = {
    val workRoot = args.headOption.getOrElse("/tmp/graft-pipeline")
    val nEntities = args.lift(1).map(_.toLong).getOrElse(1000L)
    val seed = args.lift(2).map(_.toLong).getOrElse(42L)
    val inputPath = args.sliding(2).collectFirst {
      case Array("--input", p) => p }

    val spark = AppSession("graft-er-pipeline", workRoot)
    run(spark, workRoot, nEntities, seed, inputPath)
    AppSession.stop(spark)
  }

  def run(spark: SparkSession, workRoot: String, nEntities: Long, seed: Long,
      inputPath: Option[String]): DataFrame = {
    val cfg = ERPipeline.Config()
    val pages = Snapshots.getOrCompute(spark, workRoot, "pages") {
      inputPath.map(spark.read.parquet(_))
        .getOrElse(PageGen.pages(spark, nEntities, seed))
    }

    // extracted is the stage every downstream id-join re-reads (payload
    // attachment in scorePairs, url re-attachment at clusters): commit it
    // BUCKETED by id so those joins never shuffle the wide rows (titles,
    // token arrays) — only slim pair tables move. Bucket count matches
    // the shuffle-partition conf so the pairs side co-partitions 1:1.
    val nBuckets = spark.sessionState.conf.numShufflePartitions
    val extracted = Snapshots.getOrComputeBucketed(spark, workRoot,
      "extracted", Seq("id"), nBuckets) {
      ERPipeline.extract(pages)
    }

    // one job checks that urls map to distinct ids and counts the rows
    // block and scorePairs need; lazy, so a resumed run never pays it
    lazy val n = Some(ERPipeline.checkedRows(extracted))

    val blocked = Snapshots.getOrCompute(spark, workRoot, "blocked") {
      ERPipeline.block(extracted, cfg, n)
    }

    val scored = Snapshots.getOrCompute(spark, workRoot, "scored") {
      val (sc, drops) = ERPipeline.scorePairs(extracted, blocked, cfg, n)
      Snapshots.commit(spark, drops, workRoot, "cap_drops")
      sc
    }

    val clusters = Snapshots.getOrCompute(spark, workRoot, "clusters") {
      ERPipeline.assign(extracted, ERPipeline.cluster(spark, scored, cfg))
    }

    // Planted-truth evaluation only applies to generated corpora; an
    // external --input corpus has no labels, so the metrics stage reports
    // cluster-shape statistics instead of a meaningless empty-label P/R/F1.
    // NOTE: PageGen.labeledPairs enumerates whole brand blocks (10 brands),
    // an O(pages²/brands) oracle meant for validation-scale runs (the
    // label set must be exhaustive within blocks for recall to be
    // trustworthy). At corpus scale pass --input: real corpora have no
    // planted labels anyway, and the shape path below stays linear.
    val metrics = Snapshots.getOrCompute(spark, workRoot, "metrics") {
      if (inputPath.isEmpty) {
        val labels = PageGen.labeledPairs(spark, nEntities, seed)
        ERPipeline.evaluate(clusters, labels)
      } else {
        val sizes = clusters.groupBy(col("component"))
          .agg(count(lit(1)).as("cluster_size"))
        sizes.agg(
          coalesce(sum(col("cluster_size")), lit(0L)).as("n_pages"),
          count(lit(1)).as("n_clusters"),
          coalesce(max(col("cluster_size")), lit(0L)).as("max_cluster_size"))
      }
    }
    metrics.show(truncate = false)
    clusters
  }
}
