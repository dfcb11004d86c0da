package graft.app

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import graft.pipeline.ERPipeline
import graft.streaming.Streaming
import graft.io.{Materialize, Snapshots}

/**
 * spark-submit entry point for CONTINUOUS ER ingest — the streaming twin
 * of [[PipelineApp]] (which re-clusters in batch): newly-crawled pages
 * stream in from a file-source directory and are matched against a
 * static pre-blocked corpus at ingest latency.
 *
 *   spark-submit --class graft.app.StreamingIngestApp <jar> \
 *     <workRoot> <corpusParquet> <incomingDir> [--follow]
 *
 * Layout under <workRoot>:
 *   _snapshots/{extracted,blocked}   corpus prep, resumable via Snapshots
 *   cap_drops/                       static-side hot-block drop stats
 *   matches/                         append-only match output (file sink)
 *   _stream_ckpt/                    streaming checkpoint (exactly-once
 *                                    across restarts; kill + rerun resumes)
 *   _spark_ckpt/                     default Spark checkpoint dir (cluster
 *                                    mode materializes the static side here)
 *
 * Default trigger is AvailableNow: drain everything currently in
 * <incomingDir>, then exit — cron-able and deterministic to test.
 * `--follow` switches to a continuous micro-batch query.
 *
 * Scale shape: corpus prep runs ONCE (snapshot-resumed on rerun); the
 * per-batch work is the stream-static block-key join against the
 * block-capped slim corpus (the slim rows are materialized, so the static
 * side is not re-derived every micro-batch) plus watermark-bounded pair
 * dedup.
 */
object StreamingIngestApp {

  val pageSchema: StructType = StructType(Seq(
    StructField("ts", TimestampType), StructField("url", StringType),
    StructField("text", StringType)))

  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: StreamingIngestApp <workRoot> <corpusParquet> <incomingDir> [--follow]")
    val Array(workRoot, corpusPath, incomingDir) = args.take(3)
    val follow = args.contains("--follow")

    val spark = AppSession("graft-er-streaming-ingest", workRoot)
    val q = start(spark, workRoot, spark.read.parquet(corpusPath),
      incomingDir, follow = follow)
    q.awaitTermination()
    AppSession.stop(spark)
  }

  /** Builds the corpus side (snapshot-resumed), wires the stream, and
    * starts the sink query. Exposed for tests (MemoryStream-free — tests
    * drive a real file source with AvailableNow). */
  def start(spark: SparkSession, workRoot: String, corpusPages: DataFrame,
      incomingDir: String, follow: Boolean = false) = {
    // one-time corpus prep, resumable: extract + block land as snapshots
    val extracted = Snapshots.getOrCompute(spark, workRoot, "extracted") {
      ERPipeline.extract(corpusPages)
    }
    // one stoplist keys both the corpus blocks and the stream
    val stop = ERPipeline.tokenStoplist(extracted)
    val blocked = Snapshots.getOrCompute(spark, workRoot, "blocked") {
      ERPipeline.blockKeys(extracted, stop)
    }
    // static side of the join: slim + MATERIALIZED (the static plan is
    // re-evaluated per micro-batch otherwise); streamingMatches caps its
    // hot blocks and the drops are committed next to the batch
    // pipeline's cap_drops, never silent
    val slim = Materialize(blocked.select(col("block_key"), col("id")))
    val stream = spark.readStream.schema(pageSchema).parquet(incomingDir)
    val (matches, drops) = Streaming.streamingMatches(stream, extracted,
      slim, stopTokens = stop)
    Snapshots.commit(spark, drops, workRoot, "cap_drops")
    matches.writeStream
      .format("parquet")
      .option("path", s"$workRoot/matches")
      .option("checkpointLocation", s"$workRoot/_stream_ckpt")
      .outputMode("append")
      .trigger(if (follow) Trigger.ProcessingTime("10 seconds")
               else Trigger.AvailableNow())
      .start()
  }
}
