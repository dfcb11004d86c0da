package graft.streaming

import graft.SparkSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

class StreamingOpsSpec extends SparkSuite {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("streaming ER ingest matches new pages to their planted corpus entity") {
    implicit val sq = spark.sqlContext
    import graft.pipeline.ERPipeline
    import graft.gen.PageGen
    val cfg = ERPipeline.Config() // default DF-stoplist: the stream side
                                  // must consume the SAME list block() used
    val truth = PageGen.pagesWithTruth(spark, 40, seed = 31L)
      .select("url", "entity_id").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val corpus = PageGen.pages(spark, 40, seed = 31L)
    val cex = ERPipeline.extract(corpus).localCheckpoint()
    val stop = ERPipeline.tokenStoplist(cex, Some(cex.count()))
    val cblocked = ERPipeline.block(cex, cfg, Some(cex.count())).localCheckpoint()
    val idToUrl = cex.select("id", "url").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap

    // "newly crawled" pages: a slice of the same generated crawl, streamed
    val newRows = corpus.select("url", "text").collect().take(12)
      .map(r => (ts("2026-01-01 10:00:00"), r.getString(0), r.getString(1)))
    val in = MemoryStream[(java.sql.Timestamp, String, String)]
    val stream = in.toDF().toDF("ts", "url", "text")
    val (matches, _) = Streaming.streamingMatches(stream, cex, cblocked,
      stopTokens = stop)
    val q = matches.writeStream.format("memory").queryName("er_stream_out")
      .outputMode("append").start()
    try {
      in.addData(newRows.take(6).toSeq)
      q.processAllAvailable()
      in.addData(newRows.drop(6).toSeq)
      q.processAllAvailable()
      val out = spark.table("er_stream_out")
        .select("l_url", "r_id").collect()
        .map(r => (r.getString(0), idToUrl(r.getLong(1))))
      assert(out.nonEmpty)
      // precision: no match may cross planted entities
      out.foreach { case (lUrl, rUrl) =>
        assert(truth(lUrl) === truth(rUrl), s"cross-entity match $lUrl ~ $rUrl")
      }
      // recall: every streamed page with a same-entity sibling in the
      // corpus must match at least one of them
      val matchedL = out.map(_._1).toSet
      newRows.map(_._2).foreach { url =>
        val siblings = truth.count { case (u, e) => e == truth(url) && u != url }
        if (siblings > 0)
          assert(matchedL.contains(url), s"streamed page $url found no sibling")
      }
    } finally q.stop()
  }

  test("capCorpusBlocks bounds hot static blocks deterministically, drops surfaced") {
    // streamingMatches caps the static corpus it is given at the
    // production cap (lowest ids win per block, as BlockingSpec pins) and
    // returns the drops; the stream is never started, the cap runs at
    // plan build
    implicit val sq = spark.sqlContext
    import graft.pipeline.ERPipeline
    val cap = ERPipeline.PairCapPerBlock
    val corpus = ((0L to cap.toLong).map(i => (10L + i, 7L)) :+ (5000L, 8L))
      .toDF("id", "block_key")
    val cex = ERPipeline.extract(graft.gen.PageGen.pages(spark, 4, seed = 31L))
    val stream = MemoryStream[(java.sql.Timestamp, String, String)].toDF()
      .toDF("ts", "url", "text")
    val (_, drops) = Streaming.streamingMatches(stream, cex, corpus,
      stopTokens = Nil)
    val d = drops.collect().map(r => (r.getAs[Long]("block_key"),
      r.getAs[Long]("n_total"), r.getAs[Long]("n_dropped")))
    assert(d.toSeq === Seq((7L, cap + 1L, 1L)))
  }

  test("streaming ER ingest: file source + checkpoint restart, no re-emission") {
    // the streaming twin of PipelineAppSpec's resume test: drive
    // streamingMatches from a real file-source directory with a durable
    // checkpoint + file sink, stop the query between batches, restart it
    // with the same checkpoint, and assert the restarted query (a) does
    // not re-emit batch-1 matches and (b) still processes new files.
    import graft.pipeline.ERPipeline
    import graft.gen.PageGen
    import org.apache.spark.sql.types._
    val cfg = ERPipeline.Config()
    val truth = PageGen.pagesWithTruth(spark, 40, seed = 31L)
      .select("url", "entity_id").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val corpus = PageGen.pages(spark, 40, seed = 31L)
    val cex = ERPipeline.extract(corpus).localCheckpoint()
    val stop = ERPipeline.tokenStoplist(cex, Some(cex.count()))
    val cblocked = ERPipeline.block(cex, cfg, Some(cex.count())).localCheckpoint()
    val idToUrl = cex.select("id", "url").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap

    val root = java.nio.file.Files.createTempDirectory("er-stream-files")
    val srcDir = s"$root/in"; val sinkDir = s"$root/out"
    val ckptDir = s"$root/ckpt"
    new java.io.File(srcDir).mkdirs()
    val newRows = corpus.select("url", "text").collect().take(12)
      .map(r => (ts("2026-01-01 10:00:00"), r.getString(0), r.getString(1)))
    def writeBatch(name: String, rows: Seq[(java.sql.Timestamp, String, String)]) =
      rows.toDF("ts", "url", "text").coalesce(1)
        .write.mode("overwrite").parquet(s"$srcDir/$name")
    val schema = StructType(Seq(StructField("ts", TimestampType),
      StructField("url", StringType), StructField("text", StringType)))
    def startQuery() = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$srcDir/*")
      Streaming.streamingMatches(stream, cex, cblocked,
          stopTokens = stop)._1
        .writeStream.format("parquet")
        .option("path", sinkDir)
        .option("checkpointLocation", ckptDir)
        .outputMode("append").start()
    }

    writeBatch("b1", newRows.take(6).toIndexedSeq)
    val q1 = startQuery()
    try { q1.processAllAvailable() } finally q1.stop()
    val afterB1 = spark.read.parquet(sinkDir)
      .select("l_id", "r_id").as[(Long, Long)].collect()
    assert(afterB1.nonEmpty)

    // stop happened between micro-batches; new data arrives while down
    writeBatch("b2", newRows.drop(6).toIndexedSeq)
    val q2 = startQuery()
    try { q2.processAllAvailable() } finally q2.stop()

    val out = spark.read.parquet(sinkDir)
      .select("l_url", "l_id", "r_id").collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2))))
    // exactly-once across the restart: batch-1 pairs appear exactly once
    val pairCounts = out.map(_._2).groupBy(identity).map(_._2.length)
    assert(pairCounts.forall(_ == 1), "restart re-emitted matches")
    assert(afterB1.toSet.subsetOf(out.map(_._2).toSet))
    // the restarted query made progress on the new file
    val matchedL = out.map(_._1).toSet
    newRows.map(_._2).foreach { url =>
      val siblings = truth.count { case (u, e) => e == truth(url) && u != url }
      if (siblings > 0)
        assert(matchedL.contains(url), s"streamed page $url found no sibling")
    }
    // precision across both batches: no cross-entity match
    out.foreach { case (lUrl, (_, rId)) =>
      assert(truth(lUrl) === truth(idToUrl(rId)), s"cross-entity $lUrl")
    }
  }
}
