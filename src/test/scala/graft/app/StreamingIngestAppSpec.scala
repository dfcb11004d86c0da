package graft.app

import graft.SparkSuite
import graft.gen.PageGen
import org.apache.spark.sql.functions._

/** Production streaming-ingest entry point end-to-end: corpus prep as
  * resumable snapshots, AvailableNow drain of a file-source directory,
  * exactly-once match output across a stop + new-data + rerun cycle. */
class StreamingIngestAppSpec extends SparkSuite {
  import spark.implicits._

  test("AvailableNow drain + rerun: snapshot-resumed corpus, no re-emission") {
    // the static side must not outlive its queries as a CacheManager
    // entry: start from an empty cache, check it after both cycles
    spark.catalog.clearCache()
    val root = java.nio.file.Files.createTempDirectory("ingest-app").toString
    val corpusDir = s"$root/corpus"; val inDir = s"$root/in"
    new java.io.File(inDir).mkdirs()

    val corpus = PageGen.pages(spark, 40, seed = 31L)
    corpus.write.parquet(corpusDir)
    val truth = PageGen.pagesWithTruth(spark, 40, seed = 31L)
      .select("url", "entity_id").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

    val ts = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
    val newRows = corpus.select("url", "text").collect().take(10)
      .map(r => (ts, r.getString(0), r.getString(1)))
    def writeBatch(name: String, rows: Seq[(java.sql.Timestamp, String, String)]) =
      rows.toDF("ts", "url", "text").coalesce(1)
        .write.mode("overwrite").parquet(s"$inDir/$name")

    writeBatch("b1", newRows.take(5).toIndexedSeq)
    val q1 = StreamingIngestApp.start(spark, root,
      spark.read.parquet(corpusDir), s"$inDir/*")
    try q1.awaitTermination() finally q1.stop() // AvailableNow: drains + ends
    val after1 = spark.read.parquet(s"$root/matches")
      .select("l_id", "r_id").as[(Long, Long)].collect()
    assert(after1.nonEmpty)
    // corpus prep committed as snapshots; hot-block drop stats committed
    assert(graft.io.Snapshots.isComplete(root, "extracted"))
    assert(graft.io.Snapshots.isComplete(root, "blocked"))
    assert(graft.io.Snapshots.isComplete(root, "cap_drops"))

    // new data arrives while the app is down; rerun resumes the corpus
    // from snapshots (no recompute) and the stream from its checkpoint
    writeBatch("b2", newRows.drop(5).toIndexedSeq)
    val q2 = StreamingIngestApp.start(spark, root,
      spark.read.parquet(corpusDir), s"$inDir/*")
    try q2.awaitTermination() finally q2.stop()
    assert(spark.sharedState.cacheManager.isEmpty,
      "start must not leave cached plans in the CacheManager")

    val out = spark.read.parquet(s"$root/matches")
      .select("l_url", "l_id", "r_id").collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2))))
    // exactly-once: no pair emitted twice across the rerun
    assert(out.map(_._2).groupBy(identity).forall(_._2.length == 1),
      "rerun re-emitted matches")
    assert(after1.toSet.subsetOf(out.map(_._2).toSet))
    // the rerun processed the new file: every streamed page with a
    // same-entity sibling in the corpus found a match
    val matched = out.map(_._1).toSet
    newRows.map(_._2).foreach { url =>
      if (truth.exists { case (u, e) => e == truth(url) && u != url })
        assert(matched.contains(url), s"$url found no sibling after rerun")
    }
  }
}
