package graft.dedup

import graft.SparkSuite
import org.apache.spark.sql.functions._
import graft.score.Similarity

class IncrementalDedupSpec extends SparkSuite {
  import spark.implicits._

  // 500-doc corpus of 12-token texts; docs i and i+1 for i % 50 == 0 are
  // planted near-dups (11 shared tokens)
  private def corpus() = (0L until 500L).map { i =>
    val base = if (i % 50 == 1) i - 1 else i
    val last = if (i % 50 == 1) "variant" else s"tail$base"
    (i, (0 until 11).map(j => s"w${(base * 13 + j * 7) % 997}")
      .mkString(" ") + " " + last)
  }.toDF("doc_id", "text")

  private def increment() =
    // every 25th corpus doc, re-crawled with one appended token
    corpus().where($"doc_id" % 25 === 0)
      .select(($"doc_id" + 10000L).as("doc_id"),
        concat($"text", lit(" recrawled")).as("text"))

  test("incremental pairs == exhaustive bipartite Jaccard (recall 1.0)") {
    val c = corpus(); val inc = increment()
    val index = Dedup.minhashBandIndex(c, $"doc_id", $"text",
      bands = 8, rowsPerBand = 4)
    val got = Dedup.incrementalMinhashPairs(inc, $"doc_id", $"text",
        index, c, $"doc_id", $"text", bands = 8, rowsPerBand = 4,
        jaccardFloor = 0.7)
      .select($"inc_id", $"corpus_id").as[(Long, Long)].collect().toSet
    val sh = (df: org.apache.spark.sql.DataFrame) =>
      df.select(col("doc_id"), Dedup.wordShingles(col("text")).as("sh"))
    val exhaustive = sh(inc).toDF("inc_id", "i_sh")
      .crossJoin(sh(c).toDF("corpus_id", "c_sh"))
      .where(Similarity.jaccard($"i_sh", $"c_sh") >= 0.7)
      .select($"inc_id", $"corpus_id").as[(Long, Long)].collect().toSet
    assert(got === exhaustive)
    // every increment doc must rediscover its source (and planted twin)
    assert(exhaustive.size >= 20)
    assert((0L until 500L by 25).forall(i => got.contains((i + 10000L, i))))
  }

  test("increment side broadcasts; corpus index is never re-shuffled") {
    val c = corpus(); val inc = increment()
    val index = Dedup.minhashBandIndex(c, $"doc_id", $"text", 8, 4)
    val pairs = Dedup.incrementalMinhashPairs(inc, $"doc_id",
      $"text", index, c, $"doc_id", $"text", 8, 4, 0.7)
    val plan = pairs.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }
}
