package graft.graph

import org.apache.spark.sql.functions._
import graft.SparkSuite
import graft.gen.LinkGen

class PageRankSpec extends SparkSuite {
  import spark.implicits._

  /** Spark jobs of 10 rounds over the 60-host fixture. */
  private val JobCeiling = 22

  /** Driver-side fixed-point reference: same recurrence, plain Scala. */
  private def reference(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val e = edges.filter { case (s, d) => s != d }.distinct
    val odeg = e.groupBy(_._1).map { case (s, xs) => s -> xs.size.toLong }
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct.sorted
    val n = nodes.size.toLong
    val teleport = (15L * PageRank.UNIT / 100L) / n
    var r = nodes.map(_ -> PageRank.UNIT / n).toMap
    for (_ <- 1 to iters) {
      val recv = scala.collection.mutable.Map.empty[Long, Long]
        .withDefaultValue(0L)
      for ((s, d) <- e)
        recv(d) += (85L * r(s)) / (100L * odeg(s))
      r = nodes.map(id => id -> (teleport + recv(id))).toMap
    }
    r
  }

  private lazy val links = LinkGen.links(spark, n = 60)
  private lazy val edgeSeq =
    links.as[(Long, Long)].collect().toSeq

  test("fixture: no self-loops, no dangling hosts (outdeg >= 1), ids cover 0..n-1") {
    assert(edgeSeq.forall { case (s, d) => s != d })
    // the CONTRACT is outdeg >= 1 (no dangling mass); >= 2 is typical but
    // not guaranteed — hub and ring targets can collide after dedup
    val odeg = edgeSeq.distinct.groupBy(_._1).view.mapValues(_.size)
    assert((0L until 60L).forall(i => odeg.getOrElse(i, 0) >= 1))
  }

  test("matches the driver-side fixed-point reference bit-for-bit") {
    val got = PageRank.run(spark, links, iters = 10)
      .as[(Long, Long)].collect().toMap
    val want = reference(edgeSeq, iters = 10)
    assert(got === want)
  }

  test("sort-merge-join rounds (broadcast off) match the reference " +
      "bit-for-bit") {
    val got = withNoBroadcast(PageRank.run(spark, links, iters = 10)
      .as[(Long, Long)].collect().toMap)
    assert(got === reference(edgeSeq, iters = 10))
  }

  test("round shape: job ceiling for 10 rounds") {
    // measured at 20 jobs: one aggregation exchange per round, the node
    // count observed on its materialization
    val (got, jobs) = withJobCount(PageRank.run(spark, links, iters = 10)
      .as[(Long, Long)].collect().toMap)
    assert(got === reference(edgeSeq, iters = 10))
    assert(jobs <= JobCeiling, s"PageRank ran $jobs Spark jobs")
  }

  test("deterministic across input partitioning") {
    val a = PageRank.run(spark, links, iters = 6)
      .as[(Long, Long)].collect().toMap
    val b = PageRank.run(spark, links.repartition(11), iters = 6)
      .as[(Long, Long)].collect().toMap
    assert(a === b)
  }

  test("mass is approximately conserved and hubs outrank the average") {
    val r = PageRank.run(spark, links, iters = 10)
      .as[(Long, Long)].collect().toMap
    val total = r.values.sum
    // fixed-point truncation only ever LOSES mass (integer DIV rounds
    // down), bounded by 1 unit per (edge,round) + 1 per node for teleport
    assert(total <= PageRank.UNIT)
    assert(total > (PageRank.UNIT * 95L) / 100L, s"total mass $total")
    // LinkGen routes every third link to hosts 0..7 — they must be hot
    val hubAvg = (0L to 7L).map(r).sum / 8
    val avg = total / r.size
    assert(hubAvg > 2 * avg, s"hubAvg $hubAvg vs avg $avg")
  }
}
