package graft.graph

import scala.jdk.CollectionConverters._
import org.apache.spark.graft.ListenerBridge
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import graft.SparkSuite
import graft.gen.LinkGen

class PageRankSpec extends SparkSuite {
  import spark.implicits._

  /** Spark jobs of 10 rounds over the 60-host fixture plus the collect,
    * as measured: on the driver path (the edge materialization with its
    * observed count, then one collect), and in distributed sort-merge-join
    * rounds (one aggregation exchange per round, the node count observed
    * on its materialization). */
  private val DriverJobs = 3
  private val RoundJobs = 21

  /** A broadcast threshold under the 60-host fixture's 204 edge rows at
    * 32 bytes each (6528 bytes), so the edges do not fit the driver, but
    * above the edge table's plan estimate (640 bytes), so the planner
    * still broadcasts the edge side of each round's join. */
  private val BroadcastRounds = "2k"

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

  /** Join operators in the physical plans of every action `body` runs. */
  private def joinsRun[A](body: => A): (A, Set[String]) = {
    val joins = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        "(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)".r
          .findAllIn(qe.executedPlan.toString).foreach(joins.add)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val r = body
      ListenerBridge.drain(spark.sparkContext, 10000)
      (r, joins.asScala.toSet)
    } finally spark.listenerManager.unregister(listener)
  }

  private def ranks(edges: DataFrame, iters: Int = 10): Map[Long, Long] =
    PageRank.run(spark, edges, iters).as[(Long, Long)].collect().toMap

  private lazy val links = LinkGen.links(spark, n = 60)
  private lazy val edgeSeq =
    links.as[(Long, Long)].collect().toSeq

  test("fixture: no self-loops, no dangling hosts (outdeg >= 1), ids cover 0..n-1") {
    assert(edgeSeq.forall { case (s, d) => s != d })
    // the CONTRACT is outdeg >= 1 (no dangling mass); >= 2 is typical but
    // not guaranteed — hub and ring targets can collide after dedup
    val odeg = edgeSeq.distinct.groupBy(_._1).view.mapValues(_.size)
    assert((0L until 60L).forall(i => odeg.getOrElse(i, 0) >= 1))
    assert(edgeSeq.distinct.size === 204)
  }

  test("matches the driver-side fixed-point reference bit-for-bit") {
    // the fixture fits the default driver budget: no join runs
    val (got, joins) = joinsRun(ranks(links))
    assert(got === reference(edgeSeq, iters = 10))
    assert(joins.isEmpty, joins)
  }

  test("broadcast rounds (edges over the driver budget) match the " +
      "reference bit-for-bit") {
    val (got, joins) = joinsRun(withBroadcastThreshold(BroadcastRounds)(
      ranks(links)))
    assert(got === reference(edgeSeq, iters = 10))
    assert(joins === Set("BroadcastHashJoin"))
  }

  test("sort-merge-join rounds (broadcast off) match the reference " +
      "bit-for-bit") {
    val (got, joins) = joinsRun(withNoBroadcast(ranks(links)))
    assert(got === reference(edgeSeq, iters = 10))
    assert(joins === Set("SortMergeJoin"))
  }

  test("round shape: job ceiling for 10 rounds") {
    val (driver, driverJobs) = withJobCount(ranks(links))
    val (rounds, roundJobs) = withNoBroadcast(withJobCount(ranks(links)))
    assert(driver === rounds)
    info(s"driver path: $driverJobs jobs; sort-merge-join rounds: $roundJobs")
    assert(driverJobs <= DriverJobs,
      s"driver-path PageRank ran $driverJobs Spark jobs")
    assert(roundJobs <= RoundJobs,
      s"distributed PageRank ran $roundJobs Spark jobs")
  }

  test("self-loops, duplicate edges, dangling nodes and a single edge: " +
      "both paths match the reference") {
    // 1 -> 2 twice, a self-loop on 2, 5 dangling (no out-link), 4 with no
    // in-link; then a single edge, whose target is dangling
    val fixtures = Seq(
      Seq((1L, 2L), (1L, 2L), (2L, 2L), (2L, 3L), (3L, 1L), (4L, 1L),
        (1L, 5L)),
      Seq((7L, 9L)))
    for (edges <- fixtures; iters <- Seq(0, 1, 7)) {
      val df = edges.toDF("src", "dst")
      val want = reference(edges, iters)
      assert(ranks(df, iters) === want, s"driver path: $edges, $iters")
      assert(withNoBroadcast(ranks(df, iters)) === want,
        s"rounds: $edges, $iters")
    }
  }

  test("an empty edge set fails by name on both paths") {
    for (edges <- Seq(Seq.empty[(Long, Long)], Seq((3L, 3L)))) {
      val df = edges.toDF("src", "dst")
      val driver = intercept[IllegalArgumentException](ranks(df))
      val rounds = intercept[IllegalArgumentException](
        withNoBroadcast(ranks(df)))
      for (e <- Seq(driver, rounds))
        assert(e.getMessage.contains("PageRank needs at least one edge"))
    }
  }

  test("deterministic across input partitioning") {
    assert(ranks(links, 6) === ranks(links.repartition(11), 6))
  }

  test("mass is approximately conserved and hubs outrank the average") {
    val r = ranks(links)
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
