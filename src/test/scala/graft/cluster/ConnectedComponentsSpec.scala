package graft.cluster

import graft.SparkSuite
import scala.util.Random

class ConnectedComponentsSpec extends SparkSuite {
  import ConnectedComponentsSpec._

  /** Spark jobs of the 60-chain forced-distributed fixture. */
  private val JobCeiling = 22

  /** Spark jobs of the union-find path plus the collect, as measured: the
    * checksummed edge materialization and the edge collect. */
  private val UnionFindJobs = 3

  private def runCc(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    ConnectedComponents.run(spark, edges.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
  }

  test("chain graph collapses to one component (adversarial diameter)") {
    val n = 64L
    val edges = (0L until n - 1).map(i => (i, i + 1))
    val cc = runCc(edges)
    assert(cc.size === n)
    assert(cc.values.toSet === Set(0L))
  }

  test("two components + isolated pair") {
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L), (20L, 21L))
    val cc = runCc(edges)
    assert(cc(1L) === 1L && cc(2L) === 1L && cc(3L) === 1L)
    assert(cc(10L) === 10L && cc(12L) === 10L)
    assert(cc(20L) === 20L && cc(21L) === 20L)
  }

  test("random graphs match driver-side union-find") {
    val rnd = new Random(7)
    for (trial <- 1 to 3) {
      val n = 200
      val edges = (1 to 300).map(_ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val expected = unionFind(edges)
      val got = runCc(edges)
      assert(got === expected, s"trial $trial")
    }
  }

  test("distributed star rounds (cutoff forced off) match the small-graph path") {
    // fixture graphs all sit under the adaptive driver-union-find cutoff,
    // so the alternating-star implementation must keep its own coverage:
    // force it with driverUnionFindMaxEdges = 0 and pin both paths equal
    import spark.implicits._
    val rnd = new Random(31)
    for (trial <- 1 to 2) {
      val n = 150
      val edges = ((1 to 250).map(_ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)) ++
        // adversarial diameter: a chain segment
        (500L until 540L).map(i => (i, i + 1)))
        .filter { case (a, b) => a != b }
      val df = edges.toDF("src", "dst")
      val distributed = ConnectedComponents.run(spark, df,
          driverUnionFindMaxEdges = 0L)
        .as[(Long, Long)].collect().toMap
      val small = ConnectedComponents.run(spark, df)
        .as[(Long, Long)].collect().toMap
      assert(distributed === small, s"trial $trial")
      assert(distributed === unionFind(edges), s"trial $trial vs reference")
    }
  }

  test("broadcast off sends a small graph to the distributed rounds") {
    // the union-find cutoff shares the session's driver budget, so with
    // broadcast off even a graph far under driverUnionFindMaxEdges runs
    // the star rounds (more than the union-find path's jobs)
    import spark.implicits._
    val rnd = new Random(11)
    val edges = (1 to 120).map(_ =>
      (rnd.nextLong(80), rnd.nextLong(80))).filter { case (a, b) => a != b }
    val df = edges.toDF("src", "dst")
    def labels = ConnectedComponents.run(spark, df)
      .as[(Long, Long)].collect().toMap
    val (small, smallJobs) = withJobCount(labels)
    val (rounds, roundJobs) = withNoBroadcast(withJobCount(labels))
    assert(rounds === small)
    assert(small === unionFind(edges))
    info(s"union-find: $smallJobs jobs; star rounds: $roundJobs")
    assert(smallJobs <= UnionFindJobs,
      s"union-find path ran $smallJobs Spark jobs")
    assert(roundJobs > UnionFindJobs,
      s"broadcast off ran $roundJobs Spark jobs: not the star rounds")
  }

  /** Forced distributed path: the output rows, as collected. */
  private def runDistributed(edges: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    import spark.implicits._
    ConnectedComponents.run(spark, edges.toDF("src", "dst"),
      driverUnionFindMaxEdges = 0L).as[(Long, Long)].collect().toSeq
  }

  /** The distributed path labels like the reference union-find, with
    * exactly one row per distinct node. */
  private def assertDistributedMatches(edges: Seq[(Long, Long)]): Unit = {
    val rows = runDistributed(edges)
    val want = unionFind(edges)
    assert(rows.size === want.size, "one row per distinct node")
    assert(rows.toMap === want)
  }

  test("distributed path: hub star with 200 leaves") {
    // the hub is neither the min nor the max id of its component
    assertDistributedMatches((1L to 200L).map(leaf =>
      if (leaf % 2 == 0) (100L, leaf * 3) else (leaf * 3, 100L)))
  }

  test("distributed path: chains of lengths 2, 3, 17 and 64 in one graph") {
    val rnd = new Random(5)
    val edges = Seq(2, 3, 17, 64).zipWithIndex.flatMap { case (len, c) =>
      // ids of one chain in random order, so the min sits mid-chain
      val ids = rnd.shuffle((0 until len).map(k => 1000L * (c + 1) + k))
      ids.sliding(2).map(p => (p(0), p(1)))
    }
    assertDistributedMatches(rnd.shuffle(edges))
  }

  test("distributed path: duplicate and reversed edges") {
    val base = Seq((1L, 2L), (2L, 3L), (7L, 5L), (5L, 6L), (40L, 30L))
    assertDistributedMatches(
      base ++ base.map(_.swap) ++ base ++ Seq((3L, 3L), (6L, 7L)))
  }

  test("distributed path: single-edge graph") {
    assertDistributedMatches(Seq((9L, 4L)))
  }

  test("distributed round shape: job ceiling on 60 chains of 8 nodes") {
    // each chain's 8 ids come from a shuffled pool, so minima sit at
    // random chain positions; measured at 20 jobs (3 exchanges and one
    // materialization a round)
    val rnd = new Random(60)
    val pool = rnd.shuffle((0L until 480L).toVector)
    val edges = rnd.shuffle((0 until 60).flatMap { c =>
      pool.slice(8 * c, 8 * c + 8).sliding(2).map(p => (p(0), p(1)))
    })
    val (rows, jobs) = withJobCount(runDistributed(edges))
    assert(rows.size === 480 && rows.toMap === unionFind(edges))
    assert(jobs <= JobCeiling, s"distributed CC ran $jobs Spark jobs")
  }

  test("self-loops and duplicate edges are harmless") {
    val cc = runCc(Seq((5L, 5L), (1L, 2L), (2L, 1L), (1L, 2L)))
    assert(cc === Map(1L -> 1L, 2L -> 1L))
  }
}

object ConnectedComponentsSpec {
  /** Reference union-find with min-id labeling. */
  def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { val lo = math.min(ra, rb); val hi = math.max(ra, rb)
        parent(hi) = lo }
    }
    edges.foreach { case (a, b) => if (a != b) union(a, b) }
    edges.flatMap(e => if (e._1 == e._2) Nil else Seq(e._1, e._2)).distinct
      .map(x => x -> find(x)).toMap
  }
}
