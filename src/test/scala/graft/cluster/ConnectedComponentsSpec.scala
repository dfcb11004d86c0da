package graft.cluster

import graft.SparkSuite
import scala.util.Random

class ConnectedComponentsSpec extends SparkSuite {
  import ConnectedComponentsSpec._

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
