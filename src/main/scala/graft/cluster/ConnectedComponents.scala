package graft.cluster

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.io.Materialize
import graft.ops.DriverFit

/**
 * Transitive closure via alternating large-star / small-star iterations
 * (Kiveris et al., "Connected Components in MapReduce and Beyond",
 * SoCC 2014) over plain DataFrames — no GraphX, no driver-side state
 * (SURVEY.md §7.2 M6; north_rule "union-find transitive closure as
 * iterative DataFrame joins with checkpointed convergence") — unless the
 * edge set fits the driver (see `run`), where a union-find closes it.
 *
 * Input: undirected edges (src, dst) as 64-bit ids. Output: (id, component)
 * where component = the minimum id in the node's component — a total,
 * deterministic labeling, identical at any parallelism level.
 *
 * Scale design: each round is three exchanges — two windows (each star's
 * per-node minimum is a `min` over the edges partitioned by `u`, not a
 * groupBy joined back) and one distinct on the small-star output —
 * O(log n) rounds to converge; materializing every round
 * ([[graft.io.Materialize]]) truncates lineage so plan size stays
 * constant. Convergence is detected by an order-independent checksum
 * (count + exact decimal sum of pair hashes)
 * of the deduped edge set, collected via `observe` DURING the round's own
 * materialization job — zero extra jobs / driver round-trips per round
 * (the driver's per-round serial work is pure Amdahl overhead that caps
 * N-vs-4N scaling efficiency).
 */
object ConnectedComponents {

  /** Round budget of the distributed path: O(log n) rounds converge far
    * below it; hitting it fails loudly instead of returning a partial
    * closure. */
  private val MaxIter = 50

  /** @param edges DataFrame with two numeric columns (src, dst).
    * @param driverUnionFindMaxEdges adaptive small-graph cutoff: when the
    *   DEDUPED edge set (counted for free by the first round's observe
    *   checksum) fits under this bound AND under [[graft.ops.DriverFit]]'s
    *   budget — the session's broadcast threshold, capped by
    *   `spark.driver.maxResultSize`, the same budget PageRank's driver
    *   path reads: 436,906 edges at the default 10 MB and 24 bytes a row —
    *   the closure is computed by a driver-side union-find over the
    *   collected edges instead of the O(log n) alternating-star rounds.
    *   Driver footprint: the collected rows, then two long arrays per
    *   edge for the union-find's input, the parent map and the result
    *   rows — tens of MB transient at the default budget. Near-dup CC
    *   inputs are pair tables that are routinely orders of magnitude
    *   smaller than the corpus, so this removes every per-round shuffle +
    *   materialization in the common case while the distributed path
    *   runs unchanged beyond the bound. Labeling is identical by
    *   construction (min id per component; union always roots the
    *   smaller id, spec-pinned against the distributed path). Set to 0,
    *   or switch broadcast off (`autoBroadcastJoinThreshold` ≤ 0), to
    *   force the distributed path.
    * @return DataFrame(id LONG, component LONG), one row per distinct node. */
  def run(spark: SparkSession, edges: DataFrame,
      driverUnionFindMaxEdges: Long = 500000L): DataFrame = {
    import spark.implicits._
    val base = edges.toDF("src", "dst")
      .select(col("src").cast("long"), col("dst").cast("long"))
      .where($"src" =!= $"dst")
      .select(least($"src", $"dst").as("lo"), greatest($"src", $"dst").as("hi"))
      .distinct()
    // Materialize + checksum in ONE job: the order-independent exact
    // checksum (count + decimal sum of pair hashes; decimal keeps ANSI
    // mode overflow-free) rides the materialization job as an observed
    // metric.
    def materializeWithChecksum(df: DataFrame)
        : (DataFrame, (Long, java.math.BigDecimal)) = {
      val (p, m) = Materialize.observed(df,
        count(lit(1)).as("cnt"),
        sum(xxhash64($"u", $"v").cast(DecimalType(38, 0))).as("cs"))
      val cs = m("cs") match {
        case null => java.math.BigDecimal.ZERO
        case d: java.math.BigDecimal => d
        case d: scala.math.BigDecimal => d.bigDecimal
      }
      (p, (m("cnt").asInstanceOf[Long], cs))
    }

    // edge set invariant between rounds: canonical (hi > lo) pairs
    var (cur, curSum) = materializeWithChecksum(base.select($"hi".as("u"), $"lo".as("v")))

    // Small-graph fast path: the deduped edge count came for free with the
    // first checksum; under the cutoff and the session's driver budget,
    // collect the (already materialized) edges and close them on the
    // driver — zero further jobs.
    if (curSum._1 <= math.min(driverUnionFindMaxEdges, DriverFit.rows(cur)))
      return unionFindLocal(spark, cur)

    val byU = Window.partitionBy($"u")
    var converged = false
    var iter = 0
    while (!converged && iter < MaxIter) {
      // --- large-star: connect strictly-larger neighbors to the min ------
      // m(u) = min(u, min neighbor) over the symmetrized adjacency; each
      // neighbor v > u gets the edge (v, m(u)). m(u) <= u < v, so the edge
      // is already canonical and never a self-loop. Duplicates are left
      // in: the small-star minimum ignores them and its distinct drops them.
      val large = cur.select($"u", $"v")
        .union(cur.select($"v".as("u"), $"u".as("v")))
        .withColumn("m", least($"u", min($"v").over(byU)))
        .where($"v" > $"u")
        .select($"v".as("u"), $"m".as("v"))

      // --- small-star: connect smaller-or-equal neighbors + self to min --
      // operates on edges oriented u > v (all of `large` are)
      val small = large.withColumn("m", min($"v").over(byU))
        .select(explode(array(
            struct($"v".as("a"), $"m".as("b")),
            struct($"u".as("a"), $"m".as("b")))).as("e"))
        .select($"e.a".as("a"), $"e.b".as("b"))
        .where($"a" =!= $"b")
        .select(greatest($"a", $"b").as("u"), least($"a", $"b").as("v"))
        .distinct()
      // convergence test: checksum of the new edge set vs the previous
      // round's (a collision would need equal count AND equal exact sum
      // of 64-bit pair hashes). Collected inside the materialization job
      // itself — no separate aggregate job.
      val (smallP, smallSum) = materializeWithChecksum(small)
      converged = smallSum == curSum
      curSum = smallSum
      cur = smallP
      iter += 1
    }
    require(converged, s"connected components did not converge in $MaxIter rounds")

    // After convergence the graph is a union of stars rooted at component
    // minima: every edge is (member, root), one per member, so each member
    // is labeled by its edge and each root by itself.
    cur.select($"u".as("id"), $"v".as("component"))
      .union(cur.select($"v".as("id"), $"v".as("component")).distinct())
  }

  /** Driver-side transitive closure of a collected canonical edge set:
    * union-find with the min-id root kept on every union, so the final
    * root of each tree is the component minimum — the exact labeling the
    * distributed alternating-star path converges to. Output schema
    * mirrors the distributed path (id/component LONG, nullable). */
  private def unionFindLocal(spark: SparkSession, edges: DataFrame)
      : DataFrame = {
    val Array(us, vs) = DriverFit.collectLongs(edges)
    val n = us.length
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var root = x
      while (parent.getOrElse(root, root) != root) root = parent(root)
      var c = x
      while (c != root && parent.getOrElse(c, c) != root) {
        val nxt = parent(c); parent(c) = root; c = nxt
      }
      root
    }
    var i = 0
    while (i < n) {
      val ra = find(us(i)); val rb = find(vs(i))
      if (ra != rb) {
        val lo = math.min(ra, rb); val hi = math.max(ra, rb)
        parent(hi) = lo
      }
      i += 1
    }
    val ids = DriverFit.nodeIds(us, vs)
    DriverFit.longPairs(spark, "id", "component", ids, ids.map(find))
  }
}
