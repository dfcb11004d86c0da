package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.io.Materialize
import graft.ops.DriverFit

/**
 * Host-graph PageRank for crawl prioritization — power iteration on the
 * driver for small graphs, else as iterative DataFrame joins (the same
 * discipline as [[graft.cluster.ConnectedComponents]]: no GraphX, lineage
 * cut per round, O(1) plan size).
 *
 * All arithmetic is FIXED-POINT (BIGINT units of 1e-12): rank starts at
 * `UNIT DIV n`, each round every node sends `(85 * r) DIV (100 * outdeg)`
 * to each out-neighbor and the new rank is
 * `(15 * UNIT DIV 100) DIV n + sum(received)`. Integer division truncates
 * identically in every engine, and BIGINT sums are exact — so ranks are
 * bit-identical across parallelism levels AND across engines (the DuckDB
 * oracle twin unrolls the same recurrence), with zero float anywhere.
 * The truncation bleeds ≤ 1 unit (1e-12) of mass per (edge, round) —
 * at web scale that is the same modeling error as float rounding, but
 * deterministic.
 *
 * Small graphs run on the driver. The deduplicated edge table
 * (src, dst, outdeg) is materialized once with its row count observed on
 * that job; when the count fits [[graft.ops.DriverFit]]'s budget (the
 * session's broadcast threshold, capped by `spark.driver.maxResultSize`:
 * 327,680 edges at the default 10 MB and 32 bytes a row), one collect
 * brings the edges to the driver and the rounds run on primitive arrays
 * — the same integer recurrence, so the same ranks. Driver footprint:
 * the collected rows (about 100 bytes each, released once copied), then
 * about 48 bytes per edge and 24 per node in primitive arrays: under
 * 50 MB transient at the default budget. ConnectedComponents' union-find
 * shares the budget. Broadcast switched off
 * (`autoBroadcastJoinThreshold` ≤ 0) or a larger graph takes the
 * distributed rounds, at no extra job.
 *
 * Distributed shape per round: ranks join the edges on src — the edges,
 * with their loop-invariant outdegree, are materialized ONCE; while a
 * side fits the broadcast threshold the join broadcasts the side with
 * the smaller plan estimate (the edge table's, at LinkGen's shapes), and
 * with broadcast off it is a sort-merge join — then one partial-
 * aggregated `groupBy(id)` exchange sums the received contributions plus
 * a zero row per node, so there is no per-round join back onto the node
 * table.
 * Dangling nodes (outdeg 0) keep receiving the teleport share but their
 * retained mass is dropped, the common "remove dangling mass" PageRank
 * variant; callers that need mass conservation add sink self-loops.
 */
object PageRank {

  val UNIT: Long = 1000000000000L // 1e-12 fixed-point

  /** The rank table is materialized every k-th round (plus always the
    * last). Materializing every round spends a job and a storage round-
    * trip per iteration only to keep lineage O(1); this cadence keeps
    * lineage bounded at ~k joins (AQE plans it fine) while cutting the
    * driver-serial materialization count, which is Amdahl overhead at any
    * scale. Fault-tolerance granularity drops to k rounds of replay, the
    * usual iterative-graph checkpoint-interval tradeoff. */
  private val MaterializeEvery = 5

  /** @param edges (src, dst) directed link table, any numeric id type.
    * @param iters fixed power-iteration round count (deterministic output
    *              shape beats a float-epsilon stopping rule for an exact
    *              cross-engine contract; 10 rounds ≈ damping^10 < 0.2 of
    *              the residual, plenty for crawl ordering).
    * @return (id LONG, rank_fp LONG) — rank in 1e-12 units. */
  def run(spark: SparkSession, edges: DataFrame, iters: Int = 10)
      : DataFrame = {
    import spark.implicits._
    val e0 = edges.toDF("src", "dst")
      .select(col("src").cast(LongType), col("dst").cast(LongType))
      .where($"src" =!= $"dst")
      .distinct()
    // Edges (with their outdegree denominator, loop-invariant) are the
    // big side: partition by the join key ONCE and compute the
    // denominator as a count-over-window ON that partitioning — the
    // previous groupBy+join shape moved the full edge table through two
    // extra exchanges (agg-join key, then the explicit repartition) for
    // a value the src-partitioned layout already holds locally.
    val (e, em) = Materialize.observed(e0.repartition(col("src"))
      .withColumn("odeg", count(lit(1)).over(org.apache.spark.sql.expressions
        .Window.partitionBy($"src"))), count(lit(1)).as("edges"))
    // Under the session's driver budget the whole iteration runs on the
    // driver: one collect instead of one node job plus ~2 jobs a round.
    if (em("edges").asInstanceOf[Long] <= DriverFit.rows(e))
      return driverRanks(spark, e, iters)
    // n is the one driver-side scalar (same pattern as IVF's Lloyd loop),
    // counted by the node table's own materialization job; every derived
    // constant is integer arithmetic on it.
    val (nodes, nm) = Materialize.observed(
      e.select($"src".as("id")).union(e.select($"dst".as("id"))).distinct(),
      count(lit(1)).as("n"))
    val n = nm("n").asInstanceOf[Long]
    require(n > 0, NoEdges)
    val teleport = (15L * UNIT / 100L) / n
    // rank0 is a constant projection of the materialized node table — no
    // separate materialization needed
    var rank = nodes.select($"id", lit(UNIT / n).as("r"))
    // every node contributes 0 to its own sum, so a node nobody links to
    // still gets its row — one aggregation, no join back onto `nodes`
    val zeros = nodes.select($"id", lit(0L).as("c"))
    var i = 0
    while (i < iters) {
      // integer DIV, not `/`: Spark's `/` on longs is IEEE double division
      // and a correctly-rounded double quotient can truncate to a
      // different integer than exact integer division near boundaries.
      val next = e.join(rank, e("src") === rank("id"))
        .select($"dst".as("id"),
          expr("(85 * r) DIV (100 * odeg)").as("c"))
        .union(zeros)
        .groupBy($"id").agg((lit(teleport) + sum($"c")).as("r"))
      // No explicit unpersist of the previous round: Materialize makes no
      // CacheManager entry, and its local blocks are freed by the
      // ContextCleaner once the superseded round's RDD becomes
      // unreachable (which reassigning `rank` makes true).
      // Rank tables are one slim row per node, so the transient overlap
      // is bounded.
      i += 1
      rank = if (i % MaterializeEvery == 0 || i == iters) Materialize(next)
        else next
    }
    rank.select($"id", $"r".as("rank_fp"))
  }

  private val NoEdges = "PageRank needs at least one edge"

  /** The same recurrence on primitive arrays over the collected
    * (src, dst, odeg) rows: node ids sorted and deduplicated, each edge
    * mapped to its endpoints' positions, one pass over the edges a round.
    * Long arithmetic truncates as BIGINT DIV does and the sums are exact,
    * so every rank equals the distributed path's. Output schema mirrors
    * the distributed path (id/rank_fp LONG, nullable). */
  private def driverRanks(spark: SparkSession, edges: DataFrame, iters: Int)
      : DataFrame = {
    val Array(src, dst, odeg) = DriverFit.collectLongs(edges)
    val ids = DriverFit.nodeIds(src, dst)
    require(ids.nonEmpty, NoEdges)
    val n = ids.length.toLong
    // each edge's endpoints as positions in `ids`
    val s = src.map(java.util.Arrays.binarySearch(ids, _))
    val d = dst.map(java.util.Arrays.binarySearch(ids, _))
    val teleport = (15L * UNIT / 100L) / n
    var r = Array.fill(ids.length)(UNIT / n)
    var i = 0
    while (i < iters) {
      val next = Array.fill(ids.length)(teleport)
      var j = 0
      while (j < s.length) {
        next(d(j)) += (85L * r(s(j))) / (100L * odeg(j)); j += 1
      }
      r = next
      i += 1
    }
    DriverFit.longPairs(spark, "id", "rank_fp", ids, r)
  }
}
