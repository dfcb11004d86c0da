package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/**
 * Dense sequential row-id assignment WITHOUT a single-partition global
 * window (`Window.orderBy(...)` funnels every row through one task — the
 * classic 100 TB scale-killer). Both variants use the two-job
 * zipWithIndex pattern, kept in the DataFrame API:
 *
 *   job 1: per-partition row counts (tiny aggregate, one row per partition)
 *   driver: exclusive prefix sum → offset map (numPartitions entries)
 *   job 2: id = offset(partition) + rank-within-partition
 *
 * The within-partition rank is a `Window.partitionBy(partition-id)` —
 * parallel across partitions, never a global funnel. The offset map is a
 * broadcast-sized literal (one entry per input partition).
 */
object Ids {

  /** monotonically_increasing_id() encodes the partition index in the
    * upper 33 bits — recover it without touching partitioning. */
  private def monoPartition(ord: Column): Column = shiftrightunsigned(ord, 33)

  /** The shared tail: per-`_pid` counts (job 1), their exclusive prefix
    * sums as a literal offset map, then offset + rank within `_pid` in
    * `order` (job 2); `_pid` is dropped. An empty input has no offsets. */
  private def denseIdWithin(withPid: DataFrame, order: Seq[Column],
      idCol: String): DataFrame = {
    val counts = withPid.groupBy("_pid").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val offsets = counts.map(_._1).zip(counts.scanLeft(0L)(_ + _._2)).toMap
    val offCol =
      if (offsets.isEmpty) lit(0L) else element_at(typedLit(offsets), col("_pid"))
    val w = Window.partitionBy(col("_pid")).orderBy(order: _*)
    withPid
      .withColumn(idCol, (offCol + row_number().over(w) - 1).cast("long"))
      .drop("_pid")
  }

  /** Dense 0-based id in the order of an existing
    * `monotonically_increasing_id()` column `ordCol` (i.e. input order for
    * a freshly-read source). Works after filters (ids stay dense). */
  def denseIdByMono(df: DataFrame, ordCol: String, idCol: String): DataFrame =
    denseIdWithin(df.withColumn("_pid", monoPartition(col(ordCol))),
      Seq(col(ordCol)), idCol)

  /** Dense 0-based id in `sortCols` order for arbitrary input: range-
    * repartition on the sort key (north-rule `repartitionByRange` — range
    * boundaries from a sample, so partitions are balanced even on skewed
    * keys), then per-partition ranks + prefix-sum offsets. Two shuffles
    * (range exchange + pid-hash for the window), both full-width parallel.
    *
    * @param materialize materialize the input first (default; see
    *   [[graft.io.Materialize]]). The range partitioner's sample pass, the
    *   counts job and the final job re-run the upstream plan 3× otherwise.
    *   Callers whose input is ALREADY materialized (or trivially
    *   recomputable narrow maps over a materialized frame —
    *   DittoConverter's label filter) pass false and skip the extra
    *   materialization job. */
  def denseIdByOrder(df: DataFrame, sortCols: Seq[Column], idCol: String,
      materialize: Boolean = true): DataFrame = {
    val src = if (materialize) graft.io.Materialize(df) else df
    denseIdWithin(src.repartitionByRange(sortCols: _*)
      .withColumn("_pid", spark_partition_id().cast("long")), sortCols, idCol)
  }
}
