package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Per-group exact discrete (nearest-rank, numpy-'lower') quantiles via ONE
 * hash shuffle + per-group sort. The selected element sits at zero-based
 * index floor((n-1)·p), so the result is always a real data value — no
 * interpolation, hence bit-exact cross-engine (the float product (n-1)·p
 * rounds identically under IEEE-754 in Spark and the DuckDB oracle). Long
 * output shape (group, p, q) keeps the quantile list a plain column, not a
 * schema.
 *
 * The window sort is the cost ceiling: per-group work is n·log n in that
 * group's row count and a hot group serializes inside its partition. That
 * is acceptable for telemetry-sized groups (per-language corpus stats); a
 * heavy-tailed group wants Spark's `percentile_approx` (a mergeable sketch
 * that never materializes a per-row rank), at the price of cross-engine
 * bit-exactness.
 */
object Quantiles {

  /** Exact discrete quantiles: one row per (group, p).
    *
    * The per-row "is this rank a target?" test runs as a higher-order
    * array filter BEFORE any explode, so the |rows|×|ps| intermediate
    * never materializes — only the ~|groups|×|ps| selected rows explode
    * (with 5 quantiles over 10^9 rows, that is the difference between
    * 5×10^9 exploded rows feeding the filter and 5×|groups|). */
  def exactDisc(df: DataFrame, group: Column, value: Column,
      ps: Seq[Double]): DataFrame = {
    val part = Window.partitionBy(col("g"))
    val ranked = df.select(group.as("g"), value.as("v"))
      .withColumn("rank", row_number().over(part.orderBy(col("v").asc)))
      .withColumn("n", count(lit(1)).over(part))
    ranked
      .withColumn("hit_ps", filter(array(ps.map(lit): _*),
        p => col("rank") === floor((col("n") - 1) * p) + 1))
      .where(size(col("hit_ps")) > 0)
      .select(col("g"), explode(col("hit_ps")).as("p"), col("v").as("q"))
  }
}
