package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/**
 * Point-in-time (as-of) join — the operator behind leakage-free training
 * features: for every left row, attach the payload of the LATEST right
 * row with the same key whose timestamp is <= the left row's timestamp
 * (left-join semantics: no prior right row → null payload).
 *
 * Spark has no native as-of join, and the naive formulations collapse at
 * scale: a range-predicate join explodes to every (left, prior-right)
 * combination before aggregating, and a per-left-row subquery is a
 * correlated O(n·m) scan. This is the scalable merge formulation
 * instead: union both sides, ONE hash shuffle on the key, and a
 * running `last(payload, ignoreNulls)` over (ts, side) order — an
 * incremental O(n) window (rowsBetween unbounded-preceding..current),
 * never a per-row rescan. Right rows sort before left rows at equal ts,
 * giving the inclusive <= bound. DuckDB's native ASOF JOIN is the
 * cross-engine oracle (`events_asof`).
 *
 * Skew: one hot key serializes inside its partition like any ordered
 * per-key pass; if a key's history exceeds a partition, pre-split by
 * coarse time bucket (carrying each bucket's last payload forward) the
 * same way Blocking.splitOversizedBlocks bounds hot blocks.
 *
 * Ties among right rows with identical (key, ts) are broken by payload
 * hash — arbitrary but deterministic at any parallelism. (The driver
 * query's corpus has unique (user_id, ts) per side, verified at every
 * sf, so the oracle never observes the tie-break.)
 */
object AsofJoin {

  /** @param payload right-side columns to attach, prefixed `asof_`.
    * @return left rows (all columns, original names) + prefixed payload. */
  def asofBackward(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTs: String, rightTs: String, payload: Seq[String]): DataFrame = {
    require(keys.nonEmpty && payload.nonEmpty)
    val pType = StructType(payload.map(c => right.schema(c)))
    val lType = StructType(left.schema.fields)

    val lU = left.select(
      keys.map(left(_)) ++ Seq(
        left(leftTs).as("_ts"), lit(1).as("_side"),
        lit(null).cast(pType).as("_p"),
        struct(left.columns.toSeq.map(left(_)): _*).as("_l")): _*)
    val rU = right.select(
      keys.map(right(_)) ++ Seq(
        right(rightTs).as("_ts"), lit(0).as("_side"),
        struct(payload.map(right(_)): _*).as("_p"),
        lit(null).cast(lType).as("_l")): _*)

    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("_ts").asc, col("_side").asc, xxhash64(col("_p")).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    lU.unionByName(rU)
      .withColumn("_asof", last(col("_p"), ignoreNulls = true).over(w))
      .where(col("_side") === 1)
      .select(col("_l.*") +:
        payload.map(c => col(s"_asof.$c").as("asof_" + c)): _*)
  }
}
