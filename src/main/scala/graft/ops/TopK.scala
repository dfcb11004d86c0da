package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Skew-aware per-key top-k — the crawl-budget operator and the block cap:
 * keep at most `k` rows per key (host, block), preferring rows by an
 * explicit deterministic ordering (quality score, recency, lowest id).
 *
 * A naive `row_number().over(partitionBy(key))` sorts EVERY key's rows,
 * and a single mega-host (every web crawl has one) serializes into one
 * task's sort. [[perKeyWithDrops]] takes the over-budget keys from
 * [[HotKeys]] (one bounded collect), then
 *
 *  - 0 hot keys (the common case): input passes through untouched;
 *  - ≤ `maxHotKeysBroadcast`: cold rows stream through a broadcast
 *    anti-join untouched; only hot-key rows pay the window sort;
 *  - more: fall back to the window-over-everything plan — slower but
 *    bounded.
 *
 * Ordering must be total and deterministic (break ties on a unique key)
 * or the kept set is nondeterministic under retries.
 */
object TopK {

  /** Core: returns (kept, drops) where drops is the small metrics table
    * (keyName, n_total, n_dropped), one row per truncated key — capping
    * must never be silent. On the broadcast path drops is the collected
    * local relation (no further job).
    * @param keyName  output name for the key column; `df` may already
    *                 contain it holding the same values (pass-through)
    *                 but must not hold a DIFFERENT column under that name
    * @param orderBy  deterministic total order; first = most preferred */
  def perKeyWithDrops(df: DataFrame, key: Column, keyName: String,
      orderBy: Seq[Column], k: Int, maxHotKeysBroadcast: Int = 1000000)
      : (DataFrame, DataFrame) = {
    require(k > 0, "k must be positive")
    val keyed = df.withColumn(keyName, key)
    val w = Window.partitionBy(col(keyName)).orderBy(orderBy: _*)
    def windowCap(in: DataFrame) = in.withColumn("_rn", row_number().over(w))
      .where(col("_rn") <= k).drop("_rn")
    def withDropped(sizes: DataFrame) =
      sizes.withColumn("n_dropped", col("n_total") - k)
    HotKeys.collect(keyed, keyName, k, maxHotKeysBroadcast) match {
      case Some(hot) =>
        val kept =
          if (hot.n == 0) keyed
          else {
            val hotKeys = broadcast(hot.table.select(col(keyName).as("_hk")))
            val isHot = col(keyName) <=> col("_hk")
            keyed.join(hotKeys, isHot, "left_anti")
              .unionByName(windowCap(keyed.join(hotKeys, isHot, "left_semi")))
          }
        (kept, withDropped(hot.table))
      case None =>
        (windowCap(keyed), withDropped(HotKeys.overCap(keyed, keyName, k)))
    }
  }

  /** Convenience wrapper deriving the key from an expression. */
  def perKey(df: DataFrame, key: Column, orderBy: Seq[Column], k: Int)
      : DataFrame = {
    require(!df.columns.contains("tk_key"),
      "input already has a tk_key column — rename it or use perKeyWithDrops")
    perKeyWithDrops(df, key, "tk_key", orderBy, k)._1.drop("tk_key")
  }
}
