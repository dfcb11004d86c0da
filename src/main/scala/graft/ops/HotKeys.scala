package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * The one hot/cold decision behind every skew cap (TopK's per-key cap and
 * Blocking's oversized-block splitter): which keys hold more than `cap`
 * rows, and do they fit a broadcast?
 *
 * Key sizes are a slim partial aggregation (map-side partials collapse to
 * distinct keys per partition). ONE bounded job collects the over-cap
 * `(key, n_total)` rows, stopping one row past the bound, and hands them
 * back as a local relation: the broadcast build side AND the caller's
 * stats table, so neither re-runs the aggregate. Past the bound
 * (over-cap keys are data-dependent, not few — a boilerplate-heavy
 * corpus) the caller takes its windowed plan instead of collecting an
 * unbounded key set to the driver.
 *
 * Callers join on the key null-SAFE (`<=>`): groupBy counts null keys as
 * one group, so a hot null key is a hot key like any other.
 */
private[graft] object HotKeys {

  /** Over-cap keys pulled to the driver: `table` is a local relation
    * (keyName, n_total) holding `n` rows. */
  final case class Hot(table: DataFrame, n: Int)

  /** Lazy (keyName, n_total) for every key of `df` with more than `cap`
    * rows — the windowed fallback's stats arm. */
  def overCap(df: DataFrame, keyName: String, cap: Int): DataFrame =
    df.groupBy(col(keyName)).agg(count(lit(1)).as("n_total"))
      .where(col("n_total") > cap)

  /** The over-cap keys of `df` from one bounded collect, or None when more
    * than `maxHotKeysBroadcast` keys are over cap (`0` forces None
    * whenever any key is). The collect and the caller's later scan of
    * `df` must see the same rows, so a non-deterministic input is
    * rejected. */
  def collect(df: DataFrame, keyName: String, cap: Int,
      maxHotKeysBroadcast: Int): Option[Hot] = {
    require(df.queryExecution.analyzed.deterministic,
      "HotKeys: input plan is non-deterministic; the hot-key collect and " +
        "the rescan would see different rows — materialize it first " +
        "(graft.io.Materialize or a snapshot)")
    val plan = overCap(df, keyName, cap)
    val rows = plan.limit(maxHotKeysBroadcast + 1).collect()
    if (rows.length > maxHotKeysBroadcast) None
    else Some(Hot(df.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), plan.schema), rows.length))
  }
}
