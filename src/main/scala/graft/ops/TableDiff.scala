package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Keyed snapshot diff — what changed between two crawl snapshots: each
 * key is `added` (only in the new snapshot), `deleted` (only in the old),
 * `changed` (present in both, payload differs) or `unchanged`.
 *
 * One full-outer equi-join on the key; payload comparison is null-safe
 * (`<=>`), so a null payload is a value, not a wildcard. For wide rows
 * pass a fingerprint column (e.g. `md5(text)`) as the payload — the diff
 * then shuffles only (key, fingerprint), never the documents themselves.
 *
 * `unchanged` rows are always dropped: at web scale they are ~99% of
 * the corpus and the diff's consumers (re-extract, re-index, re-dedup
 * increments) only want the delta.
 */
object TableDiff {

  def diffByKey(oldDf: DataFrame, newDf: DataFrame, key: Column,
      payload: Column): DataFrame = {
    val a = oldDf.select(key.as("td_key"), payload.as("td_old"))
    val b = newDf.select(key.as("td_key"), payload.as("td_new"))
    val joined = a.withColumn("td_in_old", lit(true))
      .join(b.withColumn("td_in_new", lit(true)), Seq("td_key"), "full_outer")
    val status = when(col("td_in_old").isNull, "added")
      .when(col("td_in_new").isNull, "deleted")
      .when(col("td_old") <=> col("td_new"), "unchanged")
      .otherwise("changed")
    joined.select(col("td_key").as("key"), status.as("status"))
      .where(col("status") =!= "unchanged")
  }
}
