package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/**
 * The one "fits on the driver" bound for operators that finish a small
 * input on the driver instead of in distributed rounds (PageRank's power
 * iteration, ConnectedComponents' union-find).
 *
 * The budget is the session's `spark.sql.autoBroadcastJoinThreshold`: the
 * bytes Spark already lets a relation have before it collects it to the
 * driver and broadcasts it. It is capped by `spark.driver.maxResultSize`
 * (0 there means unlimited). A threshold ≤ 0 — broadcast switched off —
 * means nothing fits, so the distributed path runs for every input.
 *
 * The rest is the primitive-array kit both driver paths share: collect
 * long columns into arrays, the sorted distinct node ids of an edge list,
 * and a (key, value) result as a local relation.
 */
private[graft] object DriverFit {

  /** The most rows of `df`'s schema the driver may collect, at their
    * UnsafeRow width (an 8-byte null-bitmap word per 64 fields plus one
    * 8-byte slot per field), or -1 when nothing fits, not even an empty
    * table: `rows <= DriverFit.rows(df)` is the test. Every field must fit
    * its slot (longs, ints, doubles, ...). */
  def rows(df: DataFrame): Long = {
    val n = df.schema.length
    require(df.schema.forall(_.dataType.defaultSize <= 8),
      s"DriverFit: ${df.schema.simpleString} has a field wider than 8 bytes")
    val rowBytes = 8L * ((n + 63) / 64 + n)
    val threshold = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val maxResult = df.sparkSession.sparkContext.getConf
      .getSizeAsBytes("spark.driver.maxResultSize", "1g")
    val budget = if (maxResult > 0) math.min(threshold, maxResult) else threshold
    if (budget <= 0) -1L else budget / rowBytes
  }

  /** `df`'s columns, all LONG and non-null, collected as one primitive
    * array each. The boxed Rows are garbage once this returns: held
    * longer, they roughly triple the transient driver footprint. */
  def collectLongs(df: DataFrame): Array[Array[Long]] = {
    val rows = df.collect()
    Array.tabulate(df.schema.length) { c =>
      val col = new Array[Long](rows.length)
      var i = 0
      while (i < rows.length) { col(i) = rows(i).getLong(c); i += 1 }
      col
    }
  }

  /** The node ids of edges (`a(i)`, `b(i)`): sorted, distinct. */
  def nodeIds(a: Array[Long], b: Array[Long]): Array[Long] = {
    val all = new Array[Long](a.length + b.length)
    System.arraycopy(a, 0, all, 0, a.length)
    System.arraycopy(b, 0, all, a.length, b.length)
    java.util.Arrays.sort(all)
    var n = 0
    var i = 0
    while (i < all.length) {
      if (i == 0 || all(i) != all(i - 1)) { all(n) = all(i); n += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(all, n)
  }

  /** Rows (`keys(i)`, `values(i)`) as a local relation of two LONG
    * columns, nullable like the distributed paths' results. */
  def longPairs(spark: SparkSession, key: String, value: String,
      keys: Array[Long], values: Array[Long]): DataFrame = {
    val out = new java.util.ArrayList[Row](keys.length)
    var i = 0
    while (i < keys.length) { out.add(Row(keys(i), values(i))); i += 1 }
    spark.createDataFrame(out, StructType(Seq(
      StructField(key, LongType), StructField(value, LongType))))
  }
}
