package graft.block

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.GraftFunctions.{fnv1a64, mix64}

/**
 * Blocking-key generation: exact token-set fingerprints + MinHash-LSH
 * token signatures (north_rule; SURVEY.md §7.2 M4). The MinHash family is
 * one JVM function per row over a fixed hash family, so signatures are
 * deterministic across runs and parallelism levels.
 *
 * Scale design (100 TB): key generation is a narrow map; the only shuffle
 * is the explode+self-join downstream. Oversized blocks (common shingle
 * bands) are split into sub-blocks with the split surfaced in a stats
 * table — no silent drops.
 */
object Blocking {

  /** MinHash band keys as ONE compact JVM function per row.
    *
    * An equivalent pure-expression formulation (k × `transform`+
    * `array_min` lambdas) plans/compiles a Catalyst tree so large that
    * driver-side optimization+codegen became the pipeline's serial
    * bottleneck (~20s per query at bands*rows=64). The UDF costs the
    * codegen boundary but keeps the plan O(1); per-row work is
    * tokens×k cheap integer mixes. Hash family: h_i(t) = mix64(fnv(t) ^
    * mix64(i)) — deterministic across JVMs/parallelism. */
  def bandKeysUdf(bands: Int, rowsPerBand: Int) = udf { (tokens: Seq[String]) =>
    if (tokens == null || tokens.isEmpty) Array.empty[Long]
    else {
      val k = bands * rowsPerBand
      val mins = Array.fill(k)(Long.MaxValue)
      tokens.foreach { t =>
        val h0 = fnv1a64(t)
        var i = 0
        while (i < k) {
          val h = mix64(h0 ^ mix64(i.toLong))
          if (h < mins(i)) mins(i) = h
          i += 1
        }
      }
      val keys = new Array[Long](bands)
      var b = 0
      while (b < bands) {
        var acc = mix64(0xB10C0000L + b)
        var r = 0
        while (r < rowsPerBand) { acc = mix64(acc ^ mins(b * rowsPerBand + r)); r += 1 }
        keys(b) = acc
        b += 1
      }
      keys
    }
  }

  /** One row per (block_key, id...); rows with no tokens produce no keys. */
  def minhashBlocks(df: DataFrame, tokensCol: Column, bands: Int,
      rowsPerBand: Int): DataFrame =
    df.withColumn("block_key",
      explode(bandKeysUdf(bands, rowsPerBand)(tokensCol)))

  /** Exact set fingerprint of a token array (order-insensitive): the
    * cheap key family that guarantees recall for records whose normalized
    * token sets are identical, independent of LSH geometry. */
  def tokenFingerprint(tokens: Column): Column =
    xxhash64(concat_ws("", array_sort(tokens)))

  /** Split blocks larger than `cap` into ceil(n/cap) sub-blocks keyed by
    * `groupCol` (e.g. the token fingerprint). Rows with equal `groupCol`
    * land in the same sub-block, so exact-duplicate recall is preserved;
    * only cross-group pairs inside an oversized block get sampled. This
    * bounds per-block pair cost at ~cap² without silent row drops —
    * returns (rekeyed, splitStats(block_key, n_total, n_subblocks)). */
  def splitOversizedBlocks(df: DataFrame, keyCol: String, groupCol: String,
      cap: Int, maxHotKeysBroadcast: Int = 1000000): (DataFrame, DataFrame) = {
    // Skew-aware plan (the HotKeys hot/cold split, shared with TopK): a
    // count-over-window formulation would shuffle AND sort the ENTIRE
    // blocked table just to learn per-block sizes, even though splitting
    // only ever bites the over-cap blocks. The (usually tiny, often
    // empty) over-cap key set is collected once and BROADCAST back, so
    // the blocked table itself never exchanges here — its only shuffle
    // stays the candidate join downstream.
    def subBlocks(n: Column) = ceil(n.cast("double") / cap).cast("long")
    def stats(sizes: DataFrame) = sizes.select(col(keyCol), col("n_total"),
      subBlocks(col("n_total")).as("n_subblocks"))
    graft.ops.HotKeys.collect(df, keyCol, cap, maxHotKeysBroadcast) match {
      case Some(hot) =>
        val rekeyed =
          if (hot.n == 0) df
          else df.join(broadcast(hot.table.select(col(keyCol).as("_hk"),
                col("n_total").as("_bn"))),
              col(keyCol) <=> col("_hk"), "left")
            .withColumn("_k", subBlocks(col("_bn")))
            .withColumn(keyCol,
              when(col("_k").isNull || col("_k") <= 1, col(keyCol))
                .otherwise(xxhash64(col(keyCol), pmod(col(groupCol), col("_k")))))
            .drop("_hk", "_bn", "_k")
        (rekeyed, stats(hot.table))
      case None =>
        // unbounded over-cap key set: windowed rekeying, lazy stats arm
        val rekeyed = df
          .withColumn("_k",
            subBlocks(count(lit(1)).over(Window.partitionBy(col(keyCol)))))
          .withColumn(keyCol,
            when(col("_k") <= 1, col(keyCol))
              .otherwise(xxhash64(col(keyCol), pmod(col(groupCol), col("_k")))))
          .drop("_k")
        (rekeyed, stats(graft.ops.HotKeys.overCap(df, keyCol, cap)))
    }
  }

  /** Candidate pairs from a blocked table: self-join within block key with
    * a strict ordering predicate, deduped across key families.
    *
    * Scale notes: the join shuffles both sides on `keyCol` (sort-merge or
    * shuffled-hash chosen by Catalyst/AQE; AQE skew-join splits oversized
    * partitions). `dropDuplicates` over (left_id, right_id) is the standard
    * LSH pair-dedup and shuffles once on the pair id — unavoidable for
    * exact dedup and linear in candidate count, not corpus size. That
    * shuffle is an explicit repartition to the session's shuffle-partition
    * count: pair rows are slim, so AQE would coalesce an ordinary exchange
    * to one partition and run the dedup and everything fused after it
    * (payload joins, scoring) as a single task. The dedup aggregate reuses
    * the repartitioning, so no second exchange appears (plan-asserted). */
  def candidatePairs(blocked: DataFrame, keyCol: String, idCol: String,
      payloadCols: Seq[String]): DataFrame = {
    val cols = (Seq(idCol) ++ payloadCols)
    val l = blocked.select((keyCol +: cols).map(col): _*)
      .toDF((keyCol +: cols.map("l_" + _)): _*)
    val r = blocked.select((keyCol +: cols).map(col): _*)
      .toDF((keyCol +: cols.map("r_" + _)): _*)
    l.join(r, Seq(keyCol))
      .where(col("l_" + idCol) < col("r_" + idCol))
      .repartition(blocked.sparkSession.sessionState.conf.numShufflePartitions,
        col("l_" + idCol), col("r_" + idCol))
      .dropDuplicates("l_" + idCol, "r_" + idCol)
  }
}
