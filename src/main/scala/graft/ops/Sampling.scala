package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType}

/**
 * Deterministic (consistent) hash sampling — the training-data way to cut
 * a corpus down, as opposed to `df.sample`/`sampleBy`:
 *
 *  - reproducible: membership is a pure function of the row key, not of
 *    partition-local RNG state, so task retries, repartitioning, AQE
 *    re-plans and engine changes (the DuckDB oracle) all agree row-by-row;
 *  - consistent across tables: the same key draws the same unit value
 *    everywhere, so a 10% sample of `documents` joins losslessly with a
 *    10% sample of any table keyed by the same id — sampling commutes
 *    with the join (Broder-style consistent sampling);
 *  - a narrow, codegen'd filter: no shuffle, no driver round-trip for
 *    per-stratum counts (sampleBy collects stratum fractions eagerly).
 *
 * The unit value is a 60-bit md5 fingerprint of the key mapped to [0,1)
 * — uniform, engine-portable (both engines round h/2^60 under IEEE-754
 * to the same double), and already the fingerprint primitive used by
 * `doc_fingerprint`.
 */
object Sampling {

  /** Uniform, deterministic unit value in [0,1) derived from `key`. */
  def hashUnit(key: Column): Column =
    conv(substring(md5(key.cast(StringType)), 1, 15), 16, 10)
      .cast(LongType).cast(DoubleType) / lit(1152921504606846976.0) // 2^60

  /** Keep, deterministically by key, about the listed fraction of each
    * stratum's rows and `defaultRate` of every unlisted stratum's
    * (`rates = Nil` is the flat sample).
    * Rates compile to a CASE chain — no join, no driver-side stratum
    * enumeration. */
  def stratifiedSampleByKey(df: DataFrame, stratum: Column, key: Column,
      rates: Seq[(String, Double)], defaultRate: Double): DataFrame = {
    val rate = rates.foldRight(lit(defaultRate): Column) {
      case ((s, r), acc) => when(stratum === lit(s), lit(r)).otherwise(acc)
    }
    df.where(hashUnit(key) < rate)
  }
}
