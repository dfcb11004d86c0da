package graft.eval

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._

/**
 * Pairwise evaluation (SURVEY.md §2.7 A2, §3.3): confusion counts and
 * P/R/F1 from (gold, pred) pair labels — the same computation that the
 * reference's committed eval logs encode in their `result` column
 * (/root/reference/datamodel/test11updaetmore.tsv:1).
 */
object Metrics {

  /** TP/FP/TN/FN classification of one (gold, pred) pair. */
  def resultClass(gold: Column, pred: Column): Column =
    when(gold === 1 && pred === 1, "TP")
      .when(gold === 0 && pred === 1, "FP")
      .when(gold === 1 && pred === 0, "FN")
      .otherwise("TN")

  /** P/R/F1 columns from tp/fp/fn count columns — the ONE formula shared
    * by the global prf1, the clustering evaluation and the threshold
    * sweep (a drifting duplicate here would let two evaluation surfaces
    * disagree silently). */
  private def withPrf1Cols(counts: DataFrame): DataFrame =
    counts
      .withColumn("precision",
        when(col("tp") + col("fp") === 0, 0.0)
          .otherwise(col("tp") / (col("tp") + col("fp"))))
      .withColumn("recall",
        when(col("tp") + col("fn") === 0, 0.0)
          .otherwise(col("tp") / (col("tp") + col("fn"))))
      .withColumn("f1",
        when(col("precision") + col("recall") === 0.0, 0.0)
          .otherwise(lit(2.0) * col("precision") * col("recall") /
            (col("precision") + col("recall"))))

  /** One-row DataFrame: tp, fp, fn, tn, precision, recall, f1.
    * Single partial-aggregable pass (map-side combine; one shuffle of 4
    * longs — scale-free). */
  def prf1(pairs: DataFrame): DataFrame = {
    val g = col("gold"); val p = col("pred")
    // coalesce: sum over ZERO pairs is NULL — an empty label set must read
    // as all-zero counts (P=R=F1=0), not a row of NULLs
    withPrf1Cols(pairs.agg(
      coalesce(sum(when(g === 1 && p === 1, 1L).otherwise(0L)), lit(0L)).as("tp"),
      coalesce(sum(when(g === 0 && p === 1, 1L).otherwise(0L)), lit(0L)).as("fp"),
      coalesce(sum(when(g === 1 && p === 0, 1L).otherwise(0L)), lit(0L)).as("fn"),
      coalesce(sum(when(g === 0 && p === 0, 1L).otherwise(0L)), lit(0L)).as("tn")))
  }

  /** Threshold sweep over an eval log's `probability` column (SURVEY.md
    * §3.3; the reference's committed logs carry exactly this column —
    * /root/reference/datamodel/test11updaetmore.tsv:1): one row per
    * threshold with the confusion counts and P/R/F1 of pred :=
    * probability >= threshold.
    *
    * One pass at scale: each (gold, probability) row — two narrow columns,
    * payloads never travel — fans out once per threshold, then a single
    * partial-aggregable groupBy(threshold) shuffles 4 longs per threshold
    * (map-side combine does the heavy counting; the shuffle is
    * |thresholds| rows, independent of log size). */
  def prAtThresholds(log: DataFrame, thresholds: Seq[Double]): DataFrame = {
    require(thresholds.nonEmpty, "prAtThresholds needs at least one threshold")
    val g = col("gold"); val p = col("prob")
    val pred = (p >= col("threshold")).cast("int")
    withPrf1Cols(
      log.select(col("gold").cast("int").as("gold"),
          col("probability").cast("double").as("prob"))
        .withColumn("threshold", explode(array(thresholds.map(lit): _*)))
        .groupBy(col("threshold"))
        .agg(
          coalesce(sum(when(g === 1 && pred === 1, 1L).otherwise(0L)), lit(0L)).as("tp"),
          coalesce(sum(when(g === 0 && pred === 1, 1L).otherwise(0L)), lit(0L)).as("fp"),
          coalesce(sum(when(g === 1 && pred === 0, 1L).otherwise(0L)), lit(0L)).as("fn"),
          coalesce(sum(when(g === 0 && pred === 0, 1L).otherwise(0L)), lit(0L)).as("tn")))
      .orderBy(col("threshold"))
  }

  /** S6: eval-log sink/scan in the reference's TSV format
    * (gold, pred, result, probability, text_left, text_right —
    * /root/reference/datamodel/test11updaetmore.tsv:1). */
  def writeEvalLog(df: DataFrame, path: String): Unit =
    df.select(col("gold"), col("pred"),
        resultClass(col("gold"), col("pred")).as("result"),
        col("probability"), col("text_left"), col("text_right"))
      .coalesce(1).write.mode("overwrite")
      .option("header", true).option("sep", "\t").csv(path)

  /** Explicit schema (no inferSchema second pass over the file). */
  private val evalLogSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "gold INT, pred INT, result STRING, probability DOUBLE, " +
      "text_left STRING, text_right STRING")

  def readEvalLog(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.option("header", true).option("sep", "\t")
      .schema(evalLogSchema).csv(path)
}
