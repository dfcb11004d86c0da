package graft.text

import graft.functions.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Train/eval decontamination: flag training documents that share any
 * word n-gram with a held-out benchmark set (the GPT-3/PaLM-style
 * n-gram-overlap rule). A training corpus that leaks its eval set
 * inflates every downstream benchmark, so this runs as a first-class
 * pipeline stage next to dedup.
 *
 * Shape at 100 TB: the eval side is benchmark-sized (millions of
 * n-grams at most), so it is the BROADCAST side — the corpus never
 * shuffles. The train side explodes per-doc DISTINCT n-grams, joins
 * against the broadcast set, and partially aggregates (doc_id, count)
 * map-side, so the only exchange carries one slim row per flagged doc
 * per partition. Nothing in the plan is proportional to corpus bytes
 * except the scan itself.
 *
 * The join key is the n-gram STRING (the oracle-checked path — DuckDB
 * re-derives the same grams).
 */
object Decontaminate {

  /** DISTINCT space-joined n-grams of the tokenized text, first
    * occurrence first (GraftFunctions.wordGrams over tokensJvm). */
  private def distinctGramsUdf(n: Int) = udf { (s: String) =>
    GraftFunctions.wordGrams(GraftFunctions.tokensJvm(s), n).distinct
  }

  /** Distinct n-grams per doc as (doc_id, ngram) rows. */
  private def docGrams(df: DataFrame, docId: Column, text: Column,
      n: Int): DataFrame =
    df.select(docId.as("doc_id"),
      explode(distinctGramsUdf(n)(text)).as("ngram"))

  /** Flagged training docs: (doc_id, n_overlap) where n_overlap counts
    * DISTINCT n-grams shared with the eval set. Only contaminated docs
    * appear (inner join); anti-join the result against the corpus to
    * get the clean set. */
  def flagged(train: DataFrame, docId: Column, text: Column,
      eval: DataFrame, evalText: Column, n: Int): DataFrame = {
    val evalGrams = eval
      .select(explode(distinctGramsUdf(n)(evalText)).as("ngram"))
      .distinct()
    docGrams(train, docId, text, n)
      .join(broadcast(evalGrams), "ngram")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_overlap"))
  }
}
