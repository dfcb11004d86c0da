package graft.text

import graft.functions.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Gopher-style repetition quality signals (Rae et al. 2021, §A1.1):
 * documents dominated by a few repeated n-grams are boilerplate / spam
 * and get filtered before training. Per document:
 *
 *   n_tokens, n_distinct_tokens  — word-level duplicate mass
 *   top1/top2/top3_count         — occurrences of the MOST FREQUENT
 *                                  uni/bi/tri-gram
 *
 * All counts are integers (bit-exact cross-engine); the float "fraction
 * of tokens in the top n-gram" filter is a trivial division the caller
 * does behind the filter threshold (`repetitionScore`), kept OUT of the
 * oracle-checked surface.
 *
 * Shape at 100 TB: one explode of 1+2+3-grams, then two aggregations —
 * (doc_id, gram) partial-counts collapse duplicates MAP-SIDE before the
 * only wide exchange, and the per-doc rollup rides the same hash
 * partitioning prefix (doc_id is a prefix of (doc_id, gram), so AQE
 * coalesces rather than re-shuffles in practice). The exchange carries
 * (doc_id, gram, cnt) — gram strings are ≤ 3 words; the pure-scale
 * variant would key on xxhash64(gram) (collisions only ever MERGE two
 * gram counts, inflating a max — harmless for a filter, excluded from
 * the oracle path for exactness).
 */
object Repetition {

  /** Every uni-, bi- and trigram of the tokenized text, duplicates kept;
    * empty for null text or a doc with no tokens. */
  private val gramsUdf = udf { (s: String) =>
    val toks = GraftFunctions.tokensJvm(s)
    (1 to 3).flatMap(GraftFunctions.wordGrams(toks, _))
  }

  /** Per-doc repetition signal table — ONE row per input doc:
    * (doc_id, n_tokens, n_distinct_tokens, top1_count, top2_count,
    * top3_count). Docs shorter than n tokens report top<n>_count = 0;
    * docs with no tokens at all (e.g. non-Latin scripts under this
    * tokenizer) report all-zero signals rather than vanishing — callers
    * gate on other evidence for those, they don't silently lose them. */
  def signals(df: DataFrame, docId: Column, text: Column): DataFrame = {
    // one row per (doc, gram occurrence), all three orders at once;
    // order is recoverable from the gram itself (spaces), so the
    // exploded row stays a slim pair
    val grams = df.select(docId.as("doc_id"), explode(gramsUdf(text)).as("gram"))
    val counted = grams
      .groupBy(col("doc_id"), col("gram"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("n", size(split(col("gram"), " ", -1)))
    val z = lit(0L)
    val agg = counted.groupBy(col("doc_id")).agg(
      coalesce(sum(when(col("n") === 1, col("cnt"))), z).as("n_tokens"),
      coalesce(count(when(col("n") === 1, lit(1))), z)
        .as("n_distinct_tokens"),
      coalesce(max(when(col("n") === 1, col("cnt"))), z).as("top1_count"),
      coalesce(max(when(col("n") === 2, col("cnt"))), z).as("top2_count"),
      coalesce(max(when(col("n") === 3, col("cnt"))), z).as("top3_count"))
    // re-attach token-less docs (explode produced no rows for them)
    df.select(docId.as("doc_id")).join(agg, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_tokens", "n_distinct_tokens",
        "top1_count", "top2_count", "top3_count"))
  }

  /** Float repetition score for filtering (NOT oracle-checked: float
    * division): max over n of top-n-gram token mass fraction. 0 for
    * empty docs; 1.0 means the doc is one n-gram repeated. */
  def repetitionScore(sig: DataFrame): DataFrame = {
    val nt = greatest(col("n_tokens"), lit(1L)).cast(DoubleType)
    sig.withColumn("rep_score",
      greatest(
        col("top1_count").cast(DoubleType) / nt,
        col("top2_count").cast(DoubleType) * 2.0 / nt,
        col("top3_count").cast(DoubleType) * 3.0 / nt))
  }
}
