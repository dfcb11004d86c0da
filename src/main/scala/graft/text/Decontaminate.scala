package graft.text

import graft.functions.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

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

  /** Space-joined word n-grams of a token array; empty below n tokens.
    * (`sequence(1, k)` with k < 1 would DESCEND, hence the guard.)
    *
    * PERF: `toks` is bound ONCE via a lambda variable (`transform` over a
    * 1-element array — same trick as Dedup.wordShingles). Passing a
    * tokenizer expression directly would otherwise be re-evaluated by
    * Catalyst at `size` and at EVERY slice element — measured 10.4 s vs
    * 1.3 s for doc_repetition at the sf0.1 bench corpus. */
  def wordNgrams(toks: Column, n: Int): Column = {
    require(n >= 1, s"ngram order must be >= 1, got $n")
    element_at(transform(array(toks), ts =>
      when(size(ts) >= n,
        transform(sequence(lit(1), size(ts) - (n - 1)),
          i => array_join(slice(ts, i, lit(n)), " ")))
        .otherwise(array().cast(ArrayType(StringType)))), 1)
  }

  /** DISTINCT space-joined n-grams of the tokenized text as one compact
    * JVM function. Same gram strings as
    * `array_distinct(wordNgrams(tokens(text), n))`: the tokenizer twin
    * (GraftFunctions.tokensJvm), then sliding windows of n tokens
    * mkString(" ") (toks carry no nulls — the tokenizer filters empties),
    * first-occurrence dedup. WHY: Catalyst evaluates the nested
    * transform/slice/array_join lambdas interpreted (CodegenFallback),
    * allocating per gram element — the dominant per-row cost of the
    * decontamination scan (guide §1.2 step 2). `wordNgrams` stays the
    * declarative primitive for composition inside other lambdas
    * (Repetition.signals binds it to a lambda variable, where a UDF
    * cannot be applied). */
  private def distinctGramsUdf(n: Int) = udf { (s: String) =>
    val arr = GraftFunctions.tokensJvm(s)
    if (arr == null || arr.length < n) Array.empty[String]
    else {
      val out = new java.util.LinkedHashSet[String]()
      var i = 0
      val last = arr.length - n
      while (i <= last) {
        val sb = new java.lang.StringBuilder()
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(arr(i + j))
          j += 1
        }
        out.add(sb.toString)
        i += 1
      }
      out.toArray(new Array[String](out.size))
    }
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
