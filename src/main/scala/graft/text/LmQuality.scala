package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/**
 * Perplexity-style LM quality scoring — the CCNet-family filter (Wenzek
 * et al., "CCNet: Extracting High Quality Monolingual Datasets from Web
 * Crawl Data", LREC 2020): score each document by the average
 * log-probability of its token bigrams under an add-k-smoothed bigram
 * model trained on the corpus itself. Fluent prose scores high;
 * keyword-stuffed / boilerplate / lorem-ipsum pages score low. Unlike
 * the Gopher-style surface signals ([[Repetition]]), this is a
 * distributional signal: it needs corpus-level statistics, not just the
 * row.
 *
 *   P(b|a) = (C(a b) + k) / (C(a) + k·V)        V = corpus vocab size,
 *                                               k = 0.5 (the oracle's)
 *   score(doc) = mean over its bigrams of ln P(b|a)
 *
 * Scale shape: two corpus aggregations (unigram + bigram counts, both
 * map-side partial — the classic word-count shape), then the per-doc
 * bigram stream joins the two count tables on their hash keys and
 * re-aggregates by doc id. Every shuffle carries (token(s), count) or
 * (id, 9-dec score) slim rows; documents themselves never reshuffle.
 * V is the one driver-side scalar (same pattern as PageRank's n and
 * IVF's Lloyd loop).
 *
 * Determinism: each bigram's ln-prob snaps to a 9-decimal grid and sums
 * as DECIMAL (order-independent — same discipline as [[Bm25]], whose
 * cross-engine parity validated the round-then-decimal-sum pattern for
 * ln/division chains); the final mean divides the exact decimal sum by
 * the exact bigram count.
 */
object LmQuality {

  /** The corpus is tokenized three times by design (unigram-count pass,
    * bigram-count pass, scoring probe): tokenization is a narrow codegen'd
    * map, and re-running it is the 100-TB-cheap choice vs materializing
    * the per-OCCURRENCE bigram stream (which is larger than the corpus
    * itself). Only the slim MODEL tables are ever materialized or
    * shuffled.
    *
    * @return (id, n_bigrams, avg_ll): docs with < 2 tokens get
    *         n_bigrams = 0 and a null score (no evidence, not bad
    *         evidence — callers gate on n_bigrams). */
  def bigramScores(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val addK = 0.5
    val toks = graft.functions.GraftFunctions.tokens(text)
    val base = docs.select(id.as("lm_id"), toks.as("toks"))
    val nTok = size(col("toks"))
    // bigram stream: zip the array with its own tail (narrow, codegen'd),
    // carrying the first token OUT of the zip so the unigram join below
    // is a plain column equi-join — no per-occurrence re-parsing
    val bigrams = base.select(col("lm_id"),
      explode(zip_with(
        slice(col("toks"), lit(1), greatest(lit(0), nTok - 1)),
        slice(col("toks"), lit(2), greatest(lit(0), nTok - 1)),
        (a, b) => struct(a.as("t1"), concat(a, lit(" "), b).as("bg")))).as("e"))
      .select(col("lm_id"), col("e.t1").as("t1"), col("e.bg").as("bg"))

    // corpus model: the two word-count aggregations. The unigram table is
    // materialized once — V (the one driver-side scalar) and the scoring
    // join both read the materialized slim rows, not a re-tokenized corpus.
    val uni = graft.io.Materialize(base.select(explode(col("toks")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("cu")))
    val big = bigrams.groupBy(col("bg")).agg(count(lit(1)).as("cb"))
    val v = uni.count() // vocab size

    val scored = bigrams
      .join(big, "bg")
      .join(uni, col("t1") === col("t"))
      .select(col("lm_id"),
        round(log(
          (col("cb").cast(DoubleType) + lit(addK)) /
            (col("cu").cast(DoubleType) + lit(addK * v))), 9)
          .cast(DecimalType(28, 9)).as("lp"))
      .groupBy(col("lm_id"))
      .agg(sum(col("lp")).as("s"), count(lit(1)).as("n_bigrams"))
      .select(col("lm_id"), col("n_bigrams"),
        round(col("s").cast(DoubleType) / col("n_bigrams"), 6).as("avg_ll"))

    base.select(col("lm_id")).join(scored, Seq("lm_id"), "left")
      .select(col("lm_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("avg_ll"))
  }
}
