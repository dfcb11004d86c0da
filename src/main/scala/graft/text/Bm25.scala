package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.functions.GraftFunctions

/**
 * BM25 ranked retrieval (Robertson/Okapi, Lucene-style idf) over a
 * document corpus — batch search-quality scoring for training-data
 * curation (query-based subcorpus selection, contamination checks).
 *
 * Topology, in corpus-size order:
 *  - exploded tokens are pruned to QUERY terms by a broadcast semi-join
 *    BEFORE the postings aggregation, so the one shuffle in the plan
 *    carries |matching postings| partials — never the corpus vocabulary;
 *  - per-term document frequencies and the (n_docs, avgdl) stats row are
 *    tiny aggregates, broadcast back;
 *  - per-query top-k via row_number over per-query partitions of the
 *    scored (query, doc) pairs.
 *
 * Cross-engine exactness (the DuckDB oracle re-derives the full chain):
 * every arithmetic step is written in the same association order in both
 * engines; per-term scores are rounded to a 9-decimal grid and summed as
 * DECIMAL — an order-independent exact sum, so groupBy order can never
 * flip a rank. Ranking compares the exact decimal, tie-broken by doc_id.
 * The one transcendental (ln in the idf) agrees between the JVM and
 * libm to well below the grid everywhere the driver runs.
 */
object Bm25 {

  /** Okapi BM25 with k1 = 1.2 and b = 0.75, the constants the DuckDB
    * oracle fixes.
    * @param queries (query_id: long, term: string) rows — pre-tokenized.
    * @return (query_id, doc_id, score, rank) with rank 1..k per query. */
  def topK(docs: DataFrame, id: Column, text: Column, queries: DataFrame,
      k: Int): DataFrame = {
    val k1 = 1.2
    val b = 0.75
    // Deliberately the DECLARATIVE tokenizer: for bare tokenization the
    // native split/filter chain operates on UTF8String in place, while a
    // UDF pays String conversions both ways (measured slower). The JVM
    // twin (GraftFunctions.tokensJvm) only wins where it FUSES more work
    // per row — shingling, gram building.
    val toks = docs.select(id.as("doc_id"),
      GraftFunctions.tokens(text).as("toks"))
    val withDl = toks.select(col("doc_id"), size(col("toks")).as("dl"),
      col("toks"))
    val stats = withDl.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("sum_dl"))

    val qterms = queries.select(col("query_id"), col("term"))
    // prune at the narrowest point: exploded (doc_id, dl, term) rows drop
    // every non-query term before the tf aggregation, so the groupBy
    // exchange is proportional to matching postings, not corpus vocabulary
    val qpost = withDl
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .join(broadcast(qterms.select("term").distinct()), Seq("term"), "left_semi")
      .groupBy("doc_id", "term", "dl").agg(count(lit(1)).as("tf"))
    // qpost is grouped on (doc_id, term, dl) with dl functionally
    // dependent on doc_id, so rows are unique per (doc_id, term): a plain
    // count IS the distinct-document frequency — no countDistinct expand
    val dft = qpost.groupBy("term")
      .agg(count(lit(1)).as("dft"))

    val sterm = qpost
      .join(broadcast(dft), Seq("term"))
      .join(broadcast(qterms), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", col("sum_dl").cast(DoubleType) / col("n_docs"))
      .withColumn("ratio",
        (col("n_docs") - col("dft") + lit(0.5)) / (col("dft") + lit(0.5)))
      .withColumn("idf", log(lit(1.0) + col("ratio")))
      .withColumn("tfnum", col("tf") * (lit(k1) + lit(1.0)))
      .withColumn("denom", col("tf") +
        lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl")))
      .withColumn("s_dec",
        round(col("idf") * col("tfnum") / col("denom"), 9)
          .cast(DecimalType(28, 9)))

    val scored = sterm.groupBy("query_id", "doc_id")
      .agg(sum(col("s_dec")).as("score_dec"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_dec").desc, col("doc_id").asc)
    scored.withColumn("rank", row_number().over(w).cast(LongType))
      .where(col("rank") <= k)
      .select(col("query_id"), col("doc_id"),
        round(col("score_dec").cast(DoubleType), 6).as("score"), col("rank"))
  }
}
