package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Structured Streaming ER ingest (the reference is batch-only; this is
 * the rebuild's streaming twin of the batch match stage — SURVEY.md
 * §2.9): a stream of new pages scored against a static pre-blocked
 * corpus, with the candidate-pair dedup bounded by a watermark.
 * `app/StreamingIngestApp` drives it from a file source.
 *
 * Scale notes: the only state is the watermark-bounded (l_id, r_id)
 * dedup — ids, not payloads — so the state store stays proportional to
 * pairs seen within the horizon, which is the only sustainable shape at
 * a 10^12-event design point.
 */
object Streaming {

  /** Streaming ER ingest: score a STREAM of newly-crawled pages against a
    * STATIC pre-blocked corpus — the incremental-matching shape of a
    * production linkage system (the batch pipeline re-clusters; the stream
    * answers "which known entity does this new page match?" at ingest
    * latency).
    *
    * Spark-first shape: a stream-static equi-join on blocking keys.
    *  - Corpus side (static): `ERPipeline.extract` + `ERPipeline.block`
    *    run ONCE batch-side; pass the result in. Slim (block_key, id)
    *    rows join; payloads attach by a second static id-join.
    *  - Stream side: extraction and `ERPipeline.blockKeys` — the one key
    *    formula `ERPipeline.block` also uses — are pure per-row column
    *    expressions, so they run incrementally with no state. The corpus
    *    DF-stoplist CANNOT be recomputed on a stream (it is an aggregate),
    *    so pass `ERPipeline.tokenStoplist(corpusExtracted)` — the SAME
    *    list `ERPipeline.block` used. A mismatched stoplist makes the
    *    stream's band keys silently stop colliding with the corpus's
    *    (fuzzy recall collapses to exact-fingerprint matches only); token
    *    DF drifts slowly, so the corpus-derived list is the right operating
    *    point between corpus rebuilds.
    *  - A candidate pair surfaces once per shared band; the (l_id, r_id)
    *    dedup is stateful on a stream, so it is watermark-bounded
    *    (`dropDuplicatesWithinWatermark`, 1-hour lateness) — state holds
    *    only pairs seen within that horizon, per the 10^12-event design
    *    rule.
    *  - Hot-block discipline for the static side: the batch path splits
    *    oversized blocks by re-keying sub-blocks
    *    (Blocking.splitOversizedBlocks) — that is NOT available here: the
    *    stream side computes its block keys independently, so a re-keyed
    *    corpus sub-block would never collide with a streamed page's key
    *    again. Instead the corpus keeps its keys and is capped at
    *    `ERPipeline.PairCapPerBlock` rows per block (TopK, lowest ids
    *    win), bounding the fan-out of a degenerate hot key (e.g. an empty
    *    post-stoplist token set) per streamed page. The cap runs once, at
    *    plan build; capping an already-capped corpus finds no hot key and
    *    passes it through untouched.
    *
    * Pass `corpusBlocked` materialized (graft.io.Materialize or
    * snapshot-read): the static side is re-evaluated every micro-batch
    * otherwise, and the cap rejects a non-deterministic plan.
    *
    * Returns (append-mode matches (ts, l_id = stream page, r_id = corpus
    * page, urls, score) at or above `ERPipeline.ScoreThreshold`,
    * static-side drop stats (block_key, n_total, n_dropped) — one row per
    * capped corpus block; callers sink it next to the batch pipeline's
    * cap_drops, so no drop is silent). */
  def streamingMatches(newPages: DataFrame, corpusExtracted: DataFrame,
      corpusBlocked: DataFrame, stopTokens: Seq[String])
      : (DataFrame, DataFrame) = {
    import graft.pipeline.ERPipeline

    val ex = ERPipeline.extract(
      newPages.select("ts", "url", "text"), carryCols = Seq("ts"))
    // The STREAM side carries its payload through (a micro-batch is tiny —
    // ingest-rate-sized); a payload re-attach by id would be a
    // stream-stream self-join, which is the wrong tool here. The CORPUS
    // side — the at-scale table — joins slim and attaches payload by a
    // static id-join after the dedup.
    val streamBlocked = ERPipeline.blockKeys(ex, stopTokens)
      .select(col("ts"), col("block_key"), col("id").as("l_id"),
        col("url").as("l_url"), col("norm_title").as("l_norm_title"),
        col("tokens").as("l_tokens"), col("model_tokens").as("l_model_tokens"))

    // Static side joins slim AND block-capped: a degenerate hot block key
    // must not fan every streamed page out to an unbounded corpus slice
    // at ingest latency.
    val (capped, drops) = graft.ops.TopK.perKeyWithDrops(
      corpusBlocked.select(col("block_key"), col("id")), col("block_key"),
      "block_key", Seq(col("id")), ERPipeline.PairCapPerBlock)
    val corpusSlim = capped.withColumnRenamed("id", "r_id")
    val pairs = streamBlocked.join(corpusSlim, Seq("block_key"))
      .where(col("l_id") =!= col("r_id"))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("l_id", "r_id")
    val rPay = corpusExtracted.select(col("id").as("r_id"),
      col("url").as("r_url"), col("norm_title").as("r_norm_title"),
      col("tokens").as("r_tokens"), col("model_tokens").as("r_model_tokens"))
    // SAME weights, R6 model-token guard and pruning as the batch scorer —
    // one formula, one source (ERPipeline.pairSims)
    val sims = ERPipeline.pairSims(ERPipeline.Config())
    val matches = pairs
      .join(rPay, Seq("r_id"))
      .withColumn("score", sims.score)
      .where(col("score") >= ERPipeline.ScoreThreshold)
      .select(col("ts"), col("l_id"), col("r_id"), col("l_url"), col("r_url"),
        round(col("score"), 6).as("score"))
    (matches, drops)
  }
}
