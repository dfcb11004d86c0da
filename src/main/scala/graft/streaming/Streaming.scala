package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/**
 * Structured Streaming operators for continuous ingestion (the reference
 * is batch-only; these are the rebuild's streaming twins of the batch
 * pipeline — SURVEY.md §2.9):
 *
 *  - watermarked event-time windowed aggregation (the batch
 *    `q9_events_daily` as an incremental query)
 *  - streaming exact dedup (dropDuplicatesWithinWatermark — per-key,
 *    state bounded by the watermark horizon, not corpus size)
 *  - custom keyed state via flatMapGroupsWithState: incremental
 *    per-entity profiles for ER ingestion (count, first/last seen,
 *    token-set fingerprint of the latest title)
 *
 * Scale notes: every operator keys its state on a bounded-cardinality
 * column and carries ids/hashes, not payloads; state stores stay
 * proportional to ACTIVE keys within the watermark, which is the only
 * sustainable shape at a 10^12-event design point.
 */
object Streaming {

  /** Event-time daily aggregation with a late-data watermark. `events`
    * must be a streaming DataFrame with (ts TIMESTAMP, event_type, value).
    * TIMESTAMP_NTZ parquet sources must cast ts first (Spark watermarks
    * need LTZ timestamps). */
  def dailyEventAgg(events: DataFrame, lateness: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))

  /** Streaming exact dedup on the KEY alone: keeps the first arrival per
    * key and drops re-ingests even when they carry a different event
    * timestamp (the common replay case). `dropDuplicatesWithinWatermark`
    * bounds state by the watermark horizon — a key's state is evicted once
    * the watermark passes its last-seen event time + lateness, so state is
    * proportional to keys ACTIVE within the horizon, not the corpus. */
  def streamingDedup(docs: DataFrame, tsCol: String, keyCols: Seq[String],
      lateness: String = "1 hour"): DataFrame =
    docs.withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark(keyCols)

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

  /** Incremental per-entity ingestion profile (ER streaming state). */
  case class PageEvent(entity_key: Long, url: String, title: String,
      ts: java.sql.Timestamp)
  case class EntityProfile(entity_key: Long, n_pages: Long,
      first_seen: java.sql.Timestamp, last_seen: java.sql.Timestamp,
      latest_title: String, title_fp: Long)

  /** flatMapGroupsWithState updater: emits the refreshed profile on every
    * batch that touches the key. State: one small row per active entity,
    * evicted by an EVENT-TIME timeout `stateTtl` after the entity's last
    * event — so the store tracks entities active within the watermark
    * horizon, never the total distinct-key population (the only shape that
    * survives a 10^12-event design point). A re-appearing entity simply
    * starts a fresh profile. */
  def entityProfiles(pages: Dataset[PageEvent], lateness: String = "1 hour",
      stateTtl: String = "1 hour"): Dataset[EntityProfile] = {
    import pages.sparkSession.implicits._
    pages.withWatermark("ts", lateness)
      .groupByKey(_.entity_key)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(updateProfile(stateTtl))
  }

  private[streaming] def updateProfile(stateTtl: String)(
      key: Long, events: Iterator[PageEvent],
      state: GroupState[EntityProfile]): Iterator[EntityProfile] = {
    if (state.hasTimedOut) {
      // watermark passed last_seen + ttl: evict, emit nothing
      state.remove()
      return Iterator.empty
    }
    val evs = events.toSeq.sortBy(_.ts.getTime)
    if (evs.isEmpty) Iterator.empty
    else {
      val prev = state.getOption
      val latest = evs.last
      val fp = {
        // order-insensitive token-set fingerprint (FNV-1a over sorted toks)
        val toks = latest.title.toLowerCase.split("[^a-z0-9]+")
          .filter(_.nonEmpty).distinct.sorted
        var h = -3750763034362895579L
        toks.foreach { t =>
          var i = 0
          while (i < t.length) { h ^= t.charAt(i); h *= 1099511628211L; i += 1 }
          h ^= ' '; h *= 1099511628211L
        }
        h
      }
      val next = EntityProfile(
        entity_key = key,
        n_pages = prev.map(_.n_pages).getOrElse(0L) + evs.size,
        first_seen = prev.map(_.first_seen).getOrElse(evs.head.ts),
        last_seen = latest.ts,
        latest_title = latest.title,
        title_fp = fp)
      state.update(next)
      // timeout timestamp must exceed the current watermark; late events
      // (ts below watermark) still refresh the ttl from the watermark
      state.setTimeoutTimestamp(
        math.max(latest.ts.getTime, state.getCurrentWatermarkMs() + 1),
        stateTtl)
      Iterator.single(next)
    }
  }
}
