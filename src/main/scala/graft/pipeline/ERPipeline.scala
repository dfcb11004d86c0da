package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.block.Blocking
import graft.cluster.ConnectedComponents
import graft.eval.Metrics
import graft.functions.GraftFunctions
import graft.io.Materialize
import graft.norm.Normalize
import graft.score.Similarity

/**
 * End-to-end entity-resolution pipeline (north_rule):
 *
 *   pages(url, warc_ts, html, text, lang)
 *     → extract canonical text          (reference-parity extractor, §2.4)
 *     → blocking keys                   (token fingerprint ∪ MinHash-LSH)
 *     → candidate pairs                 (blocked self-join, capped, deduped)
 *     → pairwise scoring                (Jaro-Winkler + Levenshtein + token
 *                                        cosine/Jaccard; model-token guard)
 *     → threshold → edges → connected components (large-star/small-star)
 *     → clusters(url, component) + metrics
 *
 * Scale design notes (100 TB / 10^12 docs):
 *  - Extraction + key-gen are narrow maps (whole-stage codegen; only the
 *    COL/VAL parse itself is a JVM function).
 *  - The candidate join shuffles on block_key; AQE skew-join plus the
 *    per-block pair cap bound the quadratic blowup of mega-blocks, with
 *    drops surfaced in `capDrops` (never silent).
 *  - Pair dedup + CC shuffle on 64-bit ids, never on full strings.
 *  - Every stage can be snapshotted via graft.io.Snapshots for resume.
 */
object ERPipeline {

  /** Score weights (jw/lev are per-char string similarities, cos/jac
    * token-set measures). jw + lev's combined weight is also the
    * prune-bound headroom in scorePairs — keep them in sync by
    * construction. */
  private val wJw = 0.25
  private val wLev = 0.15
  private val wCos = 0.30
  private val wJac = 0.30

  // Band geometry: same-entity pages have identical normalized token sets
  // (sig collision P=1 in every band), so recall stays 1.0 while 8-row
  // bands suppress near-miss cross-entity collisions (P = j^8 per band —
  // j=0.75 token overlap → 0.10) that otherwise quadratically inflate
  // blocks on low-entropy corpora.
  private val MinhashBands = 8
  private val MinhashRows = 8

  /** Tokens present in more than this fraction of pages are excluded from
    * the LSH token set (never from scoring): ubiquitous tokens ("laptop",
    * "inch") raise the background Jaccard j_bg of random pairs, and LSH
    * contamination grows as n²·bands·j_bg^rows — measured 31M candidate
    * pairs for 180k pages without this. The high-DF set is tiny by
    * construction (≤ 1/MaxTokenDf tokens), so the driver-side collect is
    * bounded at any corpus size. */
  private val MaxTokenDf = 0.25

  /** Rows kept per block key: the batch scorer splits larger blocks into
    * sub-blocks of about this size, the streaming matcher caps its static
    * side at it. */
  private[graft] val PairCapPerBlock = 256

  /** Clustering threshold on the weighted pair score. */
  private[graft] val ScoreThreshold = 0.90

  /** @param payloadBroadcastMaxRows scorePairs broadcasts the payload side
    *   of its two id-joins up to this many extracted rows, and shuffle-
    *   joins beyond it.
    * @param pruneHeavySims PPJoin-family upper-bound pruning (Xiao et al.,
    *   WWW '08 prefix filtering, adapted to a weighted score): jw and lev
    *   are bounded by 1, so a pair with wJw + wLev + wCos·cos + wJac·jac <
    *   scoreThreshold can NEVER cluster regardless of its string
    *   similarities — the edit-distance loops (the O(|s|²) per-pair hot
    *   spot) are skipped for it and its jw/lev are reported as 0.0.
    *   Cluster output is bit-identical with pruning on or off (spec-pinned
    *   against the unpruned path); only the sub-threshold diagnostic
    *   columns differ. On LSH-blocked web corpora the cheap token measures
    *   disqualify the vast majority of candidates, cutting per-pair compute
    *   AND allocation traffic (the GC-bound serial fraction that caps
    *   multi-core scaling). */
  final case class Config(
      payloadBroadcastMaxRows: Long = 2_000_000L,
      pruneHeavySims: Boolean = true) {
    /** The fixed clustering threshold, for callers that count pairs at or
      * above it. */
    def scoreThreshold: Double = ScoreThreshold
  }

  /** Stage 1: canonical text per url (per-row invariant vs the reference
    * extractor — GraftFunctions.extractTitleUdf is the parity chain).
    * @param carryCols extra input columns to pass through unchanged (e.g.
    *   the event timestamp when extracting on a stream). */
  def extract(pages: DataFrame, carryCols: Seq[String] = Nil): DataFrame =
    pages.select(
      carryCols.map(col) ++ Seq(
      col("url"),
      xxhash64(col("url")).as("id"),
      GraftFunctions.extractTitleUdf(col("text")).as("canonical_text")): _*)
      .withColumn("norm_title", Normalize.canonicalTitle(col("canonical_text")))
      .withColumn("tokens", GraftFunctions.tokens(col("norm_title")))
      .withColumn("model_tokens", Normalize.modelTokens(col("norm_title")))
      .withColumn("token_fp", Blocking.tokenFingerprint(col("tokens")))

  /** High-DF token stoplist over an extracted corpus (two scale-free
    * jobs: agg + tiny collect). PUBLIC because every key-generation twin
    * of this pipeline — notably `Streaming.streamingMatches` — must use
    * the SAME stoplist as `block()` or its band keys silently stop
    * colliding with the corpus's. */
  def tokenStoplist(extracted: DataFrame,
      nRows: Option[Long] = None): Seq[String] = {
    val n = nRows.getOrElse(extracted.count())
    val maxDf = math.max(1L, (n * MaxTokenDf).toLong)
    extracted
      .select(explode(array_distinct(col("tokens"))).as("t"))
      .groupBy("t").agg(count(lit(1)).as("df"))
      .where(col("df") > maxDf)
      .select("t").collect().map(_.getString(0)).sorted.toSeq
  }

  /** Block keys of extracted rows under a given stoplist — one row per
    * (block_key, row), extracted columns carried through. Two key
    * families: the exact token-set fingerprint (recall = 1.0 for records
    * that normalize identically, immune to LSH geometry) plus MinHash-LSH
    * bands over the stoplisted tokens for fuzzy matches. The SINGLE key
    * formula for the batch blocker and the streaming twin
    * (`Streaming.streamingMatches`): a streamed page and a corpus page
    * meet only if their keys collide. */
  private[graft] def blockKeys(extracted: DataFrame, stop: Seq[String])
      : DataFrame = {
    val lshTokens =
      if (stop.isEmpty) col("tokens")
      else array_except(col("tokens"), array(stop.map(lit): _*))
    val lsh = Blocking.minhashBlocks(
      extracted.withColumn("lsh_tokens", lshTokens), col("lsh_tokens"),
      MinhashBands, MinhashRows).drop("lsh_tokens")
    lsh.unionByName(extracted.withColumn("block_key", col("token_fp")))
  }

  /** Stage 2: blocking keys over the corpus's own stoplist. No `cfg`
    * field affects blocking; the parameter keeps the stage signatures
    * uniform for their callers. */
  def block(extracted: DataFrame, cfg: Config,
      nRows: Option[Long] = None): DataFrame =
    blockKeys(extracted, tokenStoplist(extracted, nRows))

  /** Similarity columns + weighted score over `l_`/`r_`-prefixed payload
    * columns (l_norm_title, l_tokens, l_model_tokens / r_…). The SINGLE
    * source of the weights, the R6 preserve-specificity guard, and the
    * upper-bound pruning for BOTH the batch scorer and the streaming twin
    * (`Streaming.streamingMatches`) — duplicating this formula would let
    * the stream and the batch re-cluster disagree silently. */
  final case class PairSims(jw: Column, lev: Column, cos: Column,
      jac: Column, score: Column)

  def pairSims(cfg: Config): PairSims = {
    val jwRaw = Similarity.jaro_winkler(col("l_norm_title"), col("r_norm_title"))
    val levRaw = Similarity.levenshteinRatio(col("l_norm_title"), col("r_norm_title"))
    val cos = Similarity.tokenCosine(col("l_tokens"), col("r_tokens"))
    val jac = Similarity.jaccard(col("l_tokens"), col("r_tokens"))
    // Upper-bound prune (see Config.pruneHeavySims): evaluate the cheap
    // token-set measures first; run the edit-distance loops only when the
    // pair could still reach the clustering threshold with perfect string
    // scores (jw = lev = 1, their combined weight wJw + wLev). The bound
    // is DERIVED from the same weight constants as the score, so changing
    // the weights can never silently break prune soundness. `when`
    // short-circuits per row inside codegen.
    val reachable =
      lit(wJw + wLev) + lit(wCos) * cos + lit(wJac) * jac >=
        lit(ScoreThreshold)
    val jw = if (cfg.pruneHeavySims) when(reachable, jwRaw).otherwise(lit(0.0)) else jwRaw
    val lev = if (cfg.pruneHeavySims) when(reachable, levRaw).otherwise(lit(0.0)) else levRaw
    // R6 preserve-specificity guard: each side carrying a model-number
    // token the other lacks is strong evidence of distinct entities, even
    // when both also share one (a CPU part such as `13900h`).
    val l = col("l_model_tokens"); val r = col("r_model_tokens")
    val modelsDiffer =
      size(array_except(l, r)) > 0 && size(array_except(r, l)) > 0
    val raw = lit(wJw) * jw + lit(wLev) * lev + lit(wCos) * cos + lit(wJac) * jac
    PairSims(jw, lev, cos, jac,
      when(modelsDiffer, raw * 0.5).otherwise(raw))
  }

  /** Stage 3+4: candidate pairs + scores. Returns scored pairs plus the
    * oversized-block split stats (never silent).
    *
    * Shuffle discipline: the block self-join and pair dedup run on SLIM
    * rows (block_key, id, token_fp — 24 bytes), then payloads (titles,
    * token arrays) are attached by two id-joins against `extracted`.
    * Carrying payloads through the join+dedup would shuffle ~30× more
    * bytes (measured the difference at 180k pages). */
  def scorePairs(extracted: DataFrame, blocked: DataFrame, cfg: Config,
      nRows: Option[Long] = None): (DataFrame, DataFrame) = {
    // Materialize the slim banded table once: three arms consume it (the
    // oversized-block size aggregation + both candidate-join sides), and
    // each would otherwise re-run the band-key UDF over the corpus. 24-
    // byte rows — cheap to pin.
    val slim = Materialize(
      blocked.select(col("block_key"), col("id"), col("token_fp")))
    val (capped, drops) = Blocking.splitOversizedBlocks(slim, "block_key",
      "token_fp", PairCapPerBlock)
    val idPairs = Blocking.candidatePairs(capped, "block_key", "id", Nil)
      .select(col("l_id"), col("r_id"))
    val payload = extracted.select(col("id"), col("url"), col("norm_title"),
      col("tokens"), col("model_tokens"))
    // Attaching payloads = two id-joins. When the payload table fits the
    // broadcast budget, hint broadcast: the pair table then never
    // shuffles. Beyond the budget (true corpus scale) it degrades to
    // shuffle joins, which AQE sizes from runtime stats. Plan statistics
    // are "unknown" on checkpointed inputs, so the decision uses an
    // explicit row count (one cheap job on the checkpointed stage).
    val small = nRows.getOrElse(extracted.count()) <= cfg.payloadBroadcastMaxRows
    def side(p: String) = {
      val renamed = payload.toDF(payload.columns.map(p + _): _*)
      if (small) broadcast(renamed) else renamed
    }
    val pairs = idPairs
      .join(side("l_"), Seq("l_id"))
      .join(side("r_"), Seq("r_id"))
    val sims = pairSims(cfg)
    val scored = pairs
      .withColumn("jw", sims.jw).withColumn("lev", sims.lev)
      .withColumn("cosine", sims.cos).withColumn("jaccard", sims.jac)
      .withColumn("score", sims.score)
    (scored, drops)
  }

  /** Stage 5: threshold → edges → connected components → (id, component). */
  def cluster(spark: SparkSession, scored: DataFrame, cfg: Config)
      : DataFrame = {
    val edges = scored.where(col("score") >= ScoreThreshold)
      .select(col("l_id").as("src"), col("r_id").as("dst"))
    ConnectedComponents.run(spark, edges)
  }

  /** Full run: returns (clusters(url, id, component), capDrops). Pages with
    * no edge above threshold form singleton clusters (component = own id).
    * Intermediates read more than once go through [[graft.io.Materialize]];
    * PipelineApp additionally snapshots whole stages through
    * graft.io.Snapshots for cross-JVM resume. */
  def run(spark: SparkSession, pages: DataFrame,
      cfg: Config = Config()): (DataFrame, DataFrame) = {
    // extract feeds blocking, payload attachment and the final assignment
    // join — materialize once
    val ex = Materialize(extract(pages))
    val n = Some(checkedRows(ex))
    val blocked = block(ex, cfg, n)
    val (scored, drops) = scorePairs(ex, blocked, cfg, n)
    val comps = cluster(spark, scored, cfg)
    // Materialize the assignment (one narrow row per url): downstream
    // consumers (evaluation joins, metrics) would otherwise re-execute the
    // whole pipeline per action.
    (Materialize(assign(ex, comps)), drops)
  }

  /** Row count of an extracted frame, after checking that distinct urls
    * map to distinct ids. Record identity is xxhash64(url); 64-bit
    * birthday collisions are statistically certain at 10^12 docs
    * (silently merging entities). One aggregate job yields the row count
    * AND the collision check (separate count() + countDistinct jobs
    * doubled the driver round-trips for scalars over the same frame). */
  private[graft] def checkedRows(ex: DataFrame): Long = {
    val r = ex.agg(count(lit(1)),
      countDistinct(col("url")), countDistinct(col("id"))).collect()(0)
    require(r.getLong(1) == r.getLong(2),
      s"xxhash64(url) id collision: ${r.getLong(1)} urls → ${r.getLong(2)} ids; " +
        "switch to a wider id before trusting cluster output")
    r.getLong(0)
  }

  /** (url, id, component) for every extracted row: pages with no edge
    * above threshold are singletons (component = own id). */
  private[graft] def assign(ex: DataFrame, comps: DataFrame): DataFrame =
    ex.select(col("url"), col("id"))
      .join(comps, Seq("id"), "left")
      .select(col("url"), col("id"),
        coalesce(col("component"), col("id")).as("component"))

  /** Data-driven threshold selection: P/R/F1 of "match iff score >= t" at
    * each t in `thresholds`, over labeled url pairs — evaluates the raw
    * pair SCORE as a classifier (pre-clustering), i.e. the operator that
    * justifies (or re-tunes) the score threshold from labeled data
    * instead of folklore. A labeled pair that never became a candidate
    * scores 0.0 (blocked-out pairs are non-matches at every threshold —
    * the same semantics the clustering applies).
    *
    * Scale shape: two id-joins on the labeled pairs (a labels table is
    * tiny next to the corpus), one left join against scored candidates on
    * the 128-bit pair key, then Metrics.prAtThresholds' partial-aggregable
    * sweep — nothing here touches payloads. */
  def sweepScores(extracted: DataFrame, scored: DataFrame,
      labeledPairs: DataFrame, thresholds: Seq[Double]): DataFrame = {
    // LEFT joins, like evaluate(): a labeled pair whose url is absent
    // from the corpus must count as a non-match at every threshold (null
    // id never equi-joins a scored candidate → score coalesces to 0.0),
    // not silently vanish from the log inflating recall.
    val ids = extracted.select(col("url"), col("id"))
    val lp = labeledPairs
      .join(ids.toDF("left_url", "l_id0"), Seq("left_url"), "left")
      .join(ids.toDF("right_url", "r_id0"), Seq("right_url"), "left")
      .select(col("label"),
        least(col("l_id0"), col("r_id0")).as("l_id"),
        greatest(col("l_id0"), col("r_id0")).as("r_id"))
    val log = lp
      .join(scored.select(col("l_id"), col("r_id"), col("score")),
        Seq("l_id", "r_id"), "left")
      .select(col("label").as("gold"),
        coalesce(col("score"), lit(0.0)).as("probability"))
    Metrics.prAtThresholds(log, thresholds)
  }

  /** Evaluate a clustering against labeled url pairs → 1-row P/R/F1. */
  def evaluate(clusters: DataFrame, labeledPairs: DataFrame): DataFrame = {
    val cl = clusters.select(col("url"), col("component"))
    val joined = labeledPairs
      .join(cl.toDF("left_url", "l_comp"), Seq("left_url"), "left")
      .join(cl.toDF("right_url", "r_comp"), Seq("right_url"), "left")
      .withColumn("pred",
        when(col("l_comp").isNotNull && col("l_comp") === col("r_comp"), 1)
          .otherwise(0))
      .withColumnRenamed("label", "gold")
    Metrics.prf1(joined)
  }
}
