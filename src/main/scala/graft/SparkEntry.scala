package graft

import org.apache.spark.sql.{SparkSession, DataFrame, Column}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

import graft.functions.GraftFunctions
import graft.gen.PageGen
import graft.pipeline.ERPipeline
import graft.score.Similarity
import graft.text.TextAnalysis
import graft.dedup.Dedup
import graft.ann.Ann
import graft.app.CurationApp

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every SQL-expressible operator has an `oracleSql` twin runnable by
  * DuckDB over the same parquet tables. Numeric outputs are designed for
  * bit-exact cross-engine comparison: counts/mins/maxes are exact,
  * monetary sums go through DECIMAL(18,4) (order-independent, exact) and
  * only then to double; no float division or float summation reaches an
  * oracle-checked column.
  */
object SparkEntry {

  private def t(dir: String, name: String)(implicit spark: SparkSession): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Exact, order-independent sum of a double money column. */
  private def dsum(c: Column): Column =
    sum(c.cast(DecimalType(18, 4))).cast(DoubleType)

  /** Oracle staging: operator INPUTS that both engines must read byte-
    * identically (synthesized fixtures) are written here as parquet by the
    * Spark query, then read back so the Spark plan and the DuckDB oracle
    * consume the same rows. Generator-derived fixtures (PageGen/UrlGen/
    * EmbGen) are seed-deterministic and sf-independent; CORPUS-derived
    * fixtures differ per sf dir, so their staged bytes are only valid for
    * the dir that produced them (tracked via `tag` below). The root
    * defaults to `target/oracle_stage` under the working directory, so
    * each checkout stages into its own tree; CONCURRENT JVMs in one
    * checkout running different sf dirs must isolate via
    * SPARK_GRAFT_STAGE_ROOT — the oracle SQL embeds this root at dump
    * time, so each JVM's oracle reads its own staging. */
  private val stageRoot = sys.env.getOrElse("SPARK_GRAFT_STAGE_ROOT",
    new java.io.File("target/oracle_stage").getAbsolutePath)

  /** @param singleFile write one parquet file instead of one near-empty
    *   file per partition (guide §6 — small files cost commit/listing
    *   time per write and open overhead per read-back). Default true for
    *   the direct callers: those are the tiny relations re-staged on
    *   EVERY run (er_clusters_out / ivf_probe_cands), so
    *   the write cost sits inside the benched minimum. stageOnce corpus
    *   fixtures pass false — they are written once per JVM but RE-READ by
    *   every rep, and collapsing them to one file would serialize the
    *   downstream per-doc scans into a single task. */
  private def stageAndRead(spark: SparkSession, name: String, df: DataFrame,
      tag: String = "", singleFile: Boolean = true): DataFrame = {
    val path = s"$stageRoot/$name"
    val out = if (singleFile) df.coalesce(1) else df
    out.write.mode("overwrite").parquet(path)
    stagedThisJvm.put(name, tag)
    spark.read.parquet(path)
  }

  /** Stage names written by THIS JVM → the input tag (sf dir for corpus-
    * derived fixtures, "" for sf-independent generators) they derive from.
    * Cross-query reuse (er_f1 reading er_clusters' staged output) must
    * only trust same-JVM stages: the stage dir persists across runs, so a
    * stale file from a previous build would otherwise be evaluated — and
    * oracle-validated — silently. */
  private val stagedThisJvm =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** stageAndRead with same-JVM reuse, for fixtures staged by more than
    * one query — reused ONLY when the recorded input `tag` matches, so a
    * corpus-derived fixture staged from one sf dir is re-staged (not
    * silently served) when a query asks for it under another dir. */
  private def stageOnce(spark: SparkSession, name: String,
      df: => DataFrame, tag: String = ""): DataFrame = {
    val path = s"$stageRoot/$name"
    if (stagedThisJvm.get(name) == tag &&
        new java.io.File(s"$path/_SUCCESS").exists())
      spark.read.parquet(path)
    else stageAndRead(spark, name, df, tag, singleFile = false)
  }

  /** Train/eval decontamination fixture, shared by doc_decontaminate and
    * curation_e2e: 12-token spans cut from a hash-selected corpus slice
    * (guaranteed contamination) plus synthetic holdout rows whose tokens
    * appear nowhere in the corpus (guaranteed clean path). */
  private def deconEvalFixture(s: SparkSession, dir: String): DataFrame = {
    implicit val sp = s; import s.implicits._
    stageOnce(s, "decon_eval", {
      val docs = t(dir, "documents")
      val spans = docs.where(pmod($"doc_id", lit(97)) === 3)
        .select($"doc_id".as("eval_id"),
          array_join(slice(GraftFunctions.tokens($"text"), 3, 12), " ")
            .as("text"))
      val clean = s.range(20).select(($"id" + 100000L).as("eval_id"),
        concat_ws(" ", (0 until 9).map(j =>
          concat(lit("holdout"), $"id", lit(s"x$j"))): _*).as("text"))
      spans.unionByName(clean)
    }, tag = dir)
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Full ER pipeline over a generated 300-entity page corpus: extract →
    * block(LSH) → score → cluster, returning url→component assignments. */
  def entry(spark: SparkSession): DataFrame = {
    val pages = PageGen.pages(spark, 300, seed = 42L)
    val (clusters, _) = ERPipeline.run(spark, pages)
    clusters
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---------------- relational spine (TPC-H-ish; SURVEY.md §2.7-2.9) ----
    "q1_agg" -> ((s, dir) => { implicit val sp = s; import s.implicits._
      t(dir, "lineitem").groupBy($"l_returnflag", $"l_linestatus").agg(
        sum($"l_quantity").as("sum_qty"),
        count(lit(1)).as("n_rows"),
        dsum($"l_extendedprice").as("sum_price"),
        min($"l_shipdate").as("first_ship"),
        max($"l_shipdate").as("last_ship"))
    }),
    "q2_topn" -> ((s, dir) => { implicit val sp = s; import s.implicits._
      t(dir, "orders")
        .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
        .select($"o_orderkey", $"o_custkey", $"o_totalprice")
        .limit(20)
    }),
    "q3_join_agg" -> ((s, dir) => { implicit val sp = s; import s.implicits._
      val li = t(dir, "lineitem"); val o = t(dir, "orders")
      val c = t(dir, "customer")
      // no forced broadcast hint: at 100× scale customer is multi-GB and
      // an unconditional broadcast is a driver OOM. Catalyst's size
      // estimate / AQE picks broadcast when the dim side is small
      // (PlanSpec asserts it does at test scale).
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .groupBy($"c_mktsegment").agg(
          count(lit(1)).as("n_rows"),
          sum($"l_quantity").as("sum_qty"),
          dsum($"l_extendedprice").as("sum_price"))
    }),
    "q4_semi_join" -> ((s, dir) => { implicit val sp = s; import s.implicits._
      t(dir, "part").join(t(dir, "lineitem"),
          $"p_partkey" === $"l_partkey", "left_semi")
        .groupBy($"p_brand").agg(count(lit(1)).as("n_parts"))
    }),
    "q5_anti_join" -> ((s, dir) => { implicit val sp = s; import s.implicits._
      t(dir, "customer").join(t(dir, "orders"),
          $"c_custkey" === $"o_custkey", "left_anti")
        .select($"c_custkey", $"c_name")
    }),
    "q6_window" -> ((s, dir) => { implicit val sp = s; import s.implicits._
      val w = Window.partitionBy($"o_custkey")
        .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
      t(dir, "orders").withColumn("rn", row_number().over(w))
        .where($"rn" === 1)
        .select($"o_custkey", $"o_orderkey", $"o_totalprice")
    }),
    "q7_setops" -> ((s, dir) => { implicit val sp = s; import s.implicits._
      val cn = t(dir, "customer").select($"c_nationkey".cast(IntegerType).as("nk"))
      val sn = t(dir, "supplier").select($"s_nationkey".cast(IntegerType).as("nk"))
      cn.union(sn).distinct()
        .join(sn.distinct().withColumn("in_supplier", lit(1)), Seq("nk"), "left")
        .select($"nk", coalesce($"in_supplier", lit(0)).as("in_supplier"))
    }),
    "q8_rollup" -> ((s, dir) => { implicit val sp = s; import s.implicits._
      val c = t(dir, "customer"); val n = t(dir, "nation"); val r = t(dir, "region")
      c.join(broadcast(n), $"c_nationkey" === $"n_nationkey")
        .join(broadcast(r), $"n_regionkey" === $"r_regionkey")
        .rollup($"r_name", $"n_name")
        .agg(count(lit(1)).as("n_cust"))
    }),
    "q9_events_daily" -> ((s, dir) => { implicit val sp = s; import s.implicits._
      t(dir, "events").groupBy(to_date($"ts").as("day"), $"event_type").agg(
        count(lit(1)).as("n_events"),
        dsum($"value").as("sum_value"))
    }),
    "q10_having" -> ((s, dir) => { implicit val sp = s; import s.implicits._
      t(dir, "orders").groupBy($"o_custkey").agg(
          count(lit(1)).as("n_orders"),
          dsum($"o_totalprice").as("sum_spend"))
        .where($"n_orders" >= 10)
    }),
    "q11_conditional_agg" -> ((s, dir) => { implicit val sp = s; import s.implicits._
      t(dir, "orders").groupBy($"o_orderpriority").agg(
        sum(when($"o_orderstatus" === "F", 1L).otherwise(0L)).as("n_f"),
        sum(when($"o_orderstatus" === "O", 1L).otherwise(0L)).as("n_o"),
        sum(when($"o_orderstatus" === "P", 1L).otherwise(0L)).as("n_p"))
    }),

    // ---------------- document / text ops (training-data pipeline) --------
    "doc_dedup_exact" -> ((s, dir) => { implicit val sp = s; import s.implicits._
      Dedup.exactGroups(t(dir, "documents"), $"text", $"doc_id")
    }),
    "doc_tokens" -> ((s, dir) => { implicit val sp = s; import s.implicits._
      t(dir, "documents").select($"doc_id",
        TextAnalysis.tokenCount($"text").cast(LongType).as("n_tokens"),
        TextAnalysis.bpeishTokenCount($"text").cast(LongType).as("n_subtokens"))
    }),
    "doc_quality" -> ((s, dir) => { implicit val sp = s; import s.implicits._
      t(dir, "documents").select($"doc_id",
        length($"text").cast(LongType).as("n_chars"),
        TextAnalysis.alphaCount($"text").cast(LongType).as("n_alpha"),
        TextAnalysis.digitCount($"text").cast(LongType).as("n_digit"),
        TextAnalysis.punctCount($"text").cast(LongType).as("n_punct"),
        TextAnalysis.stopwordCount($"text").cast(LongType).as("n_stopwords"))
    }),
    "doc_lang_guess" -> ((s, dir) => { implicit val sp = s; import s.implicits._
      t(dir, "documents").select($"doc_id",
        TextAnalysis.langGuessSql($"text").as("lang_guess"))
    }),
    "doc_fingerprint" -> ((s, dir) => { implicit val sp = s; import s.implicits._
      // 60-bit content fingerprint from md5 — cross-engine checkable
      t(dir, "documents").select($"doc_id",
        conv(substring(md5($"text"), 1, 15), 16, 10)
          .cast(LongType).as("fingerprint"))
    }),
    "doc_decontaminate" -> ((s, dir) => { implicit val sp = s; import s.implicits._
      // train/eval 8-gram-overlap decontamination. The eval fixture is
      // STAGED so both engines read identical rows: 12-token spans cut
      // from a hash-selected corpus slice (guaranteed contamination)
      // plus synthetic holdout rows whose tokens appear nowhere in the
      // corpus (guaranteed clean path). Eval side broadcasts; the
      // corpus never shuffles.
      val docs = t(dir, "documents")
      val eval = deconEvalFixture(s, dir)
      graft.text.Decontaminate.flagged(docs, $"doc_id", $"text",
        eval, $"text", n = 8)
    }),
    "doc_repetition" -> ((s, dir) => { implicit val sp = s; import s.implicits._
      // Gopher-style repetition signals; integer counts only (the float
      // rep_score filter consumes this table downstream, spec-only)
      graft.text.Repetition.signals(t(dir, "documents"), $"doc_id", $"text")
    }),
    "doc_pii_redact" -> ((s, dir) => { implicit val sp = s; import s.implicits._
      // PII scrub over a staged injected corpus (the clean testdata has
      // no PII, so PiiGen plants a closed-form population first); the
      // oracle runs the byte-identical RE2-safe patterns in DuckDB.
      val injected = stageOnce(s, "pii_docs",
        graft.gen.PiiGen.inject(t(dir, "documents"), $"doc_id", $"text"),
        tag = dir)
      graft.text.Pii.redact(injected, $"doc_id", $"text")
    }),
    "doc_stratified_sample" -> ((s, dir) => { implicit val sp = s; import s.implicits._
      // consistent hash sampling (membership = pure function of doc_id):
      // reproducible under retries/repartition/AQE and across engines —
      // df.sample's partition-RNG draw is none of those. Narrow codegen'd
      // filter, zero shuffle.
      graft.ops.Sampling.stratifiedSampleByKey(t(dir, "documents"),
        $"lang", $"doc_id", Seq("en" -> 0.5, "zh" -> 0.25), defaultRate = 0.1)
        .select($"doc_id", $"lang", $"source")
    }),
    "doc_mixture_sample" -> ((s, dir) => { implicit val sp = s; import s.implicits._
      // training-data domain MIXING: per-domain keep rates derived from
      // target mixture weights + a total cost budget (min(1, B·w/S_d)),
      // membership by the same consistent-hash unit as
      // doc_stratified_sample. Unlisted domains get share 0 (mixture
      // semantics). One partial-agg groupBy + broadcast + narrow filter;
      // the corpus never shuffles.
      graft.ops.Mixture.tokenBudgetSample(t(dir, "documents"),
        $"source", $"doc_id", $"n_chars",
        Seq("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2), budget = 20000L)
        .select($"doc_id", $"source", $"n_chars")
    }),
    "doc_pack_sequences" -> ((s, dir) => { implicit val sp = s; import s.implicits._
      // LLM pre-training sequence packing: concatenate docs per
      // deterministic shard, chop at fixed 2048-unit boundaries, emit the
      // (sequence, doc, sub-span) assembly plan. Integer-only arithmetic:
      // bit-identical at any parallelism and cross-engine.
      graft.ops.Packing.packSequences(t(dir, "documents"),
          $"doc_id", $"n_chars", seqLen = 2048, nShards = 8)
        .withColumnRenamed("k", "doc_id")
    }),
    "curation_e2e" -> ((s, dir) => { implicit val sp = s; import s.implicits._
      // the full curation COMPOSITION under one oracle: CurationApp's
      // stage bodies with this query's literals, plus exact dedup, a
      // token-budget mixture and packing. The packed layout depends on
      // every upstream drop decision, so a single hash-match pins the
      // chain. The staged corpus plants PII (PiiGen) and exact byte-
      // duplicates (copies under new ids) so stages 1 and 3 do real work.
      val cur = stageOnce(s, "curation_docs", {
        val injected = graft.gen.PiiGen.inject(
          t(dir, "documents"), $"doc_id", $"text")
        val copies = injected.where(pmod($"doc_id", lit(83)) === 4)
          .withColumn("doc_id", $"doc_id" + 2000000L)
        injected.unionByName(copies)
      }, tag = dir)
      val eval = deconEvalFixture(s, dir)
      val quality = CurationApp.qualityGate(CurationApp.piiScrub(cur),
        minChars = 60L, maxRepScore = 0.2)
      // staged: the near-dup stage reads them three times
      val exact = stageOnce(s, "curation_exact",
        Dedup.exactKeepers(quality, $"text", $"doc_id"), tag = dir)
      // the mixture reads them twice (per-domain totals, keep-rate join)
      val dec = graft.io.Materialize(CurationApp.deconKept(
        CurationApp.nearDupKept(exact, jaccardFloor = 0.7), eval))
      val mixed = graft.ops.Mixture.tokenBudgetSample(dec, $"source",
        $"doc_id", $"n_chars",
        Seq("src0" -> 0.45, "src1" -> 0.25, "src2" -> 0.3), budget = 10000L)
      graft.ops.Packing.packSequences(mixed, $"doc_id", $"n_chars",
        seqLen = 2048, nShards = 8).withColumnRenamed("k", "doc_id")
    }),
    "web_pagerank" -> ((s, dir) => { implicit val sp = s; import s.implicits._
      // crawl-prioritization PageRank over a staged host link graph —
      // power iteration as iterative DataFrame joins in BIGINT fixed
      // point (1e-12 units): integer DIV + exact sums mean the oracle's
      // unrolled 10-round recurrence matches bit-for-bit, no float grid.
      val links = stageOnce(s, "link_graph", graft.gen.LinkGen.links(s))
      graft.graph.PageRank.run(s, links, iters = 10)
        .withColumnRenamed("id", "host_id")
    }),
    "doc_lm_quality" -> ((s, dir) => { implicit val sp = s; import s.implicits._
      // CCNet-style distributional quality: mean bigram log-prob under a
      // corpus-trained add-k LM. Two word-count aggs + slim joins; docs
      // never reshuffle. <2-token docs: n_bigrams=0, null score.
      graft.text.LmQuality.bigramScores(t(dir, "documents"),
          $"doc_id", $"text")
        .withColumnRenamed("lm_id", "doc_id")
    }),
    "doc_host_cap" -> ((s, dir) => { implicit val sp = s; import s.implicits._
      // crawl-budget capping: at most k docs per host (source), preferring
      // larger docs, ties broken on doc_id (total order -> deterministic
      // kept set). Skew-aware: only over-budget hosts pay the window sort.
      graft.ops.TopK.perKey(
        t(dir, "documents").select($"doc_id", $"source", $"n_chars"),
        $"source", Seq($"n_chars".desc, $"doc_id".asc), k = 12)
    }),
    "crawl_snapshot_diff" -> ((s, dir) => { implicit val sp = s; import s.implicits._
      // crawl-to-crawl delta: deleted (id%13==0 gone), changed (id%7==3
      // re-extracted), added (remapped ids) — full-outer join on id over
      // (id, md5 fingerprint) slim rows; the texts never shuffle.
      val docs = t(dir, "documents")
      val recrawl = stageOnce(s, "recrawl_docs", {
        val added = docs.where(pmod($"doc_id", lit(11)) === 1)
          .select(($"doc_id" + 5000000L).as("doc_id"), $"text")
        docs.where(pmod($"doc_id", lit(13)) =!= 0)
          .select($"doc_id", when(pmod($"doc_id", lit(7)) === 3,
              concat($"text", lit(" v2"))).otherwise($"text").as("text"))
          .unionByName(added)
      }, tag = dir)
      graft.ops.TableDiff.diffByKey(docs, recrawl, $"doc_id", md5($"text"))
        .withColumnRenamed("key", "doc_id")
    }),
    "url_canonicalize" -> ((s, dir) => { implicit val sp = s; import s.implicits._
      // crawl-corpus URL canonicalization over a staged messy-URL fixture
      // (UrlGen: scheme/host case, www, default ports, dup slashes,
      // trailing slash, fragments, tracking params, param order). The
      // oracle re-derives the whole chain in DuckDB's regex engine —
      // an independent implementation, not a replay.
      val urls = stageOnce(s, "url_fixture", graft.gen.UrlGen.urls(s))
      urls.select($"url_id",
        graft.functions.UrlFunctions.canonicalizeUrl($"url").as("canon_url"))
    }),
    "doc_length_quantiles" -> ((s, dir) => { implicit val sp = s; import s.implicits._
      // exact discrete (nearest-rank) per-language length quantiles —
      // always a real data value, so bit-exact cross-engine.
      graft.ops.Quantiles.exactDisc(t(dir, "documents"),
          $"lang", $"n_chars", Seq(0.25, 0.5, 0.75, 0.9, 0.99))
        .withColumnRenamed("g", "lang")
    }),
    "doc_minhash_neardup" -> ((s, dir) => { implicit val sp = s; import s.implicits._
      Dedup.minhashPairs(t(dir, "documents"), $"doc_id", $"text",
        bands = 8, rowsPerBand = 4, jaccardFloor = 0.7)
    }),
    "doc_neardup_keepers" -> ((s, dir) => { implicit val sp = s; import s.implicits._
      // near-dup CANONICALIZATION: minhash pairs → connected components →
      // one keeper per cluster, every doc assigned. The oracle computes
      // the transitive closure independently (recursive CTE over the
      // exhaustive-Jaccard pair set), so CC is validated against a true
      // second implementation on REAL similarity edges — not only against
      // planted truth (er_clusters) or the driver-side union-find spec.
      val docs = t(dir, "documents")
      val pairs = Dedup.minhashPairs(docs, $"doc_id", $"text",
        bands = 8, rowsPerBand = 4, jaccardFloor = 0.7)
      Dedup.nearDupKeepers(docs, $"doc_id", pairs)
    }),
    "doc_incremental_neardup" -> ((s, dir) => { implicit val sp = s; import s.implicits._
      // daily-increment dedup: a staged "re-crawl" batch (1/7 of the
      // corpus, one appended token, remapped ids) deduped against the
      // corpus BAND INDEX — the corpus is scanned, never reshuffled
      // (increment bands broadcast). Oracle = exhaustive bipartite
      // Jaccard; recall 1.0 of the LSH geometry is what the hash
      // comparison certifies at this sf.
      val docs = t(dir, "documents")
      val inc = stageOnce(s, "inc_docs",
        docs.where(pmod($"doc_id", lit(7)) === 2)
          .select(($"doc_id" + 1000000L).as("doc_id"),
            concat($"text", lit(" freshcrawl")).as("text")), tag = dir)
      // materialize the index once, as a production pipeline would (it is
      // the persisted artifact next to the corpus): the hot-block cap's
      // eager size probe and the band join would otherwise each re-run
      // the band-key UDF over the whole corpus
      val index = graft.io.Materialize(Dedup.minhashBandIndex(docs,
        $"doc_id", $"text", bands = 8, rowsPerBand = 4))
      Dedup.incrementalMinhashPairs(inc, $"doc_id", $"text", index,
        docs, $"doc_id", $"text", bands = 8, rowsPerBand = 4,
        jaccardFloor = 0.8)
    }),
    "doc_simhash" -> ((s, dir) => { implicit val sp = s; import s.implicits._
      t(dir, "documents").select($"doc_id",
        Dedup.simhash64($"text").as("simhash"))
    }),
    "doc_winnow_containment" -> ((s, dir) => { implicit val sp = s; import s.implicits._
      // winnowing postings-list containment join (the pair-level consumer
      // of winnowFingerprints). Cap = min(floor(0.128 × corpus), 64):
      // the FRACTION is the boilerplate stoplist (scales with corpus),
      // the ABSOLUTE 64 bounds the df² pair cost per kept fingerprint —
      // without it the same query cost 22 s at the 10× bench corpus.
      // The oracle derives the identical cap from count(*); at the
      // 500-doc correctness corpus both caps coincide at 64.
      TextAnalysis.winnowContainmentPairs(t(dir, "documents"),
        $"doc_id", $"text", floor = 0.4,
        maxPostingsFrac = 0.128, maxPostingsAbs = 64L)
    }),
    "doc_bm25_topk" -> ((s, dir) => { implicit val sp = s; import s.implicits._
      // BM25 ranked retrieval. Query terms are corpus-derived (df ranks
      // 13-24 of the >=4-char vocabulary: selective but guaranteed to
      // match documents at every sf), grouped 3 per query, and STAGED so
      // the DuckDB twin reads identical query rows. The distributed
      // orderBy+limit picks the top vocab BEFORE the 24-row window —
      // no global sort of the vocabulary.
      val docs = t(dir, "documents")
      val queries = stageOnce(s, "bm25_queries", {
        val termDf = docs.select(
            explode(array_distinct(GraftFunctions.tokens($"text"))).as("term"))
          .groupBy("term").agg(count(lit(1)).as("dft"))
        val top = termDf.where(length($"term") >= 4)
          .orderBy($"dft".desc, $"term".asc).limit(24)
        top.withColumn("rn",
            row_number().over(Window.orderBy($"dft".desc, $"term".asc)))
          .where($"rn" > 12)
          .select((($"rn" - lit(13)) / lit(3)).cast(LongType).as("query_id"),
            $"term")
      }, tag = dir)
      graft.text.Bm25.topK(docs, $"doc_id", $"text", queries, k = 10)
    }),
    "events_asof" -> ((s, dir) => { implicit val sp = s; import s.implicits._
      // point-in-time join: each click attaches its user's most recent
      // view at-or-before the click (null if none) — leakage-free
      // feature attachment. Oracle: DuckDB's native ASOF LEFT JOIN, a
      // fully independent implementation of the same semantics.
      val ev = t(dir, "events")
      val clicks = ev.where($"event_type" === "click")
        .select($"event_id".as("click_id"), $"user_id", $"ts")
      val views = ev.where($"event_type" === "view")
        .select($"event_id".as("view_id"), $"user_id", $"ts",
          $"value".as("view_value"))
      graft.ops.AsofJoin.asofBackward(clicks, views,
          keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
          payload = Seq("view_id", "view_value"))
        .select($"click_id", $"user_id",
          $"asof_view_id", $"asof_view_value")
    }),
    "events_sessionize" -> ((s, dir) => { implicit val sp = s; import s.implicits._
      // gap-based sessionization (6h gap — the sf corpora's median
      // inter-event gap is ~7.3h, so the cut actually exercises both
      // split and merge) + per-session rollup. Single exchange end-to-end
      // (window and groupBy share the user_id hash partitioning).
      val sessions = graft.ops.Sessionize.sessionize(t(dir, "events"),
        $"user_id", $"ts", $"event_id", gapSeconds = 21600)
      graft.ops.Sessionize.sessionStats(sessions, $"user_id", $"ts",
        extraAggs = Seq(dsum($"value").as("total_value")))
    }),
    "emb_ann_topk" -> ((s, dir) => { implicit val sp = s; import s.implicits._
      Ann.bruteForceTopK(t(dir, "embeddings"), nQueries = 8, k = 5)
    }),
    "emb_ann_ivf" -> ((s, dir) => { implicit val sp = s; import s.implicits._
      // the scale-path ANN operator under the driver oracle: with
      // nprobe = nlist every list is probed, so IVF must reproduce the
      // brute-force top-k exactly (same DuckDB oracle as emb_ann_topk);
      // partial-probe recall is covered by AnnSpec
      Ann.ivfTopK(t(dir, "embeddings"), nQueries = 8, k = 5,
        nlist = 8, nprobe = 8)
    }),
    "emb_kmeans_topics" -> ((s, dir) => { implicit val sp = s; import s.implicits._
      // embedding-space topic bucketing: Lloyd-trained centroids (staged
      // so the DuckDB twin reads the identical doubles) + nearest-
      // centroid assignment — rounded-dot argmax, ties to the smallest
      // centroid id, zero shuffle over the corpus.
      val emb = t(dir, "embeddings")
      val cents = Ann.trainIvfCentroids(emb, nlist = 8)
      stageOnce(s, "kmeans_centroids",
        cents.zipWithIndex.toSeq
          .map { case (c, i) => (i.toLong, c.toSeq) }
          .toDF("list_id", "centroid"), tag = dir)
      Ann.kmeansAssign(emb, cents)
    }),
    "emb_neardup_lsh" -> ((s, dir) => { implicit val sp = s; import s.implicits._
      // Two populations through ONE production pair path: the testdata
      // table (no pair ≥ 0.9 at any sf — the true-negative leg) plus a
      // staged fixture with planted near-duplicates (EmbGen), so the LSH
      // bucket join + multi-probe + verify chain is oracle-validated on
      // NONZERO pairs, not only on the empty set. Fixture ids are
      // 1e6-offset — disjoint from testdata vec_ids by construction.
      val fixture = stageOnce(s, "emb_neardup_fixture",
        graft.gen.EmbGen.embeddings(s))
      Ann.cosineNearDupLsh(
        t(dir, "embeddings").select($"vec_id", $"embedding")
          .unionByName(fixture),
        bits = 12, cosFloor = 0.9)
    }),
    "emb_ann_ivf_probe" -> ((s, dir) => { implicit val sp = s; import s.implicits._
      // ivfProbeStats' non-test consumer (recall-collapse telemetry): a
      // PARTIAL-probe candidate scan (nprobe < nlist) over the staged
      // fixture; candidates are staged so the DuckDB twin aggregates the
      // same rows — validating the per-query count + zero-fill contract.
      val fixture = stageOnce(s, "emb_neardup_fixture",
        graft.gen.EmbGen.embeddings(s))
      val cands = Ann.ivfCandidates(fixture, nQueries = 8, nlist = 8,
        nprobe = 2)
      val staged = stageAndRead(s, "ivf_probe_cands",
        cands.select($"query_id", $"vec_id"))
      Ann.ivfProbeStats(staged,
        fixture.orderBy($"vec_id").limit(8).select($"vec_id".as("query_id")))
    }),

    // ---------------- ER pipeline ops (north_rule) ------------------------
    "er_extract" -> ((s, dir) => { implicit val sp = s; import s.implicits._
      // pages staged so DuckDB re-runs the extraction chain on the same rows
      val staged = stageOnce(s, "er_pages",
        PageGen.pages(s, 400, seed = 7L).select($"url", $"text"))
      ERPipeline.extract(staged)
        .select($"url", $"canonical_text", $"norm_title")
    }),
    "er_clusters" -> ((s, dir) => { implicit val sp = s; import s.implicits._
      // planted truth staged: with pairwise F1 = 1.0 (spec-enforced),
      // every cluster is exactly one planted entity and CC converges to
      // min(id) per component — so the oracle derives component ids from
      // the truth table alone.
      stageOnce(s, "er_truth", PageGen.pagesWithTruth(s, 400, seed = 7L)
        .select($"url", xxhash64($"url").as("id"), $"entity_id"))
      val (cl, _) = ERPipeline.run(s, PageGen.pages(s, 400, seed = 7L))
      // the computed assignment is also staged so er_f1 can evaluate the
      // SAME clustering without re-running the whole pipeline
      stageAndRead(s, "er_clusters_out", cl.select($"url", $"component"))
    }),
    "er_f1" -> ((s, dir) => { implicit val sp = s; import s.implicits._
      // Reuse the clustering er_clusters already staged (identical seed/
      // size — content is value-identical by determinism); when it has
      // not run in this JVM, er_f1 runs the pipeline once and stages the
      // same fixture. Its own copy is staged once per JVM too, so a warm
      // run reads it and reaches neither. Only a SAME-JVM stage is
      // trusted (stageOnce) — a stage file surviving from a previous
      // build could encode different pipeline semantics.
      val clStaged = stageOnce(s, "er_f1_clusters",
        stageOnce(s, "er_clusters_out",
          ERPipeline.run(s, PageGen.pages(s, 400, seed = 7L))._1
            .select($"url", $"component"))
          .select($"url", $"component"))
      val lpStaged = stageOnce(s, "er_f1_pairs",
        PageGen.labeledPairs(s, 400, seed = 7L)
          .select($"left_url", $"right_url", $"label"))
      ERPipeline.evaluate(clStaged, lpStaged)
    }),
    "eval_threshold_sweep" -> ((s, dir) => { implicit val sp = s; import s.implicits._
      // eval-log fixture: deterministic label-conditioned probabilities
      // over the planted labeled pairs — positives land in [0.4, 1.0],
      // negatives in [0, 0.6], so the overlapping band [0.4, 0.6] gives
      // the sweep real FP/FN tradeoffs to trace (a separable fixture
      // would make every mid-grid row identical).
      val lp = PageGen.labeledPairs(s, 200, seed = 11L)
      val log = lp.select($"label".cast(IntegerType).as("gold"),
        round((when($"label" === 1, lit(400)).otherwise(lit(0)) +
          pmod(abs(xxhash64($"left_url", $"right_url")), lit(601))) / 1000.0, 3)
          .as("probability"))
      val staged = stageOnce(s, "eval_log", log)
      graft.eval.Metrics.prAtThresholds(staged, sweepThresholds)
    }),
    "convert_ditto" -> ((s, dir) => { implicit val sp = s; import s.implicits._
      // Ditto COL/VAL lines synthesized from the page corpus → wide pairs.
      // Deterministic 500-line subset via a range-partitioned rank (no
      // global window, no unordered limit), staged for the DuckDB twin.
      val pairs = PageGen.labeledPairs(s, 200, seed = 5L)
      val pages = PageGen.pagesWithTruth(s, 200, seed = 5L)
        .select($"url", $"text")
      val linesAll = pairs
        .join(pages.toDF("left_url", "l_text"), Seq("left_url"))
        .join(pages.toDF("right_url", "r_text"), Seq("right_url"))
        .select($"left_url", $"right_url", concat_ws("\t", $"l_text",
          $"r_text", $"label".cast(StringType)).as("value"))
      // deterministic ~500-line subset + total order, all hash-derived —
      // one narrow job, no window, no driver round-trips
      val subset = linesAll
        .withColumn("ord", xxhash64($"left_url", $"right_url"))
        .where(pmod(abs($"ord"), lit(1000)) < 280)
        .select($"ord", $"value")
      val staged = stageOnce(s, "convert_lines", subset)
      graft.convert.DittoConverter.convertLines(s, staged,
        graft.convert.DittoConverter.Config(robust = true,
          preferredOrder = Seq("title", "brand")), ordCol = Some("ord"))
    }),
    "enrich_titles" -> ((s, dir) => { implicit val sp = s; import s.implicits._
      // enrichment operator (M1): deterministic per-field rule chains
      val pairs = PageGen.labeledPairs(s, 200, seed = 5L)
      val pages = PageGen.pagesWithTruth(s, 200, seed = 5L)
        .select($"url",
          GraftFunctions.extractTitleUdf($"text").as("title"))
      val wide = pairs
        .join(pages.toDF("left_url", "left_title"), Seq("left_url"))
        .join(pages.toDF("right_url", "right_title"), Seq("right_url"))
      // unique hash id + hash-derived ~500-row subset (id needs to be
      // deterministic and unique, not dense — enrichment passes it through)
      val subset = wide
        .withColumn("id", xxhash64($"left_url", $"right_url"))
        .where(pmod(abs($"id"), lit(1000)) < 280)
        .select($"id", $"label", $"left_title", $"right_title")
      val staged = stageOnce(s, "enrich_input", subset)
      graft.norm.Enrichment.enrich(staged, graft.norm.Enrichment.wdcTitle)
    }),
    // per-dataset enrichment rule chains (R3/R4/R7-R15) under the oracle:
    // each stages a deterministic dirty wide-pair fixture (PairGen) and
    // runs the dataset config; the DuckDB twin re-derives every rule
    // chain (initcap/dedupe via list lambdas, lookaheads translated to
    // RE2-safe capture form). All are zero-shuffle narrow selects.
    "enrich_beer" -> ((s, dir) => {
      val staged = stageOnce(s, "enrich_beer_input",
        graft.gen.PairGen.beerPairs(s))
      graft.norm.Enrichment.enrich(staged, graft.norm.Enrichment.beer)
    }),
    "enrich_dblacm" -> ((s, dir) => {
      val staged = stageOnce(s, "enrich_dblacm_input",
        graft.gen.PairGen.dblacmPairs(s))
      graft.norm.Enrichment.enrich(staged, graft.norm.Enrichment.dblacm)
    }),
    "enrich_fodors" -> ((s, dir) => {
      val staged = stageOnce(s, "enrich_fodors_input",
        graft.gen.PairGen.fodorsPairs(s))
      graft.norm.Enrichment.enrich(staged, graft.norm.Enrichment.fodors)
    }),
    "enrich_itunes" -> ((s, dir) => {
      val staged = stageOnce(s, "enrich_itunes_input",
        graft.gen.PairGen.itunesPairs(s))
      graft.norm.Enrichment.enrich(staged, graft.norm.Enrichment.itunes)
    }),
    "enrich_camera" -> ((s, dir) => {
      val staged = stageOnce(s, "enrich_camera_input",
        graft.gen.PairGen.cameraPairs(s))
      graft.norm.Enrichment.enrich(staged, graft.norm.Enrichment.wdcCamera)
    }),
    // R14 match-sensitive alignment (computer/procs.py:70-85): unit
    // unification + cross-copy gated on label==1, oracle-checked
    "enrich_wdc_aligned" -> ((s, dir) => {
      val staged = stageOnce(s, "enrich_aligned_input",
        graft.gen.PairGen.alignedTitlePairs(s))
      graft.norm.Enrichment.enrich(staged,
        graft.norm.Enrichment.wdcTitleAligned)
    }),
    "multimodal_features" -> ((s, dir) => { implicit val sp = s; import s.implicits._
      // binary media plumbing end-to-end: staged BLOB parquet → typed
      // Dataset → partition-batched feature extraction → oracle-checkable
      // metadata projection. TWO payload populations so BOTH decode paths
      // run under the oracle: page html bytes (stub path) and synthetic
      // lossless PNGs (real imageio pixel decode). The oracle re-derives
      // the decoder routing from the payload magic bytes; the pixel
      // features themselves are asserted in MultimodalSpec.
      val pngUdf = udf((id: Long) =>
        graft.multimodal.Multimodal.syntheticPng(id))
      val media = stageOnce(s, "mm_media",
        PageGen.pages(s, 200, seed = 9L)
          .select(xxhash64($"url").as("media_id"), $"html".as("payload"))
          .unionByName(s.range(40)
            .select(($"id" + 5000000L).as("media_id"),
              pngUdf($"id").as("payload"))))
      val rows = media
        .withColumn("meta", struct(
          lit("image").as("kind"), lit(640).as("width"), lit(480).as("height"),
          lit(0).as("sampleRateHz"), lit(0L).as("durationMs")))
        .as[graft.multimodal.Multimodal.MediaRow]
      val feats = graft.multimodal.Multimodal.extractFeatures(rows, dim = 64)
      // checksum the HEX encoding, not the raw bytes: this DuckDB build
      // hashes VARCHAR only, and decode(payload) would reject non-UTF-8
      // PNG bytes — hex() is uppercase in both engines
      feats.join(
          media.select($"media_id", md5(hex($"payload")).as("payload_md5")),
          Seq("media_id"))
        .select($"media_id", $"kind", $"n_bytes", $"decoder", $"payload_md5")
    }),
    "er_similarity" -> ((s, dir) => { implicit val sp = s; import s.implicits._
      // similarity measures over part names. The pair predicate
      // (p+q) % 97 == 0 is expressed as an EQUI-join on residues —
      // p%97 == (97 - q%97) % 97 — so Catalyst plans a shuffled hash /
      // sort-merge join, not an O(n²) BroadcastNestedLoop. Jaro-Winkler
      // (no cross-engine twin; DuckDB's variant differs) is verified by
      // the Winkler-golden unit suite; this query carries the SQL-
      // expressible measures for the DuckDB oracle.
      // The residue trick still grows pairs as ~n²/97 with sf, so both
      // sides are absolute-bounded at the sf0.1 key range: a no-op at
      // every sf the driver runs (max p_partkey = 19999 at sf0.1) that
      // pins the pair count sf-independently at any larger corpus.
      val bounded = t(dir, "part").where($"p_partkey" < 20000)
      val toks = (c: Column) => array_distinct(GraftFunctions.tokens(c))
      val p = bounded.select($"p_partkey", $"p_name",
        toks($"p_name").as("p_toks"),
        pmod($"p_partkey", lit(97)).as("res"))
      val q = bounded.select($"p_partkey".as("q_partkey"),
        $"p_name".as("q_name"), toks($"p_name").as("q_toks"),
        pmod(lit(97) - pmod($"p_partkey", lit(97)), lit(97)).as("res"))
      val inter = size(array_intersect($"p_toks", $"q_toks")).cast(DoubleType)
      val uni = size(array_union($"p_toks", $"q_toks")).cast(DoubleType)
      p.join(q, Seq("res")).where($"p_partkey" =!= $"q_partkey")
        .select($"p_partkey", $"q_partkey",
          levenshtein($"p_name", $"q_name").cast(LongType).as("lev"),
          round(Similarity.levenshteinRatio($"p_name", $"q_name"), 6)
            .as("lev_ratio"),
          round(inter / uni, 6).as("jaccard"),
          round(inter / sqrt(size($"p_toks") * size($"q_toks")), 6).as("cosine"))
    })
  )

  // ---------- DuckDB expression builders for the staged-fixture oracles --
  // Each mirrors one Column chain from graft.norm / graft.functions; the
  // Scala regex patterns are embedded verbatim (RE2-compatible subset).

  /** graft.functions.GraftFunctions.nullMarkers */
  private def sqlNullMark(e: String): String =
    s"(CASE WHEN lower(trim($e)) IN ('','n/a','na','none','null','unknown','-','?','val -') THEN NULL ELSE $e END)"

  /** dedupeWords + wsCollapse (consecutive case-insensitive word dedupe,
    * whitespace collapse, trim) via DuckDB indexed list lambdas. */
  private def sqlDedupeCollapse(e: String): String = {
    val words = s"list_filter(regexp_split_to_array($e, '\\s+'), x -> x <> '')"
    s"array_to_string(list_filter($words, (x, i) -> i = 1 OR lower(x) <> lower(($words)[i-1])), ' ')"
  }

  /** graft.norm.Normalize.stripVendorNoise (same 8 patterns, same order) */
  private def sqlVendorNoise(e: String): String = {
    val eaten = graft.norm.Normalize.vendorNoiseEaters.foldLeft(e)((acc, p) =>
      s"regexp_replace($acc, '(?i)$p', '', 'g')")
    s"regexp_replace($eaten, '(?i)${graft.norm.Normalize.vendorNoiseStacked}', '', 'g')"
  }

  /** graft.norm.Normalize.stripLangTags */
  private def sqlLangTags(e: String): String =
    s"regexp_replace(regexp_replace($e, '\"', '', 'g'), '@[A-Za-z]{2}\\b', '', 'g')"

  /** graft.norm.Normalize.unitSpacing */
  private def sqlUnitSpacing(e: String): String =
    s"regexp_replace($e, '(?i)([0-9](?:\\.[0-9]+)?)\\s*(?:inch|in)\\b', '\\1 inch', 'g')"

  /** Enrichment.cleanText: strip [\\`], dedupe+collapse (null-marked). */
  private def sqlCleanText(c: String): String =
    sqlDedupeCollapse(s"regexp_replace(${sqlNullMark(c)}, '[\\\\`]', '', 'g')")

  /** Enrichment.wdcTitle title rule core (null-preserving): unitSpacing(
    * stripVendorNoise(stripLangTags(cleanText(nullMarkers(c))))). */
  private def sqlWdcTitleCore(c: String): String =
    sqlUnitSpacing(sqlVendorNoise(sqlLangTags(sqlCleanText(c))))

  private def sqlWdcTitle(c: String): String =
    s"COALESCE(${sqlWdcTitleCore(c)}, 'unknown')"

  // ---------- builders for the per-dataset enrichment rule chains --------
  // Each mirrors one Column => Column from graft.norm / graft.functions;
  // pattern lists come from the SAME Scala Seqs the Spark rules fold over
  // (Normalize.abbreviations / cameraAbbreviations / cameraBrands /
  // unitCompactions), so the two engines cannot drift. Java-only syntax
  // is translated to RE2: lookahead `(?=\s|$)` becomes a captured
  // `(\s|$)` re-emitted via `\1`, and `$1` replacements become `\1`.

  private def sqlRe2Repl(r: String): String = r.replace("$1", "\\1")

  private def sqlReplaceChain(e: String, rules: Seq[(String, String)]): String =
    rules.foldLeft(e) { case (acc, (p, r)) =>
      if (p.contains("(?=")) {
        val p2 = p.replace("(?=\\s|$)", "(\\s|$)")
        s"regexp_replace($acc, '$p2', '${sqlRe2Repl(r)}\\1', 'g')"
      } else s"regexp_replace($acc, '$p', '${sqlRe2Repl(r)}', 'g')"
    }

  /** Spark initcap (first char of each space-delimited word upper, rest
    * lower) via DuckDB list lambdas — DuckDB has no initcap builtin. */
  private def sqlInitcap(e: String): String =
    s"array_to_string(list_transform(string_split($e, ' '), " +
      s"w -> upper(substr(w,1,1)) || lower(substr(w,2))), ' ')"

  /** GraftFunctions.wsCollapse (fixtures are ASCII: \s+ == PyText.WS). */
  private def sqlWsCollapse(e: String): String =
    s"trim(regexp_replace($e, '\\s+', ' ', 'g'))"

  /** Enrichment.cleanEntityName = initcap(wsCollapse(dedupeWords(strip))),
    * with an optional pre-transform between null-marking and the strip
    * (beer brewery interposes dropCorpSuffixes there). */
  private def sqlCleanEntityName(c: String,
      pre: String => String = identity): String =
    sqlInitcap(sqlDedupeCollapse(
      s"""regexp_replace(${pre(sqlNullMark(c))}, '[\\\\`"]', '', 'g')"""))

  /** Normalize.dropCorpSuffixes (same pattern, RE2 needs the 'g' flag). */
  private def sqlDropCorp(e: String): String =
    s"regexp_replace($e, '(?i)\\s+(inc|ltd|corp|corporation|llc|co)" +
      s"\\.?(\\s|$$)', '\\2', 'g')"

  /** GraftFunctions.boolCoerce rendered to 'true'/'false' strings. */
  private def sqlBoolRender(c: String): String = {
    val v = s"lower(trim(${sqlNullMark(c)}))"
    s"(CASE WHEN $v IN ('true','yes','1') THEN 'true' " +
      s"WHEN $v IN ('false','no','0') THEN 'false' " +
      s"WHEN regexp_matches($v, '^[-+]?[0-9]*\\.?[0-9]+$$') " +
      s"THEN CAST(CAST($v AS DOUBLE) <> 0.0 AS VARCHAR) " +
      s"ELSE 'false' END)"
  }

  /** GraftFunctions.abvParse cast to string (Spark Double.toString and
    * DuckDB's DOUBLE→VARCHAR are both shortest-round-trip). */
  private def sqlAbvRender(c: String): String = {
    val v = s"lower(trim(${sqlNullMark(c)}))"
    val num = s"nullif(regexp_extract($v, '[-+]?[0-9]*\\.?[0-9]+', 0), '')"
    s"(CASE WHEN $v IS NULL OR $v IN ('','n/a','na','none','unknown','-') " +
      s"THEN NULL ELSE CAST(CAST($num AS DOUBLE) AS VARCHAR) END)"
  }

  /** Beer R7 primary: initcap(trim(last '/'-segment)). */
  private def sqlPrimaryStyle(c: String): String = {
    val parts = s"string_split(${sqlNullMark(c)}, '/')"
    sqlInitcap(s"trim(($parts)[len($parts)])")
  }

  /** Beer R7 secondary: first segment minus 'american', when compound. */
  private def sqlSecondaryStyle(c: String): String = {
    val parts = s"string_split(${sqlNullMark(c)}, '/')"
    val cleaned = sqlInitcap(s"trim(regexp_replace(($parts)[1], " +
      s"'(?i)\\bamerican\\b', '', 'g'))")
    s"(CASE WHEN len($parts) > 1 THEN $cleaned ELSE NULL END)"
  }

  /** Normalize.venueCanon (same anchored alternations). */
  private def sqlVenue(c: String): String = {
    val t = s"trim(${sqlNullMark(c)})"
    s"(CASE WHEN regexp_matches($t, '(?i)^(international conference on " +
      s"management of data|sigmod|sigmod conference)$$') THEN 'SIGMOD Conference' " +
      s"WHEN regexp_matches($t, '(?i)^(acm sigmod record|sigmod record)$$') " +
      s"THEN 'ACM SIGMOD Record' " +
      s"WHEN regexp_matches($t, '(?i)^(the vldb journal.*|vldb j\\.|vldb journal)$$') " +
      s"THEN 'VLDB Journal' " +
      s"WHEN regexp_matches($t, '(?i)^(very large data bases|vldb|vldb conference)$$') " +
      s"THEN 'VLDB' ELSE $t END)"
  }

  /** GraftFunctions.phoneUs. */
  private def sqlPhone(c: String): String = {
    val d0 = s"regexp_replace(${sqlNullMark(c)}, '[^0-9]', '', 'g')"
    val d = s"(CASE WHEN length($d0) = 11 AND substr($d0,1,1) = '1' " +
      s"THEN substr($d0,2,10) ELSE $d0 END)"
    s"(CASE WHEN length($d) = 10 THEN substr($d,1,3) || '-' || " +
      s"substr($d,4,3) || '-' || substr($d,7,4) ELSE NULL END)"
  }

  /** Fodors city canon: LA/NYC variants, else initcap(wsCollapse). */
  private def sqlCity(c: String): String = {
    val t = s"lower(trim(${sqlNullMark(c)}))"
    s"(CASE WHEN $t IN ('la','l.a.') THEN 'Los Angeles' " +
      s"WHEN $t IN ('nyc','new york') THEN 'New York City' " +
      s"ELSE ${sqlInitcap(sqlWsCollapse(sqlNullMark(c)))} END)"
  }

  /** GraftFunctions.priceUsd ('USD %.2f' or null). */
  private def sqlPriceUsd(c: String): String = {
    val v = s"lower(trim(${sqlNullMark(c)}))"
    val cleaned = s"regexp_replace($v, '^usd\\s*|[,$$]', '', 'g')"
    val p = s"(CASE WHEN $v IS NULL OR $v IN " +
      s"('','n/a','na','none','null','unknown') THEN NULL " +
      s"ELSE round(try_cast($cleaned AS DOUBLE), 2) END)"
    s"(CASE WHEN $p IS NULL THEN NULL ELSE printf('USD %.2f', $p) END)"
  }

  /** GraftFunctions.timeNormalize (MM:SS zero-padded or null). */
  private def sqlTime(c: String): String = {
    val parts = s"string_split(trim(${sqlNullMark(c)}), ':')"
    s"(CASE WHEN len($parts) = 2 " +
      s"AND regexp_matches(($parts)[1], '^[0-9]{1,2}$$') " +
      s"AND regexp_matches(($parts)[2], '^[0-9]{1,2}$$') " +
      s"THEN lpad(($parts)[1], 2, '0') || ':' || lpad(($parts)[2], 2, '0') " +
      s"ELSE NULL END)"
  }

  /** GraftFunctions.dateNormalize — the same format list in the same
    * coalesce order, Java patterns mapped to strptime. */
  private def sqlDate(c: String): String = {
    val t = s"trim(${sqlNullMark(c)})"
    val d = Seq("%d-%b-%y", "%B %d, %Y", "%b %d, %Y", "%Y-%m-%d",
        "%m/%d/%Y", "%d %B %Y")
      .map(f => s"try_strptime($t, '$f')").mkString("COALESCE(", ", ", ")")
    s"strftime($d, '%Y-%m-%d')"
  }

  /** GraftFunctions.yearExtract + nullif('') (both engines return '' on
    * no-match). */
  private def sqlYearOrNull(c: String): String =
    s"nullif(regexp_extract(CAST(${sqlNullMark(c)} AS VARCHAR), " +
      s"'([0-9]{4})', 1), '')"

  /** Normalize.cameraNormalize: abbreviation collapse-then-expand + brand
    * case canonicalization, generated from the same Seqs. */
  private def sqlCameraNormalize(e: String): String =
    sqlReplaceChain(e, graft.norm.Normalize.cameraAbbreviations ++
      graft.norm.Normalize.cameraBrands)

  /** Normalize.unitUnify (matched-pair unit compaction + collapse). */
  private def sqlUnitUnify(e: String): String =
    sqlWsCollapse(sqlReplaceChain(e, graft.norm.Normalize.unitCompactions))

  /** Normalize.expandAbbreviations (lookaheads translated to captures). */
  private def sqlExpandAbbrev(e: String): String =
    sqlReplaceChain(e, graft.norm.Normalize.abbreviations)

  /** ColVal.extractTitle on the synthesized `COL title VAL … COL brand
    * VAL …` page text (values never embed COL/VAL, so the greedy capture
    * is equivalent to the reference's lazy+lookahead slice; RE2 has no
    * lookahead). */
  private def sqlExtractTitle(c: String): String =
    s"trim(replace(replace(replace(replace(COALESCE(regexp_extract($c, 'COL title VAL (.*) COL brand VAL', 1), ''), '\"', ''), '@en', ''), '@NL', ''), '@fr', ''))"

  /** ColVal.parseRobust field value on the same controlled input: slice,
    * whitespace-collapse, strip ' |;,:'. */
  private def sqlRobustField(line: String, capture: String): String =
    s"trim(regexp_replace(COALESCE(regexp_extract($line, '$capture', 1), ''), '\\s+', ' ', 'g'), ' |;,:')"

  private def stagePath(name: String): String =
    s"read_parquet('$stageRoot/$name/*.parquet')"

  /** Threshold grid for eval_threshold_sweep — ONE definition feeding both
    * engines: the oracle SQL embeds these exact Double values via
    * toString (which round-trips bit-exactly), AS STRINGS cast to
    * DOUBLE[] — DuckDB's string→double parse is correctly rounded, while
    * a bare numeric list infers a DECIMAL element type whose
    * decimal→double conversion is off by one ulp for 0.85/0.95. */
  private val sweepThresholds: Seq[Double] = (1 to 19).map(_ * 0.05)

  /** DuckDB oracles — same table names, same column aliases. */
  def oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        | count(*) AS n_rows,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
        | min(l_shipdate) AS first_ship, max(l_shipdate) AS last_ship
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q2_topn" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20""".stripMargin,
    "q3_join_agg" ->
      """SELECT c_mktsegment, count(*) AS n_rows, sum(l_quantity) AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,
    "q4_semi_join" ->
      """SELECT p_brand, count(*) AS n_parts FROM part
        |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
        |GROUP BY p_brand""".stripMargin,
    "q5_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,
    "q6_window" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        | SELECT o_custkey, o_orderkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        | FROM orders) WHERE rn = 1""".stripMargin,
    "q7_setops" ->
      """SELECT nk, CASE WHEN nk IN (SELECT DISTINCT s_nationkey FROM supplier)
        | THEN 1 ELSE 0 END AS in_supplier
        |FROM (SELECT DISTINCT CAST(c_nationkey AS INT) AS nk FROM customer
        |      UNION SELECT DISTINCT CAST(s_nationkey AS INT) FROM supplier)""".stripMargin,
    "q8_rollup" ->
      """SELECT r_name, n_name, count(*) AS n_cust FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)""".stripMargin,
    "q9_events_daily" ->
      """SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n_events,
        | CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY CAST(ts AS DATE), event_type""".stripMargin,
    "q10_having" ->
      """SELECT o_custkey, count(*) AS n_orders,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_spend
        |FROM orders GROUP BY o_custkey HAVING count(*) >= 10""".stripMargin,
    "q11_conditional_agg" ->
      """SELECT o_orderpriority,
        | CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
        | CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
        | CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
        |FROM orders GROUP BY o_orderpriority""".stripMargin,
    "doc_dedup_exact" ->
      """SELECT md5(text) AS h, count(*) AS n_copies, min(doc_id) AS keeper
        |FROM documents GROUP BY md5(text)""".stripMargin,
    "doc_tokens" ->
      """SELECT doc_id,
        | len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
        | len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS n_subtokens
        |FROM documents""".stripMargin,
    "doc_quality" ->
      """SELECT doc_id, length(text) AS n_chars,
        | length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS n_alpha,
        | length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit,
        | length(regexp_replace(text, '[^!-/:-@\[-`{-~]', '', 'g')) AS n_punct,
        | len(regexp_extract_all(lower(text),
        |   '\b(the|a|an|of|and|or|to|in|is|it|that|for|on|with|as)\b')) AS n_stopwords
        |FROM documents""".stripMargin,
    "doc_lang_guess" ->
      """SELECT doc_id, CASE
        | WHEN lower(text) LIKE '% the %' OR lower(text) LIKE '% and %'
        |   OR lower(text) LIKE '% of %' THEN 'en'
        | WHEN lower(text) LIKE '% de %' OR lower(text) LIKE '% la %'
        |   OR lower(text) LIKE '% el %' THEN 'es'
        | WHEN lower(text) LIKE '% le %' OR lower(text) LIKE '% et %'
        |   OR lower(text) LIKE '% les %' THEN 'fr'
        | ELSE 'unknown' END AS lang_guess
        |FROM documents""".stripMargin,

    "doc_fingerprint" ->
      """SELECT doc_id,
        |  CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS fingerprint
        |FROM documents""".stripMargin,
    // both gram sets re-derived from scratch (tokenizer twin + list
    // comprehension); the eval fixture itself is staged, so the join
    // input rows are byte-identical across engines
    "doc_decontaminate" ->
      s"""WITH tok AS (SELECT doc_id, list_filter(regexp_split_to_array(
        |    regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
        |    x -> x <> '') AS toks FROM documents),
        |tg AS (SELECT DISTINCT doc_id, ngram FROM (
        |  SELECT doc_id, unnest([array_to_string(toks[i:i+7], ' ')
        |    for i in range(1, greatest(len(toks)-7, 0)+1)]) AS ngram
        |  FROM tok)),
        |etok AS (SELECT list_filter(regexp_split_to_array(
        |    regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
        |    x -> x <> '') AS toks FROM ${stagePath("decon_eval")}),
        |eg AS (SELECT DISTINCT ngram FROM (
        |  SELECT unnest([array_to_string(toks[i:i+7], ' ')
        |    for i in range(1, greatest(len(toks)-7, 0)+1)]) AS ngram
        |  FROM etok))
        |SELECT doc_id, count(*) AS n_overlap
        |FROM tg JOIN eg USING (ngram) GROUP BY doc_id""".stripMargin,
    // per-(doc, gram) counts for n in {1,2,3} in one pass, then the
    // same conditional rollup; sums CAST to BIGINT (DuckDB sum is
    // HUGEINT, Spark's is LONG)
    "doc_repetition" ->
      """WITH tok AS (SELECT doc_id, list_filter(regexp_split_to_array(
        |    regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
        |    x -> x <> '') AS toks FROM documents),
        |g AS (SELECT doc_id, unnest(list_concat(toks, list_concat(
        |    [array_to_string(toks[i:i+1], ' ')
        |      for i in range(1, greatest(len(toks)-1, 0)+1)],
        |    [array_to_string(toks[i:i+2], ' ')
        |      for i in range(1, greatest(len(toks)-2, 0)+1)]))) AS gram
        |  FROM tok),
        |c AS (SELECT doc_id, gram, count(*) AS cnt,
        |    len(string_split(gram, ' ')) AS n
        |  FROM g GROUP BY doc_id, gram),
        |a AS (SELECT doc_id,
        |  CAST(coalesce(sum(CASE WHEN n = 1 THEN cnt END), 0) AS BIGINT)
        |    AS n_tokens,
        |  CAST(count(CASE WHEN n = 1 THEN 1 END) AS BIGINT)
        |    AS n_distinct_tokens,
        |  CAST(coalesce(max(CASE WHEN n = 1 THEN cnt END), 0) AS BIGINT)
        |    AS top1_count,
        |  CAST(coalesce(max(CASE WHEN n = 2 THEN cnt END), 0) AS BIGINT)
        |    AS top2_count,
        |  CAST(coalesce(max(CASE WHEN n = 3 THEN cnt END), 0) AS BIGINT)
        |    AS top3_count
        |FROM c GROUP BY doc_id)
        |SELECT d.doc_id,
        |  coalesce(a.n_tokens, 0) AS n_tokens,
        |  coalesce(a.n_distinct_tokens, 0) AS n_distinct_tokens,
        |  coalesce(a.top1_count, 0) AS top1_count,
        |  coalesce(a.top2_count, 0) AS top2_count,
        |  coalesce(a.top3_count, 0) AS top3_count
        |FROM documents d LEFT JOIN a USING (doc_id)""".stripMargin,
    // byte-identical RE2-safe patterns (graft.text.Pii constants) over
    // the staged injected corpus; same email -> phone -> IPv4 order, with
    // counts on the progressively redacted text (each span attributed to
    // exactly the family whose placeholder replaces it)
    "doc_pii_redact" ->
      s"""WITH t0 AS (SELECT doc_id, text AS s0 FROM ${stagePath("pii_docs")}),
        |t1 AS (SELECT doc_id, s0,
        |    regexp_replace(s0, '${graft.text.Pii.emailRe}', '<EMAIL>', 'g') AS s1
        |  FROM t0),
        |t2 AS (SELECT doc_id, s0, s1,
        |    regexp_replace(s1, '${graft.text.Pii.phoneRe}', '<PHONE>', 'g') AS s2
        |  FROM t1)
        |SELECT doc_id,
        |  regexp_replace(s2, '${graft.text.Pii.ipv4Re}', '<IP>', 'g')
        |    AS clean_text,
        |  CAST(len(regexp_extract_all(s0, '${graft.text.Pii.emailRe}'))
        |    AS BIGINT) AS n_email,
        |  CAST(len(regexp_extract_all(s1, '${graft.text.Pii.phoneRe}'))
        |    AS BIGINT) AS n_phone,
        |  CAST(len(regexp_extract_all(s2, '${graft.text.Pii.ipv4Re}'))
        |    AS BIGINT) AS n_ip
        |FROM t2""".stripMargin,
    // full canonicalization chain re-derived in DuckDB regex/list SQL;
    // only the slash collapse needs the 'g' flag (Spark regexp_replace
    // is always-global, the other patterns are anchored single-match)
    "url_canonicalize" ->
      s"""WITH u0 AS (SELECT url_id, trim(url) AS u
        |  FROM ${stagePath("url_fixture")}),
        |p1 AS (SELECT url_id,
        |    lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme0,
        |    regexp_replace(regexp_replace(u,
        |      '^[A-Za-z][A-Za-z0-9+.-]*://', ''), '^[^/@?#]*@', '') AS rest
        |  FROM u0),
        |p2 AS (SELECT url_id,
        |    CASE WHEN scheme0 = '' THEN 'http' ELSE scheme0 END AS sch,
        |    regexp_extract(rest, '^([^/?#]*)', 1) AS hostport,
        |    regexp_replace(regexp_replace(rest, '^[^/?#]*', ''), '#.*$$', '') AS pqf
        |  FROM p1),
        |p3 AS (SELECT url_id, sch,
        |    regexp_replace(regexp_replace(
        |      lower(regexp_extract(hostport, '^([^:]*)', 1)),
        |      '^www\\.', ''), '\\.$$', '') AS host,
        |    regexp_extract(hostport, ':([0-9]+)$$', 1) AS port,
        |    rtrim(regexp_replace(regexp_extract(pqf, '^([^?]*)', 1),
        |      '/+', '/', 'g'), '/') AS squashed,
        |    regexp_extract(pqf, '\\?(.*)$$', 1) AS rawq
        |  FROM p2),
        |p4 AS (SELECT url_id, sch, host,
        |    CASE WHEN port <> '' AND NOT (sch = 'http' AND port = '80')
        |              AND NOT (sch = 'https' AND port = '443')
        |         THEN ':' || port ELSE '' END AS portpart,
        |    CASE WHEN squashed = '' THEN '/' ELSE squashed END AS path,
        |    array_to_string(list_sort(list_filter(string_split(rawq, '&'),
        |      x -> x <> '' AND NOT regexp_matches(x,
        |        '^(utm_[A-Za-z0-9_]*|fbclid|gclid|msclkid|mc_cid|mc_eid|ref)(=.*)?$$'))),
        |      '&') AS q
        |  FROM p3)
        |SELECT url_id, sch || '://' || host || portpart || path ||
        |  CASE WHEN q <> '' THEN '?' || q ELSE '' END AS canon_url
        |FROM p4""".stripMargin,
    // nearest-rank re-derivation: same floor((n-1)*p) index arithmetic
    "doc_length_quantiles" ->
      """WITH r AS (SELECT lang, n_chars,
        |    row_number() OVER (PARTITION BY lang ORDER BY n_chars) AS rank,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM documents),
        |ps AS (SELECT CAST(unnest([0.25, 0.5, 0.75, 0.9, 0.99]) AS DOUBLE) AS p)
        |SELECT lang, p, n_chars AS q FROM r, ps
        |WHERE rank = floor((n - 1) * p) + 1""".stripMargin,
    // same 60-bit md5 unit value; IEEE division by 2^60 rounds identically
    // in both engines, so membership is bit-reproducible cross-engine
    "doc_stratified_sample" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |        AS BIGINT) / 1152921504606846976.0
        |  < CASE WHEN lang = 'en' THEN 0.5
        |         WHEN lang = 'zh' THEN 0.25 ELSE 0.1 END""".stripMargin,
    // same hash-unit primitive; rate = least(1, B*w/S_d) evaluated with
    // the identical IEEE-754 association as Mixture.tokenBudgetSample.
    // Unlisted sources are dropped BEFORE least() — both engines' least/
    // greatest ignore NULLs, so least(1.0, NULL-weight) would otherwise
    // keep an unlisted domain whole (caught by MixtureSpec).
    "doc_mixture_sample" ->
      """WITH tot AS (SELECT source, sum(n_chars) AS s FROM documents
        |            GROUP BY source),
        |r AS (SELECT source,
        |    least(CAST(1 AS DOUBLE), CAST(20000 AS DOUBLE) * w
        |      / CAST(s AS DOUBLE)) AS rate
        |  FROM (SELECT source, s,
        |      CASE source WHEN 'src0' THEN CAST(0.5 AS DOUBLE)
        |                  WHEN 'src1' THEN CAST(0.3 AS DOUBLE)
        |                  WHEN 'src2' THEN CAST(0.2 AS DOUBLE) END AS w
        |    FROM tot) t
        |  WHERE w IS NOT NULL)
        |SELECT doc_id, source, n_chars FROM documents JOIN r USING (source)
        |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |        AS BIGINT) / 1152921504606846976.0 < rate""".stripMargin,
    // integer-only packing recurrence: window cumsum + generate_series
    // span explode; every intermediate is BIGINT, so the layout is exact.
    "doc_pack_sequences" ->
      """WITH b AS (SELECT doc_id, n_chars AS n,
        |    CAST(floor(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |        AS BIGINT) / 1152921504606846976.0 * CAST(8 AS DOUBLE))
        |      AS INT) AS shard
        |  FROM documents WHERE n_chars > 0),
        |o AS (SELECT shard, doc_id, n,
        |    CAST(sum(n) OVER (PARTITION BY shard ORDER BY doc_id) AS BIGINT)
        |      AS off_end
        |  FROM b),
        |o2 AS (SELECT shard, doc_id, n, off_end, off_end - n AS off_begin
        |  FROM o),
        |x AS (SELECT shard, doc_id, n, off_begin,
        |    unnest(generate_series(off_begin // 2048, (off_end - 1) // 2048))
        |      AS seq_idx
        |  FROM o2)
        |SELECT shard, shard * 1099511627776 + seq_idx AS seq_id, doc_id,
        |  greatest(CAST(0 AS BIGINT), seq_idx * 2048 - off_begin) AS tok_begin,
        |  least(n, (seq_idx + 1) * 2048 - off_begin) AS tok_end
        |FROM x""".stripMargin,
    // full LM re-derivation: same tokenizer twin as doc_tokens/bm25, same
    // add-k arithmetic association, ln snapped to the 9-dec grid and
    // summed as DECIMAL (the Bm25-validated pattern for ln/div chains)
    "doc_lm_quality" ->
      """WITH consts AS (SELECT CAST(0.5 AS DOUBLE) AS ck),
        |d AS (SELECT doc_id, list_filter(regexp_split_to_array(
        |    regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
        |    x -> x <> '') AS toks FROM documents),
        |bgs AS (SELECT doc_id, unnest([toks[i] || ' ' || toks[i+1]
        |    for i in generate_series(1, len(toks) - 1)]) AS bg FROM d),
        |uni AS (SELECT t, count(*) AS cu
        |  FROM (SELECT unnest(toks) AS t FROM d) GROUP BY t),
        |big AS (SELECT bg, count(*) AS cb FROM bgs GROUP BY bg),
        |vv AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM uni),
        |sc AS (SELECT bgs.doc_id,
        |    CAST(round(ln((CAST(cb AS DOUBLE) + ck)
        |      / (CAST(cu AS DOUBLE) + ck * v)), 9) AS DECIMAL(28,9)) AS lp
        |  FROM bgs JOIN big USING (bg)
        |  JOIN uni ON split_part(bgs.bg, ' ', 1) = uni.t, vv, consts),
        |agg AS (SELECT doc_id, sum(lp) AS s2, count(*) AS nb
        |  FROM sc GROUP BY doc_id)
        |SELECT d.doc_id, CAST(COALESCE(nb, 0) AS BIGINT) AS n_bigrams,
        |  round(CAST(s2 AS DOUBLE) / nb, 6) AS avg_ll
        |FROM d LEFT JOIN agg USING (doc_id)""".stripMargin,
    "doc_host_cap" ->
      """SELECT doc_id, source, n_chars FROM (
        |  SELECT doc_id, source, n_chars, row_number() OVER (
        |      PARTITION BY source ORDER BY n_chars DESC, doc_id ASC) AS rn
        |  FROM documents) t
        |WHERE rn <= 12""".stripMargin,
    // both engines md5 the UTF-8 text bytes to lowercase hex; the join
    // compares fingerprints, never texts
    "crawl_snapshot_diff" ->
      s"""WITH o AS (SELECT doc_id, md5(text) AS f FROM documents),
        |n AS (SELECT doc_id, md5(text) AS f
        |  FROM ${stagePath("recrawl_docs")}),
        |j AS (SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |    CASE WHEN o.doc_id IS NULL THEN 'added'
        |         WHEN n.doc_id IS NULL THEN 'deleted'
        |         -- IS NOT DISTINCT FROM mirrors TableDiff's null-safe <=>:
        |         -- a null fingerprint is a value, not a wildcard
        |         WHEN o.f IS NOT DISTINCT FROM n.f THEN 'unchanged'
        |         ELSE 'changed' END AS status
        |  FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
        |SELECT doc_id, status FROM j WHERE status <> 'unchanged'""".stripMargin,
    // the fixed-point PageRank recurrence unrolled: r0 = UNIT//n,
    // each round r_i = (15*UNIT//100)//n + sum((85*r)//(100*odeg)) over
    // in-edges — BIGINT DIV + exact sums, so this is bit-identical to the
    // Spark iteration, not merely close.
    "web_pagerank" -> {
      val iters = 10
      val head =
        s"""WITH e AS (SELECT DISTINCT src, dst FROM ${stagePath("link_graph")}
           |  WHERE src <> dst),
           |deg AS (SELECT src, count(*) AS odeg FROM e GROUP BY src),
           |nodes AS (SELECT DISTINCT id
           |  FROM (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
           |nn AS (SELECT count(*) AS n FROM nodes),
           |r0 AS (SELECT id, 1000000000000 // n AS r FROM nodes, nn)""".stripMargin
      val steps = (1 to iters).map { i =>
        s"""s$i AS (SELECT e.dst AS id,
           |    sum((85 * r.r) // (100 * deg.odeg)) AS recv
           |  FROM e JOIN r${i - 1} r ON e.src = r.id
           |  JOIN deg ON deg.src = e.src
           |  GROUP BY e.dst),
           |r$i AS (SELECT nodes.id,
           |    CAST((150000000000 // (SELECT n FROM nn))
           |      + COALESCE(s$i.recv, 0) AS BIGINT) AS r
           |  FROM nodes LEFT JOIN s$i ON nodes.id = s$i.id)""".stripMargin
      }
      (head +: steps).mkString(",\n") +
        s"\nSELECT id AS host_id, r AS rank_fp FROM r$iters"
    },
    // FNV-1a-64 per token (UBIGINT xor + HUGEINT modular multiply), then
    // per-bit majority votes — replicates Dedup.simhashUdf exactly
    // (validated 0 mismatches over the sf0.01 corpus before landing).
    "doc_simhash" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(
        |      regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
        |      x -> x <> '') toks
        |  FROM documents
        |), tok AS (
        |  SELECT doc_id, unnest(toks) AS t FROM d
        |), th AS (
        |  SELECT doc_id,
        |    list_reduce(
        |      list_prepend(CAST(14695981039346656037 AS UBIGINT),
        |        [CAST(unicode(ch) AS UBIGINT) for ch in regexp_split_to_array(t, '')]),
        |      (acc, x) -> CAST(CAST((CAST(xor(acc, x) AS HUGEINT) * 1099511628211)
        |        % 18446744073709551616 AS HUGEINT) AS UBIGINT)) AS h
        |  FROM tok
        |), bits AS (
        |  SELECT doc_id, b.b AS b,
        |    sum(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
        |  FROM th, (SELECT unnest(range(64)) AS b) b
        |  GROUP BY doc_id, b.b
        |), agg AS (
        |  SELECT doc_id,
        |    sum(CASE WHEN vote > 0 THEN CAST(1 AS HUGEINT) << b ELSE 0 END) AS u
        |  FROM bits GROUP BY doc_id
        |)
        |SELECT d.doc_id,
        |  COALESCE(CAST(CASE WHEN u >= CAST(1 AS HUGEINT) << 63
        |    THEN u - (CAST(1 AS HUGEINT) << 64) ELSE u END AS BIGINT), 0)
        |    AS simhash
        |FROM d LEFT JOIN agg ON d.doc_id = agg.doc_id""".stripMargin,
    // Full DuckDB replication of the winnowing chain (TextAnalysis
    // .winnowFingerprints k=5 w=4): per-char codepoints → base-31 rolling
    // k-gram hashes in mod-2^64 HUGEINT arithmetic → SIGNED conversion
    // (Spark's window-min compares signed longs) → sliding-window minima →
    // distinct → postings df-trim (HAVING 2..64) → pair join. Window-min
    // VALUES are tie-break-independent, so the rightmost-min rule needs no
    // replication.
    "doc_winnow_containment" ->
      """WITH d AS (
        |  SELECT doc_id, [CAST(unicode(ch) AS UBIGINT)
        |    for ch in regexp_split_to_array(lower(text), '')] AS cs
        |  FROM documents
        |), g AS (
        |  SELECT doc_id, len(cs) - 5 + 1 AS n,
        |    [CAST(CASE WHEN h >= CAST(9223372036854775808 AS HUGEINT)
        |               THEN h - CAST(18446744073709551616 AS HUGEINT)
        |               ELSE h END AS BIGINT)
        |     for h in [CAST(list_reduce(cs[i:i+4],
        |         (acc, x) -> CAST(CAST((CAST(acc AS HUGEINT)*31 + x)
        |           % 18446744073709551616 AS HUGEINT) AS UBIGINT))
        |       AS HUGEINT)
        |       for i in range(1, greatest(len(cs)-5+1, 0)+1)]] AS hs
        |  FROM d
        |), f AS (
        |  SELECT doc_id,
        |    CASE WHEN n <= 0 THEN CAST([] AS BIGINT[])
        |         WHEN n <= 4 THEN [list_min(hs)]
        |         ELSE list_distinct([list_min(hs[i:i+3])
        |                             for i in range(1, n-4+2)]) END AS fps
        |  FROM g
        |), p AS (
        |  SELECT doc_id, len(fps) AS n_fp, unnest(fps) AS fp FROM f
        |), cap AS (
        |  -- min(boilerplate frac cap, absolute pair-cost cap 64) — same
        |  -- single-multiply double derivation as the Scala side
        |  SELECT least(greatest(2, CAST(floor(0.128 * count(*)) AS BIGINT)),
        |               64) AS c
        |  FROM documents
        |), keep AS (
        |  SELECT fp FROM p GROUP BY fp
        |  HAVING count(*) <= (SELECT c FROM cap) AND count(*) >= 2
        |), post AS (
        |  SELECT p.fp, p.doc_id, p.n_fp FROM p JOIN keep USING (fp)
        |), pair AS (
        |  SELECT a.doc_id l_id, b.doc_id r_id, count(*) n_shared,
        |         round(count(*)/least(a.n_fp, b.n_fp), 6) containment
        |  FROM post a JOIN post b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id, a.n_fp, b.n_fp
        |)
        |SELECT l_id, r_id, n_shared, containment FROM pair
        |WHERE containment >= 0.4""".stripMargin,
    // exhaustive BIPARTITE shingle-Jaccard between the staged increment
    // and the corpus (same recall-1.0 argument as doc_minhash_neardup:
    // the deterministic band family loses nothing at this sf, so the
    // exhaustive set IS the expected LSH output)
    "doc_incremental_neardup" ->
      s"""WITH d AS (SELECT doc_id, list_filter(regexp_split_to_array(
        |    regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
        |    x -> x <> '') toks FROM documents),
        |csh AS (SELECT doc_id, list_distinct([array_to_string(toks[i:i+2], ' ')
        |  for i in range(1, greatest(len(toks)-2, 0)+1)]) sh FROM d),
        |di AS (SELECT doc_id, list_filter(regexp_split_to_array(
        |    regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
        |    x -> x <> '') toks FROM ${stagePath("inc_docs")}),
        |ish AS (SELECT doc_id, list_distinct([array_to_string(toks[i:i+2], ' ')
        |  for i in range(1, greatest(len(toks)-2, 0)+1)]) sh FROM di)
        |SELECT i.doc_id AS inc_id, c.doc_id AS corpus_id,
        |  len(list_intersect(i.sh, c.sh)) /
        |    len(list_distinct(list_concat(i.sh, c.sh))) AS jaccard
        |FROM ish i JOIN csh c ON
        |  len(list_intersect(i.sh, c.sh)) /
        |    len(list_distinct(list_concat(i.sh, c.sh))) >= 0.8""".stripMargin,
    // LSH candidate generation is pruning, not semantics: on the sf0.01
    // corpus the deterministic band family has verified recall 1.0, so the
    // exhaustive O(n²) shingle-Jaccard set IS the expected output (checked
    // exact, incl. jaccard values, before this oracle landed).
    "doc_minhash_neardup" ->
      """WITH d AS (SELECT doc_id,
        |  list_filter(regexp_split_to_array(
        |    regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
        |    x -> x <> '') toks
        |  FROM documents),
        |sh AS (SELECT doc_id, list_distinct([array_to_string(toks[i:i+2], ' ')
        |  for i in range(1, greatest(len(toks)-2, 0)+1)]) sh FROM d)
        |SELECT a.doc_id AS l_id, b.doc_id AS r_id,
        |  len(list_intersect(a.sh, b.sh)) /
        |    len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.sh, b.sh)) /
        |  len(list_distinct(list_concat(a.sh, b.sh))) >= 0.7""".stripMargin,

    // Independent transitive-closure oracle for ConnectedComponents on
    // REAL similarity edges: the exhaustive-Jaccard pair set (same
    // derivation as doc_minhash_neardup — LSH recall 1.0 verified) closed
    // by a recursive CTE, keeper = min reachable id, singletons keep
    // themselves. Validates the large-star/small-star implementation
    // against a genuinely different algorithm (BFS fixpoint), not only
    // against planted truth (er_clusters) or spec-side union-find.
    "doc_neardup_keepers" ->
      """WITH RECURSIVE d AS (SELECT doc_id,
        |  list_filter(regexp_split_to_array(
        |    regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
        |    x -> x <> '') toks
        |  FROM documents),
        |sh AS (SELECT doc_id, list_distinct([array_to_string(toks[i:i+2], ' ')
        |  for i in range(1, greatest(len(toks)-2, 0)+1)]) sh FROM d),
        |pairs AS (
        |  SELECT a.doc_id AS l_id, b.doc_id AS r_id
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.sh, b.sh)) /
        |    len(list_distinct(list_concat(a.sh, b.sh))) >= 0.7),
        |edges AS (SELECT l_id a, r_id b FROM pairs
        |          UNION SELECT r_id, l_id FROM pairs),
        |reach(id, r) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT reach.id, edges.b FROM reach JOIN edges ON reach.r = edges.a
        |  WHERE edges.b <> reach.id),
        |comp AS (SELECT id, least(id, min(r)) AS keeper FROM reach GROUP BY id)
        |SELECT d2.doc_id, COALESCE(comp.keeper, d2.doc_id) AS keeper
        |FROM documents d2 LEFT JOIN comp ON d2.doc_id = comp.id""".stripMargin,

    // Single composed twin for the whole curation chain: every stage is
    // re-derived (same fragments as its standalone oracle) over the
    // PREVIOUS stage's CTE, so the final packed layout certifies the
    // composition end-to-end. Constants mirror the Spark query: chars>=60,
    // rep<=0.2, jaccard>=0.7 (3-word shingles), 8-gram decon, weights
    // src0/.45 src1/.25 src2/.3 over budget 10000, seqLen 2048 / 8 shards.
    "curation_e2e" ->
      s"""WITH RECURSIVE
        |src AS (SELECT doc_id, text, lang, source, n_chars
        |  FROM ${stagePath("curation_docs")}),
        |t1 AS (SELECT *, regexp_replace(text, '${graft.text.Pii.emailRe}',
        |    '<EMAIL>', 'g') AS s1 FROM src),
        |t2 AS (SELECT *, regexp_replace(s1, '${graft.text.Pii.phoneRe}',
        |    '<PHONE>', 'g') AS s2 FROM t1),
        |p AS (SELECT doc_id, lang, source, n_chars,
        |    regexp_replace(s2, '${graft.text.Pii.ipv4Re}', '<IP>', 'g') AS ct
        |  FROM t2),
        |tok AS (SELECT doc_id, list_filter(regexp_split_to_array(
        |    regexp_replace(lower(ct), '[^a-z0-9]+', ' ', 'g'), ' '),
        |    x -> x <> '') AS toks FROM p),
        |g AS (SELECT doc_id, unnest(list_concat(toks, list_concat(
        |    [array_to_string(toks[i:i+1], ' ')
        |      for i in range(1, greatest(len(toks)-1, 0)+1)],
        |    [array_to_string(toks[i:i+2], ' ')
        |      for i in range(1, greatest(len(toks)-2, 0)+1)]))) AS gram
        |  FROM tok),
        |c AS (SELECT doc_id, gram, count(*) AS cnt,
        |    len(string_split(gram, ' ')) AS n FROM g GROUP BY doc_id, gram),
        |a AS (SELECT doc_id,
        |    CAST(coalesce(sum(CASE WHEN n = 1 THEN cnt END), 0) AS BIGINT) AS n_tokens,
        |    CAST(coalesce(max(CASE WHEN n = 1 THEN cnt END), 0) AS BIGINT) AS top1,
        |    CAST(coalesce(max(CASE WHEN n = 2 THEN cnt END), 0) AS BIGINT) AS top2,
        |    CAST(coalesce(max(CASE WHEN n = 3 THEN cnt END), 0) AS BIGINT) AS top3
        |  FROM c GROUP BY doc_id),
        |rep AS (SELECT doc_id, greatest(
        |    CAST(top1 AS DOUBLE) / CAST(greatest(n_tokens, 1) AS DOUBLE),
        |    CAST(top2 AS DOUBLE) * CAST(2.0 AS DOUBLE)
        |      / CAST(greatest(n_tokens, 1) AS DOUBLE),
        |    CAST(top3 AS DOUBLE) * CAST(3.0 AS DOUBLE)
        |      / CAST(greatest(n_tokens, 1) AS DOUBLE)) AS rep_score FROM a),
        |q AS (SELECT p.* FROM p LEFT JOIN rep USING (doc_id)
        |  WHERE length(ct) >= 60
        |    AND coalesce(rep_score, CAST(0 AS DOUBLE)) <= CAST(0.2 AS DOUBLE)),
        |e AS (SELECT * FROM q
        |  QUALIFY row_number() OVER (PARTITION BY md5(ct) ORDER BY doc_id) = 1),
        |sh AS (SELECT tok.doc_id,
        |    list_distinct([array_to_string(toks[i:i+2], ' ')
        |      for i in range(1, greatest(len(toks)-2, 0)+1)]) AS sh
        |  FROM tok JOIN e USING (doc_id)),
        |pairs AS (SELECT a2.doc_id AS l_id, b2.doc_id AS r_id
        |  FROM sh a2 JOIN sh b2 ON a2.doc_id < b2.doc_id
        |  WHERE len(list_intersect(a2.sh, b2.sh)) /
        |    len(list_distinct(list_concat(a2.sh, b2.sh))) >= 0.7),
        |edges AS (SELECT l_id a3, r_id b3 FROM pairs
        |          UNION SELECT r_id, l_id FROM pairs),
        |reach(id, r) AS (
        |  SELECT a3, b3 FROM edges
        |  UNION
        |  SELECT reach.id, edges.b3 FROM reach JOIN edges ON reach.r = edges.a3
        |  WHERE edges.b3 <> reach.id),
        |comp AS (SELECT id, least(id, min(r)) AS keeper FROM reach GROUP BY id),
        |nk AS (SELECT e.* FROM e LEFT JOIN comp ON e.doc_id = comp.id
        |  WHERE coalesce(comp.keeper, e.doc_id) = e.doc_id),
        |tg AS (SELECT DISTINCT doc_id, ngram FROM (
        |    SELECT doc_id, unnest([array_to_string(toks[i:i+7], ' ')
        |      for i in range(1, greatest(len(toks)-7, 0)+1)]) AS ngram
        |    FROM (SELECT tok.doc_id, toks FROM tok JOIN nk USING (doc_id)) tk)),
        |etok AS (SELECT list_filter(regexp_split_to_array(
        |    regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
        |    x -> x <> '') AS toks FROM ${stagePath("decon_eval")}),
        |eg AS (SELECT DISTINCT ngram FROM (
        |  SELECT unnest([array_to_string(toks[i:i+7], ' ')
        |    for i in range(1, greatest(len(toks)-7, 0)+1)]) AS ngram FROM etok)),
        |bad AS (SELECT DISTINCT doc_id FROM tg JOIN eg USING (ngram)),
        |dec AS (SELECT nk.* FROM nk LEFT JOIN bad USING (doc_id)
        |  WHERE bad.doc_id IS NULL),
        |tot AS (SELECT source, sum(n_chars) AS sm FROM dec GROUP BY source),
        |r2 AS (SELECT source, least(CAST(1 AS DOUBLE),
        |    CAST(10000 AS DOUBLE) * w / CAST(sm AS DOUBLE)) AS rate
        |  FROM (SELECT source, sm,
        |      CASE source WHEN 'src0' THEN CAST(0.45 AS DOUBLE)
        |                  WHEN 'src1' THEN CAST(0.25 AS DOUBLE)
        |                  WHEN 'src2' THEN CAST(0.3 AS DOUBLE) END AS w
        |    FROM tot) t0 WHERE w IS NOT NULL),
        |m AS (SELECT dec.* FROM dec JOIN r2 USING (source)
        |  WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |      AS BIGINT) / 1152921504606846976.0 < rate),
        |b4 AS (SELECT doc_id, n_chars AS n,
        |    CAST(floor(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |        AS BIGINT) / 1152921504606846976.0 * CAST(8 AS DOUBLE))
        |      AS INT) AS shard
        |  FROM m WHERE n_chars > 0),
        |o AS (SELECT shard, doc_id, n,
        |    CAST(sum(n) OVER (PARTITION BY shard ORDER BY doc_id) AS BIGINT)
        |      AS off_end FROM b4),
        |o2 AS (SELECT shard, doc_id, n, off_end, off_end - n AS off_begin FROM o),
        |x AS (SELECT shard, doc_id, n, off_begin,
        |    unnest(generate_series(off_begin // 2048, (off_end - 1) // 2048))
        |      AS seq_idx FROM o2)
        |SELECT shard, shard * 1099511627776 + seq_idx AS seq_id, doc_id,
        |  greatest(CAST(0 AS BIGINT), seq_idx * 2048 - off_begin) AS tok_begin,
        |  least(n, (seq_idx + 1) * 2048 - off_begin) AS tok_end
        |FROM x""".stripMargin,

    // ------- staged-fixture oracles (inputs written by the Spark query) ---
    "convert_ditto" -> {
      val lt = sqlRobustField("l", "COL title VAL (.*) COL brand VAL")
      val lb = sqlRobustField("l", "COL brand VAL (.*)$")
      val rt = sqlRobustField("r", "COL title VAL (.*) COL brand VAL")
      val rb = sqlRobustField("r", "COL brand VAL (.*)$")
      s"""WITH src AS (SELECT ord, value FROM ${stagePath("convert_lines")}),
         |p AS (SELECT ord, regexp_split_to_array(trim(value), '\\t+') parts
         |      FROM src WHERE length(trim(value)) > 0),
         |ok AS (SELECT ord, parts[1] l, parts[2] r, trim(parts[3]) lab
         |       FROM p WHERE len(parts) = 3
         |         AND regexp_matches(trim(parts[3]), '^[-+]?[0-9]+$$')),
         |w AS (SELECT CAST(row_number() OVER (ORDER BY ord) - 1 AS BIGINT) AS id,
         |             CAST(lab AS INT) AS label, l, r FROM ok)
         |SELECT id, label, $lt AS left_title, $rt AS right_title,
         |       $lb AS left_brand, $rb AS right_brand FROM w""".stripMargin
    },
    "enrich_titles" ->
      s"""SELECT id, label, ${sqlWdcTitle("left_title")} AS left_title,
         |  ${sqlWdcTitle("right_title")} AS right_title
         |FROM ${stagePath("enrich_input")}""".stripMargin,
    "enrich_beer" -> {
      def side(s: String): Seq[String] = {
        def in(c: String) = "\"" + s + "_" + c + "\""
        def boolF(f: String) =
          s"COALESCE(${sqlBoolRender(in(f))}, 'unknown') AS ${s}_$f"
        Seq(
          s"COALESCE(${sqlCleanEntityName(in("Beer_Name"))}, 'unknown') AS ${s}_name",
          s"COALESCE(${sqlCleanEntityName(in("Brew_Factory_Name"), sqlDropCorp)}, 'unknown') AS ${s}_brewery",
          s"COALESCE(${sqlPrimaryStyle(in("Style"))}, 'unknown') AS ${s}_primary_style",
          s"COALESCE(${sqlSecondaryStyle(in("Style"))}, 'unknown') AS ${s}_secondary_style",
          s"COALESCE(${sqlAbvRender(in("ABV"))}, 'unknown') AS ${s}_abv",
          boolF("is_amber"), boolF("is_ale"), boolF("is_lager"),
          boolF("is_imperial"),
          s"COALESCE(lower(${sqlCleanText(in("special_ingredients"))}), 'unknown') AS ${s}_special_ingredients")
      }
      s"""SELECT id, label,
         |  ${(side("left") ++ side("right")).mkString(",\n  ")}
         |FROM ${stagePath("enrich_beer_input")}""".stripMargin
    },
    "enrich_dblacm" -> {
      def side(s: String): Seq[String] = {
        def in(c: String) = "\"" + s + "_" + c + "\""
        Seq(
          s"COALESCE(${sqlCleanText(in("title"))}, 'VAL -') AS ${s}_title",
          s"COALESCE(${sqlWsCollapse(sqlNullMark(in("authors")))}, 'VAL -') AS ${s}_authors",
          s"COALESCE(${sqlVenue(in("venue"))}, 'VAL -') AS ${s}_venue",
          s"COALESCE(${sqlYearOrNull(in("year"))}, 'VAL -') AS ${s}_year")
      }
      s"""SELECT id, label,
         |  ${(side("left") ++ side("right")).mkString(",\n  ")}
         |FROM ${stagePath("enrich_dblacm_input")}""".stripMargin
    },
    "enrich_fodors" -> {
      def side(s: String): Seq[String] = {
        def in(c: String) = "\"" + s + "_" + c + "\""
        Seq(
          s"COALESCE(${sqlCleanEntityName(in("name"))}, 'unknown') AS ${s}_name",
          s"COALESCE(${sqlInitcap(sqlWsCollapse(sqlExpandAbbrev(sqlNullMark(in("addr")))))}, 'unknown') AS ${s}_addr",
          s"COALESCE(${sqlCity(in("city"))}, 'unknown') AS ${s}_city",
          s"COALESCE(${sqlPhone(in("phone"))}, 'unknown') AS ${s}_phone",
          s"COALESCE(lower(${sqlWsCollapse(sqlNullMark(in("category")))}), 'unknown') AS ${s}_category",
          s"COALESCE(trim(${sqlNullMark(in("class"))}), 'unknown') AS ${s}_class")
      }
      s"""SELECT id, label,
         |  ${(side("left") ++ side("right")).mkString(",\n  ")}
         |FROM ${stagePath("enrich_fodors_input")}""".stripMargin
    },
    "enrich_itunes" -> {
      def side(s: String): Seq[String] = {
        def in(c: String) = "\"" + s + "_" + c + "\""
        def out(f: String) = "\"" + s + "_" + f + "\""
        Seq(
          s"COALESCE(${sqlCleanText(in("Song_Name"))}, 'VAL -') AS ${out("Song_Name")}",
          s"COALESCE(${sqlWsCollapse(sqlNullMark(in("Artist_Name")))}, 'VAL -') AS ${out("Artist_Name")}",
          s"COALESCE(${sqlCleanText(in("Album_Name"))}, 'VAL -') AS ${out("Album_Name")}",
          s"COALESCE(${sqlWsCollapse(sqlNullMark(in("Genre")))}, 'VAL -') AS ${out("Genre")}",
          s"COALESCE(${sqlPriceUsd(in("Price"))}, 'VAL -') AS ${out("Price")}",
          s"COALESCE(${sqlWsCollapse(sqlNullMark(in("CopyRight")))}, 'VAL -') AS ${out("CopyRight")}",
          s"COALESCE(${sqlTime(in("Time"))}, 'VAL -') AS ${out("Time")}",
          s"COALESCE(${sqlDate(in("Released"))}, 'VAL -') AS ${out("Released")}")
      }
      s"""SELECT id, label,
         |  ${(side("left") ++ side("right")).mkString(",\n  ")}
         |FROM ${stagePath("enrich_itunes_input")}""".stripMargin
    },
    "enrich_camera" ->
      s"""SELECT id, label,
         |  COALESCE(${sqlCameraNormalize(sqlWdcTitleCore("left_title"))}, 'unknown') AS left_title,
         |  COALESCE(${sqlCameraNormalize(sqlWdcTitleCore("right_title"))}, 'unknown') AS right_title
         |FROM ${stagePath("enrich_camera_input")}""".stripMargin,
    // R14: matched pairs (label=1) unit-unify and cross-copy a missing
    // side; unmatched pairs keep the base normalization only
    "enrich_wdc_aligned" ->
      s"""WITH s AS (SELECT id, label,
         |    ${sqlWdcTitleCore("left_title")} AS nl,
         |    ${sqlWdcTitleCore("right_title")} AS nr
         |  FROM ${stagePath("enrich_aligned_input")}),
         |a AS (SELECT id, label,
         |    CASE WHEN label = 1 THEN ${sqlUnitUnify("nl")} ELSE nl END AS ml,
         |    CASE WHEN label = 1 THEN ${sqlUnitUnify("nr")} ELSE nr END AS mr
         |  FROM s)
         |SELECT id, label,
         |  COALESCE(CASE WHEN label = 1 AND ml IS NULL THEN mr ELSE ml END, 'unknown') AS left_title,
         |  COALESCE(CASE WHEN label = 1 AND mr IS NULL THEN ml ELSE mr END, 'unknown') AS right_title
         |FROM a""".stripMargin,
    "er_extract" -> {
      val canon = sqlExtractTitle("text")
      val norm = s"lower(${sqlDedupeCollapse(sqlUnitSpacing(sqlVendorNoise(sqlLangTags("canonical_text"))))})"
      s"""WITH e AS (SELECT url, $canon AS canonical_text
         |           FROM ${stagePath("er_pages")})
         |SELECT url, canonical_text, $norm AS norm_title FROM e""".stripMargin
    },
    "er_clusters" ->
      s"""SELECT url, min(id) OVER (PARTITION BY entity_id) AS component
         |FROM ${stagePath("er_truth")}""".stripMargin,
    // decoder routing re-derived from payload magic bytes: lossless PNG →
    // real imageio decode, everything else → deterministic stub
    // (Multimodal.isLosslessImage; GIF/BMP don't occur in this fixture)
    "multimodal_features" ->
      s"""SELECT media_id, 'image' AS kind,
         |  octet_length(payload) AS n_bytes,
         |  CASE WHEN left(hex(payload), 8) = '89504E47'
         |       THEN 'imageio' ELSE 'stub' END AS decoder,
         |  md5(hex(payload)) AS payload_md5
         |FROM ${stagePath("mm_media")}""".stripMargin,
    "er_f1" ->
      s"""WITH cl AS (SELECT * FROM ${stagePath("er_f1_clusters")}),
         |lp AS (SELECT * FROM ${stagePath("er_f1_pairs")}),
         |j AS (SELECT lp.label AS gold,
         |  CASE WHEN l.component IS NOT NULL AND l.component = r.component
         |       THEN 1 ELSE 0 END AS pred
         |  FROM lp LEFT JOIN cl l ON lp.left_url = l.url
         |          LEFT JOIN cl r ON lp.right_url = r.url),
         |c AS (SELECT
         |  CAST(sum(CASE WHEN gold=1 AND pred=1 THEN 1 ELSE 0 END) AS BIGINT) tp,
         |  CAST(sum(CASE WHEN gold=0 AND pred=1 THEN 1 ELSE 0 END) AS BIGINT) fp,
         |  CAST(sum(CASE WHEN gold=1 AND pred=0 THEN 1 ELSE 0 END) AS BIGINT) fn,
         |  CAST(sum(CASE WHEN gold=0 AND pred=0 THEN 1 ELSE 0 END) AS BIGINT) tn
         |  FROM j),
         |pr AS (SELECT tp, fp, fn, tn,
         |  CASE WHEN tp + fp = 0 THEN 0.0 ELSE tp / (tp + fp) END AS precision,
         |  CASE WHEN tp + fn = 0 THEN 0.0 ELSE tp / (tp + fn) END AS recall
         |  FROM c)
         |SELECT tp, fp, fn, tn, precision, recall,
         |  CASE WHEN precision + recall = 0.0 THEN 0.0
         |       ELSE 2.0 * precision * recall / (precision + recall) END AS f1
         |FROM pr""".stripMargin,
    "eval_threshold_sweep" ->
      s"""WITH lp AS (SELECT * FROM ${stagePath("eval_log")}),
         |t AS (SELECT unnest([${sweepThresholds.map("'" + _ + "'").mkString(", ")}]::DOUBLE[]) AS threshold),
         |j AS (SELECT threshold, gold,
         |  CASE WHEN probability >= threshold THEN 1 ELSE 0 END AS pred
         |  FROM lp CROSS JOIN t),
         |c AS (SELECT threshold,
         |  CAST(sum(CASE WHEN gold=1 AND pred=1 THEN 1 ELSE 0 END) AS BIGINT) tp,
         |  CAST(sum(CASE WHEN gold=0 AND pred=1 THEN 1 ELSE 0 END) AS BIGINT) fp,
         |  CAST(sum(CASE WHEN gold=1 AND pred=0 THEN 1 ELSE 0 END) AS BIGINT) fn,
         |  CAST(sum(CASE WHEN gold=0 AND pred=0 THEN 1 ELSE 0 END) AS BIGINT) tn
         |  FROM j GROUP BY threshold),
         |pr AS (SELECT threshold, tp, fp, fn, tn,
         |  CASE WHEN tp + fp = 0 THEN 0.0 ELSE tp / (tp + fp) END AS precision,
         |  CASE WHEN tp + fn = 0 THEN 0.0 ELSE tp / (tp + fn) END AS recall
         |  FROM c)
         |SELECT threshold, tp, fp, fn, tn, precision, recall,
         |  CASE WHEN precision + recall = 0.0 THEN 0.0
         |       ELSE 2.0 * precision * recall / (precision + recall) END AS f1
         |FROM pr""".stripMargin,
    "events_asof" ->
      """WITH clicks AS (SELECT event_id AS click_id, user_id, ts
        |               FROM events WHERE event_type='click'),
        |views AS (SELECT event_id AS view_id, user_id, ts, value AS view_value
        |          FROM events WHERE event_type='view')
        |SELECT c.click_id, c.user_id, v.view_id AS asof_view_id,
        |       v.view_value AS asof_view_value
        |FROM clicks c ASOF LEFT JOIN views v
        |  ON c.user_id = v.user_id AND v.ts <= c.ts""".stripMargin,
    // full BM25 re-derivation: same tokenizer twin as er_similarity, same
    // association order per arithmetic step; per-term scores snap to a
    // 9-decimal grid and sum as DECIMAL (order-independent), so ranks
    // can't float. Constants go through a consts CTE because bare DuckDB
    // literals are DECIMAL, not DOUBLE.
    "doc_bm25_topk" ->
      s"""WITH consts AS (SELECT CAST(1.2 AS DOUBLE) AS k1,
        |    CAST(0.75 AS DOUBLE) AS b, CAST(0.5 AS DOUBLE) AS half,
        |    CAST(1 AS DOUBLE) AS one),
        |d AS (SELECT doc_id, list_filter(regexp_split_to_array(
        |    regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
        |    x -> x <> '') AS toks FROM documents),
        |dd AS (SELECT doc_id, len(toks) AS dl, toks FROM d),
        |post AS (SELECT doc_id, dl, unnest(toks) AS term FROM dd),
        |tf AS (SELECT doc_id, term, dl, count(*) AS tf
        |       FROM post GROUP BY 1, 2, 3),
        |stats AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE) AS sum_dl
        |          FROM dd),
        |q AS (SELECT query_id, term FROM ${stagePath("bm25_queries")}),
        |dft AS (SELECT term, count(DISTINCT doc_id) AS dft FROM tf
        |        WHERE term IN (SELECT term FROM q) GROUP BY term),
        |s AS (SELECT q.query_id, tf.doc_id,
        |    CAST(round(
        |      ln(one + (n_docs - dft.dft + half) / (dft.dft + half))
        |      * (tf.tf * (k1 + one))
        |      / (tf.tf + k1 * (one - b + b * tf.dl / (sum_dl / n_docs))), 9)
        |      AS DECIMAL(28,9)) AS s_dec
        |  FROM tf JOIN dft USING (term) JOIN q USING (term), stats, consts),
        |g AS (SELECT query_id, doc_id, sum(s_dec) AS score_dec
        |      FROM s GROUP BY 1, 2),
        |r AS (SELECT query_id, doc_id, score_dec, row_number() OVER (
        |        PARTITION BY query_id ORDER BY score_dec DESC, doc_id)
        |        AS rank FROM g)
        |SELECT query_id, doc_id, round(CAST(score_dec AS DOUBLE), 6) AS score,
        |  rank
        |FROM r WHERE rank <= 10""".stripMargin,
    // same window logic re-derived in DuckDB SQL: lag → gap flag → running
    // sum (ROWS frame, unique (ts, event_id) order) → per-session rollup
    "events_sessionize" ->
      """WITH o AS (SELECT user_id, ts, event_id, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w > INTERVAL 21600 SECOND
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, ts, value,
        |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS session_seq
        |  FROM o),
        |g AS (SELECT user_id, session_seq, min(ts) AS session_start,
        |    max(ts) AS session_end, count(*) AS n_events,
        |    CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        |  FROM s GROUP BY 1, 2)
        |SELECT * FROM g""".stripMargin,
    "emb_ann_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
        |q AS (SELECT vec_id query_id, v qv FROM e ORDER BY vec_id LIMIT 8),
        |s AS (SELECT query_id, e.vec_id neighbor_id,
        |        round(list_cosine_similarity(qv, e.v), 6) cos
        |      FROM q, e WHERE e.vec_id <> q.query_id),
        |r AS (SELECT s.*, row_number() OVER (PARTITION BY query_id
        |        ORDER BY cos DESC, neighbor_id ASC) rank FROM s)
        |SELECT query_id, neighbor_id, cos, rank FROM r WHERE rank <= 5""".stripMargin,
    // nearest staged centroid by the same rounded inner product; the
    // window's (dot DESC, list_id ASC) order replicates the first-max
    // tie-break of Spark's array_position argmax
    "emb_kmeans_topics" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v
        |  FROM embeddings),
        |c AS (SELECT list_id, centroid FROM ${stagePath("kmeans_centroids")}),
        |d AS (SELECT vec_id, list_id,
        |    round(list_dot_product(v, centroid), 6) AS dot FROM e, c),
        |r AS (SELECT vec_id, list_id, dot, row_number() OVER (
        |    PARTITION BY vec_id ORDER BY dot DESC, list_id ASC) AS rn
        |  FROM d)
        |SELECT vec_id, list_id AS topic, dot FROM r WHERE rn = 1""".stripMargin,
    // full-probe IVF ≡ brute force: identical oracle shape to emb_ann_topk
    "emb_ann_ivf" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
        |q AS (SELECT vec_id query_id, v qv FROM e ORDER BY vec_id LIMIT 8),
        |s AS (SELECT query_id, e.vec_id neighbor_id,
        |        round(list_cosine_similarity(qv, e.v), 6) cos
        |      FROM q, e WHERE e.vec_id <> q.query_id),
        |r AS (SELECT s.*, row_number() OVER (PARTITION BY query_id
        |        ORDER BY cos DESC, neighbor_id ASC) rank FROM s)
        |SELECT query_id, neighbor_id, cos, rank FROM r WHERE rank <= 5""".stripMargin,
    // exhaustive-cosine twin over BOTH inputs the Spark query unions: the
    // per-sf table (true negatives) and the staged planted fixture
    // (nonzero near-dup pairs). LSH candidate generation is pruning, not
    // semantics — recall 1.0 on both populations verified before landing.
    "emb_neardup_lsh" ->
      s"""WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings
        |  UNION ALL
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) v
        |  FROM ${stagePath("emb_neardup_fixture")})
        |SELECT a.vec_id l_id, b.vec_id r_id,
        |  round(list_cosine_similarity(a.v, b.v), 6) cos
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.v, b.v) >= 0.9""".stripMargin,
    "emb_ann_ivf_probe" ->
      s"""WITH q AS (SELECT vec_id AS query_id
        |  FROM ${stagePath("emb_neardup_fixture")} ORDER BY vec_id LIMIT 8),
        |c AS (SELECT query_id, count(*) AS n
        |  FROM ${stagePath("ivf_probe_cands")} GROUP BY query_id)
        |SELECT q.query_id, CAST(COALESCE(c.n, 0) AS BIGINT) AS n_candidates
        |FROM q LEFT JOIN c USING (query_id)""".stripMargin,
    "er_similarity" ->
      """WITH p AS (SELECT p_partkey, p_name,
        |  list_distinct(list_filter(regexp_split_to_array(
        |    regexp_replace(lower(p_name), '[^a-z0-9]+', ' ', 'g'), ' '),
        |    x -> x <> '')) toks
        |  FROM part WHERE p_partkey < 20000)
        |SELECT a.p_partkey AS p_partkey, b.p_partkey AS q_partkey,
        |  levenshtein(a.p_name, b.p_name) AS lev,
        |  round(CASE WHEN greatest(length(a.p_name), length(b.p_name)) = 0
        |    THEN 1.0 ELSE 1.0 - levenshtein(a.p_name, b.p_name) /
        |      greatest(length(a.p_name), length(b.p_name)) END, 6) AS lev_ratio,
        |  round(len(list_intersect(a.toks, b.toks)) /
        |    len(list_distinct(list_concat(a.toks, b.toks))), 6) AS jaccard,
        |  round(len(list_intersect(a.toks, b.toks)) /
        |    sqrt(len(a.toks) * len(b.toks)), 6) AS cosine
        |FROM p a JOIN p b
        |  ON (a.p_partkey % 97) = (97 - (b.p_partkey % 97)) % 97
        |  AND a.p_partkey <> b.p_partkey""".stripMargin
  )
}
