package graft.plans

import graft.SparkSuite
import graft.SparkEntry
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/**
 * Physical-plan assertions: the properties that make these operators
 * viable at 100 TB — predicate pushdown into the parquet scan, column
 * pruning, broadcast of small join sides, map-side partial aggregation,
 * whole-stage codegen on the hot paths. A regression here is a
 * performance bug even when results stay correct.
 */
class PlanSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  private def planString(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filter + projection reach the parquet scan (pushdown + pruning)") {
    val df = spark.read.parquet(s"$dir/lineitem.parquet")
      .where(col("l_quantity") > 45)
      .select("l_orderkey", "l_quantity")
    val scan = df.queryExecution.executedPlan.collectLeaves().map(_.toString)
      .mkString("\n")
    assert(scan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)]"),
      s"filter not pushed:\n$scan")
    assert(scan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"columns not pruned:\n$scan")
  }

  test("q3 join broadcasts the small customer dimension WITHOUT a hint") {
    // the query carries no broadcast() hint (a forced hint is a driver
    // OOM at 100× scale) — Catalyst's size estimate / AQE must still
    // pick a broadcast for the small dim side on its own
    val df = SparkEntry.queries("q3_join_agg")(spark, dir)
    df.collect() // finalize the adaptive plan
    val plan = planString(df)
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
  }

  test("q1 aggregation is partial (map-side combine) and codegen'd") {
    val df = SparkEntry.queries("q1_agg")(spark, dir)
    val plan = planString(df)
    assert(plan.contains("HashAggregate"), plan)
    assert(plan.contains("partial_sum"), plan) // map-side combine
    df.collect() // finalize the adaptive plan, then check codegen stages
    // The AQE final plan renders codegen stages as "*(n) Op", not the
    // literal "WholeStageCodegen" — match the star marker instead.
    val finalPlan = planString(df)
    assert(finalPlan.contains("*("), finalPlan)
  }

  test("threshold sweep aggregates partially and shuffles only counts") {
    import spark.implicits._
    // AQE off so the compiled plan's exchanges are directly inspectable
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val log = Seq((1, 0.9, "payload left"), (0, 0.4, "payload right"),
        (1, 0.6, "x")).toDF("gold", "probability", "text_left")
      val df = graft.eval.Metrics.prAtThresholds(log, Seq(0.3, 0.5, 0.7))
      val plan = planString(df)
      // map-side combine: confusion counts partial-aggregate before the
      // 4-longs-per-threshold exchange — the property that keeps the
      // sweep log-size-independent on the shuffle
      assert(plan.contains("partial_sum"), plan)
      // the exploded rows carry (gold, prob, threshold) only — the log's
      // payload columns are pruned before the fan-out and nothing
      // string-typed crosses an exchange
      val exchanges = df.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.nonEmpty)
      exchanges.foreach { e =>
        assert(!e.child.schema.fields.exists(_.dataType.typeName == "string"),
          s"payload crossed the sweep exchange: ${e.child.schema}")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("extraction + blocking stage is shuffle-free (narrow maps only)") {
    val ex = graft.pipeline.ERPipeline.extract(
      graft.gen.PageGen.pages(spark, 50, seed = 1L))
    val plan = planString(ex)
    assert(!plan.contains("Exchange"), s"unexpected shuffle in extract:\n$plan")
  }

  test("ER candidate join shuffles slim block rows, never titles/token arrays") {
    // at-scale (shuffle-join) config: the block-key self-join and pair
    // dedup must exchange only (block_key, id, token_fp)-shaped rows;
    // payloads may move only through the post-dedup id-join attach.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // AQE off so the compiled plan's exchanges are directly inspectable
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
    val cfg = graft.pipeline.ERPipeline.Config(payloadBroadcastMaxRows = 0L)
    val ex = graft.pipeline.ERPipeline.extract(
      graft.gen.PageGen.pages(spark, 80, seed = 2L)).localCheckpoint()
    val blocked = graft.pipeline.ERPipeline.block(ex, cfg, Some(ex.count()))
    val (scored, _) = graft.pipeline.ERPipeline.scorePairs(ex, blocked, cfg)
    val exchanges = scored.queryExecution.executedPlan.collect {
      case s: ShuffleExchangeExec => s.output.map(_.name)
    }
    assert(exchanges.nonEmpty)
    // Accurate row stats on the materialized slim table may let Catalyst
    // BROADCAST the block-key self-join at fixture scale (zero exchange —
    // strictly better); past the broadcast threshold it degrades to the
    // shuffle join. Either way the invariant is the same: whatever moves
    // for the candidate join is (block_key, id, token_fp)-shaped.
    val blockJoinExchanges = exchanges.filter(_.exists(_.contains("block_key")))
    if (blockJoinExchanges.isEmpty)
      assert(planString(scored).contains("BroadcastHashJoin"),
        s"block join neither shuffled nor broadcast: $exchanges")
    blockJoinExchanges.foreach { cols =>
      assert(!cols.exists(c => c.contains("norm_title") || c.contains("tokens")),
        s"payload column shuffled through the candidate join: $cols")
    }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("ER pair dedup keeps every shuffle partition, with one exchange") {
    // slim pair rows are small enough that AQE would coalesce an ordinary
    // exchange to ONE partition, leaving payload joins and scoring to a
    // single task; the explicit repartition is exempt from coalescing and
    // the dedup aggregate reuses it
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeLike}
    val cfg = graft.pipeline.ERPipeline.Config()
    val ex = graft.pipeline.ERPipeline.extract(
      graft.gen.PageGen.pages(spark, 80, seed = 2L)).localCheckpoint()
    val blocked = graft.pipeline.ERPipeline.block(ex, cfg, Some(ex.count()))
    val (scored, _) = graft.pipeline.ERPipeline.scorePairs(ex, blocked, cfg)
    scored.collect() // finalize the adaptive plan
    def exchanges(p: SparkPlan): Seq[ShuffleExchangeLike] = p match {
      case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
      case q: QueryStageExec => exchanges(q.plan)
      case e: ShuffleExchangeLike => e +: e.children.flatMap(exchanges)
      case other => other.children.flatMap(exchanges)
    }
    val parts = spark.sessionState.conf.numShufflePartitions
    val pairExchanges = exchanges(scored.queryExecution.executedPlan)
      .filter(_.outputPartitioning match {
        case h: HashPartitioning =>
          h.expressions.flatMap(_.references.map(_.name)) == Seq("l_id", "r_id")
        case _ => false
      })
    assert(pairExchanges.map(e => (e.shuffleOrigin, e.numPartitions)) ===
      Seq((REPARTITION_BY_NUM, parts)), planString(scored))
    assert(scored.queryExecution.executedPlan.execute().getNumPartitions ===
      parts, planString(scored))
  }

  test("anti-join stays a broadcast on a small build side") {
    val plan = planString(SparkEntry.queries("q5_anti_join")(spark, dir))
    assert(plan.contains("BroadcastHashJoin") &&
      plan.contains("LeftAnti"), plan)
  }

  test("stratified sample is a narrow codegen'd filter over the scan") {
    val plan = planString(SparkEntry.queries("doc_stratified_sample")(spark, dir))
    assert(!plan.contains("Exchange"), s"sampling must not shuffle:\n$plan")
    assert(plan.contains("Filter"), plan)
  }

  test("BM25 prunes to query terms BEFORE the postings aggregation") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import spark.implicits._
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val docs = (0L until 200L).map(i =>
        (i, s"alpha beta w${i % 17} w${i % 23} gamma")).toDF("doc_id", "text")
      val queries = Seq((0L, "alpha"), (0L, "gamma")).toDF("query_id", "term")
      val df = graft.text.Bm25.topK(docs, $"doc_id", $"text", queries, k = 5)
      val plan = df.queryExecution.executedPlan
      // the tf aggregation's exchange must sit ABOVE a broadcast semi-join
      // (term prune), so its input is matching postings, not vocabulary:
      // every shuffle that carries `term` must have a BroadcastHashJoin
      // somewhere beneath it
      // postings-shaped = carries term AND doc_id (the broadcast build
      // side's own tiny distinct-terms exchange is exempt)
      val termShuffles = plan.collect {
        case s: ShuffleExchangeExec if s.output.exists(_.name == "term") &&
          s.output.exists(_.name == "doc_id") => s
      }
      assert(termShuffles.nonEmpty, plan.toString)
      termShuffles.foreach { s =>
        assert(s.toString.contains("BroadcastHashJoin"),
          s"postings exchange not pruned by the query-term semi-join:\n$s")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("incremental dedup: corpus index rows never shuffle (broadcast-only joins)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import spark.implicits._
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val corpus = (0L until 300L).map(i =>
        (i, (0 until 10).map(j => s"w${(i * 3 + j) % 50}").mkString(" ")))
        .toDF("doc_id", "text")
      val inc = corpus.where($"doc_id" % 29 === 0)
        .select(($"doc_id" + 1000L).as("doc_id"),
          concat($"text", lit(" fresh")).as("text"))
      val index = graft.dedup.Dedup.minhashBandIndex(corpus, $"doc_id", $"text", 4, 2)
      val pairs = graft.dedup.Dedup.incrementalMinhashPairs(
        inc, $"doc_id", $"text", index, corpus, $"doc_id", $"text", 4, 2, 0.5)
      // the band join itself must be broadcast: any (block_key,
      // corpus_id) exchange must sit ABOVE a broadcast prune (the
      // hot-block cap's window branch), never directly over the raw index
      val plan = pairs.queryExecution.executedPlan
      assert(plan.toString.contains("BroadcastHashJoin"), plan.toString)
      val bandShuffles = plan.collect {
        case s: ShuffleExchangeExec
          if s.output.exists(_.name == "block_key") &&
             s.output.exists(_.name == "corpus_id") => s
      }
      bandShuffles.foreach { s =>
        assert(s.toString.contains("BroadcastHashJoin"),
          s"raw corpus index shuffled on block_key:\n$s")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("mixture sampling broadcasts rates; the corpus itself never shuffles") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import spark.implicits._
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val out = graft.ops.Mixture.tokenBudgetSample(docs, $"source",
        $"doc_id", $"n_chars", Seq("src0" -> 0.5, "src1" -> 0.5), 10000L)
      val plan = out.queryExecution.executedPlan
      assert(plan.toString.contains("BroadcastHashJoin"),
        s"rates must broadcast:\n$plan")
      // the only shuffle is the #domains-row totals aggregation — and it
      // must be partial-aggregated (map-side combine) below the exchange
      val shuffles = plan.collect { case s: ShuffleExchangeExec => s }
      assert(shuffles.size == 1, s"expected 1 shuffle (rates agg):\n$plan")
      assert(shuffles.head.toString.contains("partial_sum"),
        s"totals agg not map-side combined:\n${shuffles.head}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("LM quality: both count aggregations partial-aggregate map-side") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import spark.implicits._
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val out = graft.text.LmQuality.bigramScores(docs, $"doc_id", $"text")
      val plan = out.queryExecution.executedPlan
      // every grouped aggregation (bigram counts + per-doc score; the
      // unigram model is behind the persist boundary) must place a
      // Partial-mode HashAggregate IMMEDIATELY below its exchange — a
      // word-count that shuffles raw tokens is wrong at 100TB. Inspect
      // the exchange's direct child node, not the subtree string: any
      // deeper partial agg would make a substring check pass vacuously.
      import org.apache.spark.sql.execution.aggregate.HashAggregateExec
      import org.apache.spark.sql.execution.{InputAdapter, WholeStageCodegenExec}
      import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
      @scala.annotation.tailrec
      def unwrap(p: org.apache.spark.sql.execution.SparkPlan)
          : org.apache.spark.sql.execution.SparkPlan = p match {
        case w: WholeStageCodegenExec => unwrap(w.child)
        case i: InputAdapter => unwrap(i.child)
        case other => other
      }
      val aggShuffles = plan.collect {
        case s: ShuffleExchangeExec => unwrap(s.child)
      }.collect { case h: HashAggregateExec => h }
      assert(aggShuffles.size >= 2,
        s"expected the bigram-count and per-doc aggs above partials:\n$plan")
      aggShuffles.foreach { h =>
        assert(h.aggregateExpressions.forall(_.mode == Partial),
          s"aggregation below its exchange is not Partial:\n$h")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("sequence packing is one shuffle (the per-shard sort window)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import spark.implicits._
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val out = graft.ops.Packing.packSequences(docs, $"doc_id", $"n_chars",
        seqLen = 512, nShards = 8)
      val plan = out.queryExecution.executedPlan
      val shuffles = plan.collect { case s: ShuffleExchangeExec => s }
      assert(shuffles.size == 1,
        s"expected exactly the window's hash exchange:\n$plan")
      assert(shuffles.head.outputPartitioning.toString.contains("shard"),
        s"window must partition by shard:\n${shuffles.head}")
      // span chop is a narrow Generate over the sorted run — no 2nd pass
      assert(plan.toString.contains("Generate"), plan.toString)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  /** JVM-function (ScalaUDF) calls in the optimized plan, counted per set
    * of input columns they read. A row pipeline must name a UDF's result
    * once and reference that name: the optimizer does not share repeated
    * calls, so a second reference re-runs the O(dim)/O(len) loop per row. */
  private def udfCallsByInput(df: org.apache.spark.sql.DataFrame)
      : Map[Set[Long], Int] =
    udfCallsByInput(df.queryExecution.optimizedPlan)

  private def udfCallsByInput(plan: LogicalPlan): Map[Set[Long], Int] =
    plan
      .flatMap(_.expressions.flatMap(_.collect {
        case u: org.apache.spark.sql.catalyst.expressions.ScalaUDF => u
      }))
      .groupBy(_.references.map(_.exprId.id).toSet)
      .map { case (in, calls) => in -> calls.size }

  /** Optimized plans of the actions `body` runs (materializations made
    * while a query is built), then of the frame it returns. */
  private def plansOf(body: => org.apache.spark.sql.DataFrame)
      : Seq[LogicalPlan] = {
    val seen = scala.collection.mutable.ArrayBuffer.empty[LogicalPlan]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(name: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        seen.synchronized { seen += qe.optimizedPlan }
      def onFailure(name: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val df = body
      org.apache.spark.graft.ListenerBridge.drain(spark.sparkContext, 10000)
      seen.synchronized(seen.toSeq) :+ df.queryExecution.optimizedPlan
    } finally spark.listenerManager.unregister(listener)
  }

  test("emb_ann_topk evaluates the cosine UDF once per row") {
    val calls = udfCallsByInput(SparkEntry.queries("emb_ann_topk")(spark, dir))
    assert(calls.values.toSeq === Seq(1), calls)
  }

  test("emb_neardup_lsh evaluates the cosine UDF once per candidate pair") {
    // the floor stays a filter over the projected cosine, not a second
    // call in the r_emb join condition
    val calls = udfCallsByInput(
      SparkEntry.queries("emb_neardup_lsh")(spark, dir))
      .filter(_._1.size == 2)
    assert(calls.values.toSeq === Seq(1), calls)
  }

  test("doc_decontaminate evaluates the n-gram UDF once per row on each side") {
    // train docs and eval rows are two pipelines, one UDF call each
    val calls = udfCallsByInput(
      SparkEntry.queries("doc_decontaminate")(spark, dir))
    assert(calls.size === 2 && calls.values.forall(_ == 1), calls)
  }

  test("doc_repetition evaluates the gram UDF once per row") {
    val calls = udfCallsByInput(SparkEntry.queries("doc_repetition")(spark, dir))
    assert(calls.values.toSeq === Seq(1), calls)
  }

  test("doc_minhash_neardup shingles each doc once, in one plan") {
    // the shingles are materialized once; the fingerprint, the band keys
    // and the verify joins read that column, never the text again
    val plans = plansOf(SparkEntry.queries("doc_minhash_neardup")(spark, dir))
    val calls = plans.map(udfCallsByInput)
    assert(calls.forall(_.values.forall(_ == 1)), calls)
    val text = plans.flatMap(_.collectLeaves().flatMap(_.output))
      .filter(_.name == "text").map(_.exprId.id).toSet
    val shingleCalls = calls.flatMap(_.keys.filter(_.exists(text)))
    assert(shingleCalls.size === 1, calls)
  }

  test("IVF list ids and RHP signatures run once per row") {
    // both join on a nullable key with `<=>`: an `===` join lets the
    // optimizer push isnotnull(key) under the projection, a second call
    Seq("emb_ann_ivf", "emb_neardup_lsh").foreach { q =>
      val calls = udfCallsByInput(SparkEntry.queries(q)(spark, dir))
        .filter(_._1.size == 1)
      assert(calls.nonEmpty && calls.values.forall(_ == 1), s"$q: $calls")
    }
  }

  /** Spark jobs of the second (warm) run of `query`. A job count is
    * deterministic for a plan, so a rise is a plan regression even when
    * the rows stay right. The warm run reuses every stageOnce fixture the
    * first run staged, so its count does not depend on which spec ran
    * first in the JVM. */
  private def warmJobs(query: String): Int = {
    val run = () => SparkEntry.queries(query)(spark, dir).count()
    val cold = run()
    val (warm, jobs) = withJobCount(run())
    assert(warm === cold, s"$query changed its row count between runs")
    info(s"$query: $jobs jobs warm")
    jobs
  }

  // Each budget is the warm count measured on sf0.001 in this local[8]
  // test session when the budget was set.
  test("curation_e2e stays within its warm job budget") {
    val jobs = warmJobs("curation_e2e")
    assert(jobs <= 27, s"curation_e2e ran $jobs Spark jobs warm")
  }

  test("emb_* queries stay within their warm job budgets") {
    Seq("emb_ann_topk" -> 5, "emb_ann_ivf" -> 12, "emb_kmeans_topics" -> 9,
      "emb_neardup_lsh" -> 8, "emb_ann_ivf_probe" -> 12).foreach {
      case (q, budget) =>
        val jobs = warmJobs(q)
        assert(jobs <= budget, s"$q ran $jobs Spark jobs warm")
    }
  }

  test("web_pagerank stays within its warm job budget") {
    // the link graph fits the driver budget: one edge materialization and
    // one collect instead of ten distributed rounds (23 jobs warm before)
    val jobs = warmJobs("web_pagerank")
    assert(jobs <= 7, s"web_pagerank ran $jobs Spark jobs warm")
  }

  test("doc, eval and er queries stay within their warm job budgets") {
    Seq("doc_winnow_containment" -> 8, "doc_incremental_neardup" -> 11,
      "doc_lm_quality" -> 7, "doc_bm25_topk" -> 15, "events_asof" -> 3,
      "crawl_snapshot_diff" -> 6, "eval_threshold_sweep" -> 4,
      "er_f1" -> 4, "doc_repetition" -> 3, "doc_decontaminate" -> 7,
      "doc_minhash_neardup" -> 10, "doc_neardup_keepers" -> 14).foreach {
      case (q, budget) =>
        val jobs = warmJobs(q)
        assert(jobs <= budget, s"$q ran $jobs Spark jobs warm")
    }
  }
}
