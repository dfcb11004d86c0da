package graft.pipeline

import graft.SparkSuite
import graft.gen.PageGen
import org.apache.spark.sql.functions._

/**
 * End-to-end north-rule acceptance: pairwise F1 >= 0.99 on labeled pairs
 * at shared blocking keys over the deterministic synthetic page corpus
 * (BASELINE.md targets; verified via `sbt -batch test`).
 */
class ERPipelineSpec extends SparkSuite {

  test("pipeline reaches F1 >= 0.99 on planted clusters (300 entities)") {
    val pages = PageGen.pages(spark, 300, seed = 42L)
    val (clusters, drops) = ERPipeline.run(spark, pages)
    val labels = PageGen.labeledPairs(spark, 300, seed = 42L)
    val m = ERPipeline.evaluate(clusters, labels).collect()(0)
    val f1 = m.getAs[Double]("f1")
    val tp = m.getAs[Long]("tp"); val fp = m.getAs[Long]("fp")
    val fn = m.getAs[Long]("fn"); val tn = m.getAs[Long]("tn")
    info(s"tp=$tp fp=$fp fn=$fn tn=$tn f1=$f1")
    assert(f1 >= 0.99, s"pairwise F1 $f1 below 0.99 (tp=$tp fp=$fp fn=$fn)")
    assert(drops.count() === 0, "no block should overflow the pair cap at this scale")
  }

  test("score sweep justifies the configured clustering threshold from data") {
    val cfg = ERPipeline.Config()
    val pages = PageGen.pages(spark, 150, seed = 42L)
    val ex = ERPipeline.extract(pages).localCheckpoint()
    val n = Some(ex.count())
    val blocked = ERPipeline.block(ex, cfg, n)
    val (scored, _) = ERPipeline.scorePairs(ex, blocked, cfg, n)
    val labels = PageGen.labeledPairs(spark, 150, seed = 42L)
    val grid = Seq(0.05, 0.5, 0.7, 0.9, 0.99)
    val sweep = ERPipeline.sweepScores(ex, scored, labels, grid)
      .collect().map(r => r.getAs[Double]("threshold") -> r).toMap
    assert(sweep.size === grid.size)
    // positives are threshold-invariant
    val positives = labels.where(col("label") === 1).count()
    sweep.values.foreach(r =>
      assert(r.getAs[Long]("tp") + r.getAs[Long]("fn") === positives))
    // at the CONFIGURED threshold the score separates planted entities
    // perfectly (consistent with the pipeline's F1 = 1.0 acceptance)
    assert(sweep(cfg.scoreThreshold).getAs[Double]("f1") === 1.0)
    // at a permissive threshold every blocked candidate pair reads as a
    // match — labeled negatives that share a block become FPs, so the
    // sweep actually discriminates (guards against a degenerate fixture
    // where no negative is ever a candidate and every row looks perfect)
    assert(sweep(0.05).getAs[Long]("fp") > 0L)
    assert(sweep(0.05).getAs[Double]("f1") < 1.0)

    // a labeled pair whose url never entered the corpus must count as a
    // non-match at every threshold (like evaluate), not vanish from the
    // log — gold positives with a missing side surface as FNs
    val ghost = labels.limit(1)
      .withColumn("left_url", lit("https://ghost.example/404"))
      .withColumn("label", lit(1))
    val sweep2 = ERPipeline.sweepScores(ex, scored,
        labels.unionByName(ghost), grid)
      .collect().map(r => r.getAs[Double]("threshold") -> r).toMap
    sweep2.values.foreach(r =>
      assert(r.getAs[Long]("tp") + r.getAs[Long]("fn") === positives + 1))
    assert(sweep2(cfg.scoreThreshold).getAs[Long]("fn") ===
      sweep(cfg.scoreThreshold).getAs[Long]("fn") + 1)
  }

  test("clusters are deterministic across input partitioning") {
    val pages = PageGen.pages(spark, 120, seed = 11L)
    val (c1, _) = ERPipeline.run(spark, pages.repartition(3))
    val (c2, _) = ERPipeline.run(spark, pages.repartition(17))
    val a = c1.select("url", "component").collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val b = c2.select("url", "component").collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(a === b)
  }

  test("upper-bound pruning leaves cluster output bit-identical") {
    // pruneHeavySims may only skip jw/lev for pairs that cannot reach the
    // threshold — so clusters (and the above-threshold edge set) must be
    // exactly equal with pruning on and off.
    val pages = PageGen.pages(spark, 150, seed = 23L)
    val (cOn, _) = ERPipeline.run(spark, pages,
      ERPipeline.Config(pruneHeavySims = true))
    val (cOff, _) = ERPipeline.run(spark, pages,
      ERPipeline.Config(pruneHeavySims = false))
    val a = cOn.select("url", "component").collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val b = cOff.select("url", "component").collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(a === b)
    // and above-threshold scores themselves are unchanged (score fidelity
    // is only relaxed strictly below the threshold)
    val ex = ERPipeline.extract(pages).localCheckpoint()
    def edges(prune: Boolean) = {
      val cfg = ERPipeline.Config(pruneHeavySims = prune)
      val (sc, _) = ERPipeline.scorePairs(ex, ERPipeline.block(ex, cfg), cfg)
      sc.where(col("score") >= cfg.scoreThreshold)
        .select("l_id", "r_id", "score").collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    }
    assert(edges(true) === edges(false))
  }

  test("model-number guard: one component per planted entity (3000 entities, seed 2)") {
    // seed 2 plants distinct entities whose titles share a CPU model
    // token next to their own model numbers; a guard that fires only on
    // disjoint model-token sets merges them
    val truth = PageGen.pagesWithTruth(spark, 3000, seed = 2L)
      .select("url", "entity_id")
    val (clusters, _) = ERPipeline.run(spark, PageGen.pages(spark, 3000, seed = 2L))
    val perEntity = clusters.join(truth, "url").groupBy("entity_id")
      .agg(countDistinct(col("component")).as("n"))
    assert(perEntity.where(col("n") > 1).count() === 0L, "planted entity split")
    val comps = clusters.select(countDistinct(col("component"))).head().getLong(0)
    assert(comps === 3000L, s"$comps components for 3000 planted entities")
  }

  test("checkedRows fails by name when two urls share one id") {
    import spark.implicits._
    val ok = Seq(("u1", 1L), ("u2", 2L), ("u2", 2L)).toDF("url", "id")
    assert(ERPipeline.checkedRows(ok) === 3L)
    val clash = Seq(("u1", 1L), ("u2", 1L), ("u3", 3L)).toDF("url", "id")
    val e = intercept[IllegalArgumentException](ERPipeline.checkedRows(clash))
    assert(e.getMessage.contains("xxhash64(url) id collision: 3 urls → 2 ids"),
      e.getMessage)
  }

  test("extraction satisfies the per-row invariant on generated corpus") {
    val ex = ERPipeline.extract(PageGen.pages(spark, 100, seed = 3L))
    assert(ex.where(length(col("canonical_text")) === 0).count() === 0)
  }
}
