package graft.block

import graft.SparkSuite
import graft.ops.TopK
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class BlockingSpec extends SparkSuite {
  import spark.implicits._

  // skewed fixture: one hot key with 1000 rows, 500 cold keys with <= 3
  private def blocked() = (
    (0 until 1000).map(i => ("hot", i.toLong)) ++
    (0 until 500).flatMap(k => (0 to k % 3).map(j => (s"cold$k", (10000 + k * 10 + j).toLong)))
  ).toDF("block_key", "id")

  // The block cap is TopK keyed on block_key, lowest ids win (the static
  // side of streaming ER and the incremental-dedup corpus index).
  test("capBlocks == naive per-block window cap, with exact drop stats") {
    val df = blocked()
    val (kept, drops) = TopK.perKeyWithDrops(df, $"block_key", "block_key",
      Seq($"id"), 100)
    val naive = df.withColumn("_rn", row_number().over(
        Window.partitionBy($"block_key").orderBy($"id")))
      .where($"_rn" <= 100).drop("_rn")
    assert(kept.count() === naive.count())
    assert(kept.exceptAll(naive).count() === 0L)
    assert(naive.exceptAll(kept).count() === 0L)
    val d = drops.as[(String, Long, Long)].collect()
    assert(d.toSeq === Seq(("hot", 1000L, 900L)))
  }

  test("capBlocks plan: hot keys broadcast; cold majority skips the window") {
    val df = blocked()
    val (kept, _) = TopK.perKeyWithDrops(df, $"block_key", "block_key",
      Seq($"id"), 100)
    val plan = kept.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    // the window sort must sit under the hot-side branch only: exactly
    // one Window operator, fed by a broadcast (semi) join, not by the scan
    assert("(?s)Window".r.findAllIn(plan).size >= 1)
  }

  test("capBlocks caps a hot NULL key like the window twin (null-safe join)") {
    val df = ((0 until 300).map(i => (null: String, i.toLong)) ++
      (0 until 10).map(i => ("k", (1000 + i).toLong))).toDF("block_key", "id")
    val (kept, drops) = TopK.perKeyWithDrops(df, $"block_key", "block_key",
      Seq($"id"), 50)
    assert(kept.count() === 60L) // 50 capped nulls + 10 cold rows
    val d = drops.as[(Option[String], Long, Long)].collect()
    assert(d.toSeq === Seq((None, 300L, 250L)))
  }

  test("capBlocks over the broadcast bound falls back to the window plan, same rows") {
    val df = blocked()
    val (kept, drops) =
      TopK.perKeyWithDrops(df, $"block_key", "block_key", Seq($"id"), 100,
        maxHotKeysBroadcast = 0) // force: 1 hot key > bound
    val plan = kept.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastHashJoin"), plan)
    val (keptB, dropsB) = TopK.perKeyWithDrops(df, $"block_key", "block_key",
      Seq($"id"), 100)
    assert(kept.exceptAll(keptB).count() === 0L)
    assert(keptB.exceptAll(kept).count() === 0L)
    assert(drops.as[(String, Long, Long)].collect().toSeq ===
      dropsB.as[(String, Long, Long)].collect().toSeq)
  }

  test("capBlocks with no oversized block is a row-preserving no-op") {
    val df = (0 until 100).map(i => (s"k${i % 20}", i.toLong)).toDF("block_key", "id")
    val (kept, drops) = TopK.perKeyWithDrops(df, $"block_key", "block_key",
      Seq($"id"), 50)
    assert(kept.count() === 100L)
    assert(drops.count() === 0L)
  }

  /** The old count-over-window formulation, verbatim — the reference the
    * broadcast hot-key path must reproduce row-for-row. */
  private def windowedSplit(df: org.apache.spark.sql.DataFrame,
      keyCol: String, groupCol: String, cap: Int) = {
    val w = Window.partitionBy(col(keyCol))
    df.withColumn("_bn", count(lit(1)).over(w))
      .withColumn("_k", ceil(col("_bn").cast("double") / cap).cast("long"))
      .withColumn(keyCol,
        when(col("_k") <= 1, col(keyCol))
          .otherwise(xxhash64(col(keyCol), pmod(col(groupCol), col("_k")))))
      .drop("_bn", "_k")
  }

  // splitOversizedBlocks fixture: long keys (the production shape — band
  // hashes), one very hot key, one mildly hot, a NULL key over cap, and
  // a cold tail; fp is the sub-block group column
  private def splitFixture() = (
    (0 until 900).map(i => (Some(7L), i.toLong % 13)) ++
    (0 until 120).map(i => (Some(8L), i.toLong % 5)) ++
    (0 until 80).map(i => (None: Option[Long], i.toLong % 3)) ++
    (0 until 400).map(i => (Some(1000L + i % 50), i.toLong))
  ).toDF("block_key", "fp")

  test("splitOversizedBlocks broadcast path == windowed twin (incl. null hot key)") {
    val df = splitFixture()
    val (split, stats) = Blocking.splitOversizedBlocks(df, "block_key", "fp",
      cap = 64)
    val expected = windowedSplit(df, "block_key", "fp", cap = 64)
    assert(split.exceptAll(expected).count() === 0L)
    assert(expected.exceptAll(split).count() === 0L)
    // stats: one row per over-cap key with exact sizes (7 -> 900 rows /
    // 15 sub-blocks, 8 -> 120 / 2, null -> 80 / 2)
    val st = stats.collect()
      .map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]),
        r.getLong(1), r.getLong(2))).toSet
    assert(st === Set((Some(7L), 900L, 15L), (Some(8L), 120L, 2L),
      (None, 80L, 2L)))
  }

  test("splitOversizedBlocks over the broadcast bound falls back, same rows") {
    val df = splitFixture()
    val (split, stats) = Blocking.splitOversizedBlocks(df, "block_key", "fp",
      cap = 64, maxHotKeysBroadcast = 1) // 3 hot keys > bound -> window
    val (splitB, statsB) = Blocking.splitOversizedBlocks(df, "block_key",
      "fp", cap = 64)
    assert(split.exceptAll(splitB).count() === 0L)
    assert(splitB.exceptAll(split).count() === 0L)
    assert(stats.collect().map(_.toSeq).toSet ===
      statsB.collect().map(_.toSeq).toSet)
  }

  test("splitOversizedBlocks with no oversized block passes rows through untouched") {
    val df = (0 until 200).map(i => (i.toLong % 40, i.toLong)).toDF("block_key", "fp")
    val (split, stats) = Blocking.splitOversizedBlocks(df, "block_key", "fp",
      cap = 50)
    assert(split.exceptAll(df).count() === 0L)
    assert(df.exceptAll(split).count() === 0L)
    assert(stats.count() === 0L)
  }

  test("block cap job count: one hot-key collect; drops come from it") {
    val df = blocked()
    val ((kept, drops), buildJobs) = withJobCount(
      TopK.perKeyWithDrops(df, $"block_key", "block_key", Seq($"id"), 100))
    val (_, keptJobs) = withJobCount(kept.collect())
    val (d, dropsJobs) = withJobCount(drops.as[(String, Long, Long)].collect())
    assert(d.toSeq === Seq(("hot", 1000L, 900L)))
    assert(dropsJobs === 0, "drops must be the collected local relation")
    assert(buildJobs + keptJobs + dropsJobs <= 5,
      s"build $buildJobs + kept $keptJobs + drops $dropsJobs jobs")
  }

  test("splitOversizedBlocks job count: 2 to build, stats free") {
    val df = splitFixture()
    val ((_, stats), buildJobs) = withJobCount(
      Blocking.splitOversizedBlocks(df, "block_key", "fp", cap = 64))
    val (st, statsJobs) = withJobCount(stats.collect())
    assert(st.length === 3)
    assert(buildJobs === 2)
    assert(statsJobs === 0)
  }

  test("hot-key caps reject a non-deterministic input by name") {
    val df = blocked()
    val e1 = intercept[IllegalArgumentException](
      TopK.perKeyWithDrops(df, (rand(7) * 10).cast("int"), "k", Seq($"id"), 5))
    assert(e1.getMessage.contains("non-deterministic"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](
      Blocking.splitOversizedBlocks(
        splitFixture().withColumn("block_key", (rand(7) * 10).cast("long")),
        "block_key", "fp", cap = 64))
    assert(e2.getMessage.contains("non-deterministic"), e2.getMessage)
  }
}
