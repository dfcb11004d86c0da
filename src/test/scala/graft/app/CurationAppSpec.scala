package graft.app

import graft.SparkSuite
import graft.io.Snapshots
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._

class CurationAppSpec extends SparkSuite {
  import spark.implicits._

  private val JobCeiling = 35

  // planted corpus: 200 clean docs, 1 short doc, 1 degenerate-repetition
  // doc, 3 exact copies of doc 0, a near-dup of doc 1, a doc carrying an
  // eval 8-gram, and PII on doc 2
  private def corpus() = {
    val base = (0L until 200L).map { i =>
      (i, (0 until 14).map(j => s"tok${(i * 29 + j * 11) % 2003}")
        .mkString(" "), if (i % 3 == 0) "en" else "de")
    }
    val extras = Seq(
      (300L, "too short", "en"),
      (301L, "spam spam spam spam spam spam spam spam spam spam", "en"),
      (302L, base(0)._2, "en"),                    // exact copy of doc 0
      (303L, base(0)._2, "en"),                    // exact copy of doc 0
      (304L, base(1)._2 + " recrawl", "de"),       // near-dup of doc 1
      (305L, "evalgram one two three four five six seven eight nine ten", "en"))
    (base ++ extras).toDF("doc_id", "text", "lang")
      .withColumn("text", when(col("doc_id") === 2L,
        concat(col("text"), lit(" mail me me@ex.io"))).otherwise(col("text")))
  }

  private def evalSet() =
    Seq("prefix evalgram one two three four five six seven eight suffix")
      .toDF("text")

  test("end-to-end: every stage filters what it should; stats account for it") {
    val root = Files.createTempDirectory("graft-curation").toString
    val input = corpus()
    val (statsDf, jobs) = withJobCount(
      CurationApp.run(spark, root, input, Some(evalSet())))
    // job budget: one job counts the input, each stage commit is one write
    // job, the rest is the stages' own work (33 jobs on this corpus)
    assert(jobs <= JobCeiling, s"CurationApp.run ran $jobs Spark jobs")
    val stats = statsDf.as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap

    // every stage's sealed numbers describe its committed files: rows is
    // a re-read count, rows_in the previous stage's rows (the first
    // stage's is the input's count), lineage partitions sum to rows
    val stages = Seq("pii_clean", "quality", "exact_kept", "neardup_kept",
      "decon_kept", "sample", "packed")
    stages.zip(input.count() +: stages.map(stats(_)._3)).foreach {
      case (s, rowsIn) =>
        val rows = Snapshots.manifestField(root, s, "rows").map(_.toLong)
        assert(rows === Some(spark.read.parquet(s"$root/$s").count()), s)
        assert(stats(s)._2 === rowsIn, s)
        assert(Snapshots.lineage(root, s).map(_._2).sum === stats(s)._3, s)
    }

    assert(stats("pii_clean")._4 === 0L)           // row-preserving
    assert(stats("quality")._4 === 2L)             // short + repetitive
    assert(stats("exact_kept")._4 === 2L)          // two exact copies
    assert(stats("neardup_kept")._4 >= 1L)         // the near-dup loses
    assert(stats("decon_kept")._4 === 1L)          // the evalgram doc
    assert(stats("sample")._3 > 0L)
    // packing is an EXPANSION stage: its rows_in is the sampled doc
    // count, rows_out the assembly rows, and the packed spans must cover
    // exactly the sampled docs' total chars (no loss through the layout)
    assert(stats("packed")._2 === stats("sample")._3)
    val packed = spark.read.parquet(s"$root/packed")
    val coveredChars = packed.agg(
      sum(col("tok_end") - col("tok_begin"))).as[Long].head()
    val sampleChars = spark.read.parquet(s"$root/sample")
      .agg(sum(length(col("text")))).as[Long].head()
    assert(coveredChars === sampleChars)

    // PII never reaches the output corpus
    val sampled = spark.read.parquet(s"$root/sample")
    assert(sampled.where(col("text").contains("me@ex.io")).count() === 0L)
    assert(sampled.columns.contains("n_email")) // audit columns survive
    // the sample is the consistent-hash subset: re-running membership on
    // the output is a no-op
    val again = graft.ops.Sampling.stratifiedSampleByKey(sampled,
      col("lang"), col("doc_id"), Seq("en" -> 0.5), 0.25)
    assert(again.count() === sampled.count())
  }

  test("resume: poisoned input is never re-read once stages are complete") {
    val root = Files.createTempDirectory("graft-curation-resume").toString
    val stats1 = CurationApp.run(spark, root, corpus(), Some(evalSet()))
      .as[(String, Long, Long, Long)].collect().toSet
    val out1 = spark.read.parquet(s"$root/sample")
      .select("doc_id").as[Long].collect().sorted.toSeq

    // crash after neardup_kept: tail stages lost
    Files.delete(Paths.get(root, "_snapshots", "decon_kept.json"))
    Files.delete(Paths.get(root, "_snapshots", "sample.json"))
    Files.delete(Paths.get(root, "_snapshots", "packed.json"))
    Files.delete(Paths.get(root, "_snapshots", "stats.json"))

    // poison: restart with a DIFFERENT input frame; complete stages win
    val poisoned = Seq((999L, "poison text only", "en"))
      .toDF("doc_id", "text", "lang")
    val stats2 = CurationApp.run(spark, root, poisoned, Some(evalSet()))
      .as[(String, Long, Long, Long)].collect().toSet
    val out2 = spark.read.parquet(s"$root/sample")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(out2 === out1)
    assert(!out2.contains(999L))
    // the ENTIRE stats table still describes the run that produced the
    // snapshots: resumed stages read their sealed manifest rows, so the
    // poisoned 1-row input never contaminates the audit numbers
    assert(stats2 === stats1)
  }
}
