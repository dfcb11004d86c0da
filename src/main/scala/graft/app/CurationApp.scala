package graft.app

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.io.Snapshots
import graft.text.{Decontaminate, Pii, Repetition}

/**
 * spark-submit entry for the full training-data CURATION pipeline — the
 * production consumer that chains the corpus operators end-to-end with
 * snapshot/resume semantics and per-stage audit stats (a curation run
 * that cannot say how many documents each stage removed, and why, is
 * unauditable at 100 TB):
 *
 *   pii_clean    PII redaction (+ per-type counts kept as audit columns)
 *   quality      repetition/quality filter (Gopher-style signal gates)
 *   exact_kept   exact dedup keepers (content-hash canonical rows)
 *   neardup_kept near-dup keepers (MinHash-LSH pairs → CC → one per cluster)
 *   decon_kept   train/eval n-gram decontamination (drop flagged docs)
 *   sample       consistent-hash stratified sample (the training cut)
 *   packed       sequence-packing assembly plan (doc sub-span → fixed-
 *                length training sequence; an expansion stage)
 *   stats        one row per stage: rows in/out/dropped
 *
 * Each stage is a named parquet snapshot + manifest under
 * <workRoot>/_snapshots — a rerun resumes after the last complete stage;
 * delete a stage manifest to recompute from there. Every FILTERING
 * stage's row delta lands in the final stats table, so the whole run is
 * reproducible AND explainable from its artifacts alone.
 *
 *   spark-submit --class graft.app.CurationApp <jar> \
 *     <workRoot> --input <docsParquet> [--eval <evalParquet>]
 *
 * `--input` rows need (doc_id: long, text: string, lang: string); the
 * optional `--eval` table needs (text). Without `--eval` the
 * decontamination stage passes everything through (stats row records 0
 * drops) rather than silently skipping.
 *
 * Stages 1, 2, 4 and 5 are `piiScrub`, `qualityGate`, `nearDupKept` and
 * `deconKept` (rows keyed by doc_id, document in `text`, literals as
 * parameters). Their second caller, the `curation_e2e` query in
 * `graft.SparkEntry`, chains them with its own literals under the DuckDB
 * oracle, so the oracle checks this app's stage code.
 */
object CurationApp {

  def main(args: Array[String]): Unit = {
    val workRoot = args.headOption.getOrElse("/tmp/graft-curation")
    require(!workRoot.startsWith("--"),
      s"first argument is the workRoot, got flag-like '$workRoot' — " +
        "usage: CurationApp <workRoot> --input <docsParquet> [--eval <p>]")
    def opt(flag: String): Option[String] =
      args.sliding(2).collectFirst { case Array(`flag`, v) => v }
    val input = opt("--input").getOrElse(
      sys.error("CurationApp requires --input <docsParquet>"))
    require(!input.startsWith("--"),
      s"--input is followed by another flag ('$input'), not a path")
    val eval = opt("--eval")

    val spark = AppSession("graft-curation-pipeline", workRoot)
    val stats = run(spark, workRoot, spark.read.parquet(input),
      eval.map(spark.read.parquet(_)))
    stats.show(truncate = false)
    AppSession.stop(spark)
  }

  /** Returns the per-stage stats table: (stage, rows_in, rows_out,
    * rows_dropped) in pipeline order. */
  def run(spark: SparkSession, workRoot: String, docs: DataFrame,
      evalDocs: Option[DataFrame]): DataFrame = {
    import spark.implicits._
    // Stats describe the run that PRODUCED each snapshot: when a stage is
    // computed, its rows in/out are sealed into the stage manifest; when a
    // stage is RESUMED, they are read back from that manifest — never
    // recomputed against the current (possibly different) input, which
    // would fabricate audit numbers describing no run that ever happened.
    // A stage's rows_in is the previous stage's sealed rows; only the
    // app's external input is counted.
    val counts = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
    def sealedRows(stage: String, key: String): Long =
      Snapshots.manifestField(workRoot, stage, key).map(_.toLong).getOrElse(0L)
    def staged(name: String, in: DataFrame)(f: DataFrame => DataFrame)
        : DataFrame = {
      val prev = counts.lastOption.map(_._1)
      val out = Snapshots.getOrCompute(spark, workRoot, name,
        extra = Map("rows_in" -> prev.fold(in.count())(
          sealedRows(_, "rows")).toString))(f(in))
      counts += ((name, sealedRows(name, "rows_in"), sealedRows(name, "rows")))
      out
    }

    // 1. PII scrub — row-preserving; audit counts ride along as columns
    val piiClean = staged("pii_clean", docs)(piiScrub)
    // 2. quality gate — char floor + repetition ceiling
    val quality = staged("quality", piiClean)(qualityGate(_, 20L, 0.5))
    // 3. exact dedup — keep the min-id representative per content hash
    val exactKept = staged("exact_kept", quality) { d =>
      Dedup.exactKeepers(d, col("text"), col("doc_id"))
    }
    // 4. near-dup dedup — pairs → connected components → keeper rows only
    val nearKept = staged("neardup_kept", exactKept)(nearDupKept(_, 0.8))
    // 5. decontamination — anti-join the flagged set (eval side broadcast)
    val decon = staged("decon_kept", nearKept) { d =>
      evalDocs.fold(d)(deconKept(d, _))
    }

    // 6. the training cut — consistent-hash membership (reproducible
    // under retries and across runs; re-sampling a re-run is a no-op)
    val sampled = staged("sample", decon) { d =>
      graft.ops.Sampling.stratifiedSampleByKey(d, col("lang"),
        col("doc_id"), rates = Seq("en" -> 0.5), defaultRate = 0.25)
    }

    // 7. training layout — the sequence-packing assembly plan (which doc
    // sub-span lands in which fixed-length training sequence). An
    // EXPANSION stage: rows_out counts (doc, sequence) assembly rows, so
    // its stats rows_dropped is negative by design — the audit contract
    // is rows in/out per stage, not monotone shrinkage. Cost unit is
    // chars (script-neutral, like the quality floor).
    staged("packed", sampled) { d =>
      graft.ops.Packing.packSequences(d, col("doc_id"), length(col("text")),
          seqLen = 2048, nShards = 64)
        .withColumnRenamed("k", "doc_id")
    }

    val stats = counts.toSeq.toDF("stage", "rows_in", "rows_out")
      .withColumn("rows_dropped", col("rows_in") - col("rows_out"))
    Snapshots.commit(spark, stats, workRoot, "stats")
    stats
  }

  /** PII redaction; the per-type counts (n_email, n_phone, n_ip) ride
    * along as audit columns next to the input's other columns. */
  private[graft] def piiScrub(d: DataFrame): DataFrame =
    Pii.redact(d, col("doc_id"), col("text"))
      .join(d.drop("text"), Seq("doc_id"))
      .withColumnRenamed("clean_text", "text")

  /** SCRIPT-NEUTRAL length floor (chars: a zh/ru doc must not die because
    * the tokenizer can't see it) + repetition ceiling. No gram evidence
    * reads as rep_score 0, so token-less docs pass on to script-appropriate
    * gates instead of being misattributed to "quality". */
  private[graft] def qualityGate(d: DataFrame, minChars: Long,
      maxRepScore: Double): DataFrame = {
    val sig = Repetition.repetitionScore(
      Repetition.signals(d, col("doc_id"), col("text")))
      .select(col("doc_id"), col("rep_score"))
    d.join(sig, Seq("doc_id"), "left")
      .where(length(col("text")) >= minChars &&
        coalesce(col("rep_score"), lit(0.0)) <= maxRepScore)
      .drop("rep_score")
  }

  /** Near-dup keepers: MinHash-LSH pairs (8 bands × 4 rows) → connected
    * components → the keeper row of each cluster. */
  private[graft] def nearDupKept(d: DataFrame, jaccardFloor: Double)
      : DataFrame = {
    val pairs = Dedup.minhashPairs(d, col("doc_id"), col("text"),
      bands = 8, rowsPerBand = 4, jaccardFloor = jaccardFloor)
    val keepers = Dedup.nearDupKeepers(d, col("doc_id"), pairs)
      .where(col("doc_id") === col("keeper")).select("doc_id")
    d.join(keepers, Seq("doc_id"))
  }

  /** Drops the docs sharing an 8-gram with `evalDocs` (their `text`). */
  private[graft] def deconKept(d: DataFrame, evalDocs: DataFrame)
      : DataFrame = {
    val flagged = Decontaminate.flagged(d, col("doc_id"), col("text"),
      evalDocs, col("text"), n = 8)
    d.join(flagged.select("doc_id"), Seq("doc_id"), "left_anti")
  }
}
