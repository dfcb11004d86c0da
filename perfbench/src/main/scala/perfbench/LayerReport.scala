package perfbench

import java.nio.file.{Files, Path}

/** Per-layer metrics of a traced run. Every name is printed on every
  * workload; a layer the workload does not reach reads 0. Each value is
  * the median, over the run's traced operations, of that operation's
  * total for the layer. */
object LayerReport {

  /** Engine layers, named after the repo's modules. */
  val Layers = Seq("extract", "block", "score", "cluster", "eval", "graph")
  private val SparkMetrics = Seq("busy_s" -> "s", "self_s" -> "s",
    "driver_gap_s" -> "s", "jobs" -> "count", "tasks" -> "count",
    "task_s" -> "s", "gc_s" -> "s", "shuffle_write_mb" -> "MB",
    "spill_mb" -> "MB", "peak_exec_mem_mb" -> "MB")
  // extract is narrow maps and eval a two-row join: neither spills nor
  // holds execution memory worth a metric
  private val Lean = Set("extract", "eval")
  private val LayerExtras = Seq(
    "extract.rows_out" -> "count", "block.block_rows" -> "count",
    "block.split_dropped" -> "count", "score.candidate_pairs" -> "count",
    "score.pairs_per_s" -> "1/s", "score.useful_ratio" -> "ratio",
    "score.pruned_ratio" -> "ratio", "cluster.edges_in" -> "count",
    "cluster.components" -> "count", "eval.pairwise_f1" -> "ratio",
    "eval.overmerged_entities" -> "count")
  private val StageMetrics = Seq("busy_s" -> "s", "rows_in" -> "count",
    "rows_out" -> "count", "snapshot_mb" -> "MB")

  /** Every per-layer metric name with its unit, in print order. */
  val Catalog: Seq[(String, String)] =
    Layers.flatMap(l => SparkMetrics
      .filterNot { case (m, _) =>
        Lean(l) && (m == "spill_mb" || m == "peak_exec_mem_mb") }
      .map { case (m, u) => s"$l.$m" -> u }) ++
    LayerExtras ++
    CurationDocs.Stages.flatMap(s =>
      StageMetrics.map { case (m, u) => s"$s.$m" -> u }) ++
    Seq("trace.overhead_s" -> "s")

  private def sparkValues(spans: Seq[Span], tracer: Tracer, ledger: Ledger)
      : Map[String, Double] = {
    val tallies = spans.map(s => s -> ledger.tally(s.id))
    def sum(f: Tally => Double) = tallies.map(t => f(t._2)).sum
    Map(
      "busy_s" -> spans.map(_.dur).sum / 1000,
      "self_s" -> spans.map(tracer.selfMs).sum / 1000,
      "driver_gap_s" -> tallies.map { case (s, t) =>
        s.dur - Tracer.covered(t.jobIntervals.toSeq, s.start, s.end) }.sum / 1000,
      "jobs" -> sum(_.jobs.toDouble),
      "tasks" -> sum(_.tasks.toDouble),
      "task_s" -> sum(_.taskMs / 1000.0),
      "gc_s" -> sum(_.gcMs / 1000.0),
      "shuffle_write_mb" -> sum(_.shuffleWrite / 1e6),
      "spill_mb" -> sum(_.spill / 1e6),
      "peak_exec_mem_mb" ->
        (0.0 +: tallies.map(_._2.peakExecMem / 1e6)).max)
  }

  /** Values of one traced operation (tracer run `run`). */
  private def opValues(run: Int, tracer: Tracer,
      ledger: Ledger, extra: Map[String, Double]): Map[String, Double] = {
    val spans = tracer.all.filter(_.run == run)
    val layer = Layers.flatMap { l =>
      val own = spans.filter(_.name == l)
      if (own.isEmpty) Nil
      else sparkValues(own, tracer, ledger).map { case (m, v) => s"$l.$m" -> v }
    }
    val stages = CurationDocs.Stages.flatMap { s =>
      spans.filter(_.name == s).map(x => s"$s.busy_s" -> x.dur / 1000)
    }
    (layer ++ stages).toMap ++ extra
  }

  def metrics(tracer: Tracer, ledger: Ledger,
      traced: Seq[(Op, Map[String, Double])], untraced: Seq[Op])
      : Seq[(String, Double, String)] = {
    val perOp = traced.zipWithIndex.map { case ((_, extra), i) =>
      opValues(i + 1, tracer, ledger, extra) }
    val overhead = (Stats.median(traced.map(_._1.ms)) -
      Stats.median(untraced.map(_.ms))) / 1000
    val special = Map("trace.overhead_s" -> overhead)
    Catalog.map { case (name, unit) =>
      val v = special.getOrElse(name,
        Stats.median(perOp.map(_.getOrElse(name, 0.0))))
      (name, v, unit)
    }
  }

  /** All spans as JSON lines, each with its self time. */
  def writeSpans(path: Path, tracer: Tracer): Unit = {
    Files.createDirectories(path.toAbsolutePath.getParent)
    Files.writeString(path, tracer.all.map { s =>
      s"""{"id": ${s.id}, "name": ${Json.str(s.name)}, "parent": ${s.parent}, """ +
        s""""run": ${s.run}, "start_ms": ${Json.num(s.start)}, """ +
        s""""end_ms": ${Json.num(s.end)}, "self_ms": ${Json.num(tracer.selfMs(s))}}"""
    }.mkString("", "\n", "\n"))
  }
}
