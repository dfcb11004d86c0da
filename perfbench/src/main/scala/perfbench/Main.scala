package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

/** The benchmark's JVM side: one workload, one seed, one closed-loop client
  * on `local[cpus]`. Prints one JSON line (last on stdout) holding the
  * metrics, the check tally and run info; `run.py` turns it into the
  * result line.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --scale full|toy --cpus C --work DIR --spans FILE
  */
object Main {

  /** Input sizes per workload: `full` is the benchmark of record, `toy`
    * only proves that every metric is printed. */
  final case class Size(erEntities: Int, curationEntities: Int,
      ccEdges: Int, chain: Int, hosts: Int)
  val Sizes = Map(
    "full" -> Size(erEntities = 3000, curationEntities = 1000,
      ccEdges = 60000, chain = 8, hosts = 10000),
    "toy" -> Size(erEntities = 200, curationEntities = 200,
      ccEdges = 3000, chain = 8, hosts = 500))

  /** Repeated set-ups per run; `setup_s` is their median, so the first,
    * which also warms the JVM, does not set it. */
  val Setups = 5

  private val jvmStart = System.nanoTime()
  private def phase(what: String): Unit = System.err.println(
    f"[perfbench] ${(System.nanoTime() - jvmStart) / 1e9}%.1f s: $what")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val size = Sizes(opt.getOrElse("scale", "full"))
    val cpus = opt("cpus").toInt
    val work = Paths.get(opt("work")).toAbsolutePath
    Files.createDirectories(work)

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.setCheckpointDir(work.resolve("checkpoint").toString)
    val ledger = new Ledger
    spark.sparkContext.addSparkListener(ledger)
    val tracer = new Tracer(spark.sparkContext)

    val w: Workload = workload match {
      case "er_pages" => new ErPages(spark, seed, size.erEntities)
      case "corpus_graph" => new Sequence(Seq(
        new CurationDocs(spark, seed, size.curationEntities, work),
        new GraphIter(spark, seed, size.ccEdges, size.chain, size.hosts)))
      case other => sys.error(s"unknown workload '$other'")
    }

    phase("session up")
    // setup_s is only reported untraced; a traced run sets up once
    val setups = if (trace) 1 else Setups
    val setupS = (1 to setups).map { i =>
      val (_, ms) = Workload.timeMs(w.setup())
      if (i < setups) w.release()
      ms / 1000.0
    }

    var attempted = 0
    var failed = 0
    var heapPeak = 0L
    val ops = ArrayBuffer.empty[Op]
    def account(op: Op): Op = {
      attempted += op.attempted
      failed += op.failed
      // a second collection after the context cleaner has dropped the
      // blocks of checkpoints the first one freed
      System.gc()
      Thread.sleep(200)
      System.gc()
      heapPeak = math.max(heapPeak,
        ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
      op
    }

    phase(s"set up ${setups}x")
    val traced = ArrayBuffer.empty[(Op, Map[String, Double])]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    if (!trace) {
      while (ops.isEmpty || elapsed < seconds) ops += account(w.op())
    } else {
      // untraced runs time the fresh JVM's first operations, code generation
      // included, as a submitted app pays them; the traced run compares
      // like with like, so its cold first operation is checked but not timed
      account(w.op())
      tracer.enabled = true
      while (traced.isEmpty || ops.isEmpty || elapsed < seconds) {
        tracer.run += 1
        val (op, extra) = w.traced(tracer)
        account(op)
        traced += ((op, extra))
        tracer.enabled = false
        ops += account(w.op())
        tracer.enabled = true
      }
      tracer.enabled = false
    }
    phase(s"measured ${ops.size} ops")
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

    val metrics: Seq[(String, Double, String)] =
      if (!trace) {
        val samples = ops.map(_.ms)
        Seq(
          ("setup_s", Stats.median(setupS), "s"),
          ("items_per_s", ops.map(_.items).sum / (samples.sum / 1000.0), "1/s"),
          ("op_p50_ms", Stats.median(samples.toSeq), "ms"),
          ("live_heap_mb", heapPeak / 1e6, "MB"))
      } else LayerReport.metrics(tracer, ledger, traced.toSeq,
        ops.toSeq)

    opt.get("spans").foreach(f => LayerReport.writeSpans(Paths.get(f), tracer))
    val info = Seq(
      "workload" -> Json.str(workload), "seed" -> seed.toString,
      "cpus" -> cpus.toString, "ops" -> ops.size.toString,
      "setup_s" -> setupS.mkString("[", ",", "]"),
      "op_ms" -> ops.map(_.ms).mkString("[", ",", "]"))
    val metricJson = metrics.map { case (n, v, u) =>
      s"${Json.str(n)}: {${Json.str("value")}: ${Json.num(v)}, " +
        s"${Json.str("unit")}: ${Json.str(u)}}" }.mkString("{", ", ", "}")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": $metricJson, "info": """ +
      info.map { case (k, v) => s"${Json.str(k)}: $v" }.mkString("{", ", ", "}") +
      "}")
    spark.stop()
  }
}

object Stats {
  /** Median of a non-empty sample. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString
}
