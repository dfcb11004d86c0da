package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** One span: a layer call timed from outside the engine. Spans of one
  * operation share `run`; `parent` is -1 for a root. Times are epoch ms
  * (fractional) so they line up with the listener's job timestamps. */
final case class Span(id: Int, name: String, parent: Int, run: Int,
    start: Double, var end: Double) {
  def dur: Double = end - start
}

/** Spark work attributed to one span: every job submitted while the span
  * was innermost, and every task of those jobs' stages. */
final class Tally {
  var jobs = 0L
  var tasks = 0L
  var taskMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var peakExecMem = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Double, Double)]
}

/** Listener that tallies jobs, tasks and bytes per span. The span id rides
  * on the job's local properties, so attribution needs no engine change. */
final class Ledger extends SparkListener {
  private val bySpan = mutable.Map.empty[Int, Tally]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val jobStart = mutable.Map.empty[Int, (Int, Double)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Key)))
      .foreach { s =>
        val span = s.toInt
        bySpan.getOrElseUpdate(span, new Tally).jobs += 1
        jobStart(e.jobId) = (span, e.time.toDouble)
        e.stageIds.foreach(stageSpan(_) = span)
      }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (span, t0) =>
      bySpan(span).jobIntervals += ((t0, e.time.toDouble))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (span <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
      val t = bySpan(span)
      t.tasks += 1
      t.taskMs += m.executorRunTime
      t.gcMs += m.jvmGCTime
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      t.peakExecMem = math.max(t.peakExecMem, m.peakExecutionMemory)
    }
  }

  def tally(span: Int): Tally = synchronized(bySpan.getOrElse(span, new Tally))
}

/** In-memory span recorder. Disabled, `span` just runs its body. */
final class Tracer(sc: SparkContext) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  // epoch-ms offset of the monotonic clock, fixed once per run
  private val offsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6
  var enabled = false
  var run = 0

  def nowMs: Double = System.nanoTime() / 1e6 + offsetMs

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = open(name, nowMs)
      val prev = sc.getLocalProperty(Tracer.Key)
      sc.setLocalProperty(Tracer.Key, s.id.toString)
      try body
      finally {
        s.end = nowMs
        stack = stack.tail
        sc.setLocalProperty(Tracer.Key, prev)
      }
    }

  /** A child span of the innermost open span known only by its bounds
    * (e.g. a curation stage, bounded by snapshot commit times). */
  def record(name: String, start: Double, end: Double): Unit =
    if (enabled) {
      open(name, start).end = end
      stack = stack.tail
    }

  private def open(name: String, start: Double): Span = {
    val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
      run, start, start)
    spans += s
    stack = s :: stack
    s
  }

  def all: Seq[Span] = spans.toSeq

  /** Span duration minus the part of it that its children cover. */
  def selfMs(s: Span): Double =
    s.dur - Tracer.covered(spans.filter(_.parent == s.id)
      .map(c => (c.start, c.end)).toSeq, s.start, s.end)
}

object Tracer {
  val Key = "perfbench.span"

  /** Length of the union of `intervals`, clipped to [lo, hi]. */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double)
      : Double = {
    var total = 0.0
    var reach = lo
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }
}
