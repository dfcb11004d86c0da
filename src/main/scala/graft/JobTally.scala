package graft

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.graft.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}

/** The one job-count listener: running totals of the Spark jobs started,
  * stages completed, tasks ended and shuffle bytes written/read on the
  * context it is registered with. Callers diff two `snapshot`s around the
  * work they measure (`BenchExtra` per query rep, `SparkSuite.withJobCount`
  * in the job-budget specs). */
private[graft] final class JobTally extends SparkListener {
  private val jobs = new AtomicLong
  private val stages = new AtomicLong
  private val tasks = new AtomicLong
  private val shufWrite = new AtomicLong
  private val shufRead = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
    }
  }

  /** Current totals. Listener events are delivered asynchronously, so the
    * bus is drained first: without it, events of finished work would land
    * after the snapshot and bleed into the next one. */
  def snapshot(sc: SparkContext): JobTally.Counts = {
    ListenerBridge.drain(sc, 10000)
    JobTally.Counts(jobs.get, stages.get, tasks.get, shufWrite.get,
      shufRead.get)
  }
}

private[graft] object JobTally {
  final case class Counts(jobs: Long, stages: Long, tasks: Long,
      shuffleWriteBytes: Long, shuffleReadBytes: Long) {
    def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages,
      tasks - o.tasks, shuffleWriteBytes - o.shuffleWriteBytes,
      shuffleReadBytes - o.shuffleReadBytes)
  }
}
