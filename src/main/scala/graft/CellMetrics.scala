package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Running totals of the Spark work a context does: jobs, stages, summed
  * task run time, shuffle bytes, spill bytes and records read. A caller
  * measures one piece of work with [[measure]], which settles the counters
  * before and after it and returns the difference, so pieces run one after
  * another get disjoint counts. */
final class CellMetrics private () extends SparkListener {
  import CellMetrics._

  private val jobsStarted, jobsEnded, stages, taskMs, shuffleRead,
    shuffleWritten, memorySpill, diskSpill, recordsRead = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobsStarted.incrementAndGet()
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobsEnded.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(e.taskMetrics).foreach { m =>
      taskMs.addAndGet(m.executorRunTime)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWritten.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      memorySpill.addAndGet(m.memoryBytesSpilled)
      diskSpill.addAndGet(m.diskBytesSpilled)
      recordsRead.addAndGet(m.inputMetrics.recordsRead)
    }

  private def snapshot: Counts = Counts(jobsStarted.get, stages.get,
    taskMs.get, shuffleRead.get, shuffleWritten.get, memorySpill.get,
    diskSpill.get, recordsRead.get)

  /** The totals once the listener has caught up. Spark delivers listener
    * events on its own thread, possibly after the action that caused them
    * has returned, so this waits until every job seen to start has been seen to end and
    * two reads [[PollMs]] apart agree. The wait is bounded by [[SettleMs]]:
    * work that keeps firing jobs (a running stream) returns the totals at
    * the deadline, with a warning. */
  private def settle(): Counts = {
    val deadline = System.nanoTime() + SettleMs * 1000000L
    var prev = snapshot
    var quiet = false
    while (!quiet && System.nanoTime() < deadline) {
      Thread.sleep(PollMs)
      val cur = snapshot
      quiet = cur == prev && jobsEnded.get == jobsStarted.get
      prev = cur
    }
    if (!quiet) System.err.println(
      s"[metrics] listener did not settle in $SettleMs ms; counts may run on")
    prev
  }

  /** Runs `body` and returns its result with the work it did. */
  def measure[A](body: => A): (A, Counts) = {
    val before = settle()
    val a = body
    (a, settle() - before)
  }
}

object CellMetrics {
  private val PollMs = 20L
  private val SettleMs = 30000L

  /** Counters of the work done between two settled reads. */
  final case class Counts(jobs: Long, stages: Long, taskMs: Long,
                          shuffleRead: Long, shuffleWritten: Long,
                          memorySpill: Long, diskSpill: Long,
                          recordsRead: Long) {
    def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages,
      taskMs - o.taskMs, shuffleRead - o.shuffleRead,
      shuffleWritten - o.shuffleWritten, memorySpill - o.memorySpill,
      diskSpill - o.diskSpill, recordsRead - o.recordsRead)
    def shuffleBytes: Long = shuffleRead + shuffleWritten
    def spillBytes: Long = memorySpill + diskSpill
  }

  /** A new listener, registered on `sc`. */
  def install(sc: SparkContext): CellMetrics = {
    val m = new CellMetrics
    sc.addSparkListener(m)
    m
  }
}
