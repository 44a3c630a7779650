package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Counters of one attribution key (a span, a live phase or a gate). */
final class Counts {
  var jobs = 0L
  var stages = 0L
  var taskMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var rowsOut = 0L
  def shuffleBytes: Long = shuffleRead + shuffleWrite
}

/** One timed layer call made by the benchmark. Times are `System.nanoTime`. */
final case class Span(id: Int, name: String, parent: Int, start: Long, end: Long)

/** One micro-batch as reported by `StreamingQueryProgress`. */
final case class BatchRecord(key: String, batchId: Long, startMs: Long,
                             durations: Map[String, Long], inputRows: Long,
                             endOffset: Long, stateRows: Long,
                             stateMemBytes: Long, stateCommitMs: Long) {
  def triggerMs: Long = durations.getOrElse("triggerExecution", 0L)
  def commitMs: Long = startMs + triggerMs
}

/** Spark and streaming listener that attributes jobs, stages, task time,
  * shuffle, spill and written rows to the key of the job that ran them.
  * The key of a job is the span the benchmark set with [[Probe.within]]
  * (a thread-local property, so it reaches the threads a streaming query
  * starts), or, for the live pipeline, the phase label `processBatch` puts
  * in the job description. Only job start and end times are kept when
  * `detailed` is false, so untraced runs pay for two events per job. */
final class Probe(sc: SparkContext, detailed: Boolean) extends SparkListener {
  import Probe._

  private val stageKey = new ConcurrentHashMap[Int, String]()
  private val jobKey = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  val counts = new ConcurrentHashMap[String, Counts]()
  /** (key, job wall ms) of every finished job, in end order. */
  val jobWalls = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[BatchRecord]()
  @volatile var streamKey: String = "-"
  /** (live batch id, phase) -> (first job start, last job end), epoch ms. */
  val phaseSpans = new ConcurrentHashMap[(Long, String), (Long, Long)]()
  private val jobPhase = new ConcurrentHashMap[Int, (Long, String)]()
  /** live batch id -> jobs its phases ran. */
  val liveBatchJobs = new ConcurrentHashMap[Long, java.lang.Long]()

  private def of(k: String): Counts = counts.computeIfAbsent(k, _ => new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(SpanProp))).getOrElse("-")
    val desc = props.flatMap(p => Option(p.getProperty("spark.job.description")))
    val key = desc.collect { case LivePhase(b, phase) =>
      if (detailed) jobPhase.put(e.jobId, (b.toLong, phase))
      s"phase:$phase"
    }.getOrElse(span)
    jobKey.put(e.jobId, key)
    jobStart.put(e.jobId, e.time)
    if (detailed) e.stageIds.foreach(s => stageKey.putIfAbsent(s, key))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val key = Option(jobKey.remove(e.jobId)).getOrElse("-")
    Option(jobStart.remove(e.jobId)).foreach { t =>
      jobWalls.add(key -> (e.time - t))
      Option(jobPhase.remove(e.jobId)).foreach { bp =>
        phaseSpans.merge(bp, (t, e.time),
          (a, b) => (math.min(a._1, b._1), math.max(a._2, b._2)))
        liveBatchJobs.merge(bp._1, 1L, (a, b) => a + b)
      }
    }
    if (detailed) of(key).synchronized { of(key).jobs += 1 }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (detailed) {
      val c = of(Option(stageKey.get(e.stageInfo.stageId)).getOrElse("-"))
      c.synchronized { c.stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (detailed && e.taskMetrics != null) {
      val m = e.taskMetrics
      val c = of(Option(stageKey.get(e.stageId)).getOrElse("-"))
      c.synchronized {
        c.taskMs += m.executorRunTime
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.rowsOut += m.outputMetrics.recordsWritten
      }
    }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ops = p.stateOperators.toSeq
      batches.add(BatchRecord(streamKey, p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.numInputRows,
        p.sources.headOption.flatMap(s => Option(s.endOffset))
          .flatMap(o => o.trim.toLongOption).getOrElse(-1L),
        ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
        ops.map(_.commitTimeMs).sum))
    }
  }

  /** Block until every event posted so far has reached the listeners. */
  def flush(): Unit = org.apache.spark.perfbench.Listeners.waitUntilEmpty(sc)

  def reset(): Unit = {
    counts.clear(); jobWalls.clear(); batches.clear(); phaseSpans.clear()
    liveBatchJobs.clear()
  }
}

object Probe {
  val SpanProp = "perfbench.span"
  private val LivePhase = """live-batch (\d+): (.+)""".r

  def install(sc: SparkContext, spark: org.apache.spark.sql.SparkSession,
              detailed: Boolean): Probe = {
    val p = new Probe(sc, detailed)
    sc.addSparkListener(p)
    spark.streams.addListener(p.streams)
    p
  }
}

/** In-memory span recorder: spans nest by call order on the benchmark
  * thread, carry the run's trace id, and are written out when the run ends.
  * When `enabled` is false a span is just its body: the timed runs record
  * nothing per layer. */
final class Tracer(sc: SparkContext, probe: Probe, val traceId: String,
                   enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0

  def within[T](name: String)(body: => T): T =
    if (!enabled) body else record(name, body)

  private def record[T](name: String, body: => T): T = {
    val id = { nextId += 1; nextId }
    val parent = stack.headOption.getOrElse(0)
    val prev = sc.getLocalProperty(Probe.SpanProp)
    val prevKey = probe.streamKey
    sc.setLocalProperty(Probe.SpanProp, name)
    probe.streamKey = name
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      probe.flush()
      stack = stack.tail
      sc.setLocalProperty(Probe.SpanProp, prev)
      probe.streamKey = prevKey
      spans += Span(id, name, parent, t0, t1)
    }
  }

  def all: Seq[Span] = spans.toSeq

  def reset(): Unit = spans.clear()

  /** Per-pass layer measures of the spans called `name`: wall time, jobs,
    * summed task time, driver gap, shuffle and spill, rows written. */
  def measures(name: String, probe: Probe, passes: Int,
               cores: Int): Map[String, Double] = {
    val wall = spans.filter(_.name == name).map(s => (s.end - s.start) / 1e9).sum / passes
    val c = Option(probe.counts.get(name)).getOrElse(new Counts)
    val taskS = c.taskMs / 1000.0 / passes
    Map(
      s"$name.wall_s" -> wall,
      s"$name.jobs" -> c.jobs.toDouble / passes,
      s"$name.task_s" -> taskS,
      s"$name.gap_s" -> (wall - taskS / cores),
      s"$name.shuffle_mb" -> c.shuffleBytes / 1e6 / passes,
      s"$name.spill_mb" -> c.spill / 1e6 / passes,
      s"$name.rows_out" -> c.rowsOut.toDouble / passes)
  }

  /** A span's duration minus the part of it its children cover. */
  def selfNs(s: Span): Long = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.start, k.end)).sortBy(_._1)
    var covered = 0L
    var (lo, hi) = (Long.MinValue, Long.MinValue)
    kids.foreach { case (a, b) =>
      if (a > hi) { if (hi > lo) covered += hi - lo; lo = a; hi = b }
      else hi = math.max(hi, b)
    }
    if (hi > lo) covered += hi - lo
    (s.end - s.start) - covered
  }
}
