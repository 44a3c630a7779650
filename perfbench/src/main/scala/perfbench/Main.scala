package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.sun.management.GarbageCollectionNotificationInfo

import org.apache.spark.sql.SparkSession

/** What one timed pass of a workload produced. Times are seconds.
  *  - `wallS`: input to complete result;
  *  - `catchupS`: until every row queued before the pass is stored;
  *  - `firstS`: until the first output is visible to a reader;
  *  - `fresh`: (seconds from a row's availability to the commit that stored
  *    it, number of rows with that value);
  *  - `edge`: live subscriber latencies (empty for workloads with no
  *    serving leg);
  *  - `attempted`/`failed`: operations of the pass. */
final case class PassResult(wallS: Double, catchupS: Double, firstS: Double,
                            fresh: Seq[(Double, Long)], edge: Seq[Double],
                            attempted: Long, failed: Long,
                            notes: Map[String, Any] = Map.empty)

trait Workload {
  /** Staging and any untimed warm-up passes; counted in `setup_s`. */
  def warmup(dir: String): Unit
  /** Timed passes a run makes however long they take. */
  def minPasses: Int = 1
  /** Timed passes a run makes at most, however short they are. */
  def maxPasses: Int = Int.MaxValue
  /** One timed pass; writes the tables the output check reads under `dir`. */
  def pass(dir: String): PassResult
  /** Micro-batch or job durations (ms) of the timed passes. */
  def batchMs(probe: Probe): Seq[Long] =
    probe.jobWalls.toArray(Array.empty[(String, Long)]).map(_._2).toSeq
  /** Per-layer metrics from the traced run. */
  def layers(probe: Probe, tracer: Tracer, passes: Int, cores: Int): Map[String, Double]
}

object Main {

  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "workload")
    val data = arg(args, "data")
    val out = arg(args, "out")
    val seconds = arg(args, "seconds").toDouble
    val trace = arg(args, "trace") == "1"
    val launchedMs = arg(args, "launched-ms").toLong
    val cores = arg(args, "cores").toInt
    val master = arg(args, "master")
    val oracles = arg(args, "oracles").split(",").filter(_.nonEmpty).toSeq

    val builder = SparkSession.builder()
    // The batch chains time repeated passes of one job, so the classes a
    // pass generates must stay compiled between passes. Spark's default
    // cache (100 entries) holds fewer than one spine pass generates: every
    // pass recompiled them, and pass times kept falling for half a minute
    // (6.3 s to 3.6 s over eight passes). The streaming workloads keep the
    // default, as a deployed session would; on the live feed that
    // recompilation is part of each micro-batch (README.md).
    if (Set("spine_batch", "corpus_release")(workload))
      builder.config("spark.sql.codegen.cache.maxEntries", "1000")
    val spark = builder
      .master(master)
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // the engine's mains run with this rule excluded (see graft.Bench)
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", System.getProperty("java.io.tmpdir"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val probe = Probe.install(sc, spark, detailed = trace)
    val tracer = new Tracer(sc, probe, java.util.UUID.randomUUID().toString, trace)

    val w: Workload = workload match {
      case "spine_batch" => new Spine(spark, data, tracer)
      case "stream_gates" | "stream_gate" =>
        new Gates(spark, data, tracer, probe, arg(args, "gates").split(",").toSeq)
      case "corpus_release" => new Corpus(spark, data, tracer)
      case "live_feed" => new LiveFeed(spark, data, tracer, probe, cores)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val sessionS = (System.currentTimeMillis() - launchedMs) / 1000.0
    w.warmup(s"$out/warmup")
    val setupS = (System.currentTimeMillis() - launchedMs) / 1000.0
    probe.flush()
    probe.reset()
    tracer.reset()
    MemPeak.reset()

    val passes = mutable.ArrayBuffer.empty[PassResult]
    // host-independent counts of each pass, by span: (jobs, stages, shuffle bytes)
    val passCounts = mutable.ArrayBuffer.empty[Map[String, Seq[Long]]]
    def countsNow(): Map[String, Seq[Long]] = {
      probe.counts.asScala.map { case (key, c) =>
        key -> Seq(c.jobs, c.stages, c.shuffleBytes) }.toMap
    }
    val t0 = System.nanoTime()
    var k = 0
    while (passes.size < w.maxPasses &&
        (passes.size < w.minPasses || (System.nanoTime() - t0) / 1e9 < seconds)) {
      val dir = s"$out/pass$k"
      val before = countsNow()
      passes += w.pass(dir)
      if (trace) {
        probe.flush()
        passCounts += countsNow().map { case (key, v) =>
          key -> v.zip(before.getOrElse(key, Seq(0L, 0L, 0L))).map { case (a, b) => a - b }
        }
      }
      // only the last pass's tables are checked; earlier ones are removed
      if (k > 0) deleteTree(Paths.get(s"$out/pass${k - 1}"))
      k += 1
    }
    MemPeak.collect()
    probe.flush()
    val lastDir = s"$out/pass${k - 1}"

    val e2e = mutable.LinkedHashMap[String, Double](
      "setup_s" -> setupS,
      "result_s" -> Stats.median(passes.map(_.wallS).toSeq),
      "catchup_s" -> Stats.median(passes.map(_.catchupS).toSeq),
      "fresh_p50_s" -> Stats.median(passes.map(p => Stats.weightedQuantile(p.fresh, 0.50)).toSeq),
      "fresh_p99_s" -> Stats.median(passes.map(p => Stats.weightedQuantile(p.fresh, 0.99)).toSeq),
      "edge_p50_s" -> {
        val edge = passes.flatMap(_.edge).toSeq
        if (edge.nonEmpty) Stats.median(edge) else Stats.median(passes.map(_.firstS).toSeq)
      },
      "batch_p50_s" -> Stats.median(w.batchMs(probe).map(_ / 1000.0)),
      "mem_peak_mb" -> MemPeak.peakMb)
    val layer =
      if (trace) w.layers(probe, tracer, passes.size, cores) else Map.empty[String, Double]

    val spans = tracer.all
    // NaN (no samples) is written as null
    def num(m: collection.Map[String, Double]): Map[String, Option[Double]] =
      m.map { case (k, v) => k -> Some(v).filterNot(_.isNaN) }.toMap
    val json = Map(
      "workload" -> workload,
      "passes" -> passes.size,
      "check_dir" -> lastDir,
      "attempted" -> passes.map(_.attempted).sum,
      "failed" -> passes.map(_.failed).sum,
      "e2e" -> num(e2e),
      "pass_wall_s" -> passes.map(_.wallS).toSeq,
      "layer" -> num(layer),
      "notes" -> (passes.last.notes ++ Map("session_s" -> sessionS,
        "heap_after_gc_peak_mb" -> MemPeak.heapMb, "off_heap_peak_mb" -> MemPeak.offHeapMb,
        "vm_hwm_mb" -> Stats.vmHwmMb())),
      "oracle_sql" -> oracles.map(n => n -> graft.SparkEntry.oracleSql(n)).toMap,
      "trace_id" -> tracer.traceId,
      "spans" -> spans.map { s =>
        Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
          "start_s" -> (s.start - t0) / 1e9, "end_s" -> (s.end - t0) / 1e9,
          "self_s" -> tracer.selfNs(s) / 1e9)
      },
      "pass_counts" -> passCounts.map(_.map { case (key, v) =>
        key -> Map("jobs" -> v(0), "stages" -> v(1), "shuffle_bytes" -> v(2)) }),
      "counts" -> {
        probe.counts.asScala.toSeq.sortBy(_._1).map { case (key, c) =>
          Map("key" -> key, "jobs" -> c.jobs, "stages" -> c.stages,
            "task_ms" -> c.taskMs, "shuffle_bytes" -> c.shuffleBytes,
            "spill_bytes" -> c.spill, "rows_out" -> c.rowsOut)
        }
      })
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(Paths.get(s"$out/result.json").toFile, json)
    spark.stop()
    // threads the engine's servers or Spark leave behind must not keep the
    // process alive
    sys.exit(0)
  }

  def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Quantile of values given with integer weights (the smallest value whose
    * cumulative weight reaches `q` of the total). */
  def weightedQuantile(xs: Seq[(Double, Long)], q: Double): Double = {
    val s = xs.filter(_._2 > 0).sortBy(_._1)
    if (s.isEmpty) Double.NaN
    else {
      val total = s.map(_._2).sum.toDouble
      var acc = 0L
      s.find { case (_, w) => acc += w; acc >= q * total }.getOrElse(s.last)._1
    }
  }

  /** Peak resident set of this JVM (`VmHWM`), in MB. */
  def vmHwmMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** Memory the run holds, in MB: the largest heap occupancy after a full
  * collection (what survives one is what the program still references:
  * results collected to the driver, broadcast models, state kept between
  * batches), plus the largest JVM-managed memory outside the heap
  * (metaspace, code cache, direct and mapped buffers), sampled every 50 ms.
  *
  * Full collections come from the collector itself, which runs one only
  * under memory pressure, and from [[collect]] at fixed points: after the
  * timed passes, and on the live feed after the last commit while the
  * pipeline still runs. Young collections are not read: what they leave in
  * the old generation includes garbage no collection has looked at yet, so
  * it follows the collector's timing rather than the program. */
object MemPeak {
  private val heapAfter = new AtomicLong(0L)
  private val offHeap = new AtomicLong(0L)
  private val fullCollections = new AtomicLong(0L)
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  /** False while [[collect]]'s first collection runs, whose reading is
    * not kept. */
  @volatile private var recording = true

  private val onGc: NotificationListener = (n, _) =>
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      if (info.getGcAction == "end of major GC") {
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        if (recording) heapAfter.accumulateAndGet(used, (a, b) => math.max(a, b))
        fullCollections.incrementAndGet()
      }
    }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(onGc, null, null)
    case _ =>
  }

  private def sampleOffHeap(): Unit = {
    val used = ManagementFactory.getMemoryMXBean.getNonHeapMemoryUsage.getUsed +
      ManagementFactory.getPlatformMXBeans(classOf[java.lang.management.BufferPoolMXBean])
        .asScala.map(_.getMemoryUsed).sum
    offHeap.accumulateAndGet(used, (a, b) => math.max(a, b))
  }
  private val sampler = new Thread(() => {
    while (true) { sampleOffHeap(); Thread.sleep(50L) }
  }, "perfbench-mem")
  sampler.setDaemon(true)
  sampler.start()

  /** Two full collections, and the reading of the second. Spark frees
    * the blocks of broadcasts, shuffles and cached data only after a
    * collection has found them unreachable (its context cleaner, which
    * runs on another thread), so a single collection kept some of them
    * or not depending on what the cleaner had done by then: the reading
    * jumped between runs by whole blocks of about 17 MB. */
  def collect(): Unit = {
    recording = false
    try fullGc() finally recording = true
    Thread.sleep(CleanerWaitMs)
    fullGc()
  }

  private val CleanerWaitMs = 500L

  /** A full collection, once its notification has been read. */
  private def fullGc(): Unit = {
    val seen = fullCollections.get
    System.gc()
    val deadline = System.currentTimeMillis() + 5000L
    while (fullCollections.get == seen && System.currentTimeMillis() < deadline) Thread.sleep(5L)
  }

  /** Forget the set-up's readings. */
  def reset(): Unit = { heapAfter.set(0L); offHeap.set(0L); sampleOffHeap() }
  def heapMb: Double = heapAfter.get / 1e6
  def offHeapMb: Double = offHeap.get / 1e6
  def peakMb: Double = heapMb + offHeapMb
}
