package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, AtomicLongArray}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.serving.{LivePipeline, PathConfig, TickerServer, WireReplayServer}
import graft.sources.WebSocketClient

/** `LivePipeline.start` fed over a real socket by `WireReplayServer`, with
  * `TickerServer` subscribers, in two phases:
  *
  *  1. catch-up: a restart after an outage. The backlog is what the
  *     receiver had written to its write-ahead log before the outage and
  *     no batch had consumed; it drains in micro-batches of at most
  *     `per_batch` messages. Staging it in the log, in the layout the
  *     engine's source replays on restart, gives every run the same
  *     catch-up batches;
  *  2. open-loop tail: once the backlog is stored, the generator sends the
  *     remaining ticks over the socket at a fixed rate, keeping to its
  *     schedule whatever the pipeline does, and stamps each send.
  *
  * The pipeline triggers every `TriggerMs` (a batch that overruns is
  * followed at once by the next). Spark places those triggers on multiples
  * of the interval, so the tail starts just after one and is all sent
  * before the next, which stores it in one micro-batch: every run has the
  * same two batches, the catch-up and the tail. Each tail tick waits for
  * the rest of the interval and that batch, so `fresh_p99_s` is
  * `fresh_p50_s` plus a fixed offset of the send schedule (about 1 s);
  * spreading the tail over more batches costs about 10 s a batch, more than
  * the regression check's time budget holds.
  *
  * The replay server reads its messages through an indexed sequence; the
  * one here blocks each tail message until it is due and records the send
  * time, which turns the fixed replay into a paced feed.
  *
  * Latency limit: the tail must be stored fast enough that a tick waits
  * for at most the rest of the interval, the batch in flight and its own
  * batch, with one batch of headroom: `fresh_p99_s <=
  * LatencyLimitBatches x` the tail's median batch duration. A pass over the
  * limit counts one failed operation.
  *
  * The pipeline runs the configuration of the `e2e_live_*` gates (RSI, SMA,
  * EMA × 14, 28 on 1m and 5m), so their oracles check the stores. */
final class LiveFeed(spark: SparkSession, data: String, tracer: Tracer, probe: Probe,
                     cores: Int) extends Workload {
  import LiveFeed._

  private val msgs: Array[String] =
    Files.readAllLines(Paths.get(s"$data/wire.txt")).asScala.toArray
  private val meta = new com.fasterxml.jackson.databind.ObjectMapper()
    .readTree(Paths.get(s"$data/live.json").toFile)
  private val backlog = meta.get("backlog").asInt
  private val perBatch = meta.get("per_batch").asLong
  private val ratePerS = meta.get("rate").asLong
  private val parsed: Array[(String, String, Double)] = msgs.map { m =>
    val f = Wire.findFirstMatchIn(m).get
    (f.group(1), f.group(2), f.group(3).toDouble)
  }
  private val symbols = parsed.map(_._1).distinct.sorted.toSeq
  /** At most `cores` subscribers: the pairs are spread over that many
    * ticker paths, one subscriber each, so every pair is heard. */
  private val paths: Seq[PathConfig] = symbols.zipWithIndex.map { case (s, i) =>
    PathConfig(s, s"/ws/ticker_${i % math.max(1, math.min(cores, symbols.size))}")
  }

  /** No warm-up pass: the catch-up phase is a restart after an outage, and
    * a restarted deployment starts cold, so its first batches pay plan
    * compilation as a real restart does. */
  def warmup(dir: String): Unit = ()

  /** One pass: a restart after an outage, then the tail. */
  override def maxPasses: Int = 1

  private def start(port: Int, srv: TickerServer, root: String, total: Long,
                    perBatch: Long, trigger: Trigger) =
    LivePipeline.start(spark, "localhost", port, "/ws/public/v1",
      """{"command":"subscribe","channel":"ticker"}""", root, srv,
      Seq("RSI", "SMA", "EMA"), Seq(14, 28), Seq("1m", "5m"),
      maxMessages = total, maxMessagesPerBatch = perBatch, trigger = trigger)

  def pass(dir: String): PassResult = {
    val n = msgs.length
    val sent = new AtomicLongArray(n)
    val tailStart = new AtomicLong(-1L)
    val lateMs = new AtomicLong(0L)
    // the socket carries the tail only: the backlog is in the log already
    val paced: IndexedSeq[String] = new IndexedSeq[String] {
      def length: Int = n - backlog
      def apply(j: Int): String = {
        while (tailStart.get() < 0) Thread.sleep(1)
        val due = tailStart.get() + j * 1000.0 / ratePerS
        var now = System.currentTimeMillis()
        while (now < due) { Thread.sleep(math.max(0L, (due - now).toLong).min(5L)); now = System.currentTimeMillis() }
        lateMs.accumulateAndGet((now - due).toLong, (a, b) => math.max(a, b))
        sent.set(backlog + j, System.currentTimeMillis())
        msgs(backlog + j)
      }
    }
    val endpoint = new WireReplayServer(paced)
    val srv = new TickerServer(paths, heartbeatMillis = 60000L)
    val stores = LivePipeline.Stores(s"$dir/stores")
    lastRoot.set(stores.root)
    // the receiver's log as an outage left it: the backlog received, no
    // batch committed (the source replays it on start, offsets from 0)
    val wal = Paths.get(stores.checkpoint, "sources", "0", "ws-wal")
    Files.createDirectories(wal)
    Files.write(wal.resolve(f"seg-${0L}%020d.txt"),
      msgs.take(backlog).map(_ + "\n").mkString.getBytes("UTF-8"))
    val received = new ConcurrentLinkedQueue[(String, String, Long)]()
    var subs = Seq.empty[(WebSocketClient, Thread)]
    val floor = liveBatches(probe).size
    var failedOps = 0L
    val t0 = System.currentTimeMillis()
    var catchupMs = Double.NaN
    // from the tail's first send to the commit of its last tick
    var tailMs = Double.NaN
    try {
      val port = endpoint.start()
      val srvPort = srv.start()
      subs = paths.map(_.path).distinct.map { s =>
        val c = new WebSocketClient("127.0.0.1", srvPort, s)
        c.connect()
        val t = new Thread(() => {
          var m = c.readMessage()
          while (m.isDefined) {
            val now = System.currentTimeMillis()
            Ticker.findFirstMatchIn(m.get).foreach(f => received.add((f.group(1), f.group(2), now)))
            m = c.readMessage()
          }
        }, s"perfbench-sub$s")
        t.setDaemon(true)
        t.start()
        (c, t)
      }
      val q = tracer.within("serving.LivePipeline") {
        val q = start(port, srv, stores.root, n.toLong, perBatch,
          Trigger.ProcessingTime(TriggerMs))
        catchupMs = awaitOffset(q, floor, backlog.toLong, 120000L) - t0
        // after the catch-up batch the query polls at every trigger time;
        // start the tail just after the next one, so the one after that
        // takes all of it
        val next = (System.currentTimeMillis() / TriggerMs + 1) * TriggerMs
        tailStart.set(next + TailLagMs)
        tailMs = awaitOffset(q, floor, n.toLong,
          ((n - backlog) * 1000L / ratePerS) + 120000L) - tailStart.get()
        // what the driver holds for the running pipeline
        MemPeak.collect()
        q
      }
      q.stop()
    } catch { case e: Exception =>
      System.err.println(s"[perfbench] live pipeline failed: $e")
      failedOps += 1
    } finally {
      subs.foreach(_._1.close())
      srv.close()
      endpoint.stop()
      subs.foreach(_._2.join(5000L))
    }
    probe.flush()
    val bs = liveBatches(probe).drop(floor).sortBy(_.batchId)
    // a message belongs to the first batch whose end offset passes it
    def commitOf(i: Int): Option[Long] = bs.find(_.endOffset > i).map(_.commitMs)
    val valid = (0 until n).filter(i => parsed(i)._3 > 0)
    val fresh = valid.filter(_ >= backlog).flatMap { i =>
      commitOf(i).map(c => ((c - sent.get(i)) / 1000.0, 1L))
    }
    // edge latency of a tick: until a subscriber holds a payload of the
    // tick's pair at least as new as the tick (a payload carries the latest
    // tick of its pair in a batch, and so every older tick of that batch)
    val heard = received.asScala.toSeq.groupBy(_._1).map { case (sym, rs) =>
      sym -> rs.map { case (_, ts, at) => (ts, at) }.sortBy(_._2) }
    val edge = valid.filter(_ >= backlog).flatMap { i =>
      val (sym, ts, _) = parsed(i)
      heard.get(sym).flatMap(_.find(_._1 >= ts)).map { case (_, at) => (at - sent.get(i)) / 1000.0 }
    }
    // the stated latency limit, over the tail's micro-batches
    val tailBatchS = Stats.median(bs.filter(_.endOffset > backlog).map(_.triggerMs / 1000.0))
    val limitS = LatencyLimitBatches * tailBatchS
    val p99 = Stats.weightedQuantile(fresh, 0.99)
    val overLimit = if (p99 <= limitS) 0L else {
      System.err.println(s"[perfbench] fresh p99 ${p99}s over the latency limit ${limitS}s")
      1L
    }
    val missing = if (failedOps > 0) valid.size.toLong else missingTicks(stores, valid)
    writeChecks(stores, s"$dir/check")
    // the wait for the trigger schedule between catch-up and tail is the
    // benchmark's, not the pipeline's, and is left out of the pass time
    PassResult((catchupMs + tailMs) / 1000.0, catchupMs / 1000.0, Double.NaN, fresh, edge,
      valid.size.toLong + 2, missing + failedOps + overLimit,
      Map("batches" -> bs.size, "batch_rows" -> bs.map(_.inputRows),
        "batch_s" -> bs.map(_.triggerMs / 1000.0), "tail_ticks" -> (n - backlog), "rate_per_s" -> ratePerS,
        "backlog" -> backlog, "generator_late_max_ms" -> lateMs.get(),
        "latency_limit_s" -> limitS,
        "edge_samples" -> edge.size,
        "jobs_per_batch_by_batch" -> jobsPerBatch(probe)))
  }

  /** Wait until a committed batch has consumed `offset` messages; returns
    * that batch's commit time. */
  private def awaitOffset(q: org.apache.spark.sql.streaming.StreamingQuery, floor: Int,
                          offset: Long, timeoutMs: Long): Double = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (true) {
      q.exception.foreach(e => throw e)
      require(System.currentTimeMillis() < deadline, s"no commit reached offset $offset")
      liveBatches(probe).drop(floor).find(_.endOffset >= offset) match {
        case Some(b) => return b.commitMs.toDouble
        case None => Thread.sleep(2)
      }
    }
    Double.NaN
  }

  /** Valid ticks sent whose (pair, second) the tick store does not hold. */
  private def missingTicks(stores: LivePipeline.Stores, valid: Seq[Int]): Long = {
    val have = spark.read.parquet(stores.ticks)
      .select(col("pair"), unix_timestamp(col("time")))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    valid.count { i =>
      val (s, ts, _) = parsed(i)
      !have.contains((s.replace("_", "/"), java.time.Instant.parse(ts).getEpochSecond))
    }.toLong
  }

  /** The `e2e_live_*` gate projections of this run's stores. */
  private def writeChecks(st: LivePipeline.Stores, dir: String): Unit = {
    def out(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$dir/$name")
    // a store the run never wrote (no crosses, no closed trades) reads as
    // empty, as in the registered gates
    def store(path: String, ddl: String): DataFrame =
      if (Files.exists(Paths.get(path))) spark.read.parquet(path)
      else spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType.fromDDL(ddl))
    out(spark.read.parquet(st.gridFacts).select(col("indicator"), col("pair"),
      col("timeframe"), unix_timestamp(col("time")).as("time_s"), col("period"),
      round(col("value"), 6).as("value")), "e2e_live_pipeline")
    out(store(st.signals, "pair STRING, event_datetime TIMESTAMP, event_type STRING, " +
        "price DOUBLE, trigger_indicator_timeframe STRING, trigger_indicator_period INT")
      .select(col("pair"), col("trigger_indicator_timeframe").as("timeframe"),
        unix_timestamp(col("event_datetime")).as("time_s"), col("event_type"),
        round(col("price"), 6).as("price"),
        col("trigger_indicator_period").as("period")), "e2e_live_signals")
    def ledger(closedPath: String, state: Option[DataFrame], withReason: Boolean,
               name: String): Unit = {
      val cols = Seq("pair", "timeframe", "trade_no", "entry_time", "entry_price",
        "exit_time", "exit_price") ++ (if (withReason) Seq("reason") else Nil) :+ "pnl"
      val closed = store(closedPath, "pair STRING, timeframe STRING, trade_no BIGINT, " +
        "entry_time TIMESTAMP, entry_price DOUBLE, exit_time TIMESTAMP, exit_price DOUBLE, " +
        (if (withReason) "reason STRING, " else "") + "pnl DOUBLE").select(cols.map(col): _*)
      val open = state.map(_.filter(col("open")).select(
        Seq(col("pair"), col("timeframe"), (col("n_closed") + 1).as("trade_no"),
          col("entry_time"), col("entry_price"),
          lit(null).cast("timestamp").as("exit_time"),
          lit(null).cast("double").as("exit_price")) ++
          (if (withReason) Seq(lit(null).cast("string").as("reason")) else Nil) :+
          lit(null).cast("double").as("pnl"): _*))
      val t = open.fold(closed)(closed.unionByName(_))
      out(t.select(Seq(col("pair"), col("timeframe"), col("trade_no"),
          unix_timestamp(col("entry_time")).as("entry_s"),
          round(col("entry_price"), 6).as("entry_price"),
          unix_timestamp(col("exit_time")).as("exit_s"),
          round(col("exit_price"), 6).as("exit_price")) ++
          (if (withReason) Seq(col("reason")) else Nil) :+
          round(col("pnl"), 6).as("pnl"): _*), name)
    }
    ledger(st.trades, LivePipeline.latestTradeState(spark, st), withReason = false,
      "e2e_live_trades")
    ledger(st.tradesStopped, LivePipeline.latestStopTradeState(spark, st),
      withReason = true, "e2e_live_trades_stopped")
  }

  /** Micro-batch durations of the tail, the steady state after catch-up. */
  override def batchMs(probe: Probe): Seq[Long] =
    liveBatches(probe).filter(_.endOffset > backlog).map(_.triggerMs)

  private def jobsPerBatch(probe: Probe): Seq[Long] =
    probe.liveBatchJobs.asScala.toSeq.sortBy(_._1).map(_._2.longValue)

  def layers(probe: Probe, tracer: Tracer, passes: Int, cores: Int): Map[String, Double] = {
    val bs = liveBatches(probe)
    val nb = math.max(1, bs.size).toDouble
    val phases = Phases.flatMap { p =>
      val jobs = Option(probe.counts.get(s"phase:$p")).map(_.jobs).getOrElse(0L)
      val wall = probe.phaseSpans.asScala.collect { case ((_, `p`), (a, b)) => b - a }.sum
      Seq(s"serving.LivePipeline.$p.jobs" -> jobs / nb,
        s"serving.LivePipeline.$p.wall_s" -> wall / 1000.0 / nb)
    }
    val allJobs = Phases.map(p => Option(probe.counts.get(s"phase:$p")).map(_.jobs).getOrElse(0L)).sum
    val durations = StreamPhases.map { d =>
      s"streaming.live.${d}_ms" -> Stats.median(bs.map(_.durations.getOrElse(d, 0L).toDouble))
    }
    (phases ++ durations ++ storeMeasures(lastRoot.get) :+
      ("serving.LivePipeline.jobs_per_batch" -> allJobs / nb)).toMap
  }

  private val lastRoot = new java.util.concurrent.atomic.AtomicReference[String]()
}

object LiveFeed {
  /** Trigger interval, and how long after a trigger the tail starts. */
  val TriggerMs = 3000L
  val TailLagMs = 250L
  /** `fresh_p99_s` may be at most this many tail micro-batch durations. */
  val LatencyLimitBatches = 3.0
  val Phases: Seq[String] = Seq("recover", "ingest-checkpoint", "publish", "watermarks",
    "tick-append", "candles", "grid", "signals", "trades", "trades-stopped", "compact")
  val StreamPhases: Seq[String] = Seq("latestOffset", "getBatch", "queryPlanning",
    "addBatch", "walCommit", "commitOffsets")
  val StoreNames: Seq[(String, String)] = Seq("ticks" -> "ticks", "candles" -> "candles",
    "grid_facts" -> "grid_facts", "signals" -> "signals", "trades" -> "trades")

  private val Wire = """"symbol":"([^"]+)","timestamp":"([^"]+)","bid":"([^"]+)"""".r
  private val Ticker = """"type":"ticker","symbol":"([^"]+)","timestamp":"([^"]+)"""".r

  private def liveBatches(probe: Probe): Seq[BatchRecord] =
    probe.batches.toArray(Array.empty[BatchRecord]).toSeq.filter(_.inputRows > 0)

  /** Data files and megabytes of each store under `root`. */
  def storeMeasures(root: String): Seq[(String, Double)] =
    StoreNames.flatMap { case (metric, dir) =>
      val p = Paths.get(root, dir)
      val files =
        if (!Files.exists(p)) Seq.empty
        else {
          val s = Files.walk(p)
          try s.iterator().asScala.filter(f => Files.isRegularFile(f) &&
            f.getFileName.toString.endsWith(".parquet")).toSeq
          finally s.close()
        }
      Seq(s"sources.store.$metric.files" -> files.size.toDouble,
        s"sources.store.$metric.mb" -> files.map(Files.size(_)).sum / 1e6)
    }
}
