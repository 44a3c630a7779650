package graft

import java.nio.file.Files

import graft.model.Timeframe
import graft.operators.{Indicators, Ohlc, Ticks}
import graft.serving.{LivePipeline, PathConfig, TickerServer, WireReplayServer}
import graft.sources.WebSocketClient
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

/** Round-13 verdict item 4: the reference's WHOLE deployment as one
  * living artifact — a real socket endpoint feeding the DSv2 source,
  * through tick relay + candle + fused-grid state, out to real WebSocket
  * subscribers of the [[TickerServer]] — including a kill/restart across
  * which every store reconverges to the uninterrupted run bit-exactly. */
class LivePipelineSpec extends SparkSpec {
  import spark.implicits._

  private val inds = Seq("RSI", "SMA", "EMA")
  private val ps = Seq(3)
  private val tfCodes = Seq("1m", "5m")
  private val tfs = tfCodes.map(Timeframe.byCode)

  private def msg(sym: String, t: String, bid: Double, ask: Double) =
    f"""{"symbol":"$sym","timestamp":"$t","bid":"$bid%.3f","ask":"$ask%.3f"}"""

  /** 40 minutes × 2 pairs × 2 ticks/minute, per-pair ascending (the
    * socket contract), deterministic pseudo-walk closes. */
  private val wire: IndexedSeq[String] = {
    val out = Vector.newBuilder[String]
    for (m <- 0 until 40; s <- Seq(0, 30)) {
      val t = f"2024-01-01T00:$m%02d:$s%02d.000Z"
      val w = ((m * 2 + s / 30) * 7) % 23 // deterministic walk
      out += msg("USD_JPY", t, 150.0 + w * 0.1, 150.05 + w * 0.1)
      out += msg("EUR_JPY", t, 160.0 - w * 0.07, 160.04 - w * 0.07)
    }
    out.result().toIndexedSeq
  }

  private def parseAll(msgs: Seq[String]): DataFrame =
    Ticks.valid(Ticks.fromWireJson(msgs.toDF("value")))

  /** The one-shot batch twin of the whole chain over `msgs`. */
  private def expected(msgs: Seq[String], periods: Seq[Int] = ps)
      : (DataFrame, DataFrame, DataFrame) = {
    val ticksB = Ticks.dedupSecond(parseAll(msgs).withColumn("seq", lit(0L)))
    val mx = ticksB.groupBy("pair").agg(max(col("time")).as("max_t"))
    val durs = tfs.map(t => (t.code, t.durationSeconds.toLong)).toDF("timeframe", "dur")
    val cand = Ohlc.allTimeframes(ticksB, tfs)
    val candFinal = cand.join(durs, "timeframe").join(mx, "pair")
      .filter(unix_timestamp(col("time")) + col("dur") <= unix_timestamp(col("max_t")))
      .select(cand.columns.map(col).toSeq: _*)
    val grid = Indicators.indicatorFactsFused(candFinal, inds, periods)
    (ticksB, candFinal, grid)
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def eventually(cond: => Boolean, msg: => String,
                         timeoutMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(20)
    assert(cond, msg)
  }

  private def assertStores(root: String, msgs: Seq[String],
                           periods: Seq[Int] = ps): Unit = {
    val (et, ec, eg) = expected(msgs, periods)
    val st = LivePipeline.Stores(root)
    // stores are (pair, dt)-partitioned — select the logical columns
    // explicitly (the derived dt partition column is layout, not data)
    assert(sortedRows(spark.read.parquet(st.ticks)
      .select("pair", "time", "bid", "ask")) ===
      sortedRows(et.select("pair", "time", "bid", "ask")), "tick store diverged")
    assert(sortedRows(spark.read.parquet(st.candles)
      .select(ec.columns.map(col).toSeq: _*)) === sortedRows(ec),
      "candle store diverged")
    assert(sortedRows(spark.read.parquet(st.gridFacts)
      .select(eg.columns.map(col).toSeq: _*)) === sortedRows(eg),
      "grid facts diverged")
  }

  test("live pipeline: socket in, stores advanced per batch, ticker json out") {
    val endpoint = new WireReplayServer(wire)
    val epPort = endpoint.start()
    val srv = new TickerServer(Seq(PathConfig("USD_JPY", "/ws/ticker_usd_jpy"),
      PathConfig("EUR_JPY", "/ws/ticker_eur_jpy")), heartbeatMillis = 60000L)
    val srvPort = srv.start()
    val root = Files.createTempDirectory("graft-livepipe-").toString
    try {
      val sub = new WebSocketClient("127.0.0.1", srvPort, "/ws/ticker_usd_jpy")
      sub.connect()
      eventually(srv.clientCount("/ws/ticker_usd_jpy") == 1, "subscriber not registered")
      LivePipeline.start(spark, "localhost", epPort, "/ws/public/v1",
        """{"command":"subscribe","channel":"ticker"}""", root, srv,
        inds, ps, tfCodes,
        maxMessages = wire.length.toLong, maxMessagesPerBatch = 25L)
        .awaitTermination(120000)
      // tick-in → json-out: the subscriber saw live ticker payloads, and
      // the last one carries the pair's FINAL bid (batches are per-pair
      // time-ordered, so the last publish is the latest tick). A sentinel
      // published after termination bounds the read deterministically.
      srv.publish("/ws/ticker_usd_jpy", """{"type":"done"}""")
      var seen = Vector.empty[String]
      var m = sub.readMessage()
      while (m.isDefined && !m.get.contains("\"done\"")) {
        seen :+= m.get; m = sub.readMessage()
      }
      sub.close()
      val tickers = seen.filter(_.contains("\"type\":\"ticker\""))
      assert(tickers.nonEmpty, s"no ticker json reached the subscriber: $seen")
      assert(tickers.forall(_.contains("\"symbol\":\"USD_JPY\"")), tickers.take(3))
      val lastBid = parseAll(wire).filter(col("pair") === "USD/JPY")
        .orderBy(col("time").desc).limit(1).collect()(0).getDouble(2)
      assert(tickers.last.contains(s""""bid":$lastBid"""),
        s"last ticker ${tickers.last} != final bid $lastBid")
      // every store equals its one-shot batch twin
      assertStores(root, wire)
    } finally { endpoint.stop(); srv.close() }
  }

  test("live pipeline: kill between batches, restart reconverges every store bit-exactly") {
    val k = 70 // the kill point: mid-warm-up for 5m cells, mid-series for 1m
    val srv = new TickerServer(Seq(PathConfig("USD_JPY", "/ws/ticker_usd_jpy"),
      PathConfig("EUR_JPY", "/ws/ticker_eur_jpy")), heartbeatMillis = 60000L)
    srv.start()
    val root = Files.createTempDirectory("graft-livepipe-restart-").toString
    try {
      // phase 1: first k messages, then the process "dies"
      val epA = new WireReplayServer(wire.take(k))
      val pA = epA.start()
      try LivePipeline.start(spark, "localhost", pA, "/",
        """{"command":"subscribe"}""", root, srv, inds, ps, tfCodes,
        maxMessages = k.toLong, maxMessagesPerBatch = 25L)
        .awaitTermination(120000)
      finally epA.stop()
      // phase 2: restart on the SAME checkpoint/stores against an endpoint
      // that only has the tail (the WAL replays nothing lost; Spark's
      // offset log resumes at k)
      val epB = new WireReplayServer(wire.drop(k))
      val pB = epB.start()
      try LivePipeline.start(spark, "localhost", pB, "/",
        """{"command":"subscribe"}""", root, srv, inds, ps, tfCodes,
        maxMessages = wire.length.toLong, maxMessagesPerBatch = 25L)
        .awaitTermination(120000)
      finally epB.stop()
      assertStores(root, wire)
    } finally srv.close()
  }

  test("live pipeline: per-batch scanned rows stay flat while the stores grow") {
    // the O(new data) claim, measured: with (pair, dt)-partitioned stores,
    // literal watermark thresholds, and time-bounded anti-joins, a batch's
    // input row count must track the batch + unfrozen tail — NOT store
    // history. 50 equal-sized batches WITH compaction cycles inside
    // (compactEvery=16 → batches 15/31/47): if any per-batch read scanned
    // the full store, late batches would read ~25x the rows of early
    // ones, and a compaction that broke partition layout would bend the
    // post-compaction baseline. Compaction batches themselves are
    // excluded from the flatness comparison — a rewrite-and-swap's read
    // is proportional to the fragmented partitions it rewrites (this
    // single-day fixture fragments ONE dt partition forever; production
    // dt layout retires old days), which is amortized maintenance, not
    // the steady-state scan. Measured shape: the swap echoes into ONE
    // following batch (the first read after a swap re-establishes the
    // merged file) and decays to the 1530-row baseline immediately.
    val srv = new TickerServer(Seq(PathConfig("USD_JPY", "/ws/ticker_usd_jpy")),
      heartbeatMillis = 60000L)
    srv.start()
    val root = Files.createTempDirectory("graft-livepipe-scan-").toString
    try {
      val st = LivePipeline.Stores(root)
      val recs = new java.util.concurrent.atomic.AtomicLong()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (t.taskMetrics != null)
            recs.addAndGet(t.taskMetrics.inputMetrics.recordsRead)
      }
      // 18 batches x 20 minutes x 2 ticks/min x 2 pairs (6 hours total)
      def batchMsgs(b: Int): Seq[String] =
        for (m <- 0 until 20; s <- Seq(0, 30); p <- Seq("USD_JPY", "EUR_JPY"))
          yield {
            val tot = b * 20 + m
            val t = f"2024-01-01T${tot / 60}%02d:${tot % 60}%02d:$s%02d.000Z"
            msg(p, t, 150.0 + (tot % 23) * 0.1, 150.05 + (tot % 23) * 0.1)
          }
      def settled(): Long = {
        // listener events post asynchronously: wait for the count to
        // hold still before reading it
        var prev = -1L
        var cur = recs.get()
        while (cur != prev) { Thread.sleep(200); prev = cur; cur = recs.get() }
        cur
      }
      val nBatches = 50
      val compactEvery = 16
      def isCompactBatch(b: Int) = (b + 1) % compactEvery == 0
      spark.sparkContext.addSparkListener(listener)
      val perBatch = try {
        (0 until nBatches).map { b =>
          val before = settled()
          LivePipeline.processBatch(parseAll(batchMsgs(b)), b.toLong, st, srv,
            inds, ps, tfs, compactEvery = compactEvery)
          settled() - before
        }
      } finally spark.sparkContext.removeSparkListener(listener)
      // steady state from batch 3 (thresholds defined once every
      // timeframe froze a bar); late batches must not outgrow early ones.
      // The late window sits AFTER two compaction cycles, so it also
      // proves compaction preserves the bounded-read layout.
      val early = perBatch.slice(3, 6).sum / 3.0
      val lateIdx = (44 until 47).filterNot(isCompactBatch)
      val lateB = lateIdx.map(perBatch).sum.toDouble / lateIdx.size
      info(s"rows read per batch: ${perBatch.mkString(", ")}")
      assert(lateB <= early * 2.0,
        s"per-batch scan grew with history: early=$early late=$lateB " +
        s"(${perBatch.mkString(",")})")
      // and the run was still CORRECT end to end
      assertStores(root, (0 until nBatches).flatMap(batchMsgs))
    } finally srv.close()
  }

  test("live pipeline: compaction bounds fragments; a kill mid-compact loses nothing") {
    val srv = new TickerServer(Seq(PathConfig("USD_JPY", "/ws/ticker_usd_jpy")),
      heartbeatMillis = 60000L)
    srv.start()
    val root = Files.createTempDirectory("graft-livepipe-compact-").toString
    try {
      val st = LivePipeline.Stores(root)
      val all = wire.grouped(16).toSeq // 10 batches of 16 msgs
      all.zipWithIndex.foreach { case (msgs, b) =>
        LivePipeline.processBatch(parseAll(msgs), b.toLong, st, srv,
          inds, ps, tfs, compactEvery = 4)
      }
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sparkContext.hadoopConfiguration)
      def leafCounts(dir: String): Seq[Int] = {
        def walk(p: org.apache.hadoop.fs.Path): Seq[Int] = {
          val stt = fs.listStatus(p)
          val here = stt.count(f => f.isFile && f.getPath.getName.startsWith("part-"))
          val sub = stt.filter(f => f.isDirectory &&
            !f.getPath.getName.startsWith("_")).flatMap(f => walk(f.getPath))
          (if (here > 0) Seq(here) else Nil) ++ sub
        }
        walk(new org.apache.hadoop.fs.Path(dir))
      }
      // 10 appends per leaf without compaction; every-4-batches compaction
      // must hold each leaf under maxFragments + the appends since the
      // last compact cycle
      for (dir <- Seq(st.ticks, st.candles, st.gridFacts)) {
        val counts = leafCounts(dir)
        assert(counts.nonEmpty && counts.forall(_ <= 12),
          s"$dir fragments unbounded: $counts")
      }
      assertStores(root, wire)

      // crash mid-compact, at the worst point: the tick leaf was renamed
      // away and the rewrite is INCOMPLETE (no _SUCCESS) — the next batch
      // must recover the original leaf before reading
      val tickRoot = new org.apache.hadoop.fs.Path(st.ticks)
      val leaf = fs.listStatus(tickRoot).filter(f => f.isDirectory &&
          f.getPath.getName.startsWith("pair="))
        .flatMap(p => fs.listStatus(p.getPath)).filter(_.isDirectory)
        .map(_.getPath).head
      val token = java.net.URLEncoder.encode(
        leaf.toString.stripPrefix(tickRoot.toString).stripPrefix("/"), "UTF-8")
      val tmp = new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(tickRoot, "_compact"), token)
      fs.mkdirs(tmp) // rewrite started, never finished: no _SUCCESS
      val old = new org.apache.hadoop.fs.Path(leaf.getParent,
        "_old." + leaf.getName.replace("=", "~"))
      assert(fs.rename(leaf, old), "test setup: rename failed")
      // a replayed batch drives recovery through processBatch itself
      LivePipeline.processBatch(parseAll(all.last), (all.length - 1).toLong,
        st, srv, inds, ps, tfs, compactEvery = 4)
      assertStores(root, wire)

      // and the complementary crash: rewrite COMPLETE (_SUCCESS present),
      // original renamed away — recovery must finish the swap forward
      val leaf2 = fs.listStatus(tickRoot).filter(f => f.isDirectory &&
          f.getPath.getName.startsWith("pair="))
        .flatMap(p => fs.listStatus(p.getPath)).filter(_.isDirectory)
        .map(_.getPath).head
      val token2 = java.net.URLEncoder.encode(
        leaf2.toString.stripPrefix(tickRoot.toString).stripPrefix("/"), "UTF-8")
      val tmp2 = new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(tickRoot, "_compact"), token2)
      spark.read.parquet(leaf2.toString).coalesce(1)
        .write.mode("overwrite").parquet(tmp2.toString)
      val old2 = new org.apache.hadoop.fs.Path(leaf2.getParent,
        "_old." + leaf2.getName.replace("=", "~"))
      assert(fs.rename(leaf2, old2), "test setup: rename failed")
      graft.sources.Compact.recoverStore(spark, st.ticks)
      assertStores(root, wire)
    } finally srv.close()
  }

  test("live pipeline: signal tail — kill/restart + replay keep the signal store bit-exact") {
    // two periods arm the strategy tail: golden/dead SMA(2)x(3) crosses
    // fire densely on the pseudo-walk fixture
    val ps2 = Seq(2, 3)
    val srv = new TickerServer(Seq(PathConfig("USD_JPY", "/ws/ticker_usd_jpy")),
      heartbeatMillis = 60000L)
    srv.start()
    val root = Files.createTempDirectory("graft-livepipe-sig-").toString
    try {
      val st = LivePipeline.Stores(root)
      val chunks = wire.grouped(25).toSeq
      // phase 1: first 3 batches, then the process "dies" and batch 2
      // REPLAYS (crash after stores advanced, before checkpoint commit)
      chunks.take(3).zipWithIndex.foreach { case (ms, i) =>
        LivePipeline.processBatch(parseAll(ms), i.toLong, st, srv,
          inds, ps2, tfs, compactEvery = 3)
      }
      LivePipeline.processBatch(parseAll(chunks(2)), 2L, st, srv,
        inds, ps2, tfs, compactEvery = 3)
      // phase 2: restart carries on with the tail
      chunks.drop(3).zipWithIndex.foreach { case (ms, i) =>
        LivePipeline.processBatch(parseAll(ms), (i + 3).toLong, st, srv,
          inds, ps2, tfs, compactEvery = 3)
      }
      // one-shot twin: strategy over the one-shot grid's SMA facts
      val (_, _, eg) = expected(wire, ps2)
      val expSig = graft.operators.Signals.strategy(
        eg.filter(col("indicator") === "SMA"), 2, 3)
      assert(expSig.count() > 0, "fixture produced no crosses — test is vacuous")
      val cols = expSig.columns.map(col).toSeq
      assert(sortedRows(spark.read.parquet(st.signals).select(cols: _*)) ===
        sortedRows(expSig), "signal store diverged from the one-shot twin")
      // the other stores stayed exact through the replay + compaction
      assertStores(root, wire, ps2)
    } finally srv.close()
  }

  test("live pipeline: trade tail — replay + crash-before-snapshot converge to the one-shot fold") {
    val ps2 = Seq(2, 3) // dense crosses arm the whole signal→trade chain
    val srv = new TickerServer(Seq(PathConfig("USD_JPY", "/ws/ticker_usd_jpy")),
      heartbeatMillis = 60000L)
    srv.start()
    val root = Files.createTempDirectory("graft-livepipe-trd-").toString
    try {
      val st = LivePipeline.Stores(root)
      val chunks = wire.grouped(25).toSeq
      chunks.take(3).zipWithIndex.foreach { case (ms, i) =>
        LivePipeline.processBatch(parseAll(ms), i.toLong, st, srv,
          inds, ps2, tfs, compactEvery = 3)
      }
      // crash window A: batch 2 replays whole (after all stores advanced,
      // before checkpoint commit)
      LivePipeline.processBatch(parseAll(chunks(2)), 2L, st, srv,
        inds, ps2, tfs, compactEvery = 3)
      // crash window B: the trade-state snapshot write "crashed" — delete
      // the latest version so the next batch re-folds from the older
      // frontier against a trade store that already has the rows
      val fs = new java.io.File(st.tradeState)
      if (fs.exists()) {
        val latest = fs.listFiles().filter(_.getName.startsWith("v"))
          .maxBy(_.getName.stripPrefix("v").toLong)
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); ()
        }
        rm(latest)
      }
      chunks.drop(3).zipWithIndex.foreach { case (ms, i) =>
        LivePipeline.processBatch(parseAll(ms), (i + 3).toLong, st, srv,
          inds, ps2, tfs, compactEvery = 3)
      }
      // one-shot twin: Backtest.trades over the one-shot signal set,
      // folded per (pair, timeframe)
      val (_, _, eg) = expected(wire, ps2)
      val expSig = graft.operators.Signals.strategy(
        eg.filter(col("indicator") === "SMA"), 2, 3)
      val expTrades = expSig.select(col("trigger_indicator_timeframe").as("tf"),
          col("pair"), col("event_datetime"), col("event_type"), col("price"))
        .collect().groupBy(r => (r.getString(1), r.getString(0)))
        .flatMap { case ((pair, tf), rows) =>
          var open = false; var eT: java.sql.Timestamp = null; var eP = 0.0
          var n = 0L
          val out = Vector.newBuilder[(String, String, Long, java.sql.Timestamp, Double, java.sql.Timestamp, Double)]
          rows.sortBy(_.getTimestamp(2).getTime).foreach { r =>
            r.getString(3) match {
              case "BUY" if !open => open = true; eT = r.getTimestamp(2); eP = r.getDouble(4)
              case "SELL" if open =>
                n += 1; out += ((pair, tf, n, eT, eP, r.getTimestamp(2), r.getDouble(4)))
                open = false
              case _ => ()
            }
          }
          out.result()
        }.toSeq.sortBy(t => (t._1, t._2, t._3))
      assert(expTrades.nonEmpty, "fixture closed no trades — test is vacuous")
      val got = spark.read.parquet(st.trades)
        .select(col("pair"), col("timeframe"), col("trade_no"),
          col("entry_time"), col("entry_price"), col("exit_time"),
          col("exit_price"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getTimestamp(3), r.getDouble(4), r.getTimestamp(5), r.getDouble(6)))
        .toSeq.distinct.sortBy(t => (t._1, t._2, t._3))
      assert(got === expTrades, "trade store diverged from the one-shot fold")
      assertStores(root, wire, ps2)
    } finally srv.close()
  }

  test("live pipeline: STOPPED trade tail — replay + crash-before-snapshot converge to the one-shot f6f fold") {
    val ps2 = Seq(2, 3)
    val (slP, tpP) = (0.004, 0.006) // tight bands so SL/TP fire on the walk
    val srv = new TickerServer(Seq(PathConfig("USD_JPY", "/ws/ticker_usd_jpy")),
      heartbeatMillis = 60000L)
    srv.start()
    val root = Files.createTempDirectory("graft-livepipe-stp-").toString
    try {
      val st = LivePipeline.Stores(root)
      val chunks = wire.grouped(25).toSeq
      chunks.take(3).zipWithIndex.foreach { case (ms, i) =>
        LivePipeline.processBatch(parseAll(ms), i.toLong, st, srv,
          inds, ps2, tfs, compactEvery = 3, slPct = slP, tpPct = tpP)
      }
      // crash window A: batch 2 replays whole
      LivePipeline.processBatch(parseAll(chunks(2)), 2L, st, srv,
        inds, ps2, tfs, compactEvery = 3, slPct = slP, tpPct = tpP)
      // crash window B: the stop-state snapshot write "crashed" — delete
      // the latest version; the next batch re-folds from the older
      // frontier against a stopped-trade store that already has the rows
      val fs = new java.io.File(st.tradeStopState)
      if (fs.exists()) {
        val latest = fs.listFiles().filter(_.getName.startsWith("v"))
          .maxBy(_.getName.stripPrefix("v").toLong)
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); ()
        }
        rm(latest)
      }
      chunks.drop(3).zipWithIndex.foreach { case (ms, i) =>
        LivePipeline.processBatch(parseAll(ms), (i + 3).toLong, st, srv,
          inds, ps2, tfs, compactEvery = 3, slPct = slP, tpPct = tpP)
      }
      // one-shot twin: Backtest.tradesStopped per timeframe over the
      // one-shot signals and final candles
      val (_, ec, eg) = expected(wire, ps2)
      val expSig = graft.operators.Signals.strategy(
        eg.filter(col("indicator") === "SMA"), 2, 3).localCheckpoint()
      val expStopped = tfCodes.flatMap { tf =>
        val sg = expSig.filter(col("trigger_indicator_timeframe") === tf)
        val cd = ec.filter(col("timeframe") === tf).select("pair", "time", "close")
        graft.operators.Backtest.tradesStopped(sg, cd, slP, tpP).collect()
          .filter(_.exit_time.isDefined)
          .map(r => (r.pair, tf, r.trade_no.toLong, r.entry_time,
            r.entry_price, r.exit_time.get, r.exit_price.get, r.reason.get))
      }.sortBy(t => (t._1, t._2, t._3))
      assert(expStopped.nonEmpty, "fixture closed no stopped trades — vacuous")
      assert(expStopped.exists(t => t._8 == "SL" || t._8 == "TP"),
        "no stop exit fired — bands too wide for the fixture walk")
      val got = spark.read.parquet(st.tradesStopped)
        .select(col("pair"), col("timeframe"), col("trade_no"),
          col("entry_time"), col("entry_price"), col("exit_time"),
          col("exit_price"), col("reason"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getTimestamp(3), r.getDouble(4), r.getTimestamp(5),
          r.getDouble(6), r.getString(7)))
        .toSeq.distinct.sortBy(t => (t._1, t._2, t._3))
      assert(got === expStopped, "stopped-trade store diverged from the one-shot fold")
      assertStores(root, wire, ps2)
    } finally srv.close()
  }

  /** Flat-scan-style batch `b`: 20 minutes × 2 ticks/min × 2 pairs. */
  private def minuteBatch(b: Int): Seq[String] =
    for (m <- 0 until 20; s <- Seq(0, 30); p <- Seq("USD_JPY", "EUR_JPY"))
      yield {
        val tot = b * 20 + m
        val t = f"2024-01-01T${tot / 60}%02d:${tot % 60}%02d:$s%02d.000Z"
        msg(p, t, 150.0 + (tot % 23) * 0.1, 150.05 + (tot % 23) * 0.1)
      }

  /** Runs `body`, counting the Spark jobs each `processBatch` phase fires:
    * (batch id, phase) -> jobs, read from the phase job descriptions. */
  private def countingJobs(body: => Unit): Map[(Long, String), Int] = {
    val LiveJob = """live-batch (\d+): (.+)""".r
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .collect { case LiveJob(b, ph) => jobs.add((b.toLong, ph)) }
    }
    spark.sparkContext.addSparkListener(listener)
    try body
    finally {
      // listener events post asynchronously: wait for the count to hold
      var prev = -1
      var cur = jobs.size
      while (cur != prev) { Thread.sleep(200); prev = cur; cur = jobs.size }
      spark.sparkContext.removeSparkListener(listener)
    }
    jobs.toArray(Array.empty[(Long, String)]).toSeq.groupBy(identity)
      .map { case (k, v) => k -> v.size }
  }

  test("live pipeline: a steady-state micro-batch stays within its job budget") {
    // every phase armed (two periods: signals + both ledgers), one held
    // state across batches as `start` runs it. The count depends on the
    // plan shape, not the host: a change that adds a job per batch fails
    // here, not only in the benchmark. Measured: 20 jobs in the first
    // batch, then 28, 32 (signals and ledgers start), 34 from batch 3 on —
    // 37, 69, 75, 79, 80, 80, 80, 80 before the per-batch job cut.
    val budget = 34
    // generated classes compiled per batch (Spark's codegen compilation
    // histogram; tasks run in this JVM). Measured with the batch run
    // interpreted: 12-17, 10, 1, then 0 from batch 3 on — 122, 167, 188, then
    // 192-195 per batch when every batch compiled its own code. The
    // histogram is JVM-wide, so the budget leaves a few classes for
    // another thread of the same JVM.
    val compileBudget = 5
    val ps2 = Seq(2, 3)
    val srv = new TickerServer(Seq(PathConfig("USD_JPY", "/ws/ticker_usd_jpy")),
      heartbeatMillis = 60000L)
    srv.start()
    val root = Files.createTempDirectory("graft-livepipe-budget-").toString
    try {
      val st = LivePipeline.Stores(root)
      val state = new LivePipeline.LiveState
      val nBatches = 8
      val compiled = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      val compiles = Array.fill(nBatches)(0L)
      val jobs = countingJobs {
        (0 until nBatches).foreach { b =>
          val input = parseAll(minuteBatch(b))
          val before = compiled.getCount
          LivePipeline.processBatch(input, b.toLong, st, srv,
            inds, ps2, tfs, compactEvery = 0, state = state)
          compiles(b) = compiled.getCount - before
        }
      }
      val perBatch = (0 until nBatches).map(b =>
        jobs.collect { case ((`b`, _), n) => n }.sum)
      info(s"jobs per batch: ${perBatch.mkString(", ")}")
      info(s"compilations per batch: ${compiles.mkString(", ")}")
      assert(compiles.drop(3).forall(_ <= compileBudget),
        s"steady-state batches compiled ${compiles.drop(3).mkString(", ")} classes " +
        s"(budget $compileBudget)")
      assert(jobs.keys.exists(_._2 == "trades") && jobs.keys.exists(_._2 == "signals"),
        s"not every phase ran: ${jobs.keys.map(_._2).toSet}")
      assert(jobs.collect { case ((b, "watermarks"), n) if b > 0 => n }.sum == 0,
        "a trusted held snapshot was read back from disk")
      assert(perBatch.drop(3).forall(_ <= budget),
        s"steady-state batches fired ${perBatch.drop(3).mkString(", ")} jobs " +
        s"(budget $budget): ${jobs.toSeq.sorted.mkString(", ")}")
      assertStores(root, (0 until nBatches).flatMap(minuteBatch), ps2)
    } finally srv.close()
  }

  test("live pipeline: a batch's SQL settings never outlive it, even when it throws") {
    val keys = LivePipeline.BatchConf.map(_._1)
    // explicitly set values only (a getter would answer unset keys with
    // their defaults)
    def current(): Seq[Option[String]] = {
      val set = spark.sessionState.conf.getAllConfs
      keys.map(set.get)
    }
    val srv = new TickerServer(Seq(PathConfig("USD_JPY", "/ws/ticker_usd_jpy")),
      heartbeatMillis = 60000L)
    srv.start()
    val root = Files.createTempDirectory("graft-livepipe-conf-").toString
    // one setting held explicitly at a non-batch value, the others unset:
    // both kinds must come back as they were
    val (setKey, setValue) = (SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key, "true")
    keys.foreach(spark.conf.unset)
    spark.conf.set(setKey, setValue)
    try {
      val st = LivePipeline.Stores(root)
      val before = current()
      assert(before.count(_.isDefined) == 1, before)
      // every job of the batch runs under the batch settings (SQL
      // executions hand the session's set values to their jobs)
      val props = new java.util.concurrent.ConcurrentLinkedQueue[java.util.Properties]()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          Option(e.properties).filter(p => Option(p.getProperty("spark.job.description"))
            .exists(_.startsWith("live-batch 0:"))).foreach(props.add)
      }
      spark.sparkContext.addSparkListener(listener)
      try LivePipeline.processBatch(parseAll(wire.take(25)), 0L, st, srv, inds, ps, tfs)
      finally {
        var (prev, cur) = (-1, props.size)
        while (cur != prev) { Thread.sleep(200); prev = cur; cur = props.size }
        spark.sparkContext.removeSparkListener(listener)
      }
      assert(current() === before, "a returning batch leaked its settings")
      val sqlJobs = props.toArray(Array.empty[java.util.Properties])
        .filter(_.getProperty("spark.sql.execution.id") != null)
      assert(sqlJobs.nonEmpty, "no SQL job seen in the batch")
      LivePipeline.BatchConf.foreach { case (k, v) =>
        assert(sqlJobs.forall(_.getProperty(k) == v), s"a batch job ran without $k=$v")
      }
      // a batch that throws half-way (no server to publish to)
      intercept[NullPointerException] {
        LivePipeline.processBatch(parseAll(wire.slice(25, 50)), 1L, st, null,
          inds, ps, tfs)
      }
      assert(current() === before, "a throwing batch leaked its settings")
    } finally { spark.conf.unset(setKey); srv.close() }
  }

  test("live pipeline: declared store schemas equal what a reader infers") {
    val ps2 = Seq(2, 3)
    val srv = new TickerServer(Seq(PathConfig("USD_JPY", "/ws/ticker_usd_jpy")),
      heartbeatMillis = 60000L)
    srv.start()
    val root = Files.createTempDirectory("graft-livepipe-schema-").toString
    try {
      val st = LivePipeline.Stores(root)
      val state = new LivePipeline.LiveState
      wire.grouped(25).zipWithIndex.foreach { case (ms, i) =>
        LivePipeline.processBatch(parseAll(ms), i.toLong, st, srv,
          inds, ps2, tfs, state = state)
      }
      import LivePipeline.Stores._
      def latest(dir: String): String = new java.io.File(dir).listFiles()
        .filter(_.getName.startsWith("v")).maxBy(_.getName.stripPrefix("v").toLong).toString
      val declared = Seq(
        st.ticks -> TickSchema, st.candles -> CandleSchema, st.gridFacts -> FactSchema,
        st.signals -> SignalSchema, st.trades -> TradeSchema,
        st.tradesStopped -> StoppedTradeSchema,
        latest(st.gridState) -> GridStateSchema, latest(st.tradeState) -> LedgerSchema,
        latest(st.tradeStopState) -> LedgerSchema)
      declared.foreach { case (path, schema) =>
        // names, types and order — the pair/dt partition columns last
        assert(spark.read.parquet(path).schema.toDDL === schema.toDDL, path)
      }
    } finally srv.close()
  }

  test("live pipeline: a stale held state is reloaded, never trusted") {
    val ps2 = Seq(2, 3)
    val srv = new TickerServer(Seq(PathConfig("USD_JPY", "/ws/ticker_usd_jpy")),
      heartbeatMillis = 60000L)
    srv.start()
    val root = Files.createTempDirectory("graft-livepipe-stale-").toString
    try {
      val st = LivePipeline.Stores(root)
      val chunks = wire.grouped(25).toSeq
      val held = new LivePipeline.LiveState
      def run(i: Int, state: LivePipeline.LiveState): Unit =
        LivePipeline.processBatch(parseAll(chunks(i)), i.toLong, st, srv,
          inds, ps2, tfs, state = state)
      (0 until 3).foreach(run(_, held))
      // batch 3 advances every store and snapshot behind the holder's back
      run(3, new LivePipeline.LiveState)
      val jobs = countingJobs((4 until chunks.size).foreach(run(_, held)))
      // batch 4 finds its held version behind the newest on disk and
      // reloads (a read job); from batch 5 on the reloaded copy is current
      assert(jobs.getOrElse((4L, "watermarks"), 0) > 0, s"stale grid state trusted: $jobs")
      assert((5 until chunks.size).forall(b => !jobs.contains((b.toLong, "watermarks"))),
        s"current grid state re-read: $jobs")
      assertStores(root, wire, ps2)
    } finally srv.close()
  }

  test("live pipeline: a replayed micro-batch is a no-op on every store") {
    val srv = new TickerServer(Seq(PathConfig("USD_JPY", "/ws/ticker_usd_jpy")),
      heartbeatMillis = 60000L)
    srv.start()
    val root = Files.createTempDirectory("graft-livepipe-replay-").toString
    try {
      val st = LivePipeline.Stores(root)
      val b1 = parseAll(wire.take(100))
      val b2 = parseAll(wire.slice(100, 160))
      LivePipeline.processBatch(b1, 0L, st, srv, inds, ps, tfs)
      LivePipeline.processBatch(b2, 1L, st, srv, inds, ps, tfs)
      def state() = (sortedRows(spark.read.parquet(st.ticks)),
        sortedRows(spark.read.parquet(st.candles)),
        sortedRows(spark.read.parquet(st.gridFacts)))
      val before = state()
      // the at-least-once hazard: batch 1 replays AFTER batch 2 committed
      // (crash after the stores advanced, before the checkpoint commit)
      LivePipeline.processBatch(b2, 1L, st, srv, inds, ps, tfs)
      assert(state() === before, "replayed batch mutated a store")
      assertStores(root, wire)
    } finally srv.close()
  }
}
