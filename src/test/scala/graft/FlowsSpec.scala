package graft

import graft.operators.{Flows, GridFoldRow, GridStateWm, Indicators}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Test => SCTest}
import org.scalacheck.Prop.{forAll, propBoolean}

class FlowsSpec extends SparkSpec {
  import spark.implicits._

  // 3 hours of one-minute ticks, two pairs
  private val ticks = (0 until 180).flatMap { m =>
    Seq(("X", ts(f"2024-01-01 ${m / 60}%02d:${m % 60}%02d:00"), 100.0 + m % 7),
      ("Y", ts(f"2024-01-01 ${m / 60}%02d:${m % 60}%02d:00"), 50.0 + m % 5))
  }.map { case (p, t, b) => (p, t, b, b + 0.01) }.toDF("pair", "time", "bid", "ask")

  test("candleFlow materializes exactly the configured timeframes") {
    val cfg = new Config(Map("DEFAULT_TIMEFRAMES" -> "1m,5m,1h"))
    val tfs = Flows.candleFlow(ticks, cfg)
      .select("timeframe").distinct().as[String].collect().sorted
    assert(tfs.toSeq === Seq("1h", "1m", "5m"))
  }

  test("candleFlow rejects unknown timeframe codes fail-fast") {
    val cfg = new Config(Map("DEFAULT_TIMEFRAMES" -> "1m,7m"))
    val e = intercept[IllegalArgumentException](Flows.candleFlow(ticks, cfg))
    assert(e.getMessage.contains("7m"))
  }

  test("indicatorFlow fans out indicators x periods x timeframes") {
    val cfg = new Config(Map(
      "DEFAULT_PERIODS" -> "3,5", "DEFAULT_TIMEFRAMES" -> "1m,5m"))
    val grid = Flows.indicatorFlow(ticks, cfg)
      .select("indicator", "period", "timeframe").distinct().collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
    assert(grid === (for {
      i <- Set("RSI", "SMA", "EMA"); p <- Set(3, 5); t <- Set("1m", "5m")
    } yield (i, p, t)))
  }

  test("fused indicator grid is BIT-identical to the per-branch union") {
    val candles = Flows.candleFlow(ticks,
      new Config(Map("DEFAULT_TIMEFRAMES" -> "1m,5m")))
    val inds = Seq("RSI", "SMA", "EMA")
    val ps = Seq(3, 5, 14)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("indicator", "pair", "timeframe", "time", "period", "value")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getTimestamp(3), r.getInt(4),
        if (r.isNullAt(5)) None else Some(r.getDouble(5))))
      .sortBy(t => (t._1, t._2, t._3, t._4.getTime, t._5))
    val branch = rows(graft.operators.Indicators.indicatorFacts(candles, inds, ps))
    val fused = rows(graft.operators.Indicators.indicatorFactsFused(candles, inds, ps))
    assert(fused.length === branch.length)
    // exact double equality — the fused SMA must replay WindowExec's fresh
    // oldest→newest frame fold, EMA/RSI the identical recursions
    assert(fused === branch)
  }

  test("snapshot-resumed fused grid is BIT-identical to the one-shot fold") {
    // the incremental-grid contract (s8j): fold a prefix, snapshot every
    // cell's machine state, resume over the tail — prefix∪tail must equal
    // the uninterrupted fold EXACTLY (raw doubles, no rounding), at a
    // split point chosen mid-warm-up so seeds cross the snapshot too
    val candles = Flows.candleFlow(ticks,
      new Config(Map("DEFAULT_TIMEFRAMES" -> "1m,5m")))
    val inds = Seq("RSI", "SMA", "EMA")
    val ps = Seq(3, 5, 14)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("indicator", "pair", "timeframe", "time", "period", "value")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getTimestamp(3), r.getInt(4),
        if (r.isNullAt(5)) None else Some(r.getDouble(5))))
      .sortBy(t => (t._1, t._2, t._3, t._4.getTime, t._5))
    val full = rows(graft.operators.Indicators.indicatorFactsFused(candles, inds, ps))
    // 00:07 splits inside period-14's seed accumulation AND mid-5m-bar
    // warm-up; a second split late enough that every cell is warm
    for (cut <- Seq("2024-01-01 00:07:00", "2024-01-01 01:30:00")) {
      val prefix = candles.filter(col("time") < lit(cut))
      val tail = candles.filter(col("time") >= lit(cut))
      val state = graft.operators.Indicators.indicatorGridSnapshot(prefix, inds, ps)
      val merged = rows(
        graft.operators.Indicators.indicatorFactsFused(prefix, inds, ps).unionByName(
          graft.operators.Indicators.indicatorFactsFusedResume(tail, inds, ps, state)))
      assert(merged.length === full.length, s"cut=$cut")
      assert(merged === full, s"cut=$cut")
    }
    // a tail containing a BRAND-NEW key starts that key's machines fresh
    val newKey = rows(graft.operators.Indicators.indicatorFactsFusedResume(
      candles.filter(col("pair") === "Y"), inds, ps,
      graft.operators.Indicators.indicatorGridSnapshot(
        candles.filter(col("pair") === "X"), inds, ps)))
    assert(newKey === full.filter(_._2 == "Y"))
  }

  test("strategyFlow emits alternating BUY/SELL per pair, config periods") {
    val cfg = new Config(Map(
      "DEFAULT_SHORT_PERIOD" -> "3", "DEFAULT_LONG_PERIOD" -> "7"))
    val ev = Flows.strategyFlow(ticks, cfg)
      .orderBy("pair", "event_datetime").collect()
    assert(ev.nonEmpty)
    assert(ev.forall(_.getAs[Int]("trigger_indicator_period") === 3))
    // alternation within each pair (golden and dead crosses interleave)
    ev.groupBy(_.getAs[String]("pair")).values.foreach { rows =>
      rows.map(_.getAs[String]("event_type")).sliding(2).foreach {
        case Array(a, b) => assert(a !== b)
        case _ =>
      }
    }
  }

  test("grid advance chained over random chunks ≡ one-shot facts and snapshot, bit for bit") {
    // keys X/1m, X/5m, Y/1m from minute 0; Z/1m first seen mid-stream, in
    // the chunk that starts at its first minute.
    // Closes repeat now and then (RSI's flat-window branch); each chunk is
    // one advance over the candles in [lo, hi) with the previous state
    val inds = Seq("RSI", "SMA", "EMA")
    val ps = Seq(2, 3, 7)
    val minutes = 60
    val t0 = ts("2024-01-01 00:00:00").getTime
    val keys = Seq(("X", "1m", 1, 0), ("X", "5m", 5, 0), ("Y", "1m", 1, 0))
    val caseGen = for {
      zFrom <- Gen.chooseNum(10, minutes - 10)
      candles <- Gen.sequence[Seq[Option[(String, String, Int, Double)]],
          Option[(String, String, Int, Double)]](
        for ((p, tf, step, from) <- keys :+ (("Z", "1m", 1, zFrom));
             m <- from until minutes by step) yield
          Gen.frequency(
            6 -> Gen.chooseNum(-20, 20).map(k => Some((p, tf, m, 100.0 + k * 0.25))),
            1 -> Gen.const(Some((p, tf, m, 100.0))),
            1 -> Gen.const(None)))
      k <- Gen.chooseNum(1, 4)
      cuts <- Gen.listOfN(k, Gen.chooseNum(1, minutes - 1))
    } yield (candles.flatten, 0 +: (zFrom +: cuts).distinct.sorted :+ minutes)
    def frame(rows: Seq[(String, String, Int, Double)]) =
      rows.map { case (p, tf, m, c) => (p, tf, new java.sql.Timestamp(t0 + m * 60000L), c) }
        .toDF("pair", "timeframe", "time", "close")
    def hex(d: Double) = java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(d))
    def factBits(df: org.apache.spark.sql.DataFrame) = df
      .select("indicator", "pair", "timeframe", "time", "period", "calc_version", "value")
      .collect().map(r => Seq(r.get(0), r.get(1), r.get(2), r.get(3), r.get(4), r.get(5),
        if (r.isNullAt(6)) "null" else hex(r.getDouble(6))).mkString("|")).toSeq.sorted
    def cellBits(p: String, tf: String, ind: String, period: Int, n: Long, vec: Seq[Double]) =
      Seq(p, tf, ind, period, n, vec.map(hex).mkString(",")).mkString("|")
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8),
      forAll(caseGen) { case (rows, edges) =>
        var state = Seq.empty[GridStateWm]
        var facts = Seq.empty[String]
        for ((lo, hi) <- edges.zip(edges.tail)) {
          val out = Indicators.indicatorGridAdvanceResume(
            frame(rows.filter(r => r._3 >= lo && r._3 < hi)), inds, ps, state.toDF())
          facts ++= factBits(out.filter(!col("is_state")))
          state = out.filter(col("is_state")).as[GridFoldRow].collect().toSeq
            .map(r => GridStateWm(r.pair, r.timeframe, r.indicator, r.period, r.n, r.vec, r.wm))
        }
        val all = frame(rows)
        val oneShotCells = Indicators.indicatorGridSnapshot(all, inds, ps).collect()
          .map(r => cellBits(r.getString(0), r.getString(1), r.getString(2), r.getInt(3),
            r.getLong(4), r.getSeq[Double](5))).toSeq.sorted
        val lastTime = rows.groupBy(r => (r._1, r._2)).map { case (k, rs) =>
          k -> new java.sql.Timestamp(t0 + rs.map(_._3).max * 60000L) }
        (facts.sorted == factBits(Indicators.indicatorFactsFused(all, inds, ps))) :|
          "chained facts differ from indicatorFactsFused" &&
        (state.map(s => cellBits(s.pair, s.timeframe, s.indicator, s.period, s.n, s.vec))
          .sorted == oneShotCells) :| "final state differs from indicatorGridSnapshot" &&
        state.forall(s => s.wm == lastTime.get((s.pair, s.timeframe))) :|
          "a key's watermark is not its last candle time" &&
        rows.exists(_._1 == "Z") :| "no key first seen mid-stream"
      })
    assert(res.passed, res.status.toString)
  }
}
