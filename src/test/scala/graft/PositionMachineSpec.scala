package graft

import java.sql.Timestamp

import graft.operators.{Backtest, LiveStopFold, LiveTradeFold}
import org.apache.spark.sql.DataFrame
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.{forAll, propBoolean}

/** Every backtest entry point steps the one position machine: each equals
  * its directly written form in [[ReferenceForms]] bit for bit, and the
  * incremental folds, run chunk by chunk with their state carried, equal
  * the one-shot folds per (pair, timeframe). */
class PositionMachineSpec extends SparkSpec {
  import PositionMachineSpec._
  import spark.implicits._

  private val t0 = ts("2024-01-01 00:00:00").getTime
  private def at(minute: Int) = new Timestamp(t0 + minute * 60000L)
  private val Minutes = 40
  private val Tfs = Seq("1m", "5m")
  private val (slPct, tpPct) = (0.04, 0.05)

  /** Prices on a 0.5 grid around 100, so the 4% / 5% stops fire, with
    * extra weight on 100 and its exact stop levels (100·0.96 and
    * 100·1.05 are 96.0 and 105.0 in double), so closes land on a stop
    * level often; a rare NaN. */
  private val price: Gen[Double] = Gen.frequency(
    30 -> Gen.chooseNum(-16, 16).map(100.0 + _ * 0.5),
    10 -> Gen.oneOf(96.0, 100.0, 105.0),
    1 -> Gen.const(Double.NaN))

  /** A few event types are neither BUY nor SELL, or NULL: the stop folds
    * take them as SELL, the others ignore them. Signals are unique per
    * (pair, minute, BUY or not), so every fold has one order (the
    * one-shot folds key by pair alone); a BUY and a SELL often share an
    * instant, and some share it with a candle. */
  private val caseGen: Gen[Case] = for {
    sigs <- Gen.listOf(for {
      pair <- Gen.oneOf("A", "B")
      tf <- Gen.oneOf(Tfs)
      minute <- Gen.chooseNum(0, Minutes - 1)
      et <- Gen.frequency(10 -> "BUY", 10 -> "SELL", 1 -> "HOLD", 1 -> (null: String))
      px <- price
    } yield Sig(pair, tf, minute, et, px))
    bars <- Gen.sequence[Seq[Option[Bar]], Option[Bar]](
      for (p <- Seq("A", "B"); tf <- Tfs; m <- 0 until Minutes) yield
        Gen.frequency(3 -> price.map(c => Some(Bar(p, tf, m, c))), 1 -> Gen.const(None)))
    k <- Gen.chooseNum(0, 3)
    cuts <- Gen.listOfN(k, Gen.chooseNum(1, Minutes - 1))
  } yield Case(sigs.groupBy(s => (s.pair, s.minute, s.eventType == "BUY")).values
      .map(_.head).toSeq,
    bars.flatten, cuts.distinct.sorted)

  /** A row as text with every double as its raw bits. */
  private def canon(p: Product): String = p.productIterator.map {
    case d: Double => java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(d))
    case Some(d: Double) => "S" + java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(d))
    case o => String.valueOf(o)
  }.mkString("|")

  private def same[T <: Product](got: Seq[T], ref: Seq[T]): Boolean =
    got.map(canon).sorted == ref.map(canon).sorted

  private def signals(sigs: Seq[Sig]): DataFrame =
    sigs.map(s => (s.pair, at(s.minute), s.eventType, s.price))
      .toDF("pair", "event_datetime", "event_type", "price")

  private def liveSignals(sigs: Seq[Sig]): DataFrame =
    sigs.map(s => (s.pair, s.tf, at(s.minute), s.eventType, s.price))
      .toDF("pair", "trigger_indicator_timeframe", "event_datetime", "event_type", "price")

  private def candles(bars: Seq[Bar]): DataFrame =
    bars.map(b => (b.pair, b.tf, at(b.minute), b.close)).toDF("pair", "timeframe", "time", "close")

  private def chunks(c: Case): Seq[(Int, Int)] = {
    val edges = 0 +: c.cuts :+ Minutes
    edges.zip(edges.tail)
  }

  private def checkProp(p: Prop, n: Int): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), p)
    assert(res.passed, res.status.toString)
  }

  test("every one-shot trade fold ≡ its reference, bit for bit (random signals, ties)") {
    checkProp(forAll(caseGen) { c =>
      val sg = signals(c.sigs)
      val perTf = Tfs.map { tf =>
        val s = signals(c.sigs.filter(_.tf == tf))
        val cd = candles(c.bars.filter(_.tf == tf)).drop("timeframe")
        same(Backtest.tradesStopped(s, cd, slPct, tpPct).collect().toSeq,
          ReferenceForms.tradesStopped(s, cd, slPct, tpPct).collect().toSeq) :|
          s"tradesStopped differs on $tf"
      }
      (same(Backtest.run(sg).collect().toSeq,
        ReferenceForms.backtestRun(sg).collect().toSeq) :| "run differs") &&
      (same(Backtest.trades(sg).collect().toSeq,
        ReferenceForms.trades(sg).collect().toSeq) :| "trades differs") &&
      (same(Backtest.tradesSized(sg, 1000.0, 0.001).collect().toSeq,
        ReferenceForms.tradesSized(sg, 1000.0, 0.001).collect().toSeq) :|
        "tradesSized differs") &&
      perTf.reduce(_ && _)
    }, n = 10)
  }

  test("incremental trade folds ≡ their references chunk by chunk, and ≡ one-shot per " +
      "(pair, timeframe) (random chunk splits)") {
    checkProp(forAll(caseGen) { c =>
      var tState = Seq.empty[LiveTradeFold]
      var sState = Seq.empty[LiveStopFold]
      var tClosed = Seq.empty[LiveTradeFold]
      var sClosed = Seq.empty[LiveStopFold]
      var perChunk = Prop.passed
      for ((lo, hi) <- chunks(c)) {
        val sg = liveSignals(c.sigs.filter(s => s.minute >= lo && s.minute < hi))
        val cd = candles(c.bars.filter(b => b.minute >= lo && b.minute < hi))
        val ts0 = tState.toDS().toDF()
        val ss0 = sState.toDS().toDF()
        val t = Backtest.tradesIncremental(ts0, sg).collect().toSeq
        val s = Backtest.tradesStoppedIncremental(ss0, sg, cd, slPct, tpPct).collect().toSeq
        perChunk = perChunk &&
          (same(t, ReferenceForms.tradesIncremental(ts0, sg).collect().toSeq) :|
            s"tradesIncremental differs on [$lo, $hi)") &&
          (same(s, ReferenceForms.tradesStoppedIncremental(ss0, sg, cd, slPct, tpPct)
            .collect().toSeq) :| s"tradesStoppedIncremental differs on [$lo, $hi)")
        tClosed ++= t.filter(!_.is_state); tState = t.filter(_.is_state)
        sClosed ++= s.filter(!_.is_state); sState = s.filter(_.is_state)
      }
      val oneShot = Tfs.map { tf =>
        val sg = signals(c.sigs.filter(_.tf == tf))
        val cd = candles(c.bars.filter(_.tf == tf)).drop("timeframe")
        val trades = Backtest.trades(sg).collect().toSeq.map(r => (r.pair, tf,
          r.trade_no.toLong, r.entry_time, r.entry_price, r.exit_time, r.exit_price, r.pnl))
        val chained = (tClosed.map(f => (f.pair, f.timeframe, f.trade_no, f.entry_time,
            f.entry_price, f.exit_time, f.exit_price, f.pnl)) ++
          tState.filter(_.open).map(f => (f.pair, f.timeframe, f.n_closed + 1,
            f.entry_time, f.entry_price, None, None, None))).filter(_._2 == tf)
        val stopped = Backtest.tradesStopped(sg, cd, slPct, tpPct).collect().toSeq
          .map(r => (r.pair, tf, r.trade_no.toLong, r.entry_time, r.entry_price,
            r.exit_time, r.exit_price, r.reason, r.pnl))
        val sChained = (sClosed.map(f => (f.pair, f.timeframe, f.trade_no, f.entry_time,
            f.entry_price, f.exit_time, f.exit_price, f.reason, f.pnl)) ++
          sState.filter(_.open).map(f => (f.pair, f.timeframe, f.n_closed + 1,
            f.entry_time, f.entry_price, None, None, None, None))).filter(_._2 == tf)
        (same(chained, trades) :| s"chained tradesIncremental ≠ trades on $tf") &&
          (same(sChained, stopped) :| s"chained tradesStoppedIncremental ≠ tradesStopped on $tf")
      }
      perChunk && oneShot.reduce(_ && _)
    }, n = 10)
  }
}

object PositionMachineSpec {
  private final case class Sig(pair: String, tf: String, minute: Int,
                               eventType: String, price: Double)
  private final case class Bar(pair: String, tf: String, minute: Int, close: Double)
  private final case class Case(sigs: Seq[Sig], bars: Seq[Bar], cuts: Seq[Int])
}
