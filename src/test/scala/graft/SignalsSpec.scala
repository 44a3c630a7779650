package graft

import graft.operators.Signals
import org.apache.spark.sql.{DataFrame, Row}
import org.scalacheck.{Gen, Test => SCTest}
import org.scalacheck.Prop.{forAll, propBoolean}

/** Port of the reference's golden-cross SQL fixture
  * (src/database/sql/test/test_insert_sma_golden_cross.sql:4-28 — see
  * /root/repo/FIXTURES.md §6). */
class SignalsSpec extends SparkSpec {
  import spark.implicits._

  private def smaRow(t: String, period: Int, value: Double) =
    ("USD/JPY", "1m", ts(t), period, "test_v1", value)

  private lazy val sma = Seq(
    smaRow("2024-01-01 10:00:00", 14, 100.0), smaRow("2024-01-01 10:00:00", 28, 105.0),
    smaRow("2024-01-01 11:00:00", 14, 110.0), smaRow("2024-01-01 11:00:00", 28, 106.0),
    smaRow("2024-01-02 10:00:00", 14, 110.0), smaRow("2024-01-02 10:00:00", 28, 100.0),
    smaRow("2024-01-02 11:00:00", 14, 95.0), smaRow("2024-01-02 11:00:00", 28, 101.0))
    .toDF("pair", "timeframe", "time", "period", "calc_version", "value")

  test("golden cross fires exactly once, at the crossing bar") {
    val buys = Signals.goldenCross(sma, 14, 28).collect()
    assert(buys.length === 1)
    val b = buys.head
    assert(b.getAs[java.sql.Timestamp]("event_datetime") === ts("2024-01-01 11:00:00"))
    assert(b.getAs[String]("event_type") === "BUY")
    assert(b.getAs[Double]("price") === 110.0)
    assert(b.getAs[String]("trigger_indicator_name") === "SMA")
    assert(b.getAs[Int]("trigger_indicator_period") === 14)
    assert(b.getAs[String]("trigger_indicator_timeframe") === "1m")
  }

  test("dead cross fires exactly once, no BUY at the dead cross") {
    val sells = Signals.deadCross(sma, 14, 28).collect()
    assert(sells.length === 1)
    assert(sells.head.getAs[java.sql.Timestamp]("event_datetime") === ts("2024-01-02 11:00:00"))
    assert(sells.head.getAs[String]("event_type") === "SELL")
  }

  test("short staying above long yields no signal") {
    val flatAbove = Seq(
      smaRow("2024-01-01 10:00:00", 14, 110.0), smaRow("2024-01-01 10:00:00", 28, 100.0),
      smaRow("2024-01-01 11:00:00", 14, 112.0), smaRow("2024-01-01 11:00:00", 28, 101.0))
      .toDF("pair", "timeframe", "time", "period", "calc_version", "value")
    assert(Signals.strategy(flatAbove, 14, 28).count() === 0)
  }

  test("warm-up NULL values never fire a signal") {
    val withNulls = Seq(
      ("USD/JPY", "1m", ts("2024-01-01 10:00:00"), 14, "v", Some(100.0)),
      ("USD/JPY", "1m", ts("2024-01-01 10:00:00"), 28, "v", None),
      ("USD/JPY", "1m", ts("2024-01-01 11:00:00"), 14, "v", Some(110.0)),
      ("USD/JPY", "1m", ts("2024-01-01 11:00:00"), 28, "v", Some(106.0)))
      .toDF("pair", "timeframe", "time", "period", "calc_version", "value")
    assert(Signals.strategy(withNulls, 14, 28).count() === 0)
  }

  // ---- conditional-aggregate smaCrossInput ≡ self-join + lag (ReferenceForms) ----

  /** One fact row: (pair, timeframe, time, period, calc_version, value). */
  private type Fact = (String, String, Option[java.sql.Timestamp], Int, Option[String], Option[Double])

  /** SMA series for 2 pairs × 2 timeframes × 2 calc versions: NULL warm-up
    * values at the head of each period's series, bars where one period's row
    * is missing, gaps between bars, a third period to ignore, values from a
    * small grid (so ties and crosses happen) or arbitrary, and a few rows
    * with a NULL key. */
  private val factGen: Gen[Seq[Fact]] = {
    val series = for {
      pair <- Gen.oneOf("X", "Y")
      tf <- Gen.oneOf("1m", "5m")
      cv <- Gen.oneOf("v1", "v2")
      n <- Gen.chooseNum(0, 25)
      warmS <- Gen.chooseNum(0, 6)
      warmL <- Gen.chooseNum(0, 12)
      bars <- Gen.listOfN(n, for {
        step <- Gen.chooseNum(1, 3)
        s <- Gen.oneOf(Gen.chooseNum(0, 6).map(100.0 + _ * 0.5), Gen.chooseNum(90.0, 110.0))
        l <- Gen.oneOf(Gen.chooseNum(0, 6).map(100.0 + _ * 0.5), Gen.chooseNum(90.0, 110.0))
        hasS <- Gen.frequency(3 -> true, 1 -> false)
        hasL <- Gen.frequency(3 -> true, 1 -> false)
        other <- Gen.frequency(3 -> false, 1 -> true)
        nullKey <- Gen.frequency(30 -> false, 1 -> true)
      } yield (step, s, l, hasS, hasL, other, nullKey))
    } yield {
      var minute = 0
      bars.zipWithIndex.flatMap { case ((step, s, l, hasS, hasL, other, nullKey), i) =>
        minute += step
        val t = Some(new java.sql.Timestamp(ts("2024-01-01 00:00:00").getTime + minute * 60000L))
        val cvKey = if (nullKey) None else Some(cv)
        (if (hasS) Seq[Fact]((pair, tf, t, 14, cvKey, if (i < warmS) None else Some(s))) else Nil) ++
          (if (hasL) Seq[Fact]((pair, tf, t, 28, cvKey, if (i < warmL) None else Some(l))) else Nil) ++
          (if (other) Seq[Fact]((pair, tf, t, 56, Some(cv), Some(s + l))) else Nil)
      }
    }
    // series drawn with the same key merge: keep one row per (key, period)
    Gen.chooseNum(1, 6).flatMap(Gen.listOfN(_, series)).map(_.flatten
      .groupBy(f => (f._1, f._2, f._3, f._4, f._5)).values.map(_.head).toSeq)
  }

  private def crossBits(df: DataFrame): Seq[String] = {
    def d(r: Row, i: Int) = if (r.isNullAt(i)) "null"
      else java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(r.getDouble(i)))
    df.select("pair", "timeframe", "time", "calc_version",
        "short_value", "long_value", "prev_short", "prev_long").collect()
      .map(r => ((0 to 3).map(i => String.valueOf(r.get(i))) ++ (4 to 7).map(d(r, _)))
        .mkString("|"))
      .toSeq.sorted
  }

  test("smaCrossInput ≡ the self-join + lag reference, bit for bit (random SMA series)") {
    val p = forAll(factGen) { facts =>
      val sma = facts.toDF("pair", "timeframe", "time", "period", "calc_version", "value")
        .repartition(3)
      val got = Signals.smaCrossInput(sma, 14, 28)
      val ref = ReferenceForms.smaCrossInput(sma, 14, 28)
      assert(got.columns.toSeq === ref.columns.toSeq)
      (got.exceptAll(ref).isEmpty && ref.exceptAll(got).isEmpty) :| "exceptAll differs" &&
        (crossBits(got) == crossBits(ref)) :| "bits differ"
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(12), p)
    assert(res.passed, res.status.toString)
  }
}
