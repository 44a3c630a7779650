package graft

import graft.model.Timeframe
import graft.operators.{Ohlc, Ticks}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.{forAll, propBoolean}

class OhlcSpec extends SparkSpec {
  import spark.implicits._

  private def mkTicks(rows: Seq[(String, String, Double)]) =
    rows.map { case (p, t, b) => (p, ts(t), b, b + 0.01) }
      .toDF("pair", "time", "bid", "ask")

  test("ohlcBase picks first/last by time, min/max within the minute") {
    val candles = Ohlc.ohlcBase(mkTicks(Seq(
      ("X", "2024-01-01 00:00:05", 10.0),
      ("X", "2024-01-01 00:00:30", 12.0),
      ("X", "2024-01-01 00:00:50", 8.0),
      ("X", "2024-01-01 00:01:10", 9.0),
      ("Y", "2024-01-01 00:00:59", 5.0))))
      .orderBy("pair", "time").collect()
    assert(candles.length === 3)
    val first = candles(0)
    assert(first.getAs[String]("pair") === "X")
    assert(first.getAs[java.sql.Timestamp]("time") === ts("2024-01-01 00:00:00"))
    assert(first.getAs[Double]("open") === 10.0)
    assert(first.getAs[Double]("high") === 12.0)
    assert(first.getAs[Double]("low") === 8.0)
    assert(first.getAs[Double]("close") === 8.0)
    assert(candles(1).getAs[Double]("open") === 9.0)
    assert(candles(2).getAs[Double]("close") === 5.0)
  }

  test("dedupSecond keeps the earliest tick per (pair, second)") {
    val ticks = Seq(
      ("X", ts("2024-01-01 00:00:05.100"), 10.0, 10.01, 1L),
      ("X", ts("2024-01-01 00:00:05.900"), 99.0, 99.01, 2L),
      ("X", ts("2024-01-01 00:00:06.000"), 11.0, 11.01, 3L))
      .toDF("pair", "time", "bid", "ask", "seq")
    val out = Ticks.dedupSecond(ticks).orderBy("time").collect()
    assert(out.length === 2)
    assert(out(0).getAs[Double]("bid") === 10.0) // first-wins
    assert(out(0).getAs[java.sql.Timestamp]("time") === ts("2024-01-01 00:00:05"))
  }

  test("candle invariants: low <= open,close <= high (random ticks)") {
    val rnd = new scala.util.Random(42)
    val base = ts("2024-01-01 00:00:00").getTime
    val ticks = (1 to 2000).map { i =>
      (if (i % 2 == 0) "A" else "B",
        new java.sql.Timestamp(base + rnd.nextInt(7200) * 1000L),
        50 + rnd.nextDouble * 10)
    }
    val candles = Ohlc.allTimeframes(Ticks.dedupSecond(
      mkTicks(Seq.empty).sparkSession.createDataFrame(ticks).toDF("pair", "time", "bid")
        .withColumn("ask", $"bid" + 0.01).withColumn("seq", monotonically_increasing_id())))
    val bad = candles.filter($"low" > $"open" || $"low" > $"close" ||
      $"high" < $"open" || $"high" < $"close" || $"low" > $"high")
    assert(bad.count() === 0)
  }

  test("resample(1m -> 5m) equals direct 5m aggregation from ticks") {
    val rnd = new scala.util.Random(7)
    val base = ts("2024-01-01 00:00:00").getTime
    val raw = (1 to 3000).map { i =>
      (if (i % 3 == 0) "A" else "B",
        new java.sql.Timestamp(base + rnd.nextInt(7200) * 1000L),
        50 + rnd.nextDouble * 10)
    }
    val ticks = Ticks.dedupSecond(spark.createDataFrame(raw).toDF("pair", "time", "bid")
      .withColumn("ask", $"bid" + 0.01).withColumn("seq", monotonically_increasing_id()))
      .cache()
    val viaResample = Ohlc.resample(Ohlc.ohlcBase(ticks), Timeframe.byCode("5m"))
    val direct = ticks
      .groupBy($"pair", window($"time", "5 minutes"))
      .agg(min_by($"bid", $"time").as("open"), max($"bid").as("high"),
        min($"bid").as("low"), max_by($"bid", $"time").as("close"))
      .select($"pair", lit("5m").as("timeframe"), $"window.start".as("time"),
        $"open", $"high", $"low", $"close")
    assert(viaResample.exceptAll(direct).count() === 0)
    assert(direct.exceptAll(viaResample).count() === 0)
  }

  // ---- one-aggregate allTimeframes ≡ ohlcBase ∪ resample (ReferenceForms) ----

  /** Ticks at distinct millisecond instants per pair over three hours:
    * sparse enough that many minutes and some derived buckets are empty,
    * with NULL and NaN bids and a few NULL times. */
  private val tickGen: Gen[Seq[(String, Option[Long], Option[Double])]] = for {
    n <- Gen.chooseNum(1, 400)
    raw <- Gen.listOfN(n, for {
      pair <- Gen.oneOf("A", "B", "C")
      ms <- Gen.chooseNum(0L, 3L * 3600 * 1000 - 1)
      nullTime <- Gen.frequency(40 -> false, 1 -> true)
      bid <- Gen.frequency(
        30 -> Gen.chooseNum(-5.0, 200.0).map(Option(_)),
        5 -> Gen.oneOf(100.0, 100.5, 101.0).map(Option(_)),
        1 -> Gen.const(Some(Double.NaN)),
        1 -> Gen.const(None))
    } yield (pair, if (nullTime) None else Some(ms), bid))
  } yield raw.groupBy(t => (t._1, t._2)).values.map(_.head).toSeq

  private val t0 = ts("2024-03-10 22:00:00").getTime

  private def tickFrame(rows: Seq[(String, Option[Long], Option[Double])]): DataFrame =
    rows.map { case (p, ms, b) =>
      (p, ms.map(m => new java.sql.Timestamp(t0 + m)), b) }
      .toDF("pair", "time", "bid").repartition(3)

  /** Candle rows with every double as its raw bits, in a fixed order. */
  private def bits(df: DataFrame): Seq[String] = {
    def d(r: Row, i: Int) = if (r.isNullAt(i)) "null"
      else java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(r.getDouble(i)))
    df.select("pair", "timeframe", "time", "open", "high", "low", "close").collect()
      .map(r => (Seq(r.getString(0), r.getString(1), String.valueOf(r.get(2))) ++
        (3 to 6).map(d(r, _))).mkString("|"))
      .toSeq.sorted
  }

  private def checkProp(p: Prop, n: Int): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), p)
    assert(res.passed, res.status.toString)
  }

  test("allTimeframes ≡ ohlcBase ∪ resample, bit for bit (random ticks, duplicated codes)") {
    val tfsGen = Gen.chooseNum(0, 8).flatMap(Gen.listOfN(_, Gen.oneOf(Timeframe.All)))
    checkProp(forAll(tickGen, tfsGen) { (rows, tfs) =>
      val ticks = tickFrame(rows)
      val got = Ohlc.allTimeframes(ticks, tfs)
      // a code listed twice is built once: the reference builds it per mention
      val ref = ReferenceForms.allTimeframes(ticks, tfs.distinct)
      val gotBits = bits(got)
      val keys = gotBits.map(_.split('|').take(3).mkString("|"))
      (got.exceptAll(ref).isEmpty && ref.exceptAll(got).isEmpty) :|
        s"exceptAll differs for ${tfs.map(_.code)}" &&
      (gotBits == bits(ref)) :| s"bits differ for ${tfs.map(_.code)}" &&
      (keys.distinct.size == keys.size) :| "a (pair, timeframe, time) repeats"
    }, n = 8)
  }

  test("allTimeframes over every timeframe subset equals the reference's rows for it") {
    val rows = tickGen.pureApply(Gen.Parameters.default.withSize(400),
      org.scalacheck.rng.Seed(11L))
    val ticks = tickFrame(rows).cache()
    try {
      val ref = bits(ReferenceForms.allTimeframes(ticks, Timeframe.All))
      assert(ref.nonEmpty)
      for (k <- 0 to Timeframe.All.size; subset <- Timeframe.All.combinations(k)) {
        val codes = (subset.map(_.code) :+ Timeframe.Base.code).toSet
        assert(bits(Ohlc.allTimeframes(ticks, subset)) ===
          ref.filter(r => codes(r.split('|')(1))), subset.map(_.code))
      }
    } finally ticks.unpersist()
  }

  test("ohlcBase and ohlcBaseWithVol ≡ the 1-minute window form, bit for bit (random ticks)") {
    checkProp(forAll(tickGen) { rows =>
      val ticks = tickFrame(rows)
      val base = Ohlc.ohlcBase(ticks)
      val refBase = ReferenceForms.ohlcBase(ticks)
      val withVol = Ohlc.ohlcBaseWithVol(ticks)
      val refVol = ReferenceForms.ohlcBaseWithVol(ticks)
      def vols(df: DataFrame) = df.select("pair", "time", "vol").collect()
        .map(r => s"${r.getString(0)}|${r.get(1)}|${r.getLong(2)}").toSeq.sorted
      (base.columns.toSeq == refBase.columns.toSeq &&
        withVol.columns.toSeq == refVol.columns.toSeq) :| "columns differ" &&
      (base.exceptAll(refBase).isEmpty && refBase.exceptAll(base).isEmpty) :|
        "ohlcBase: exceptAll differs" &&
      (bits(base) == bits(refBase)) :| "ohlcBase: bits differ" &&
      (bits(withVol) == bits(refVol)) :| "ohlcBaseWithVol: bits differ" &&
      (vols(withVol) == vols(refVol)) :| "ohlcBaseWithVol: vol differs"
    }, n = 8)
  }
}
