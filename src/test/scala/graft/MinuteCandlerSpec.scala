package graft

import java.sql.Timestamp

import graft.operators.Backtest
import graft.streaming.{CorrSecPick, SeqTick, Streams}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.{forAll, propBoolean}

/** The one minute candler of the streaming folds, driven directly with
  * random ticks and compared with a plain reference; and the T19 trade
  * fold, which steps the same candler and SMA-cross step, against the
  * batch backtest over the T18 signals. */
class MinuteCandlerSpec extends SparkSpec {
  import spark.implicits._

  private val t0 = ts("2024-01-01 00:00:00").getTime

  private def checkProp(p: Prop, n: Int): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), p)
    assert(res.passed, res.status.toString)
  }

  /** A tick `us` µs after t0 (sub-ms digits kept). */
  private def tickAt(pair: String, us: Long, seq: Long, bid: Double): SeqTick = {
    val t = new Timestamp(t0 + us / 1000)
    t.setNanos(((us % 1000000L) * 1000).toInt)
    SeqTick(pair, t, seq, bid)
  }

  /** µs offsets over 6 minutes on a coarse grid, so seconds repeat and
    * equal µs collide often (ties then fall to `seq`). */
  private val usGen: Gen[Long] = for {
    minute <- Gen.chooseNum(0, 5)
    sec <- Gen.chooseNum(0, 7)
    frac <- Gen.oneOf(0L, 250000L, 500000L, 999999L)
  } yield minute * 60000000L + sec * 1000000L + frac

  /** Chunks of ticks of two sides ("A"/"B") in arrival order: an ordered
    * replay cut at random points, plus stragglers appended to random
    * later chunks. Seqs are unique. */
  private val chunksGen: Gen[Seq[Seq[SeqTick]]] = for {
    n <- Gen.chooseNum(1, 60)
    raw <- Gen.listOfN(n, Gen.zip(usGen, Gen.oneOf("A", "B"), Gen.chooseNum(1, 9)))
    cuts <- Gen.listOfN(3, Gen.chooseNum(0, n))
    late <- Gen.listOfN(4, Gen.zip(usGen, Gen.oneOf("A", "B"), Gen.chooseNum(0, 3)))
  } yield {
    val ticks = raw.zipWithIndex.map { case ((us, p, b), i) =>
      tickAt(p, us, (i * 7919L) % 1000L, b.toDouble) }
      .sortBy(t => (Streams.usOf(t.time), t.seq))
    val edges = (0 +: cuts.sorted :+ n).distinct
    val chunks = edges.zip(edges.tail).map { case (a, b) => ticks.slice(a, b) }.toBuffer
    late.zipWithIndex.foreach { case ((us, p, c), i) =>
      val k = math.min(c, chunks.size - 1)
      chunks(k) = chunks(k) :+ tickAt(p, us, 1000L + i, 0.5)
    }
    chunks.toSeq
  }

  private def side(t: SeqTick): Int = if (t.pair == "A") 0 else 1

  /** The plain reference: each chunk in (µs, seq) order, chunk after
    * chunk; a tick whose minute is below the newest minute seen so far is
    * a straggler; the rest group by minute, keep each second's first tick
    * per side, and every minute but the newest is closed. */
  private def reference(chunks: Seq[Seq[SeqTick]])
      : (Seq[(Long, IndexedSeq[List[CorrSecPick]])], Long, Long) = {
    val ordered = chunks.flatMap(_.sortBy(t => (Streams.usOf(t.time), t.seq)))
    val minuteOf = (t: SeqTick) => { val us = Streams.usOf(t.time); us - us % 60000000L }
    val hi = ordered.scanLeft(Long.MinValue)((m, t) => math.max(m, minuteOf(t))).tail
    val kept = ordered.zip(hi).filter { case (t, h) => minuteOf(t) == h }.map(_._1)
    val stragglers = ordered.size - kept.size
    val byMinute = kept.groupBy(minuteOf).toSeq.sortBy(_._1).map { case (m, ts) =>
      m -> (0 to 1).map { s =>
        ts.filter(side(_) == s)
          .groupBy(t => Streams.usOf(t.time) / 1000000L).values.map(_.head)
          .map(t => CorrSecPick(Streams.usOf(t.time) / 1000000L * 1000000L,
            Streams.usOf(t.time), t.seq, t.bid))
          .toList.sortBy(_.sec)
      }
    }
    (byMinute.dropRight(1), stragglers.toLong, byMinute.lastOption.map(_._1).getOrElse(-1L))
  }

  test("candler ≡ group-by-minute first-per-second reference, state carried over random cuts") {
    checkProp(forAll(chunksGen) { chunks =>
      val acc = spark.sparkContext.longAccumulator
      val closed = Vector.newBuilder[(Long, IndexedSeq[List[CorrSecPick]])]
      var carried: (Long, IndexedSeq[List[CorrSecPick]]) = (-1L, Vector(Nil, Nil))
      chunks.foreach { c =>
        carried = Streams.candleMinutes(carried._1, carried._2, c.iterator, side,
          Some(acc))((m, ps) => closed += (m -> ps))
      }
      val (refClosed, refDropped, refOpen) = reference(chunks)
      val got = closed.result()
      (got == refClosed) :| s"closed minutes differ:\n$got\n$refClosed" &&
      (acc.value.longValue == refDropped) :| s"stragglers ${acc.value} != $refDropped" &&
      (carried._1 == refOpen) :| s"open minute ${carried._1} != $refOpen" &&
      (got.forall(_._2.forall(ps => ps.map(_.sec) == ps.map(_.sec).sorted))) :|
        "picks not ascending by second"
    }, 200)
  }

  test("tradeStream's closed trades ≡ Backtest.trades over crossSignalStream's signals") {
    val ticksGen: Gen[Seq[SeqTick]] = for {
      n <- Gen.chooseNum(10, 80)
      steps <- Gen.listOfN(n, Gen.zip(Gen.chooseNum(1, 50), Gen.chooseNum(-3, 3),
        Gen.oneOf("X", "Y")))
    } yield {
      var us = 0L; var px = Map("X" -> 100.0, "Y" -> 50.0)
      steps.zipWithIndex.map { case ((dSec, dPx, p), i) =>
        us += dSec * 1000000L
        px = px.updated(p, px(p) + dPx)
        tickAt(p, us, i.toLong, px(p))
      }
    }
    checkProp(forAll(ticksGen) { rows =>
      val ds = rows.toDS()
      val signals = Streams.crossSignalStream(ds, shortP = 2, longP = 3).toDF()
        .withColumnRenamed("time", "event_datetime")
      val batch = Backtest.trades(signals).toDF()
        .filter(col("exit_time").isNotNull)
        .select("pair", "trade_no", "entry_time", "entry_price",
          "exit_time", "exit_price", "pnl")
        .orderBy("pair", "trade_no").collect().toSeq
      val stream = Streams.tradeStream(ds, shortP = 2, longP = 3).toDF()
        .select("pair", "trade_no", "entry_time", "entry_price",
          "exit_time", "exit_price", "pnl")
        .orderBy("pair", "trade_no").collect().toSeq
      (stream == batch) :| s"stream:\n${stream.mkString("\n")}\nbatch:\n${batch.mkString("\n")}"
    }, 12)
  }
}
