package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Backtest, CorpusPrep, Flows, Indicators, Signals, TextAnalysis, Ticks}
import graft.sources.Tables

/** Shared shape of the two batch chains: each step reads the previous
  * step's table, runs one operator and writes its own table, as the
  * reference's transform flow writes each table. A step is one operation:
  * one that throws is counted failed and the rest of the pass is skipped. */
abstract class Chain(spark: SparkSession, data: String, tracer: Tracer) extends Workload {
  /** (span name, step) in order; a step reads the input directory and
    * writes `dir/<table>`. */
  def steps: Seq[(String, (String, String) => Unit)]

  /** One untimed pass over the real input: almost all of it is plan
    * compilation, about five warm passes' worth. */
  def warmup(dir: String): Unit = { run(data, dir); timed = true }

  /** Two, so that a slow pass is never the whole measurement. */
  override def minPasses: Int = 2

  def pass(dir: String): PassResult = run(data, dir)

  /** Wall seconds of the timed passes. */
  private val passWalls = scala.collection.mutable.ArrayBuffer.empty[Double]
  private var timed = false

  /** A batch chain runs as one batch job (a pass). Its steps are too short
    * to time one by one against a shared host (see README.md); each step's
    * time is a per-layer metric instead. */
  override def batchMs(probe: Probe): Seq[Long] = passWalls.map(s => (s * 1000).round).toSeq

  private def run(in: String, dir: String): PassResult = {
    val t0 = System.nanoTime()
    var failed = 0L
    val it = steps.iterator
    while (failed == 0 && it.hasNext) {
      val (name, step) = it.next()
      try tracer.within(name)(step(in, dir))
      catch { case e: Exception =>
        System.err.println(s"[perfbench] $name failed: $e")
        failed += 1
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    if (timed) passWalls += wall
    // all input is queued when the pass starts, and a reader's result (and
    // every row's derived state) is stored when the last table commits
    PassResult(wall, wall, wall, Seq(wall -> 1L), Nil, steps.size.toLong, failed)
  }

  protected def read(dir: String, table: String): DataFrame =
    spark.read.parquet(s"$dir/$table")

  protected def write(df: DataFrame, dir: String, table: String): Unit =
    df.write.mode("overwrite").parquet(s"$dir/$table")

  def layers(probe: Probe, tracer: Tracer, passes: Int, cores: Int): Map[String, Double] =
    steps.flatMap { case (name, _) => tracer.measures(name, probe, passes, cores) }.toMap
}


/** events → Ticks.normalize → Flows.candleFlow (1m, 5m, 30m, 1h, 4h) →
  * Indicators.indicatorFactsFused (RSI, SMA, EMA × 14, 28, 56) →
  * Signals.strategy (SMA 14/28 on 1m) → Backtest.trades. */
final class Spine(spark: SparkSession, data: String, tracer: Tracer)
    extends Chain(spark, data, tracer) {
  private val cfg = new graft.Config(Map.empty)

  val steps: Seq[(String, (String, String) => Unit)] = Seq(
    "operators.Ticks.normalize" -> { (in, dir) =>
      write(Ticks.normalize(Tables.events(spark, in)), dir, "ticks")
    },
    "operators.Flows.candleFlow" -> { (in, dir) =>
      write(Flows.candleFlow(read(dir, "ticks"), cfg), dir, "candles")
    },
    "operators.Indicators.indicatorFactsFused" -> { (in, dir) =>
      write(Indicators.indicatorFactsFused(read(dir, "candles"),
        Seq("RSI", "SMA", "EMA"), cfg.periods), dir, "grid")
    },
    "operators.Signals.strategy" -> { (in, dir) =>
      val sma = read(dir, "grid")
        .filter(col("indicator") === "SMA" && col("timeframe") === "1m")
      write(Signals.strategy(sma, cfg.shortPeriod, cfg.longPeriod), dir, "signals")
    },
    "operators.Backtest.trades" -> { (in, dir) =>
      write(Backtest.trades(read(dir, "signals")).toDF(), dir, "trades")
    })
}

/** The `llm_corpus_release` chain: CorpusPrep.clean → assignSplit →
  * splitStats, plus TextAnalysis.stats over the removed documents. */
final class Corpus(spark: SparkSession, data: String, tracer: Tracer)
    extends Chain(spark, data, tracer) {
  // the single-file corpus reads as one partition; the registered query
  // spreads it the same way before the compute-heavy operators
  private def docs(in: String): DataFrame = Tables.documents(spark, in)
    .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))

  val steps: Seq[(String, (String, String) => Unit)] = Seq(
    "operators.CorpusPrep.clean" -> { (in, dir) =>
      write(CorpusPrep.clean(docs(in)), dir, "kept")
    },
    "operators.CorpusPrep.splitStats" -> { (in, dir) =>
      write(CorpusPrep.splitStats(CorpusPrep.assignSplit(read(dir, "kept"))),
        dir, "splits")
    },
    "operators.TextAnalysis.stats" -> { (in, dir) =>
      val removed = docs(in).join(read(dir, "kept").select("doc_id").hint("shuffle_hash"),
        Seq("doc_id"), "left_anti")
      write(TextAnalysis.stats(removed)
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          round(round(sum(col("quality").cast("decimal(18,6)")).cast("double"), 6)
            / count(lit(1)), 6).as("avg_quality"))
        .select(lit("_removed").as("split"), col("n_docs"),
          col("total_tokens"), col("avg_quality")), dir, "removed")
    })

  override def layers(probe: Probe, tracer: Tracer, passes: Int,
                      cores: Int): Map[String, Double] = {
    val kept = Option(probe.counts.get("operators.CorpusPrep.clean"))
      .map(_.rowsOut.toDouble / passes).getOrElse(0.0)
    val total = spark.read.parquet(s"$data/documents.parquet").count().toDouble
    super.layers(probe, tracer, passes, cores) +
      ("operators.CorpusPrep.clean.kept_share" -> kept / total)
  }
}
