package graft

import graft.operators.{Indicators, Sessions, Signals}
import graft.queries.{StreamQueries, TradingQueries}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale probe for the join/session/streaming families (the round-7 probe
  * covered dedup/ANN only): replays j4/j4b/j4c, j5, j6, w4 and the seven
  * streaming gate queries at 1× (sf0.1) and 10× (a [[ScaleUp]] corpus) and
  * records, next to wall time, the QUANTITIES THAT ARE THE SCALE CLAIMS —
  * if these grow linearly while time does too, the claim holds; if time
  * grows faster than its driving quantity, something super-linear crept in:
  *  - j4b carry-in rows: (pair, day-bucket) groups — the seed rows the
  *    bucketed as-of shuffles beyond the payload;
  *  - j5 replicated rows: Σ buckets spanned per signal band (≤ 2/row by
  *    construction at bucket = band width);
  *  - j6 explode rows: Σ buckets spanned by each session interval on each
  *    join side — the exact row count the bucket equi-join shuffles;
  *  - w4 sessions + max session length (the per-key state bound);
  *  - streaming: micro-batches, final state rows, state memory
  *    (from [[graft.queries.StreamQueries.telemetry]]).
  */
object ScaleProbeJoins {

  private val Family = Seq(
    "j4_asof_tick_candle", "j4b_asof_bucketed", "j4c_asof_forward",
    "j5_range_signal_candle", "j6_session_overlap", "w4_sessionize",
    "t2_ohlc_stream", "t4_relay_sink", "t5_latest_sink", "t6_session_stream",
    "t7_stream_join", "t8_ema_stream", "t9_stream_enrich")

  private def metrics(s: SparkSession, d: String): Seq[(String, Long)] = {
    val t = TradingQueries.ticks(s, d)
    val c = TradingQueries.candles1m(s, d)
    val sig = Signals.strategy(
        Indicators.indicatorFacts(c, Seq("SMA"), Seq(14, 28)), 14, 28)
      .select(col("pair"), col("event_datetime").as("time"))
    val sess = Sessions.sessionize(graft.sources.Tables.events(s, d), gapSeconds = 1800)
      .select(unix_timestamp(col("session_start")).as("start_s"),
        unix_timestamp(col("session_end")).as("end_s"), col("n_events"))
    val sessAgg = sess.agg(
      count(lit(1)).as("n"),
      sum(expr("end_s div 300 - start_s div 300 + 1")).as("explode_rows"),
      max(col("n_events")).as("max_len")).head()
    Seq(
      "tick_rows" -> t.count(),
      "candle_rows" -> c.count(),
      "j4b_carryin_rows" -> t.select(col("pair"),
        expr("unix_timestamp(time) div 86400").as("b")).distinct().count(),
      "j5_signal_rows" -> sig.count(),
      "j5_replicated_rows" -> sig.select(
          expr("(unix_timestamp(time) + 600) div 600 - unix_timestamp(time) div 600 + 1").as("n"))
        .agg(sum(col("n"))).head().getLong(0),
      "j6_sessions" -> sessAgg.getAs[Long]("n"),
      "j6_explode_rows" -> 2 * sessAgg.getAs[Long]("explode_rows"),
      "w4_max_session_events" -> sessAgg.getAs[Long]("max_len"))
  }

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val big = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "target/sf1")
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("WARN")

    val sb = new StringBuilder("{")
    Seq("x1" -> base, "x10" -> big).foreach { case (tag, dir) =>
      val rowsOut = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      val times = Family.map { name =>
        val fn = SparkEntry.queries(name)
        rowsOut(name) = fn(spark, dir).count() // warm-up + row count
        val best = (1 to 2).map { _ =>
          val t0 = System.nanoTime()
          fn(spark, dir).count()
          (System.nanoTime() - t0) / 1e9
        }.min
        name -> best
      }
      val ms = metrics(spark, dir)
      val streamTel = StreamQueries.telemetry.toSeq.sortBy(_._1).flatMap {
        case (q, m) => m.toSeq.sortBy(_._1).map { case (k, v) => s"$q.$k" -> v }
      }
      def obj(xs: Seq[(String, Any)]) = xs.map { case (k, v) =>
        "\"" + k + "\":" + (v match {
          case d: Double => BigDecimal(d).setScale(3, BigDecimal.RoundingMode.HALF_UP)
          case o => o
        })
      }.mkString("{", ",", "}")
      sb.append(s""""$tag":{"dir":"$dir","sec":${obj(times)},""" +
        s""""rows":${obj(rowsOut.toSeq)},"metrics":${obj(ms ++ streamTel)}},""")
    }
    val json = sb.dropRight(1).append("}").toString
    val p = java.nio.file.Paths.get("target/scale_probe_joins.json")
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, json.getBytes("UTF-8"))
    println(json)
    spark.stop()
  }
}
