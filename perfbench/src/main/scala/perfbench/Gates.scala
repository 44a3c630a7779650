package perfbench

import org.apache.spark.sql.SparkSession

/** Registered Structured Streaming gates `names` run back to back, each to
  * AvailableNow completion, through the `SparkEntry.queries` registry.
  * Each gate's result is written to `dir/<gate>` for the output check.
  *
  * There is no warm-up pass: a gate is a short-lived query whose start,
  * planning and first commits are the fixed cost being measured, and a
  * warm pass would double the run's time. */
final class Gates(spark: SparkSession, data: String, tracer: Tracer, probe: Probe,
                  names: Seq[String]) extends Workload {
  import Gates._

  def warmup(dir: String): Unit = ()

  /** One pass: a second would run the gates warm and measure something
    * else, and averaging the two would read neither. */
  override def maxPasses: Int = 1

  def pass(dir: String): PassResult = run(dir)

  private def run(dir: String): PassResult = {
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val floor = probe.batches.size
    var failed = 0L
    names.foreach { g =>
      probe.streamKey = s"streaming.$g"
      try tracer.within(s"streaming.$g") {
        graft.SparkEntry.queries(g)(spark, data).write.mode("overwrite").parquet(s"$dir/$g")
      } catch { case e: Exception =>
        System.err.println(s"[perfbench] $g failed: $e")
        failed += 1
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    probe.flush()
    val mine = batchesOf(probe).drop(floor)
    // every gate's input is staged before the pass starts, so a row is
    // fresh once the micro-batch that consumed it commits
    val fresh = mine.map(b => ((b.commitMs - startMs) / 1000.0, b.inputRows))
    val first = mine.map(_.commitMs).minOption.map(m => (m - startMs) / 1000.0)
      .getOrElse(wall)
    PassResult(wall, wall, first, fresh, Nil, names.size.toLong, failed,
      Map("batch_s" -> mine.map(_.triggerMs / 1000.0)))
  }

  /** Micro-batches after each query's first, which carries the query's
    * start and cold plans (counted in `result_s`). */
  override def batchMs(probe: Probe): Seq[Long] =
    batchesOf(probe).filter(_.batchId > 0).map(_.triggerMs)

  def layers(probe: Probe, tracer: Tracer, passes: Int, cores: Int): Map[String, Double] = {
    val bs = batchesOf(probe)
    val spans = tracer.all
    val perGate = names.flatMap { g =>
      val wall = spans.filter(_.name == s"streaming.$g").map(s => (s.end - s.start) / 1e9).sum
      Seq(s"streaming.$g.wall_s" -> wall / passes,
        s"streaming.$g.batches" -> bs.count(_.key == s"streaming.$g").toDouble / passes)
    }
    def summed(phase: String): Double =
      bs.map(_.durations.getOrElse(phase, 0L)).sum.toDouble / passes
    val gateWall = spans.filter(_.name.startsWith("streaming.t")).map(s => (s.end - s.start) / 1e9).sum
    (perGate ++ Seq(
      "streaming.gates.queryPlanning_ms" -> summed("queryPlanning"),
      "streaming.gates.addBatch_ms" -> summed("addBatch"),
      "streaming.gates.walCommit_ms" -> summed("walCommit"),
      "streaming.gates.commitOffsets_ms" -> summed("commitOffsets"),
      "streaming.state.commit_ms" -> bs.map(_.stateCommitMs).sum.toDouble / passes,
      "streaming.state.rows" -> peakPerGate(bs)(_.stateRows),
      "streaming.state.mem_mb" -> peakPerGate(bs)(_.stateMemBytes) / 1e6,
      "streaming.gates.lifecycle_s" ->
        (gateWall - bs.map(_.triggerMs).sum / 1000.0) / passes)).toMap
  }
}

object Gates {
  /** Sum over gates of a state measure's largest value in any batch. */
  private def peakPerGate(bs: Seq[BatchRecord])(f: BatchRecord => Long): Double =
    bs.groupBy(_.key).values.map(g => g.map(f).max).sum.toDouble

  private def batchesOf(probe: Probe): Seq[BatchRecord] =
    probe.batches.toArray(Array.empty[BatchRecord]).toSeq
}
