package graft

/** Spill invariance: a query whose spillable operator is forced onto its
  * disk path returns exactly what it returns in memory. That is the path a
  * memory-pressured executor takes, which a healthy local run never does.
  *
  * The SQL thresholds below make each external structure spill after a
  * handful of rows, on the code paths memory pressure would take: window
  * and sort-merge-join match buffers (`ExternalAppendOnlyUnsafeRowArray`),
  * session-window buffers, the sort-based fallback of the object hash
  * aggregate, and the hash aggregate's mid-build fallback to an external
  * sorter. They are set on the suite's session for the forced run only and
  * every prior value is restored after it. Broadcast joins are off in the
  * same scope so the join query plans a sort-merge join at this scale. The
  * core `spark.shuffle.spill.numElementsForceSpillThreshold` is read from
  * the SparkContext's conf, shared by every suite in the JVM, so it cannot
  * be scoped to a test and is not used here. */
class SpillSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private val forced = Seq(
    "spark.sql.windowExec.buffer.in.memory.threshold" -> "1",
    "spark.sql.windowExec.buffer.spill.threshold" -> "4",
    "spark.sql.sortMergeJoinExec.buffer.in.memory.threshold" -> "1",
    "spark.sql.sortMergeJoinExec.buffer.spill.threshold" -> "4",
    "spark.sql.sessionWindow.buffer.in.memory.threshold" -> "1",
    "spark.sql.sessionWindow.buffer.spill.threshold" -> "4",
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "4",
    "spark.sql.TungstenAggregate.testFallbackStartsAt" -> "16,64",
    "spark.sql.autoBroadcastJoinThreshold" -> "-1")

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** Runs `name` with the thresholds forced and returns its rows, its final
    * physical plan and the bytes the run spilled. The session's prior
    * settings come back afterwards. */
  private def spilled(name: String): (Seq[String], String, Long) = {
    val prior = forced.map { case (k, _) => k -> spark.conf.getOption(k) }
    val metrics = CellMetrics.install(spark.sparkContext)
    try {
      forced.foreach { case (k, v) => spark.conf.set(k, v) }
      val df = SparkEntry.queries(name)(spark, sf)
      val (r, work) = metrics.measure(rows(df))
      (r, df.queryExecution.executedPlan.toString, work.spillBytes)
    } finally {
      spark.sparkContext.removeSparkListener(metrics)
      prior.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  for ((operator, name) <- Seq(
      "Window" -> "w_running_total",
      "SortMergeJoin" -> "q13_custdist",
      "ObjectHashAggregate" -> "llm_dedup_ngram",
      "HashAggregate" -> "q1_pricing_summary"))
    test(s"$operator forced to spill: $name returns its in-memory answer") {
      val expected = rows(SparkEntry.queries(name)(spark, sf))
      val before = forced.map { case (k, _) => k -> spark.conf.getOption(k) }
      val (got, plan, spill) = spilled(name)
      info(s"$name spilled $spill bytes")
      assert(s"\\b$operator".r.findFirstIn(plan).isDefined,
        s"$name runs no $operator:\n$plan")
      assert(spill > 0, s"$name spilled nothing: the forced run is vacuous")
      assert(got === expected)
      assert(forced.map { case (k, _) => k -> spark.conf.getOption(k) } === before)
    }
}
