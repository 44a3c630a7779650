package graft
/** Prints formatted plans for representative queries (scale audit aid). */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Session.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else Seq(
      "llm_text_stats", "p11_props_parse", "q5_region_revenue", "llm_ann_topk")
    // SPARK_GRAFT_EXEC=1: execute first so the AdaptiveSparkPlan prints the
    // FINAL runtime plan (shows AQE decisions incl. ReusedExchange)
    val exec = sys.env.get("SPARK_GRAFT_EXEC").contains("1")
    names.foreach { n =>
      println(s"\n===== $n =====")
      val df = SparkEntry.queries(n)(spark, sfDir)
      if (exec) df.collect()  // collect drives THIS plan tree to its final AQE form
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
