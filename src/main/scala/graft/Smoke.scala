package graft

/** Dev smoke runner mirroring the driver's t1 check: SparkEntry.entry on
  * sf0.001 must return rows > 0. Usage: sbt "runMain graft.Smoke". */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"[smoke] entry rows=$n " + (if (n > 0) "OK" else "EMPTY — driver would fail"))
    spark.stop()
    if (n == 0) sys.exit(1)
  }
}
