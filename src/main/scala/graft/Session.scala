package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft Spark session is built. Every main and the test
  * suites run on the settings below, so a plan one of them prints is the
  * plan the others run. */
object Session {

  /** The SQL settings of a graft session on `cpus` cores. */
  private def sqlSettings(cpus: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    // InferFiltersFromGenerate synthesizes a size()>0 predicate from every
    // explode and pushes it below exchanges with the full generator-input
    // expression inlined — for compute-heavy array columns (shingling)
    // that re-runs the computation serially on the scan partition.
    "spark.sql.optimizer.excludedRules" ->
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")

  /** The SQL keys a graft session sets: what [[withExtensions]] copies. */
  val sqlKeys: Seq[String] = sqlSettings(1).map(_._1)

  private def builder(sql: Seq[(String, String)]): SparkSession.Builder =
    sql.foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }

  /** A `local[cpus]` session with one shuffle partition per core, UTC
    * session time and no UI. Returns the existing session if there is one. */
  def local(cpus: Int): SparkSession =
    builder(sqlSettings(cpus))
      .master(s"local[$cpus]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  private val siblings =
    scala.collection.concurrent.TrieMap.empty[SparkSession, SparkSession]

  /** A sibling session on the same SparkContext with graft's extensions
    * installed — extensions apply only at session CREATION, so contexts
    * whose root session was built without them get the SQL surface through
    * this. Cached per parent. It carries the parent's value of every key
    * in [[sqlKeys]] (an unset exclusion list as an empty one), so its plans
    * match the parent's, and sets no core key: on an existing context Spark
    * would ignore it. */
  def withExtensions(parent: SparkSession): SparkSession = synchronized {
    siblings.getOrElseUpdate(parent, {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      try builder(sqlKeys.map(k => k -> parent.conf.getOption(k).getOrElse("")))
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      finally {
        SparkSession.setActiveSession(parent)
        SparkSession.setDefaultSession(parent)
      }
    })
  }
}
