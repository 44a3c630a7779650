package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftglue.Bridge

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

  /** A `local[cpus]` session with one shuffle partition per core, UTC
    * session time and no UI. Returns the existing session if there is one. */
  def local(cpus: Int): SparkSession =
    sqlSettings(cpus).foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .master(s"local[$cpus]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  /** `body` with `settings` set on `spark`'s session conf. Every prior
    * value is restored afterwards, and a key that was not set is unset
    * again, also when `body` throws. Scoped on the caller's session rather
    * than a child session, so listeners on `spark.streams` keep seeing a
    * query started in `body`. */
  def withConf[A](spark: SparkSession, settings: Seq[(String, String)])(body: => A): A = {
    val conf = spark.sessionState.conf
    val prior = settings.map { case (k, _) =>
      k -> (if (conf.contains(k)) Some(conf.getConfString(k)) else None) }
    try {
      settings.foreach { case (k, v) => conf.setConfString(k, v) }
      body
    } finally prior.foreach {
      case (k, Some(v)) => conf.setConfString(k, v)
      case (k, None) => conf.unsetConf(k)
    }
  }

  private val siblings =
    scala.collection.concurrent.TrieMap.empty[SparkSession, SparkSession]

  /** A sibling session on the same SparkContext with graft's extensions
    * installed — extensions apply only at session CREATION, so contexts
    * whose root session was built without them get the SQL surface through
    * this. Cached per parent. It carries the parent's value of every key
    * in [[sqlKeys]] (an unset exclusion list as an empty one), so its plans
    * match the parent's. It is built on the parent's context with no
    * builder option and takes the keys on its own conf afterwards, so no
    * conf reaches `SparkContext.getOrCreate` (which would log that it may
    * not take effect). */
  def withExtensions(parent: SparkSession): SparkSession = synchronized {
    siblings.getOrElseUpdate(parent, {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      try {
        val sibling = Bridge.builderOn(parent.sparkContext)
          .withExtensions(new GraftExtensions)
          .getOrCreate()
        sqlKeys.foreach(k => sibling.conf.set(k, parent.conf.getOption(k).getOrElse("")))
        sibling
      } finally {
        SparkSession.setActiveSession(parent)
        SparkSession.setDefaultSession(parent)
      }
    })
  }
}
