package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** [[Session]], the one place a graft session is built, and [[CellMetrics]],
  * the listener the mains measure cells with. */
class SessionSpec extends SparkSpec {

  private val InferFilters =
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"

  /** Runs `body` and returns what `SparkContext` logged at WARN meanwhile. */
  private def sparkContextWarnings[A](body: => A): (A, Seq[String]) = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("graft-session-spec", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.WARN))
          seen.add(e.getMessage.getFormattedMessage)
    }
    val logger = LogManager.getLogger("org.apache.spark.SparkContext").asInstanceOf[Logger]
    capture.start()
    logger.addAppender(capture)
    try {
      val out = body
      import scala.jdk.CollectionConverters._
      (out, seen.asScala.toSeq)
    } finally {
      logger.removeAppender(capture)
      capture.stop()
    }
  }

  test("a factory session carries every setting the factory owns") {
    assert(spark.sparkContext.master === "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.sql.optimizer.excludedRules") === InferFilters)
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") === "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
    assert(Session.sqlKeys.toSet === Set("spark.sql.shuffle.partitions",
      "spark.sql.session.timeZone", "spark.sql.optimizer.excludedRules"))
  }

  test("the extension sibling takes the parent's SQL settings and every graft function") {
    val parent = spark.newSession()
    parent.conf.set("spark.sql.shuffle.partitions", "3")
    parent.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    parent.conf.set("spark.sql.optimizer.excludedRules",
      s"$InferFilters,org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")
    // the sibling leaves `parent` as the active session; later suites
    // build theirs through getOrCreate, so hand back the suite's session
    val ((ext, again), warnings) = sparkContextWarnings {
      try (Session.withExtensions(parent), Session.withExtensions(parent))
      finally {
        SparkSession.setActiveSession(spark)
        SparkSession.setDefaultSession(spark)
      }
    }
    assert(!warnings.exists(_.contains("Using an existing SparkContext")),
      warnings.mkString("\n"))
    assert(ext ne parent)
    assert(ext.sparkContext eq spark.sparkContext)
    assert(again eq ext, "the sibling is cached per parent")
    Session.sqlKeys.foreach(k => assert(ext.conf.get(k) === parent.conf.get(k), k))

    def one(sql: String) = ext.sql(sql).collect().head
    assert(one("SELECT cosine_sim(array(3.0d, 4.0d), array(4.0d, 3.0d))")
      .getDouble(0) === 24.0 / 25.0)
    assert(one("""SELECT top_k_by_score(s, id, 1)
                 |FROM VALUES (1.0d, 1L), (3.0d, 2L) AS v(s, id)""".stripMargin)
      .getSeq[org.apache.spark.sql.Row](0).map(_.getLong(1)) === Seq(2L))
    assert(one("SELECT misra_gries(w, 2) FROM VALUES ('a'), ('a'), ('b') AS v(w)")
      .getSeq[org.apache.spark.sql.Row](0).head.getString(0) === "a")
    assert(one("SELECT blocklist_hits('slow aaaa', 'slow', 'aaa')").getLong(0) === 3L)
  }

  test("cells measured back to back get disjoint job counts") {
    // the plain listener keys each job by the job group its cell set, so
    // it attributes jobs without any timing
    val byGroup = new ConcurrentHashMap[String, Integer]()
    val plain = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(g => byGroup.merge(g, 1, (a, b) => a + b))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(plain)
    val metrics = CellMetrics.install(sc)
    def cell(group: String)(body: => Any): CellMetrics.Counts =
      metrics.measure {
        sc.setJobGroup(group, group)
        try body finally sc.clearJobGroup()
      }._2
    try {
      val sf = "/root/testdata/sf0.001"
      val cells = Seq(
        "range" -> cell("range")(spark.range(1000).count()),
        "q3" -> cell("q3")(SparkEntry.queries("q3_shipping_priority")(spark, sf).collect()),
        "ngram" -> cell("ngram")(SparkEntry.queries("llm_dedup_ngram")(spark, sf).collect()))
      info(cells.map { case (n, c) => s"$n: ${c.jobs} jobs, ${c.stages} stages" }.mkString("; "))
      cells.foreach { case (group, c) =>
        assert(c.jobs > 0, group)
        assert(c.jobs === byGroup.getOrDefault(group, 0).toLong, group)
      }
    } finally {
      sc.removeSparkListener(metrics)
      sc.removeSparkListener(plain)
    }
  }
}
