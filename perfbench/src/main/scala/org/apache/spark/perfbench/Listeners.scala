package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The one private Spark hook the benchmark needs: waiting until the
  * listener bus has delivered every posted event, so the counters read
  * after a span include all of its jobs and tasks. */
object Listeners {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
