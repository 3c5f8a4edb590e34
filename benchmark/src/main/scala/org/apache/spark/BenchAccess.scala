package org.apache.spark

/** The one scheduler hook the benchmark needs that Spark keeps
  * package-private: wait until every posted listener event has been
  * delivered, so a traced op's jobs, stages and plans are all recorded
  * before the next op starts. */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
