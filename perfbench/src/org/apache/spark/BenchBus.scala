package org.apache.spark

/** The one private hook the benchmark needs: wait until every listener
  * event already posted has been delivered, so span counters are
  * complete before they are read. Lives in Spark's package because the
  * listener bus is `private[spark]`.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
