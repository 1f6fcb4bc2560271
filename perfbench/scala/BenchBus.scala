package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * a traced unit unregisters its listeners only after every event it
  * caused has been delivered to them.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
