package org.apache.spark

/** The listener bus's drain is package-private to Spark; the benchmark
  * needs it so every event of a traced operation is delivered before
  * the operation's numbers are read. */
object StorebenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
