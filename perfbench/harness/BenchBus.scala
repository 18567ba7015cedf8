package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private. The
  * traced run waits for it to drain at the end of each row, so every
  * listener event a row caused is attributed before the next row runs. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
