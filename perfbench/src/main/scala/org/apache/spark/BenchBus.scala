package org.apache.spark

/** Waits until every listener event posted so far has been delivered,
  * so counters read afterwards cover all finished jobs. Lives in this
  * package because the listener bus is `private[spark]`. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
