package org.apache.spark

/** The listener bus is asynchronous and `waitUntilEmpty` is spark-private:
  * per-pass stage metrics are read only after every event of the pass has
  * been delivered to the benchmark's listener.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
