package org.apache.spark

/** The listener bus delivers task and job events asynchronously; a
  * traced call window is closed only after every event it caused has
  * reached the benchmark's listener. `waitUntilEmpty` is package-private,
  * hence this one-method bridge. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
