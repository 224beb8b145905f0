package org.apache.spark

/** The one package-private Spark call the traced run needs: wait until the
  * listener bus has delivered every queued event, so job and task totals
  * are complete before they are read.
  */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
