package org.apache.spark

/** The one private[spark] call the benchmark needs: block until every
  * listener event posted so far has been delivered, so the stage profile
  * read after an operation covers that operation's jobs. */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
