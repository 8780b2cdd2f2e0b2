package org.apache.spark

/** The one `private[spark]` crossing the benchmark makes: wait until the
  * listener bus has delivered every posted event, so a traced op's job,
  * query and streaming events are all in before its round is closed. */
object BenchBridge {
  def awaitListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
