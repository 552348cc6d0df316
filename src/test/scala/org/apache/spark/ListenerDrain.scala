package org.apache.spark

/** Blocks until every listener event posted so far has been delivered, so a
  * test can read a `SparkListener`'s counts right after an action. The
  * listener bus hook is `private[spark]`, hence this package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
