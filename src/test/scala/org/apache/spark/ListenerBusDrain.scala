package org.apache.spark

/** Listener events (QueryExecutionListener callbacks included) are
  * delivered asynchronously; a test that counts them must first wait until
  * the bus has delivered everything posted so far. Lives in
  * org.apache.spark only for access to the `private[spark]` bus. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
