package org.apache.spark

/** Test hop into `private[spark]` surface: listener events are delivered
  * asynchronously, so a spec that counts them must wait until the bus has
  * delivered everything posted so far. Lives under org.apache.spark for
  * the package-private access.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
