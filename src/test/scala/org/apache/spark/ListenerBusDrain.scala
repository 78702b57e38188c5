package org.apache.spark

/** Test access to the listener bus flush: `SparkContext.listenerBus`
  * is package-private, and a spec that counts the jobs a call launched
  * must read its listener only after every event of the call has been
  * delivered.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
