package org.apache.spark

/** The listener bus delivers events asynchronously; a traced pass drains it
  * before reading its listeners so no job, stage or task event is missed. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
