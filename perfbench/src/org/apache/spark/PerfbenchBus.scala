package org.apache.spark

/** Waits until every event posted so far has reached the registered
  * listeners. Spark delivers listener events asynchronously, so the
  * benchmark drains the bus before it reads its job and task counters;
  * the bus itself is only visible from inside the `org.apache.spark`
  * package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
