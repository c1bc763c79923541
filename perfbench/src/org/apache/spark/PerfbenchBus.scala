package org.apache.spark

/** Access to two Spark internals the benchmark needs: the running
  * context, and waiting for the listener bus. Counts read from a
  * listener right after an action can still miss events of that action
  * that are queued but not yet delivered.
  */
object PerfbenchBus {
  def active: Option[SparkContext] = SparkContext.getActive

  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
