package org.apache.spark

/** Test access to the driver's listener bus, which is private to Spark. */
object ListenerBusDrain {

  /** Blocks until every event posted so far has reached every listener,
    * so listener-fed views (status tracker, test listeners) are current. */
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
