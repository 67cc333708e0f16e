package org.apache.spark

/** Reaches the listener bus's drain, private to Spark, so a test can wait
  * for every listener event of the jobs it ran instead of sleeping. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
