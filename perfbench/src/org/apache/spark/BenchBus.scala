package org.apache.spark

import org.apache.spark.util.AccumulatorContext

/** Reaches two things private to Spark: the listener bus's drain, so the
  * benchmark can wait for every listener event outside its timed regions
  * instead of sleeping, and an accumulator's name, so it can pick the
  * written-file counts out of driver-side SQL metric updates. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  def accumulatorName(id: Long): Option[String] =
    AccumulatorContext.get(id).flatMap(_.name)
}
