package org.apache.spark

import org.apache.spark.util.AccumulatorContext

/** The two Spark-internal hooks the benchmark's tracer needs: draining the
  * listener bus before reading what listeners collected, and naming an
  * accumulator from a driver-side metric update. */
object SparkInternals {
  def waitForListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def accumulatorName(id: Long): Option[String] =
    AccumulatorContext.get(id).flatMap(_.name)
}
