package org.apache.spark.kgbench

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every posted event, so a
  * trace read afterwards is complete. The bus is private to Spark, hence
  * this package.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
