package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus drain Spark keeps package-private: a span ends only
  * after every event its jobs posted has reached the tracer. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
