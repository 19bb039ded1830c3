package org.apache.spark.perfbenchbus

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; reading a listener's
  * counters is only exact after the queue has drained. The drain call is
  * Spark-internal, hence this object's package.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
