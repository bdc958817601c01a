package org.apache.spark.lakebenchbridge

import org.apache.spark.SparkContext

/** Spark delivers listener events asynchronously. Counts read at an
  * operation boundary are only exact once the bus has caught up, and
  * the wait for that is `private[spark]`, hence this package.
  */
object Drain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
