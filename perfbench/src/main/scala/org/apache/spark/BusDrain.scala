package org.apache.spark

/** The listener bus delivers events asynchronously; the ledger drains it
  * before it reads a span, so every job, stage and task of that span has
  * been counted. `waitUntilEmpty` is Spark-internal, hence this package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
