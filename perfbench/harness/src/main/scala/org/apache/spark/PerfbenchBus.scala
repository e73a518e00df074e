package org.apache.spark

/** Access to two `private[spark]` members: the listener bus, which the
 *  traced run drains before it writes its events out, and the local
 *  property that carries a job's tags. */
object PerfbenchBus {
  val JobTagsProperty: String = SparkContext.SPARK_JOB_TAGS
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
