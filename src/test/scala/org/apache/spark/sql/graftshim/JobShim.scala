package org.apache.spark.sql.graftshim

import org.apache.spark.SparkContext

/** Test bridge to `private[spark]` job bookkeeping: the listener bus (a
  * listener's view is complete only once the bus has delivered every
  * posted event) and the local property that carries a job's group. */
object JobShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  val JobGroupKey: String = SparkContext.SPARK_JOB_GROUP_ID
}
