package org.apache.spark.sql.graftshim

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic

/** Spec access to two Spark internals (`private[spark]` and
  * `private[sql]`, hence the package).
  */
object SparkInternals {

  /** Waits until every posted listener event is delivered: listeners
    * hear events asynchronously, so a spec that asserts on what one
    * heard drains the bus first.
    */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The tag Spark puts in `spark.job.tags` of every job that a query
    * of `session` runs.
    */
  def sessionJobTag(session: SparkSession): String =
    session.asInstanceOf[classic.SparkSession].sessionJobTag
}
