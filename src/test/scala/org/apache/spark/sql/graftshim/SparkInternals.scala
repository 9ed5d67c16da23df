package org.apache.spark.sql.graftshim

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic

/** Spec access to a Spark internal (`private[sql]`, hence the
  * package).
  */
object SparkInternals {

  /** The tag Spark puts in `spark.job.tags` of every job that a query
    * of `session` runs.
    */
  def sessionJobTag(session: SparkSession): String =
    session.asInstanceOf[classic.SparkSession].sessionJobTag
}
