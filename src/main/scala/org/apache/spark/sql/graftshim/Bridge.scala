package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. Spark 4's `Column` is ColumnNode-backed
  * and the conversion utilities are `private[sql]`, so this one-file
  * shim lives inside an `org.apache.spark.sql` subpackage — the
  * standard pattern for libraries that ship custom Catalyst
  * expressions against the classic engine.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a temp SQL function backed by a raw Expression builder
    * (`functionRegistry` is session-private API).
    */
  def registerFunction(
      spark: org.apache.spark.sql.SparkSession,
      name: String)(builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** Waits until every posted listener event is delivered
    * (`listenerBus` is `private[spark]`): listeners hear job and
    * streaming-progress events asynchronously, so a reader of what one
    * heard drains the bus first.
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
