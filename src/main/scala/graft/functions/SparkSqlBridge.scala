package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal bridge into the `private[sql]` Column↔Expression converters —
  * the supported way for third-party libraries to wrap a custom Catalyst
  * `Expression` into a `Column` since the Spark 4 Column API became
  * implementation-agnostic. Lives in the `org.apache.spark.sql` package
  * solely to satisfy the access modifier; contains no logic. */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Runtime registration of an expression builder as a temp SQL function
    * (the config-time path is `spark.sql.extensions` + `injectFunction`;
    * this one serves sessions that already exist). */
  def registerFunction(
      spark: SparkSession,
      name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")
}

/** The same kind of bridge for `SparkListenerSQLExecutionEnd.qe`, the
  * `private[sql]` field Spark's own QueryExecutionListeners are fed from:
  * the execution the event ends (null on events replayed from a log). */
object GraftExecutionBridge {
  def queryExecution(e: execution.ui.SparkListenerSQLExecutionEnd)
      : Option[execution.QueryExecution] = Option(e.qe)
}
