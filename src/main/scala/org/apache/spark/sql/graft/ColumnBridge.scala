package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into Spark's `private[sql]` Column↔Expression API so
  * graft's native Catalyst expressions can surface as `Column`s. Lives in
  * an `org.apache.spark.sql` subpackage purely for access; no Spark
  * internals are modified.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** Bridge into the `private[sql]` session state so graft's native
  * expressions can be registered as temp SQL functions on an EXISTING
  * session (the deploy-time path is `spark.sql.extensions` →
  * [[graft.engine.GraftExtensions]], applied at session creation; this
  * covers notebooks/REPLs that already hold a session).
  */
object FunctionBridge {
  def registerTemp(spark: org.apache.spark.sql.SparkSession, name: String,
                   builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")
}

/** Bridge into the `private[spark]` listener bus: [[graft.Prof]] waits
  * until every queued event has reached its listeners before it reads
  * them, so a job-end event still in the queue is never lost.
  */
object BusBridge {
  def drain(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
