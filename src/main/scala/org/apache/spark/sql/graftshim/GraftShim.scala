package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.StructType

/** The `private[sql]`/`private[spark]` calls graft needs, reachable only
  * from inside Spark's package tree. */
object GraftShim {
  /** A Column over a Catalyst expression, with no session registration. */
  def column(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Blocks until every queued listener event has been delivered. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Evaluates `df` once, as one SQL execution, and returns its rows in
    * the engine's own binary form. Unlike `collect()`, nothing passes
    * through external `Row`s, whose Strings replace invalid UTF-8 with
    * U+FFFD. */
  def collectInternal(df: DataFrame): Array[UnsafeRow] = {
    val qe = df.queryExecution
    // executeCollect hands back UnsafeRows: decoded from the tasks'
    // byte results, or a local table scan's own
    SQLExecution.withNewExecutionId(qe, Some("collectInternal")) {
      qe.executedPlan.executeCollect()
    }.map(_.asInstanceOf[UnsafeRow])
  }

  /** A DataFrame over rows already on the driver (a `LocalRelation`). */
  def localFrame(spark: SparkSession, schema: StructType,
      rows: Seq[InternalRow]): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))

  /** The session's `spark.sql.autoBroadcastJoinThreshold` in bytes
    * (negative when broadcasting is off). */
  def broadcastThreshold(spark: SparkSession): Long =
    spark.asInstanceOf[classic.SparkSession].sessionState.conf
      .autoBroadcastJoinThreshold
}
