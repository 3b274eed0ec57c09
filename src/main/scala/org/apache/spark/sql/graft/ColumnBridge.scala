package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.classic.ExpressionUtils

/** Wraps a raw Catalyst `Expression` into a public `Column`.
  *
  * Spark 4 unified `Column` over column nodes and made the
  * expression-backed constructor `private[sql]`
  * (classic/columnNodeSupport.scala), so custom native expressions —
  * graft's codegen'd kernels, e.g. [[graft.functions.SimHash64]] — need
  * this one-line bridge living inside the `org.apache.spark.sql`
  * namespace. No Spark internals are modified.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Registers a SQL function builder on an EXISTING session (the
    * `SparkSessionExtensions` path only applies at session build time;
    * `sessionState` is private[sql], hence this bridge). */
  def registerFunction(spark: SparkSession, name: String,
                       info: ExpressionInfo,
                       builder: Seq[Expression] => Expression): Unit = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classic.sessionState.functionRegistry
      .registerFunction(new FunctionIdentifier(name), info, builder)
  }

  /** Blocks until every listener has seen every event posted so far
    * (the listener bus is private[spark], hence this bridge). */
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
