package org.apache.spark.sql.graft

import org.apache.spark.sql.classic.{SparkSession => ClassicSparkSession}
import org.apache.spark.sql.{Column, SparkSession}

/** Minimal `private[sql]` bridge: the few engine helpers that need
  * Spark's classic session or catalyst expressions, which the public
  * API keeps package-private. */
object PlanExec {
  /** BATCH execution of `transformWithState` loads per-partition state
    * stores, and store loading asks the driver for its
    * StateStoreCoordinator RPC endpoint — which is otherwise created
    * lazily when the first STREAMING query starts. Touch it so a
    * batch-mode stateful processor doesn't die with
    * RpcEndpointNotFoundException in a session that never streamed. */
  def ensureStateStoreCoordinator(spark: SparkSession): Unit =
    spark.asInstanceOf[ClassicSparkSession].streams.stateStoreCoordinator

  /** Column ↔ catalyst Expression converters, for the few engine
    * helpers built directly on catalyst nodes Spark exposes no DSL for
    * (e.g. [[org.apache.spark.sql.catalyst.expressions.UnscaledValue]]
    * behind graft's limb-based decimal sums). */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)
  def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)
}
