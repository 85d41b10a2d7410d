package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge between graft's native Catalyst expressions and the public
  * `Column` API. Spark 4 made `Column` a thin wrapper over `ColumnNode`
  * and scoped the Expression⇄Column converters `private[sql]`
  * (`classic.ExpressionUtils`), so a library shipping its own
  * `Expression`s needs either a per-session function-registry hop or
  * this one-file package shim — the standard pattern used by Spark
  * connector/extension libraries. Kept deliberately minimal: two
  * one-line delegates, no behavior.
  *
  * The registry route still exists for SQL-text sessions
  * (`graft.functions.VectorExprs.register`, `GraftExtensions`); this
  * shim is what lets pure `Column`-builder helpers
  * (e.g. `graft.ops.Similarity.dot`) construct native expressions
  * without holding a `SparkSession`.
  */
object GraftColumns {

  /** Wrap a Catalyst expression as a user-facing Column. */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** Unwrap a Column (e.g. `functions.col("v")`) to its Catalyst
    * expression, for use as a child of a native expression.
    */
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Wrap a custom LogicalPlan (e.g. graft.plans.AsOfJoinPlan) as a
    * DataFrame — the plan-level sibling of [[column]]: Spark 4 scopes
    * `Dataset.ofRows` private[sql], so a library shipping its own
    * logical operators needs this one-line delegate.
    */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Idempotently install a planner strategy on the session
    * (`experimental.extraStrategies` lives on the classic session).
    * Synchronized on the session: the read-modify-write below would
    * otherwise let two concurrent first calls drop each other's
    * strategy or append duplicates.
    */
  def installStrategy(spark: SparkSession,
                      strategy: org.apache.spark.sql.execution.SparkStrategy): Unit = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    cs.synchronized {
      if (!cs.experimental.extraStrategies.contains(strategy))
        cs.experimental.extraStrategies = cs.experimental.extraStrategies :+ strategy
    }
  }

  /** The session's own UUID (`private[sql]` on the classic session) —
    * the session part of [[graft.ops.Artifacts]] keys.
    */
  def sessionId(spark: SparkSession): String =
    spark.asInstanceOf[classic.SparkSession].sessionUUID
}
