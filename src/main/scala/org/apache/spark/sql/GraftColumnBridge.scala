package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to the `private[sql]` Column↔Expression converters so graft's
  * native Catalyst expressions ([[graft.functions.MinHashSigs]] etc.) can
  * be used from the DataFrame DSL without registering a session function
  * per coefficient set. Classic (non-Connect) sessions only — which is the
  * only mode this engine targets.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Eagerly convert a Column to its catalyst Expression with the
    * session's converter. Unlike [[expression]], the result contains no
    * lazy `ColumnNodeExpression` wrappers — required when the expression
    * is stored in a custom plan node field, where only standard analyzer
    * paths would unwrap it (a surviving wrapper is not serializable). */
  def eagerExpression(spark: SparkSession, c: Column): Expression =
    spark.asInstanceOf[classic.SparkSession].expression(c)

  /** The optimizer's FP canonicalization (-0.0 → 0.0, canonical NaN) for
    * group keys of custom plan nodes — `NormalizeFloatingNumbers.normalize`
    * is `private[sql]`. */
  def normalizeFloats(e: Expression): Expression =
    org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)

  /** Stable identity string for a session (`sessionUUID` is
    * `private[sql]`) — cache keys that must not strongly retain the
    * session object. */
  def sessionUuid(spark: SparkSession): String = spark match {
    case c: classic.SparkSession => c.sessionUUID
    case other => String.valueOf(System.identityHashCode(other))
  }

  /** Drain the listener bus (`listenerBus` is `private[spark]`):
    * [[graft.internal.RunRecorder.record]] drains it once before it reads
    * a block's run. */
  def flushListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** The observed metrics (`Dataset.observe`) of a SQL execution that
    * succeeded (the event's `qe` and failure are `private[sql]`); empty
    * for a failed one. */
  def observedMetrics(
      e: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd)
      : Map[String, Row] =
    if (e.qe == null || e.executionFailure.isDefined) Map.empty
    else e.qe.observedMetrics

  /** Build a DataFrame over a custom logical plan node (the (c)-ladder
    * entry point: `Dataset.ofRows` is `private[sql]`). */
  def ofRows(
      spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
