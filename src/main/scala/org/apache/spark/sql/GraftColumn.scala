package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to Spark's `private[sql]` Column <-> Expression converters so
  * graft's native Catalyst expressions (e.g.
  * graft.functions.CosineSimilarity) get a Column front door. This is
  * the conventional shim for libraries shipping custom expressions
  * without a FunctionRegistry round-trip.
  */
object GraftColumn {
  def apply(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** DataFrame from a hand-built logical plan (runs the analyzer) —
    * needed to place custom LogicalPlan nodes like TopKPerGroup.
    */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** DataFrame straight from an `InternalRow` RDD (no external-Row
    * round trip) — the fast re-entry for operators that compute on
    * UnsafeRows outside Catalyst (the global-order primitives).
    */
  def ofInternal(spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rdd, schema)

  /** Block until every listener event posted so far has been delivered
    * (`listenerBus` is `private[spark]`) — how [[graft.QueryMetrics]]
    * reads its counters once an action returns.
    */
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
