package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to the `private[sql]` Column ↔ Catalyst Expression converters.
  *
  * Spark 4 moved `new Column(expr)` behind `classic.ExpressionUtils`;
  * extension libraries conventionally expose it from a shim in the
  * `org.apache.spark.sql` package (same pattern as public Spark
  * extension projects, e.g. the DatasetFactory shims).
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}

/** Bridge to `private[sql]` Dataset/plan plumbing: read a frame's
  * analyzed plan and build a DataFrame from a logical plan on a given
  * session. `Graph.checkpointKeepLayout` re-binds a plan to its AQE-off
  * sibling session and back; `RangeJoinBinning.withBinWidth` wraps a
  * frame's plan in its bin-width hint node.
  */
object GraftPlanBridge {
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def analyzed(df: DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed
}

/** Bridge to the `private[sql]` session FunctionRegistry, so graft can
  * register its native expressions as SQL functions on an ALREADY
  * RUNNING session (the extension path in graft.plans.GraftExtensions
  * covers session construction; this covers notebooks/REPLs that got
  * their session handed to them).
  */
object GraftRegistryBridge {
  def registerFunction(
      spark: SparkSession,
      id: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .registerFunction(id, info, builder)
}

/** Bridge to the `private[spark]` listener bus: [[drain]] returns once
  * every event posted so far has reached its listeners, so counters a
  * listener summed can be read without sleeping.
  */
object GraftListenerBus {
  def drain(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
