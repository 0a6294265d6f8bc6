package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.errors.QueryCompilationErrors

/** Bridge into `private[sql]` Column↔Expression conversion for graft's
  * custom Catalyst expressions (Spark 4 moved the classic constructors
  * behind `org.apache.spark.sql.classic`). Lives in the spark.sql
  * package purely to access the conversion; no Spark internals are
  * modified.
  */
object GraftGlue {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The error a file source raises when it finds no file to infer a
    * schema from.
    */
  def unableToInferSchema(format: String): Throwable =
    QueryCompilationErrors.dataSchemaNotSpecifiedError(format)

  /** The duplicate-column check a file source applies to its data schema
    * when it resolves a relation.
    */
  def checkColumnNameDuplication(schema: types.StructType, caseSensitive: Boolean): Unit =
    util.SchemaUtils.checkSchemaColumnNameDuplication(schema, caseSensitive)

  /** Register the driver's StateStoreCoordinator RPC endpoint if a
    * streaming query hasn't already. BATCH-mode `transformWithState`
    * executes a stateful operator outside any StreamExecution, so the
    * lazy registration that streaming queries perform never happens and
    * executors fail with RpcEndpointNotFoundException when they ask for
    * the coordinator. `forDriver` is idempotent (returns the existing
    * endpoint if registered).
    */
  def ensureStateStoreCoordinator(spark: SparkSession): Unit = {
    org.apache.spark.sql.execution.streaming.state.StateStoreCoordinatorRef
      .forDriver(org.apache.spark.SparkEnv.get, spark.sessionState.conf)
    ()
  }
}
