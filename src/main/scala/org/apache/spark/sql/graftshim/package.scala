package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to `private[sql]` Column↔Expression conversions for graft's
  * custom Catalyst expressions. Spark 4 made `Column` backend-agnostic
  * (ColumnNode), so first-party extensions reach the classic converter
  * through the sql package — the same route Spark's own connectors use.
  */
package object graftshim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Wrap a logical plan as a DataFrame (route custom LogicalPlan nodes
    * into a session) — the `Dataset.ofRows` path Spark's own components
    * use, reached through the sql package. */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Spark's own errors for a file-source bind that finds no path
    * (`PATH_NOT_FOUND`) or no data file to take a schema from
    * (`UNABLE_TO_INFER_SCHEMA`), for binders that skip inference. */
  def pathNotFound(path: String): Throwable =
    errors.QueryCompilationErrors.dataPathNotExistError(path)
  def unableToInferSchema(format: String): Throwable =
    errors.QueryCompilationErrors.dataSchemaNotSpecifiedError(format)
}
