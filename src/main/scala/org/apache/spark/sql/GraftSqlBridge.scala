package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into `private[sql]` Column <-> Expression conversions, the
  * standard pattern for Spark extension libraries that define native
  * Catalyst expressions (the public API offers no constructor from an
  * `Expression` since Spark 4 split Column into sql-api).
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Execute an arbitrary logical plan as a DataFrame (test harness for
    * optimizer rules applied outside a session's rule pipeline).
    */
  def datasetOfRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The analyzed logical plan behind a DataFrame (for wrapping it in a
    * custom logical operator).
    */
  def logicalPlan(df: DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.DataFrame].queryExecution.analyzed

  /** The check a file write runs on its output column names: a name
    * repeated (ignoring case unless `caseSensitive`) fails with
    * COLUMN_ALREADY_EXISTS.
    */
  def checkColumnNameDuplication(names: Seq[String], caseSensitive: Boolean): Unit =
    util.SchemaUtils.checkColumnNameDuplication(names, caseSensitive)

  /** `schema` with every field, array element and map value nullable: the
    * data schema a file source relation reports.
    */
  def asNullable(schema: types.StructType): types.StructType = schema.asNullable
}
