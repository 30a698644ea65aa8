package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils, SparkSession}

/** Bridge into the `private[sql]` Column ↔ Expression converters and the
  * DataFrame-from-LogicalPlan and DataFrame-from-internal-rows
  * constructors (the standard extension-library pattern for Spark 4's
  * ColumnNode API). The only internal-API exposure point in the codebase.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark, plan)
  def analyzed(df: DataFrame): LogicalPlan =
    df.asInstanceOf[Dataset[org.apache.spark.sql.Row]].queryExecution.analyzed

  /** `df` with `f` applied to the RDD of internal rows its plan computes —
    * a pass-through operator at the RDD level, with no row conversion.
    */
  def mapInternal(df: DataFrame)(f: RDD[InternalRow] => RDD[InternalRow]): DataFrame = {
    val ds = df.asInstanceOf[Dataset[org.apache.spark.sql.Row]]
    ds.sparkSession.internalCreateDataFrame(f(ds.queryExecution.toRdd), ds.schema)
  }
}
