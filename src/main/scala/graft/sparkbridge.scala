package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark's private[sql] Column <-> Expression converters
  * (Spark 4 removed the public `new Column(expr)` constructor). Used by
  * graft's custom-expression Column API and IcebergLite's manifest
  * scans only.
  */
object GraftColumnBridge {
  def toCol(e: Expression): Column = classic.ExpressionUtils.column(e)
  def toExpr(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def toDF(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
  def asNullable(s: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    s.asNullable
}
