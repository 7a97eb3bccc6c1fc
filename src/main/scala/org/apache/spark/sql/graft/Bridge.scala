package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 removed the public `Column(expr)` constructor; the supported
  * conversion lives in `org.apache.spark.sql.classic.ExpressionUtils`,
  * which is `private[sql]`. This object lives inside the `sql` package
  * hierarchy purely to re-export the conversions (and temp-function
  * registration and local frames of internal rows, same visibility
  * situation) to graft code.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A local frame of `rows`, already in Spark's internal form, so no
    * row is converted (`createDataFrame` converts each external row). */
  def localFrame(spark: SparkSession, schema: StructType,
                 rows: Seq[InternalRow]): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))

  /** Register a temp SQL function on an existing session (the
    * non-extension path; see graft.GraftExtensions for the
    * cluster-config path). */
  def registerFunction(spark: SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")
}
