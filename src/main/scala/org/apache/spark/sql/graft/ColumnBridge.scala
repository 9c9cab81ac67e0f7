package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark 4's classic-API Column↔Expression conversions,
  * which are `private[sql]` since the Spark Connect refactor, and into
  * Spark's `private[sql]` error constructors. Living in the
  * `org.apache.spark.sql` namespace is the standard extension-library
  * technique for registering custom Catalyst expressions as Columns.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a named expression builder in a session's function registry
    * so it is callable from SQL text (`SELECT intersect_size(a, b)`).
    */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    org.apache.spark.sql.classic.ClassicConversions.castToImpl(spark)
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** Spark's own NUMERIC_VALUE_OUT_OF_RANGE error for a decimal cast
    * whose rounded value does not fit DECIMAL(precision, scale).
    */
  def decimalOutOfRange(value: java.math.BigDecimal, precision: Int,
      scale: Int): ArithmeticException =
    org.apache.spark.sql.errors.QueryExecutionErrors
      .cannotChangeDecimalPrecisionError(
        org.apache.spark.sql.types.Decimal(value), precision, scale)
}
