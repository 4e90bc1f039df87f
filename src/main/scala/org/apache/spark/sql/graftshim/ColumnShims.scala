package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> Expression bridge. Spark 4 hides these conversions behind
  * `private[sql]` (Column is backed by a ColumnNode in sql-api); the usual
  * extension-library pattern is an accessor inside the sql package. */
object ColumnShims {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** `StructType.asNullable` is `private[spark]`: the schema with every field,
  * nested ones included, nullable — what a parquet file reads back as. */
object SchemaShims {
  def asNullable(s: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = s.asNullable
}
