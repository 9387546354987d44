package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into Spark's `private[sql]` Column↔Expression
  * converters (Spark 4 moved them behind the Column-node API). Lives in
  * a child package of `org.apache.spark.sql` solely to satisfy the
  * access modifier — the standard pattern for Catalyst extensions that
  * expose custom expressions as user-facing Columns.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** The same bridge for `StructType.asNullable` (`private[spark]`): the
  * schema a parquet read returns for what a DataFrame wrote.
  */
object SchemaBridge {
  def asNullable(s: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = s.asNullable
}
