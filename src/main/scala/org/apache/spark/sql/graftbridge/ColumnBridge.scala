package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Bridge into the `private[sql]` Column ⇄ Expression converters of the
  * classic Spark 4 API — needed to expose custom Catalyst expressions
  * (e.g. the Bloom aggregate) as first-class `Column`s.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** EAGER conversion of a Column tree to a Catalyst expression tree.
    * [[expression]] wraps lazily (`ColumnNodeExpression`) and relies on
    * Dataset analysis to convert — which never runs inside a
    * FunctionRegistry builder, so SQL-registered functions built from
    * Column compositions would reach the analyzer as unresolved VOID
    * nodes. This converts through the classic converter immediately;
    * the resulting `UnresolvedFunction` nodes resolve during normal SQL
    * analysis.
    */
  def expressionEager(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)
}

/** Bridge to the `private[sql]` schema merge that Parquet's `mergeSchema`
  * applies to file footers: fields by name, the left side's order first,
  * nested structs merged, incompatible types rejected.
  */
object SchemaBridge {
  def merge(a: StructType, b: StructType): StructType = a.merge(b)
}
