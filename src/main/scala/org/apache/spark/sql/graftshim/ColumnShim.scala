package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.internal.SortOrder

/** Bridge between [[Column]] (sql-api, ColumnNode-based in Spark 4)
  * and Catalyst [[Expression]]. `ExpressionUtils` is `private[sql]`,
  * so this one-file shim lives under `org.apache.spark.sql` to
  * re-export the two conversions the engine's custom expressions
  * need, and the parts of a sort column. No Spark internals are
  * modified.
  */
object ColumnShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A sort column — what `Window.orderBy` takes — split into its key,
    * whether it sorts descending, and whether nulls sort first; a
    * plain column sorts ascending with nulls first. */
  def sortKey(c: Column): (Column, Boolean, Boolean) = c.node match {
    case SortOrder(child, dir, nulls, _) =>
      (new Column(child), dir == SortOrder.Descending, nulls == SortOrder.NullsFirst)
    case _ => (c, false, true)
  }
}
