package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> catalyst Expression bridge. Spark 4 made this conversion
  * `private[sql]` (columns carry ColumnNodes, not Expressions); hosting
  * this one-file shim inside the org.apache.spark.sql package namespace
  * is the standard way extension libraries reach it. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The bare attribute name a Column refers to, if it is a plain
    * (possibly qualified) column reference — None for any computed
    * expression. Spark 4 Columns carry sql-api ColumnNodes, not
    * catalyst Expressions, so name inspection has to happen at the
    * node layer. */
  def attrName(c: Column): Option[String] = c.node match {
    case u: org.apache.spark.sql.internal.UnresolvedAttribute =>
      Some(u.nameParts.last)
    case _ => None
  }
}
