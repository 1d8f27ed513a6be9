package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to the classic Column ↔ Expression converters, which Spark 4
  * marks `private[sql]` (`org.apache.spark.sql.classic.ExpressionUtils`).
  *
  * Why it exists (ADVICE r03): every graft Catalyst expression exposes a
  * Column API, and every one of them builds its Column directly from the
  * Expression through this bridge. Routing the API through the session
  * function registry instead made each public entry point depend on a
  * prior registration — external callers hit an unresolved-function
  * analysis error — and made library calls rewrite the caller's catalog.
  * SQL names come only from [[graft.GraftExtensions]]. This one-file
  * `org.apache.spark.sql`-package shim is the standard extension-library
  * technique for reaching the converter.
  */
object GraftExpressionBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
