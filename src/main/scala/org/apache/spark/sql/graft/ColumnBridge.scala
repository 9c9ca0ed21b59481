package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Classic-mode Column ⇄ Expression bridge. Spark 4 scopes
  * `ExpressionUtils` `private[sql]`; expressions that carry RUNTIME
  * objects (e.g. a broadcast Bloom filter —
  * `graft.expr.BloomMightContainLong`) cannot go through the SQL function
  * registry the way the stateless `graft.expr` family does, and the
  * tokenizer (`graft.expr.DelimiterSplit`) must work on sessions built
  * without `GraftExtensions`, so this is the one sanctioned hop from a
  * constructed Catalyst expression to a user-facing Column. Nothing else
  * belongs in this package.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
