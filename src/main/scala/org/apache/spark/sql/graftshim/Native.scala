package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** The one bridge between graft's native Catalyst expressions and the
  * Column API. `ExpressionUtils` is `private[sql]`, so this object lives
  * under `org.apache.spark.sql` to reach it. Every `graft.functions`
  * constructor goes through here, so no expression needs registering in
  * a session's function registry before use.
  *
  * Both directions are session-free: `expr` of a Column that is not
  * already an expression wraps its node lazily (resolved when the plan is
  * analyzed), so a Column built here can be made on any thread and used
  * in any session — lambda variables of higher-order functions included.
  */
object Native {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expr(c: Column): Expression = ExpressionUtils.expression(c)
}
