package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}

/** Bridge to the sql-private Column <-> Expression converters: Spark 4
  * removed `Column.expr` from the public surface (columns are now
  * connect-agnostic ColumnNodes), so extension code that must hand the
  * analyzer a Catalyst tree — e.g. a FunctionBuilder returning a
  * compiled predicate — goes through this package-privileged shim.
  * The eager converter (not ExpressionUtils' lazy ColumnNodeExpression
  * wrapper) is required: a FunctionBuilder's result is substituted
  * mid-analysis, where a still-wrapped node never gets converted.
  */
object ColumnBridge {
  def expression(c: Column): Expression =
    ColumnNodeToExpressionConverter(c.node)

  /** A Column carrying a Catalyst expression as is (the inverse). */
  def column(e: Expression): Column =
    ExpressionUtils.column(e)

  /** A predicate Column as RE-PARSEABLE Spark SQL: analyzed against
    * `df`'s schema (so operators render infix, not the raw tree's
    * `and(...)`/`` `=`(...) `` function spellings), with higher-order
    * lambdas rewritten from the non-parseable `lambdafunction(body,
    * var)` rendering into arrow syntax (`var -> body`). The output
    * round-trips through `expr(...)` — `df.where(expr(filterSql))`
    * reproduces `df.filter(c)` (spec-pinned by QueryFacadeSpec). Lambda
    * variable names are preserved; a lambda variable shadowing a column
    * name would re-bind on re-parse, as in any SQL text.
    */
  def filterSql(df: org.apache.spark.sql.DataFrame, c: Column): String = {
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    val cond = df.filter(c).queryExecution.analyzed.collectFirst {
      case f: Filter => f.condition
    }.getOrElse(sys.error("filter produced no Filter node"))
    renderSql(cond)
  }

  import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
  import org.apache.spark.sql.catalyst.expressions.{LambdaFunction, Literal, NamedLambdaVariable, UnresolvedNamedLambdaVariable}

  /** `Expression.sql` with every LambdaFunction subtree swapped for a
    * placeholder literal, then substituted with its arrow form — the
    * only node whose stock rendering cannot re-parse.
    */
  private def renderSql(e: Expression): String = {
    val subs = scala.collection.mutable.ListBuffer[(String, String)]()
    val replaced = e.transform {
      case l: LambdaFunction =>
        val tok = s"__graft_lambda_${subs.size}__"
        subs += tok -> arrowSql(l)
        Literal(tok)
    }
    subs.foldLeft(replaced.sql) { case (s, (t, a)) =>
      s.replace(s"'$t'", a)
    }
  }

  private def arrowSql(l: LambdaFunction): String = {
    def nameOf(a: Expression): String = a match {
      case v: NamedLambdaVariable => v.name
      case u: UnresolvedNamedLambdaVariable => u.nameParts.mkString(".")
      case o => o.sql
    }
    val names = l.arguments.map(nameOf)
    val body = renderSql(l.function.transform {
      case v: NamedLambdaVariable => UnresolvedAttribute(Seq(v.name))
      case u: UnresolvedNamedLambdaVariable => UnresolvedAttribute(u.nameParts)
    })
    (if (names.length == 1) names.head
     else names.mkString("(", ", ", ")")) + " -> " + body
  }
}
