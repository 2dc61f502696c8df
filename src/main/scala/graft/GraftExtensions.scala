package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{IpInCidrExpr, IpSortableExpr}

/** Library entry point for `spark.sql.extensions=graft.GraftExtensions`.
  *
  * On a shared cluster, sessions are usually created by the platform
  * (Thrift server, notebook kernel, job launcher) — not by library code —
  * so graft's native expressions must be injectable by config alone. Any
  * session built with the extension gets `ip_in_cidr` / `ip_sortable` in
  * its catalog; `graft.Sessions.builder` sessions can keep using the
  * imperative [[GraftExtensions.register]] path. Columns built by
  * [[graft.functions.IpFunctions]] carry the expressions directly and
  * need neither.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {

  /** The native SQL functions, one table for [[GraftExtensions.apply]]
    * and [[register]]. `graft_expr('<session expression>')` is the whole
    * session expression language as a SQL predicate
    * (`... WHERE graft_expr('http.uri == *login* && country == US')`):
    * its compiled tree's UnresolvedAttributes resolve against the
    * enclosing plan, so it works over any relation with session-schema
    * columns. Relative dates snap against `spark.graft.now` (ISO
    * instant) when set — pin it for deterministic replay — else wall
    * clock.
    */
  private[graft] val functions: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = {
    def fn(name: String, cls: Class[_])(b: FunctionBuilder) =
      (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), b)
    Seq(
      fn("ip_in_cidr", classOf[IpInCidrExpr]) { exprs =>
        require(exprs.length == 2, "ip_in_cidr(ipCol, 'cidr')")
        val cidr = exprs(1) match {
          case Literal(s: UTF8String, _) => s.toString
          case other => throw new IllegalArgumentException(
            s"ip_in_cidr: cidr must be a string literal, got $other")
        }
        IpInCidrExpr(exprs.head, cidr)
      },
      fn("ip_sortable", classOf[IpSortableExpr]) { exprs =>
        require(exprs.length == 1, "ip_sortable(ipCol)")
        IpSortableExpr(exprs.head)
      },
      fn("graft_expr", classOf[GraftExtensions])(graftExprBuilder))
  }

  /** Put [[functions]] in `spark`'s registry. Idempotent and silent: the
    * table's entries are the same instances on every call, so
    * re-registering replaces nothing.
    */
  private[graft] def registerFunctions(spark: org.apache.spark.sql.SparkSession): Unit =
    functions.foreach { case (id, info, b) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, b)
    }

  /** FunctionBuilder for `graft_expr('<session expression>')`. */
  private[graft] def graftExprBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 1, "graft_expr('<session expression>')")
    val q = exprs.head match {
      case Literal(s: UTF8String, _) => s.toString
      case other => throw new IllegalArgumentException(
        s"graft_expr: expression must be a string literal, got $other")
    }
    val now =
      try java.time.Instant.parse(org.apache.spark.sql.internal.SQLConf.get
        .getConfString("spark.graft.now"))
      catch { case _: Exception => java.time.Instant.now() }
    org.apache.spark.sql.graftbridge.ColumnBridge.expression(
      new graft.expr.Compiler(graft.model.FieldRegistry.sessions,
        graft.model.FieldRegistry.sessionCol, now).compile(q))
  }

  /** Imperative twin of the config-only injection, for sessions the
    * library did build itself (Sessions.builder / tests). Also registers
    * the fused pipeline kernels as SQL UDFs so `spark.sql` users get the
    * same per-document one-call hashing the Column API uses:
    * `shingle_hashes(text, k, distinct)` → array<long>,
    * `graft_simhash(text)` → long.
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    registerFunctions(spark)
    spark.udf.register("shingle_hashes",
      (s: String, k: Int, distinct: Boolean) =>
        graft.functions.ShingleHashes.hashes(s, k, distinct))
    spark.udf.register("graft_simhash",
      (s: String) => graft.functions.ShingleHashes.simhash32(s))
  }
}
