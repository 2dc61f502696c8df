package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{BooleanType, DataType}
import org.apache.spark.unsafe.types.UTF8String

/** `ip_in_cidr(ipCol, 'cidr')` as a native Catalyst expression with full
  * codegen — the hot filter path of IP/CIDR queries (Q9). The CIDR is a
  * constant parsed once at plan time; per-row evaluation parses the IP
  * string into 16 v4-mapped bytes and compares the prefix, inside the
  * WholeStageCodegen span (a Scala UDF here would break the span and pay
  * serialization per row).
  *
  * Columns carry the expression directly ([[IpFunctions.ipInCidr]]); SQL
  * text reaches it by name once [[graft.GraftExtensions]] (by config) or
  * [[graft.GraftExtensions.register]] put it in the session registry.
  */
case class IpInCidrExpr(child: Expression, cidr: String)
    extends UnaryExpression {

  @transient private lazy val parsed: IpUtil.Cidr =
    IpUtil.parseCidr(IpUtil.expandShorthand(cidr)).orNull

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def prettyName: String = "ip_in_cidr"

  // the CIDR is a field, not a child: render it too, so the SQL text
  // re-parses (`/api/buildquery` returns it)
  override def sql: String = s"$prettyName(${child.sql}, ${Literal(cidr).sql})"

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null || parsed == null) false
    else parsed.contains(IpUtil.toBytes(v.asInstanceOf[UTF8String].toString))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cidrRef = ctx.addReferenceObj("cidr", parsed, classOf[IpUtil.Cidr].getName)
    val childGen = child.genCode(ctx)
    val ipb = ctx.freshName("ipBytes")
    ev.copy(
      code = code"""
        ${childGen.code}
        boolean ${ev.value} = false;
        if (!${childGen.isNull} && $cidrRef != null) {
          byte[] $ipb = graft.functions.IpUtil.toBytes(${childGen.value}.toString());
          ${ev.value} = $ipb != null && $cidrRef.contains($ipb);
        }""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `ip_sortable(ipCol)` — parse a canonical IP string into its fixed-width
  * 16-byte v4-mapped form, whose unsigned byte-wise BinaryType ordering is
  * exactly numeric 128-bit IP order. Range queries (`ip > 9.0.0.1`) compare
  * this form, matching the reference's ES `ip`-type range semantics
  * (numeric, not lexicographic — '9.0.0.1' < '10.0.0.0'). Full codegen so
  * the parse stays inside the WholeStageCodegen span.
  */
case class IpSortableExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "ip_sortable"

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else IpUtil.toBytes(v.asInstanceOf[UTF8String].toString)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
        ${ev.value} = graft.functions.IpUtil.toBytes($c.toString());
        if (${ev.value} == null) { ${ev.isNull} = true; }
      """
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
