package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Column-level IP operations over canonical ip-string columns. CIDR
  * membership and the sortable form are the codegen'd native
  * expressions [[IpInCidrExpr]] / [[IpSortableExpr]], carried by the
  * Column itself — no session or function registry is involved.
  */
object IpFunctions {

  /** String-ip column ∈ CIDR (constant), or exact ip equality when the
    * value has no prefix length.
    */
  def ipInCidr(ipCol: Column, cidr: String): Column = {
    val norm = IpUtil.expandShorthand(cidr)
    if (!norm.contains('/')) {
      // Exact ip equality — compare CANONICAL forms: columns store
      // IpUtil.canonical output, so a non-canonical user spelling
      // (2001:0DB8::1, fully-expanded v6) must be normalized first or
      // it matches zero rows while ES's ip type parses and matches.
      val canon =
        try IpUtil.canonical(IpUtil.toBytes(norm)) catch {
          case _: Exception => norm // unparsable: keep the raw compare
        }
      ipCol === lit(canon)
    } else ColumnBridge.column(IpInCidrExpr(ColumnBridge.expression(ipCol), norm))
  }

  /** String-ip column → fixed-width 16-byte sortable form (v4-mapped),
    * for numeric-order range comparisons.
    */
  def ipSortable(ipCol: Column): Column =
    ColumnBridge.column(IpSortableExpr(ColumnBridge.expression(ipCol)))
}
