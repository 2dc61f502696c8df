package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.{Decode, SessionBuilder}
import graft.functions.IpFunctions
import graft.model.FieldRegistry
import graft.query.SessionQueryBuilder

/** IP/CIDR Columns over an in-repo session-schema frame: the native
  * expressions ride the Column itself (no registry entry, no ScalaUDF),
  * and `/api/buildquery`'s SQL text re-parses with CIDR and ip-range
  * terms in it.
  */
class CidrColumnSpec extends AnyFunSuite with SparkSpecBase {

  private val dsts = Seq("10.1.2.3", "10.0.9.9", "11.0.0.1", "9.0.0.1",
    "2001:db8::5", "2001:db9::1", "::1")

  /** One single-packet UDP session per destination in [[dsts]]. */
  private def sessionsIn(s: SparkSession): DataFrame = {
    import s.implicits._
    dsts.zipWithIndex.flatMap { case (dst, i) =>
      val ts = 1700000000000000L + i * 1000000L
      val src = if (dst.contains(':')) "2001:db8::100" else "192.168.1.1"
      val p = Decode.DecodedPacket("s", i, ts, i * 100L, 70, 54,
        "aa:aa:aa:aa:aa:01", "ff:ff:ff:ff:ff:ff", 17, src, dst, 5000 + i, 53,
        0, 0, 0L, 0L, Array.emptyByteArray, prevTsMicros = ts, l4Offset = 42)
      SessionBuilder.buildSessions(SessionBuilder.sessionKey(p), Iterator(p),
        "test")
    }.toDS().toDF()
  }

  private lazy val sessions = sessionsIn(spark).cache()

  private def dstsOf(df: DataFrame): Set[String] =
    df.select("dstIp").collect().map(_.getString(0)).toSet

  test("buildquery SQL re-parses and matches frame for CIDR and ip-range terms") {
    val want = Map(
      "ip.dst == 10.0.0.0/8" -> Set("10.1.2.3", "10.0.9.9"),
      "ip.dst == 10.0" -> Set("10.0.9.9"),
      "ip.dst == 2001:db8::/32" -> Set("2001:db8::5"),
      "ip.dst > 9.0.0.1" ->
        Set("10.1.2.3", "10.0.9.9", "11.0.0.1", "2001:db8::5", "2001:db9::1"))
    for ((e, hits) <- want) {
      val q = SessionQueryBuilder(sessions, FieldRegistry.sessions,
        FieldRegistry.sessionCol).expression(e)
      val filterSql = q.buildQuery().filterSql
      assert(dstsOf(q.frame) == hits, e)
      assert(sessions.where(expr(filterSql)).count() == q.frame.count(),
        s"$e -> $filterSql")
    }
  }

  test("native ip_in_cidr on a local frame: v4, v6, shorthand, exact ip; no ScalaUDF") {
    // a fresh session: the Columns must not need (or add) registry entries
    val s = spark.newSession()
    val id = FunctionIdentifier("ip_in_cidr")
    assert(!s.sessionState.functionRegistry.functionExists(id))
    val df = sessionsIn(s)
    def hits(cidr: String) = dstsOf(df.filter(IpFunctions.ipInCidr(col("dstIp"), cidr)))
    assert(hits("10.0.0.0/8") == Set("10.1.2.3", "10.0.9.9"))
    assert(hits("10.2.0.0/16").isEmpty)
    assert(hits("2001:db8::/32") == Set("2001:db8::5"))
    assert(hits("10.1") == Set("10.1.2.3")) // shorthand: 10.1.0.0/16
    assert(hits("10.0.9.9") == Set("10.0.9.9")) // exact ip
    assert(hits("2001:0DB8::5") == Set("2001:db8::5")) // exact, canonicalized
    // inside a higher-order lambda (the multi-valued field path)
    val arrays = df.select(array(col("dstIp")).as("ips"))
      .filter(exists(col("ips"), e => IpFunctions.ipInCidr(e, "10.0.0.0/8")))
    assert(arrays.count() == 2)
    // the plans carry the native expressions, not a ScalaUDF (local
    // relations fold eagerly, so inspect the analyzed plans)
    val plans = Seq(
      df.filter(IpFunctions.ipInCidr(col("dstIp"), "10.0.0.0/8")),
      df.filter(IpFunctions.ipSortable(col("dstIp")) > lit(Array.fill[Byte](16)(0))),
      arrays).map(_.queryExecution.analyzed.toString)
    assert(plans(0).contains("ip_in_cidr") && plans(2).contains("ip_in_cidr"))
    assert(plans(1).contains("ip_sortable"))
    assert(plans.forall(!_.toLowerCase.contains("scalaudf")))
    assert(!s.sessionState.functionRegistry.functionExists(id))
  }
}
