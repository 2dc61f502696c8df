package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.SessionBuilder
import graft.model.FieldRegistry
import graft.ops.{Cnt, Endpoints, Skew}
import graft.query.SessionQueryBuilder

class QueryFacadeSpec extends AnyFunSuite with SparkSpecBase {

  private lazy val sessions = SessionBuilder.sessionizeRef(spark,
    "/root/reference/tests/pcap/socks-http-example.pcap").toDF().cache()

  test("builder: time range + expression + forced compose") {
    val q = SessionQueryBuilder(sessions, FieldRegistry.sessions,
      FieldRegistry.sessionCol)
      .timeRange(1386004309000L, 1386004313000L) // first two sessions
      .expression("protocols == socks")
      .forced("node == test")
    assert(q.count() == 2)
    val t = q.table(Seq("srcIp", "srcPort"), Seq(("srcPort", true)), 10)
    assert(t.collect().map(_.getInt(1)).toSeq == Seq(53533, 53534))
    assert(q.unique("dstIp").collect().map(_.getString(0)).toSeq ==
      Seq("10.180.156.249"))
    // forced expression that excludes everything
    val q2 = q.forced("node == nosuchnode")
    assert(q2.count() == 0)
  }

  test("buildquery: the returned SQL reproduces frame; days span the window") {
    val q = SessionQueryBuilder(sessions, FieldRegistry.sessions,
      FieldRegistry.sessionCol)
      .timeRange(1386004309000L, 1386004313000L)
      .expression("protocols == socks")
      .forced("node == test")
    val built = q.buildQuery(fields = Seq("srcIp", "srcPort"))
    // the esquery analogue round-trips: where(expr(sql)) ≡ frame
    assert(sessions.where(expr(built.filterSql)).count() == q.count())
    assert(built.fields == Seq("srcIp", "srcPort"))
    // the indices analogue: UTC day partitions of the bounded window
    assert(built.days == Seq("2013-12-02"))
    val multi = SessionQueryBuilder(sessions, FieldRegistry.sessions,
      FieldRegistry.sessionCol)
      .timeRange(1386004309000L, 1386004309000L + 2 * 86400000L)
    assert(multi.buildQuery().days ==
      Seq("2013-12-02", "2013-12-03", "2013-12-04"))
    // unbounded: no pruning (all partitions), bare expression SQL
    val unb = SessionQueryBuilder(sessions, FieldRegistry.sessions,
      FieldRegistry.sessionCol).expression("protocols == socks")
    val ub = unb.buildQuery()
    assert(ub.days.isEmpty)
    assert(sessions.where(expr(ub.filterSql)).count() == unb.count())
    // no window, no expression: the run-everything predicate
    assert(SessionQueryBuilder(sessions, FieldRegistry.sessions,
      FieldRegistry.sessionCol).buildQuery().filterSql == "true")
  }

  test("builder endpoints resolve derived fields and flatten arrays") {
    val q = SessionQueryBuilder(sessions, FieldRegistry.sessions,
      FieldRegistry.sessionCol)
    // derived dbField: firstPacketSec only exists through the resolver
    // (reviewed: plain functions.col threw AnalysisException here)
    val u = q.unique("firstPacketSec").collect()
    assert(u.nonEmpty)
    val expected = sessions
      .select(floor(col("firstPacket") / 1000).cast("long").as("s"))
      .collect().map(_.getLong(0)).toSet
    assert(u.map(_.getLong(0)).toSet == expected)
    // multivalued field: per-ELEMENT counts (the ES terms-agg shape),
    // never whole-array rows
    val prot = q.unique("protocol").collect()
    assert(prot.forall(r => !r.get(0).isInstanceOf[Seq[_]]))
    assert(prot.map(_.getString(0)).contains("socks"))
    val tt = q.topTerms("protocol", 5).collect()
    assert(tt.map(_.getString(0)).contains("socks"))
    // table: sort by a NON-projected column works (reference sorts on
    // any db field), and an offset past the window errors
    val t = q.table(Seq("srcPort"), Seq(("firstPacket", true)), 3)
    assert(t.columns.toSeq == Seq("srcPort"))
    assert(t.count() == 3)
    intercept[IllegalArgumentException] {
      q.table(Seq("srcIp"), Nil, 10, offset = 2000001)
    }
  }

  test("histogram bucket column follows the bounding mode") {
    val first = sessions.select(min("firstPacket")).head.getLong(0)
    val q = SessionQueryBuilder(sessions, FieldRegistry.sessions,
      FieldRegistry.sessionCol)
      .timeRange(first, first + 1500, Endpoints.Bounding.First)
    // First bounding: buckets come from firstPacket, so every bucket
    // lies inside the window even when lastPacket is after it
    val h = q.timeHistogram(1).collect()
    assert(h.nonEmpty)
    val ts = h.map(_.getTimestamp(0).getTime)
    assert(ts.forall(t => t >= first - 1000 && t <= first + 2500),
      s"bucket outside First-bounded window: ${ts.toSeq}")
  }

  test("histogram without an interval takes the reference's auto interval") {
    assert(Endpoints.autoInterval(0, 30 * 60 - 1) == 1)
    assert(Endpoints.autoInterval(0, 30 * 60) == 60)
    assert(Endpoints.autoInterval(0, 5L * 86400) == 60)
    assert(Endpoints.autoInterval(0, 5L * 86400 + 1) == 3600)
    val s = spark
    import s.implicits._
    val t0 = 1700000000000L
    val frame = Seq(t0, t0 + 1500, t0 + 90000).map(t => (t, t))
      .toDF("firstPacket", "lastPacket")
    def buckets(window: Option[Long]): Long = {
      val q = SessionQueryBuilder(frame, FieldRegistry.sessions)
      window.fold(q)(w => q.timeRange(t0 - 1000, t0 - 1000 + w))
        .timeHistogram().count()
    }
    assert(buckets(Some(600000L)) == 3)         // 1 s buckets
    assert(buckets(Some(86400000L)) == 2)       // 60 s buckets
    assert(buckets(Some(10 * 86400000L)) == 1)  // 1 h buckets
    assert(buckets(None) == 1)                  // unbounded: 1 h
  }

  test("empty list and bad ip-range values raise parse errors, not crashes") {
    import graft.expr.Compiler
    val c = new Compiler(FieldRegistry.sessions, FieldRegistry.sessionCol,
      SparkEntry.now)
    intercept[IllegalArgumentException] { c.compile("tags == []") }
    intercept[IllegalArgumentException] { c.compile("port == []") }
    intercept[IllegalArgumentException] { c.compile("ip.src > garbage") }
    intercept[IllegalArgumentException] { c.compile("ip.src > 1.2.3.4:80") }
    // the plain forms still compile
    assert(sessions.filter(c.compile("ip.src > 1.2.3.3")).count() > 0)
  }

  test("connections minConn counts distinct directed links per node") {
    import spark.implicits._
    // A→B and B→A: each node touches TWO directed links (reference
    // doProcess bumps both endpoints once per new src->dst key)
    val df = Seq(("A", "B"), ("B", "A"), ("C", "D"))
      .toDF("s", "d")
    val kept = Endpoints.connectionsLinks(df, col("s"), col("d"),
      minConn = 2).collect()
    assert(kept.map(r => (r.getAs[String]("src"), r.getAs[String]("dst")))
      .toSet == Set(("A", "B"), ("B", "A")),
      "A and B have 2 directed links each; C/D have 1 and drop")
  }

  test("host meta-field fans out across protocol hostname columns") {
    import graft.expr.Compiler
    // three pcaps whose hostnames land in different columns:
    // http.host (socks), quic host, dns qname
    val multi = Seq("socks-http-example", "quic34", "dns-mx")
      .map(n => SessionBuilder.sessionizeRef(spark,
        s"/root/reference/tests/pcap/$n.pcap").toDF())
      .reduce(_ unionByName _)
      .cache()
    val c = new Compiler(FieldRegistry.sessions, FieldRegistry.sessionCol,
      SparkEntry.now)
    def n(e: String) = multi.filter(c.compile(e)).count()
    assert(n("host == www.example.com") == 3) // http.host via SOCKS
    assert(n("host == ssl.gstatic.com") == 1) // quic host
    assert(n("host == mx.com") >= 1)          // dns qname
    assert(n("host == *.gstatic.com") == 1)   // wildcard through fan-out
    // must_not semantics: sessions with NO hostname at all also match !=
    val total = multi.count()
    assert(n("host != www.example.com") == total - 3)
    multi.unpersist()
  }

  test("fileand rewrites filename to (node, fileId) terms") {
    import graft.expr.Compiler
    val path = sessions.select(explode(col("fileId"))).head.getString(0)
    val filesDim = Seq(
      graft.model.FileEntry("socks-http-example.pcap", "test", path),
      graft.model.FileEntry("absent.pcap", "test", "/no/such.pcap"),
      graft.model.FileEntry("socks-http-example.pcap", "node2", "/other/copy.pcap"))
    val c = new Compiler(FieldRegistry.sessions, FieldRegistry.sessionCol,
      SparkEntry.now, files = filesDim)
    // exact name resolves to OR over both (node, fileId) rows; only the
    // node=test one matches these sessions
    assert(sessions.filter(c.compile("file == socks-http-example.pcap")).count() == 3)
    // wildcard filename matching, as fileNameToFiles' wildcard query
    assert(sessions.filter(c.compile("file == socks*.pcap")).count() == 3)
    assert(sessions.filter(c.compile("file == absent.pcap")).count() == 0)
    assert(sessions.filter(c.compile("file != socks-http-example.pcap")).count() == 0)
    // unknown filename is an error, like the reference's "File not found"
    intercept[IllegalArgumentException] {
      c.compile("file == never-captured.pcap")
    }
  }

  test("unique pair mode emits ip:port keys") {
    val pairs = Endpoints.uniquePairs(sessions, col("dstIp"), col("dstPort"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(pairs.map(_._2).sum == 3)
    assert(pairs.forall(_._1.matches("""10\.180\.156\.249:\d+""")))
  }

  test("salted count equals plain groupBy count") {
    val ev = Tables.load(spark, sf, "events")
    val plain = ev.groupBy(col("user_id").as("key")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val salted = Skew.saltedCount(ev, col("user_id"), salts = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(salted == plain)
  }

  test("cnt companions and cardinality") {
    val withCnt = Cnt.withCntColumns(sessions, Seq("protocol", "srcMac"))
    val r = withCnt.select("protocolCnt", "srcMacCnt").head
    assert(r.getInt(0) == 3 && r.getInt(1) == 1)
    val ev = Tables.load(spark, sf, "events")
    val exact = Cnt.cardinality(ev, Seq("user_id")).head.getLong(0)
    val approx = Cnt.approxCardinality(ev, Seq("user_id")).head.getLong(0)
    assert(exact == 15)
    assert(math.abs(approx - exact) <= 2) // hll within tolerance
  }

  test("policy guards: user time limit") {
    val base = SessionQueryBuilder(sessions, FieldRegistry.sessions,
      FieldRegistry.sessionCol)
    // 2h window under a 4h limit: fine
    base.timeRange(1386000000000L, 1386000000000L + 2 * 3600000L)
      .timeLimit(4).count()
    // 6h window over a 4h limit: refused
    val over = intercept[IllegalArgumentException] {
      base.timeRange(1386000000000L, 1386000000000L + 6 * 3600000L)
        .timeLimit(4).count()
    }
    assert(over.getMessage.contains("time limit (4 hours) exceeded"))
    // unbounded query with a limit set: refused (reference date=-1 case)
    intercept[IllegalArgumentException] { base.timeLimit(4).count() }
    // unbounded without a limit: allowed
    assert(base.count() > 0)
  }

  test("policy guards: page cap and spiview day narrowing") {
    val q = SessionQueryBuilder(sessions, FieldRegistry.sessions,
      FieldRegistry.sessionCol)
    // a limit beyond the cap is silently capped, not an error
    assert(q.table(Seq("srcIp"), Seq(("srcIp", true)),
      SessionQueryBuilder.PageCap + 5).count() <= SessionQueryBuilder.PageCap)
    // spiview refuses an unbounded range
    val err = intercept[IllegalArgumentException] { q.spiview("srcIp", 10) }
    assert(err.getMessage.contains("'All' date range"))
    // wide window narrows to the most recent N days: the capture is a
    // single day, so narrowing to a window AFTER it yields nothing
    val stop = 1386004313000L + 10L * 86400000L
    val narrowed = q.timeRange(1386000000000L, stop).spiview("srcIp", 10,
      spiDataMaxDays = 2)
    assert(narrowed.collect().isEmpty)
    // same wide window with the policy disabled sees the data
    assert(q.timeRange(1386000000000L, stop)
      .spiview("srcIp", 10, spiDataMaxDays = -1).collect().nonEmpty)
  }

  test("E11 csv export round-trips an endpoint result") {
    val out = java.nio.file.Files.createTempDirectory("graft-csv").toString
    val q = SessionQueryBuilder(sessions, FieldRegistry.sessions,
      FieldRegistry.sessionCol)
    val table = q.table(Seq("srcIp", "srcPort", "dstIp"),
      Seq(("srcPort", true)), 5)
    Endpoints.writeCsv(table, out)
    val back = spark.read.option("header", "true").csv(out)
    assert(back.columns.toSeq == Seq("srcIp", "srcPort", "dstIp"))
    assert(back.count() == table.count())
  }

  test("E17 history entries accumulate as an append-only audit log") {
    val out = java.nio.file.Files.createTempDirectory("graft-hist").toString
    Endpoints.recordHistory(spark, out, "alice", "/api/sessions",
      "http.method == GET", 12L, nowSec = 1700000000L)
    Endpoints.recordHistory(spark, out, "bob", "/api/spiview",
      "port == 443", 7L, nowSec = 1700000001L)
    val (rows, total) = graft.query.History.list(spark, out,
      userId = "admin", isAdmin = true)
    assert(total == 2)
    assert(rows.filter(col("userId") === "alice").count() == 1)
  }

  test("cancellation: job-group cancel interrupts a running query") {
    import graft.query.QueryControl
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val qid = "facade-cancel-test"
    val slow = Future {
      intercept[org.apache.spark.SparkException] {
        QueryControl.run(spark, qid, "slow cartesian", user = "alice") {
          // unbounded-ish work: ~10^10 row cartesian count
          spark.range(100000).toDF("a")
            .crossJoin(spark.range(100000).toDF("b"))
            .selectExpr("sum(a * b)").collect()
        }
      }
    }
    Thread.sleep(1500) // let stages launch
    // E47 estasks analogue: the running query is listed with its
    // action/user and live progress, and regex filtering works like the
    // reference's ?filter=
    val listed = QueryControl.tasks(spark)
    val mine = listed.filter(_.taskId == qid)
    assert(mine.length == 1, s"running query must be listed: $listed")
    assert(mine.head.action == "slow cartesian" && mine.head.user == "alice")
    assert(mine.head.runningMs >= 1000 && mine.head.cancellable)
    assert(QueryControl.tasks(spark, filter = Some("cartes")).nonEmpty)
    assert(QueryControl.tasks(spark, filter = Some("nomatch-xyz"))
      .forall(_.taskId != qid))
    QueryControl.cancel(spark, qid)
    val ex = Await.result(slow, 60.seconds)
    assert(ex.getMessage.toLowerCase.contains("cancel"))
    // the finished query drops out of the registry
    assert(QueryControl.tasks(spark).forall(_.taskId != qid))
  }

  test("QueryControl tags jobs with the query id and leaves the caller's group and tags") {
    import graft.query.QueryControl
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.{Seconds, Span}
    val sc = spark.sparkContext
    val st = sc.statusTracker
    def job(): Long = sc.parallelize(1 to 10, 2).count()
    sc.setJobGroup("qc-caller-group", "caller")
    sc.addJobTag("qc-caller-tag")
    try {
      QueryControl.run(spark, "qc-outer", "outer") {
        job()
        QueryControl.run(spark, "qc-inner", "inner")(job())
        assert(sc.getJobTags().contains("qc-outer"),
          "a nested run must leave the outer run's tag set")
        job()
      }
      assert(sc.getLocalProperty("spark.jobGroup.id") == "qc-caller-group")
      assert(sc.getLocalProperty("spark.job.description") == "caller")
      assert(sc.getJobTags() == Set("qc-caller-tag"))
      // an id Spark rejects as a tag throws before the body or registry
      var ran = false
      intercept[IllegalArgumentException](
        QueryControl.run(spark, "qc,bad", "bad") { ran = true })
      assert(!ran && QueryControl.tasks(spark).forall(_.taskId != "qc,bad"))
      assert(sc.getJobTags() == Set("qc-caller-tag"))
      // the status store fills from the listener bus, asynchronously
      eventually(timeout(Span(20, Seconds))) {
        val outer = st.getJobIdsForTag("qc-outer").toSet
        val inner = st.getJobIdsForTag("qc-inner").toSet
        assert(outer.size == 3 && inner.size == 1 && inner.subsetOf(outer))
        assert(outer.subsetOf(st.getJobIdsForTag("qc-caller-tag").toSet))
        assert(outer.subsetOf(st.getJobIdsForGroup("qc-caller-group").toSet))
      }
    } finally {
      sc.clearJobGroup()
      sc.removeJobTag("qc-caller-tag")
    }
  }
}
