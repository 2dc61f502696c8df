package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Notifier, Parliament}
import graft.ops.Parliament.{ClusterHealth, Settings}

/** Parliament-lite: the reference's issue rules (parliament.js
  * issueTypes + getHealth/getStats), alert-once, and the
  * acknowledge/ignore workflow.
  */
class ParliamentSpec extends AnyFunSuite with SparkSpecBase {

  private def statsDf(rows: Seq[(String, String, Long, Long, Long)]) = {
    import spark.implicits._
    rows.toDF("cluster", "nodeName", "currentTime",
      "deltaPacketsPerSec", "deltaESDroppedPerSec")
  }

  test("degraded stats produce exactly the reference issue set; noPackets needs persistence") {
    val dir = Files.createTempDirectory("parliament").toString
    val t0 = 1000000000L * 1000 // ms
    val nowSec = t0 / 1000
    // n1 healthy; n2 stale check-in; n3 dropping ES bulks; n4 low packets
    val stats = statsDf(Seq(
      ("c1", "n1", nowSec - 5, 100L, 0L),
      ("c1", "n2", nowSec - 120, 50L, 0L),
      ("c1", "n3", nowSec - 2, 80L, 7L),
      ("c1", "n4", nowSec - 3, 0L, 0L)))
    val health = Seq(ClusterHealth("c1", "green"),
      ClusterHealth("c2", "red"),
      ClusterHealth("c3", "green", error = "connect ECONNREFUSED"))
    val mem = new Notifier.Memory
    val first = Parliament.processCycle(spark, dir, health, stats, t0,
      notifier = mem)
    // noPackets must persist noPacketsLengthSec before it becomes an issue
    assert(first.map(i => (i.cluster, i.issueType, i.node)).toSet == Set(
      ("c1", "outOfDate", "n2"), ("c1", "esDropped", "n3"),
      ("c2", "esRed", ""), ("c3", "esDown", "")))
    assert(first.find(_.issueType == "esDropped").get.severity == "yellow")
    assert(first.filter(_.issueType != "esDropped")
      .forall(_.severity == "red"))
    assert(first.find(_.issueType == "esDown").get.value ==
      "connect ECONNREFUSED")
    // first notice is PROVISIONAL: no alert yet (parliament.js:502-507)
    assert(first.forall(_.provisional))
    assert(mem.alerts.isEmpty)
    // 11 s later, n4 is still low → promoted; the four re-noticed
    // issues turn persistent and alert exactly once
    val second = Parliament.processCycle(spark, dir, health, stats,
      t0 + 11000, notifier = mem)
    assert(second.map(i => (i.issueType, i.node)).toSet ==
      first.map(i => (i.issueType, i.node)).toSet + (("noPackets", "n4")))
    assert(mem.alerts.size == 4)
    val np = second.find(_.issueType == "noPackets").get
    assert(np.value == "0" && np.severity == "red" && np.provisional)
    // firstNoticed survives re-noticing, lastNoticed advances
    val ood = second.find(_.issueType == "outOfDate").get
    assert(ood.firstNoticedMs == t0 && ood.lastNoticedMs == t0 + 11000)
    assert(!ood.provisional)
    // third cycle: the promoted noPackets re-notices and alerts; the
    // rest are already alerted
    Parliament.processCycle(spark, dir, health, stats, t0 + 12000,
      notifier = mem)
    assert(mem.alerts.size == 5)
    // a blip that never recurs: provisional issues vanish after 10 s —
    // fresh dir, one degraded cycle, then healthy cycles only
    val dir2 = Files.createTempDirectory("parliament-blip").toString
    val mem2 = new Notifier.Memory
    Parliament.processCycle(spark, dir2, Nil, stats, t0, notifier = mem2)
    val afterBlip = Parliament.processCycle(spark, dir2, Nil,
      statsDf(Seq(("c1", "n1", t0 / 1000 + 20 - 1, 100L, 0L))),
      t0 + 20000, notifier = mem2)
    assert(afterBlip.isEmpty && mem2.alerts.isEmpty,
      "a one-cycle blip never alerts and is swept")
  }

  test("acknowledge suppresses and sweeps; resolved issues expire after removeIssuesAfter") {
    val dir = Files.createTempDirectory("parliament2").toString
    val t0 = 2000000000L * 1000
    val nowSec = t0 / 1000
    // stats generated relative to the CYCLE time: "bad" = stale
    // check-in, "good" = just checked in
    def bad(atMs: Long) = statsDf(Seq(("c1", "n1", atMs / 1000 - 120, 100L, 0L)))
    def good(atMs: Long) = statsDf(Seq(("c1", "n1", atMs / 1000 - 1, 100L, 0L)))
    val mem = new Notifier.Memory
    Parliament.processCycle(spark, dir, Nil, bad(t0), t0, notifier = mem)
    assert(mem.alerts.isEmpty) // provisional
    Parliament.processCycle(spark, dir, Nil, bad(t0 + 2000), t0 + 2000,
      notifier = mem)
    assert(mem.alerts.size == 1)
    // acknowledged: silent while the ack is fresh
    Parliament.acknowledge(spark, dir, "c1", "outOfDate", "n1", t0 + 3000)
    val after = Parliament.processCycle(spark, dir, Nil, bad(t0 + 4000),
      t0 + 4000, notifier = mem)
    assert(mem.alerts.size == 1)
    assert(after.head.acknowledgedMs == t0 + 3000)
    // …but a STILL-FIRING issue un-acknowledges after
    // removeAcknowledgedAfter and alerts again (parliament.js:903-906) —
    // an acknowledged outage must not stay silent forever
    val t16 = t0 + 16 * 60000
    val unacked = Parliament.processCycle(spark, dir, Nil, bad(t16), t16,
      notifier = mem)
    assert(unacked.head.acknowledgedMs == -1L)
    Parliament.processCycle(spark, dir, Nil, bad(t16 + 2000), t16 + 2000,
      notifier = mem)
    assert(mem.alerts.size == 2)
    // an acknowledged issue that RESOLVES is swept removeAcknowledgedAfter
    // after it was last seen
    val dirB = Files.createTempDirectory("parliament2b").toString
    val memB = new Notifier.Memory
    Parliament.processCycle(spark, dirB, Nil, bad(t0), t0, notifier = memB)
    Parliament.processCycle(spark, dirB, Nil, bad(t0 + 2000), t0 + 2000,
      notifier = memB)
    Parliament.acknowledge(spark, dirB, "c1", "outOfDate", "n1", t0 + 3000)
    val tB = t0 + 16 * 60000
    val sweptB = Parliament.processCycle(spark, dirB, Nil, good(tB), tB,
      notifier = memB)
    assert(sweptB.isEmpty, "acknowledged + resolved issue swept")
    // resolved (node recovers): issue lingers until removeIssuesAfter
    val t18 = t0 + 18 * 60000
    val lingering = Parliament.processCycle(spark, dir, Nil, good(t18), t18,
      notifier = mem)
    assert(lingering.map(_.issueType) == Seq("outOfDate"))
    val t79 = t18 + 61 * 60000
    val gone = Parliament.processCycle(spark, dir, Nil, good(t79), t79,
      notifier = mem)
    assert(gone.isEmpty, "unresolved-for-60min issue removed")
  }

  test("ignore suppresses until expiry/unignore, both re-arm the alert; remove deletes") {
    val dir = Files.createTempDirectory("parliament3").toString
    val t0 = 3000000000L * 1000
    def bad(atMs: Long) = statsDf(Seq(("c1", "n1", atMs / 1000 - 120, 100L, 0L)))
    val mem = new Notifier.Memory
    Parliament.processCycle(spark, dir, Nil, bad(t0), t0, notifier = mem)
    Parliament.processCycle(spark, dir, Nil, bad(t0 + 1000), t0 + 1000,
      notifier = mem)
    assert(mem.alerts.size == 1)
    val ignored = Parliament.ignore(spark, dir, "c1", "outOfDate", "n1",
      t0 + 1000, forMs = 3600000)
    assert(ignored.head.ignoreUntilMs == t0 + 1000 + 3600000)
    // still ignored: re-noticing neither alerts nor expires the issue
    Parliament.processCycle(spark, dir, Nil, bad(t0 + 2000), t0 + 2000,
      notifier = mem)
    assert(mem.alerts.size == 1)
    // expiry while still firing: the ignore and the alert stamp clear
    // and the persisting issue alerts in the SAME poll ("the ignore has
    // expired, so alert!", parliament.js:484-487)
    val tExp = t0 + 1000 + 3600000 + 1000
    val expired = Parliament.processCycle(spark, dir, Nil, bad(tExp), tExp,
      notifier = mem)
    assert(expired.head.ignoreUntilMs == -1L && expired.head.alertedMs == tExp)
    assert(mem.alerts.size == 2)
    val forever = Parliament.ignore(spark, dir, "c1", "outOfDate", "n1",
      tExp, forMs = -1)
    assert(forever.head.ignoreUntilMs == Long.MaxValue)
    // unignore re-arms the alert (parliament.js:1838-1839)
    val cleared = Parliament.removeIgnore(spark, dir, "c1", "outOfDate", "n1")
    assert(cleared.head.ignoreUntilMs == -1L && cleared.head.alertedMs == -1L)
    assert(Parliament.remove(spark, dir, "c1", "outOfDate", "n1").isEmpty)
    intercept[IllegalArgumentException] {
      Parliament.remove(spark, dir, "c1", "outOfDate", "n1")
    }
  }

  test("cluster rollup: rates summed, live nodes counted like getStats") {
    import spark.implicits._
    val nowSec = 1000L
    val stats = Seq(
      ("c1", "n1", nowSec - 5, 100L, 0L, 1000L, 2L, 1L),
      ("c1", "n2", nowSec - 120, 50L, 0L, 500L, 3L, 0L), // stale: not live
      ("c1", "n3", nowSec - 2, 0L, 0L, 0L, 0L, 1L), // no packets: not live
      ("c2", "n4", nowSec - 1, 9L, 0L, 70L, 1L, 0L))
      .toDF("cluster", "nodeName", "currentTime", "deltaPacketsPerSec",
        "deltaESDroppedPerSec", "deltaBytesPerSec",
        "deltaTotalDroppedPerSec", "monitoring")
    val got = Parliament.clusterRollup(stats, nowSec).orderBy("cluster")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(got.toSeq == Seq(("c1", 1500L, 5L, 1L, 2L), ("c2", 70L, 1L, 1L, 0L)))
  }
}
