package graft.ops

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** Parliament-lite — the multi-cluster health monitor's issue engine
  * (reference: parliament/parliament.js). The reference polls each
  * cluster's ES health and `parliament.json` capture stats, derives a
  * fixed set of issues (parliament.js:30-36 issueTypes; getHealth /
  * getStats rules at parliament.js:540-690), dedupes them per
  * (cluster, type, node) with first/last-noticed stamps, alerts each
  * once through the notifier set, and exposes an acknowledge / ignore /
  * remove workflow with timed cleanup (settingsDefault:
  * removeIssuesAfter / removeAcknowledgedAfter).
  *
  * Spark-first mapping: the per-node stats snapshot is a DataFrame (the
  * E16 node-stats shape), the instant rules are one filter+union plan
  * over it ([[instantIssues]], SQL-parity for the oracle), and the issue
  * registry is a tiny whole-rewrite parquet config table (the Shortcuts
  * pattern — issues number in the dozens, never corpus-scale). The
  * stateful pieces — the noPackets persistence window (parliament.js
  * noPacketsMap), alert-once, ack/ignore — live in [[processCycle]].
  */
object Parliament {

  /** settingsDefault.general (parliament.js:39-47). */
  final case class Settings(
      noPackets: Long = 0L, // deltaPacketsPerSec <= this is "low"
      noPacketsLengthSec: Long = 10L, // must persist this long
      outOfDateSec: Long = 30L, // node check-in staleness
      removeIssuesAfterMin: Long = 60L, // since lastNoticed
      removeAcknowledgedAfterMin: Long = 15L) // since acknowledged

  /** issueTypes (parliament.js:30-36): type → (title, severity, text). */
  val issueTypes: Map[String, (String, String, String)] = Map(
    "esRed" -> (("ES Red", "red", "ES is red")),
    "esDown" -> (("ES Down", "red", "ES is down")),
    "esDropped" -> (("ES Dropped", "yellow", "ES is dropping bulk inserts")),
    "outOfDate" -> (("Out of Date", "red", "has not checked in since")),
    "noPackets" -> (("Low Packets", "red", "is not receiving many packets")))

  /** One cluster's health poll result: `status` green/yellow/red, or
    * `error` non-empty when the cluster was unreachable (→ esDown).
    */
  final case class ClusterHealth(cluster: String, status: String,
      error: String = "")

  final case class Issue(
      cluster: String, issueType: String, node: String,
      title: String, severity: String, value: String,
      firstNoticedMs: Long, lastNoticedMs: Long,
      acknowledgedMs: Long = -1L, ignoreUntilMs: Long = -1L,
      alertedMs: Long = -1L,
      // first-notice issues are provisional (parliament.js:469): they
      // alert only when re-noticed, and vanish if not seen again within
      // 10 s — so a one-cycle blip never pages anyone
      provisional: Boolean = true)

  /** noPacketsMap analogue: when a node was first seen low. */
  final case class NoPacketsMark(cluster: String, node: String, sinceMs: Long)

  /** The INSTANT issue rules over one stats snapshot, as one plan —
    * outOfDate (getStats: now - currentTime > outOfDate), esDropped
    * (deltaESDroppedPerSec > 0) and the noPackets CANDIDATE
    * (deltaPacketsPerSec <= noPackets; promotion to an issue needs the
    * persistence window, which is [[processCycle]] state). Expected
    * stats columns: cluster, nodeName, currentTime (epoch s),
    * deltaPacketsPerSec, deltaESDroppedPerSec.
    */
  def instantIssues(stats: DataFrame, nowSec: Long,
      settings: Settings = Settings()): DataFrame = {
    val ood = stats
      .filter(lit(nowSec) - col("currentTime") > settings.outOfDateSec)
      .select(col("cluster"), col("nodeName").as("node"),
        lit("outOfDate").as("issue_type"), lit("red").as("severity"),
        (col("currentTime") * 1000).cast("string").as("value_s"))
    val dropped = stats.filter(col("deltaESDroppedPerSec") > 0)
      .select(col("cluster"), col("nodeName").as("node"),
        lit("esDropped").as("issue_type"), lit("yellow").as("severity"),
        col("deltaESDroppedPerSec").cast("string").as("value_s"))
    val low = stats
      .filter(col("deltaPacketsPerSec") <= settings.noPackets)
      .select(col("cluster"), col("nodeName").as("node"),
        lit("noPackets").as("issue_type"), lit("red").as("severity"),
        col("deltaPacketsPerSec").cast("string").as("value_s"))
    ood.unionByName(dropped).unionByName(low)
  }

  /** The per-cluster rollup getStats computes alongside the issues:
    * summed byte/dropped rates, nodes considered live (checked in
    * within outOfDate AND receiving packets), monitoring total.
    * Expected extra columns: deltaBytesPerSec, deltaTotalDroppedPerSec,
    * monitoring.
    */
  def clusterRollup(stats: DataFrame, nowSec: Long,
      settings: Settings = Settings()): DataFrame =
    stats.groupBy("cluster").agg(
      sum("deltaBytesPerSec").as("deltaBPS"),
      sum("deltaTotalDroppedPerSec").as("deltaTDPS"),
      sum(when(lit(nowSec) - col("currentTime") <= settings.outOfDateSec &&
        col("deltaPacketsPerSec") > 0, 1L).otherwise(0L)).as("liveNodes"),
      sum("monitoring").as("monitoring"))

  // ---- tiny persisted issue registry (whole-rewrite parquet) ----------

  private def issuesPath(dir: String) = s"$dir/issues"
  private def marksPath(dir: String) = s"$dir/nopackets"

  def readIssues(spark: SparkSession, dir: String): Seq[Issue] =
    graft.model.TinyTable.read[Issue](spark, issuesPath(dir))(
      Encoders.product[Issue])

  private def readMarks(spark: SparkSession, dir: String): Seq[NoPacketsMark] =
    graft.model.TinyTable.read[NoPacketsMark](spark, marksPath(dir))(
      Encoders.product[NoPacketsMark])

  private def writeTable[T <: Product: org.apache.spark.sql.Encoder](
      spark: SparkSession, path: String, rows: Seq[T]): Unit =
    graft.model.TinyTable.write(spark, path, rows, "parliament")

  /** One monitoring cycle (the reference's updateParliament interval):
    * evaluate rules over health + stats, upsert into the registry
    * (dedupe key (cluster, type, node): firstNoticed and the ack /
    * ignore / alerted stamps survive re-noticing), expire stale and
    * long-acknowledged issues, then alert exactly once per live issue —
    * acknowledged or ignored issues never re-alert (parliament.js:
    * 462-506 setIssue + issueAlert). Returns the registry after the
    * cycle, sorted.
    */
  def processCycle(spark: SparkSession, dir: String,
      health: Seq[ClusterHealth], stats: DataFrame, nowMs: Long,
      settings: Settings = Settings(),
      notifier: Notifier = Notifier.Log): Seq[Issue] = {
    val nowSec = nowMs / 1000
    val healthCands: Seq[(String, String, String, String)] =
      health.flatMap { h =>
        val red =
          if (h.error.isEmpty && h.status == "red")
            Seq((h.cluster, "esRed", "", h.status)) else Nil
        val down =
          if (h.error.nonEmpty) Seq((h.cluster, "esDown", "", h.error))
          else Nil
        red ++ down
      }
    // issue order decides the notifier's alert order
    val instant = instantIssues(stats, nowSec, settings)
      .orderBy("cluster", "issue_type", "node").collect()
      .map(r => (r.getString(0), r.getString(2), r.getString(1),
        r.getString(4))).toSeq
    // noPackets persistence: candidates must stay low for
    // noPacketsLengthSec before they become issues (noPacketsMap,
    // parliament.js:650-668); recovered nodes drop their mark
    val lowNow = instant.filter(_._2 == "noPackets")
      .map(t => (t._1, t._3) -> t._4).toMap
    val prevMarks = readMarks(spark, dir)
      .map(m => (m.cluster, m.node) -> m.sinceMs).toMap
    val marks = lowNow.keys.map { k =>
      NoPacketsMark(k._1, k._2, prevMarks.getOrElse(k, nowMs))
    }.toSeq
    val promoted = marks.filter(m =>
      nowMs - m.sinceMs >= settings.noPacketsLengthSec * 1000)
      .map(m => (m.cluster, "noPackets", m.node, lowNow((m.cluster, m.node))))
    val cands = healthCands ++
      instant.filterNot(_._2 == "noPackets") ++ promoted

    val prev = readIssues(spark, dir)
      .map(i => (i.cluster, i.issueType, i.node) -> i).toMap
    // setIssue (parliament.js:460-507): an EXISTING issue re-noticed is
    // persistent (provisional off); an expired ignore clears both the
    // ignore and the alert stamp so it alerts again; a NEW issue is
    // provisional and does NOT alert on first notice.
    val upserted = cands.map { case (cluster, tpe, node, value) =>
      val (title, severity, _) = issueTypes(tpe)
      prev.get((cluster, tpe, node)) match {
        case Some(old0) =>
          var old = old0.copy(value = value, lastNoticedMs = nowMs,
            provisional = false)
          if (old.ignoreUntilMs != -1L && old.ignoreUntilMs != Long.MaxValue
            && nowMs > old.ignoreUntilMs)
            old = old.copy(ignoreUntilMs = -1L, alertedMs = -1L)
          old
        case None => Issue(cluster, tpe, node, title, severity, value,
          firstNoticedMs = nowMs, lastNoticedMs = nowMs)
      }
    }
    val candKeys = cands.map(c => (c._1, c._2, c._3)).toSet
    val prevKeys = prev.keySet
    // alert pass BEFORE cleanup, like setIssue firing inside the poll:
    // only re-noticed persistent issues alert, each exactly once while
    // un-acknowledged and un-ignored
    val alerted = upserted.map { i =>
      val reNoticed = prevKeys((i.cluster, i.issueType, i.node))
      if (reNoticed && i.alertedMs < 0 && i.acknowledgedMs < 0 &&
        i.ignoreUntilMs == -1L) {
        val text = issueTypes(i.issueType)._3
        notifier.notify(s"${i.cluster} ${i.issueType}",
          s"${i.cluster}${if (i.node.nonEmpty) " " + i.node else ""} " +
            s"$text (${i.value})")
        i.copy(alertedMs = nowMs)
      } else i
    }
    val kept = prev.values.toSeq
      .filterNot(i => candKeys((i.cluster, i.issueType, i.node)))
    // cleanUpIssues (parliament.js:877-907), ignored issues exempt:
    // drop un-re-seen provisionals after 10 s, drop unacknowledged
    // issues unseen for removeIssuesAfter and acknowledged ones unseen
    // for removeAcknowledgedAfter, and UN-acknowledge (and re-arm the
    // alert of) a still-persisting issue acknowledged longer than
    // removeAcknowledgedAfter ago — an acknowledged outage must not
    // stay silent forever.
    val merged = (alerted ++ kept).flatMap { i =>
      val ignored = i.ignoreUntilMs != -1L
      val sinceLast = nowMs - i.lastNoticedMs
      if (ignored) Some(i)
      else if (i.provisional && sinceLast >= 10000L) None
      else if (i.acknowledgedMs < 0 &&
        sinceLast > settings.removeIssuesAfterMin * 60000) None
      else if (i.acknowledgedMs >= 0 &&
        sinceLast > settings.removeAcknowledgedAfterMin * 60000) None
      else if (i.acknowledgedMs >= 0 &&
        nowMs - i.acknowledgedMs > settings.removeAcknowledgedAfterMin * 60000)
        Some(i.copy(alertedMs = -1L, acknowledgedMs = -1L))
      else Some(i)
    }.sortBy(i => (i.cluster, i.issueType, i.node))
    writeTable(spark, issuesPath(dir), merged)(Encoders.product[Issue])
    writeTable(spark, marksPath(dir), marks)(Encoders.product[NoPacketsMark])
    merged
  }

  private def mutate(spark: SparkSession, dir: String,
      cluster: String, issueType: String, node: String)(
      f: Issue => Option[Issue]): Seq[Issue] = {
    val all = readIssues(spark, dir)
    require(all.exists(i => i.cluster == cluster &&
      i.issueType == issueType && i.node == node),
      s"no issue $cluster/$issueType/$node")
    val next = all.flatMap { i =>
      if (i.cluster == cluster && i.issueType == issueType && i.node == node)
        f(i)
      else Some(i)
    }
    writeTable(spark, issuesPath(dir), next)(Encoders.product[Issue])
    next
  }

  /** PUT …/acknowledgeIssues: stamp; the issue stops alerting and is
    * swept removeAcknowledgedAfter minutes later.
    */
  def acknowledge(spark: SparkSession, dir: String, cluster: String,
      issueType: String, node: String, nowMs: Long): Seq[Issue] =
    mutate(spark, dir, cluster, issueType, node)(i =>
      Some(i.copy(acknowledgedMs = nowMs)))

  /** PUT …/ignoreIssues: suppress alerts until the given time
    * (forMs < 0 = forever, like the reference's -1).
    */
  def ignore(spark: SparkSession, dir: String, cluster: String,
      issueType: String, node: String, nowMs: Long,
      forMs: Long): Seq[Issue] =
    mutate(spark, dir, cluster, issueType, node)(i =>
      Some(i.copy(ignoreUntilMs =
        if (forMs < 0) Long.MaxValue else nowMs + forMs)))

  /** PUT …/removeIgnoreIssues — also re-arms the alert
    * (parliament.js:1838-1839 "reset alert time so it can alert again").
    */
  def removeIgnore(spark: SparkSession, dir: String, cluster: String,
      issueType: String, node: String): Seq[Issue] =
    mutate(spark, dir, cluster, issueType, node)(i =>
      Some(i.copy(ignoreUntilMs = -1L, alertedMs = -1L)))

  /** DELETE …/issues: drop one issue outright. */
  def remove(spark: SparkSession, dir: String, cluster: String,
      issueType: String, node: String): Seq[Issue] =
    mutate(spark, dir, cluster, issueType, node)(_ => None)
}
