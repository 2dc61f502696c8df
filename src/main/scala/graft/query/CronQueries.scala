package graft.query

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.etl.SessionStore
import graft.expr.Compiler
import graft.model.FieldRegistry
import graft.ops.{CacheHooks, Forward, Notifier, Tagging}

/** Periodic saved-search processing — the viewer's cron queries
  * (reference: viewer/viewer.js:2199-2430 processCronQuery /
  * internals.processCronQueries): each enabled query owns a
  * last-processed watermark (`lpValue`, epoch seconds) and is advanced
  * toward "now" in bounded time windows (≤ 24h per step in the
  * reference); sessions that arrived in the window and match the query's
  * expression receive the query's action:
  *  - `tag` (default): the query's tags are unioned into the matched
  *    sessions (viewer.js:2334-2346);
  *  - `forward:<cluster>`: the matched sessions — SPI and pcap — are
  *    copied to the named cluster via the send-session machinery
  *    (viewer.js:2258-2264 → sendSessionsListQL).
  * A query with a notifier set issues an alert when its hit count grows,
  * throttled to one alert per 10 minutes (viewer.js:2424-2440).
  *
  * Scale: each step reads only the window's day partitions
  * ([[SessionStore.readRange]] prunes on the partition key) and the
  * tag write-back rewrites only the matched days
  * ([[Tagging.applyToStore]]) — a cron pass over a 100 TB store touches
  * the new data, not the store. Forwarded batches stream only the
  * matched sessions' packet slices ([[Forward.sendSessions]]).
  */
object CronQueries {

  final case class CronQuery(
      name: String,
      expression: String,
      tags: Seq[String],
      enabled: Boolean = true,
      lpValue: Long = 0L,
      count: Long = 0L,
      action: String = "tag",
      creator: String = "",
      notifier: Option[String] = None,
      lastNotified: Long = 0L,
      lastNotifiedCount: Long = 0L)

  /** One scheduler pass at `nowSec`. Returns the advanced query states;
    * tags / forwarded copies land as side effects. Re-running a window
    * is idempotent: tag sets merge, and a forward replays under the
    * same deterministic saveId (same pcap file overwritten; the
    * reference likewise re-indexes on re-receive).
    *
    * `notifiers` maps a [[CronQuery.notifier]] name to a provider;
    * `clusters` maps a `forward:<name>` target to a destination;
    * `shortcutsPath` resolves each creator's `$name` shortcuts at parse
    * time, as the reference fetches `getShortcutsCache(cq.creator)`
    * (viewer.js:2356-2369).
    */
  def processOnce(
      spark: SparkSession, path: String,
      queries: Seq[CronQuery], nowSec: Long,
      chunkSecs: Long = 86400L,
      notifiers: Map[String, Notifier] = Map.empty,
      clusters: Map[String, Forward.Cluster] = Map.empty,
      shortcutsPath: Option[String] = None,
      forwardBatch: Long = 1000L): Seq[CronQuery] =
    queries.map { cq =>
      if (!cq.enabled || nowSec <= cq.lpValue) cq
      else {
        val shortcuts = shortcutsPath
          .map(p => Shortcuts.forUser(spark, p, cq.creator))
          .getOrElse(Map.empty[String, Seq[String]])
        val pred = new Compiler(FieldRegistry.sessions,
          FieldRegistry.sessionCol,
          java.time.Instant.ofEpochSecond(nowSec),
          shortcuts = shortcuts).compile(cq.expression)
        val forwardTo = if (cq.action.startsWith("forward:"))
          Some(clusters.getOrElse(cq.action.substring(8),
            throw new IllegalArgumentException(
              s"unknown forward cluster in action ${cq.action}")))
        else None
        var lp = cq.lpValue
        var total = 0L
        while (lp < nowSec) {
          val end = math.min(nowSec, lp + chunkSecs)
          val window =
            col("firstPacket") >= lp * 1000L && col("firstPacket") < end * 1000L
          val matched = SessionStore.readRange(spark, path, lp * 1000L, end * 1000L)
            .filter(window && pred)
          forwardTo match {
            case Some(dest) =>
              import spark.implicits._
              // materialize the window's matches once: the count and
              // every per-batch hash filter below would otherwise each
              // re-scan the window's day partitions and re-run the
              // compiled predicate
              val rows = CacheHooks.materialize(matched.drop("day")
                .as[graft.etl.SessionBuilder.SessionRow])
              try {
                val n = rows.count()
                if (n > 0) {
                  // bounded batches, like the reference's size-1000 scroll
                  // pages (viewer.js:2378): each send's offset map and
                  // destination file stay batch-sized however many
                  // sessions a window matches; the split is a
                  // deterministic hash of sessionId, so replay reproduces
                  // the same batches. Per-batch saveId — crash-replay of
                  // a window overwrites the same destination files.
                  val nBatches = math.max(1L,
                    (n + forwardBatch - 1) / forwardBatch).toInt
                  for (b <- 0 until nBatches) {
                    val part = if (nBatches == 1) rows
                      else rows.filter(r =>
                        math.floorMod(r.sessionId.hashCode, nBatches) == b)
                    // the hash split can leave a batch empty under skew;
                    // sending it would write a spurious 0-byte destination
                    // pcap and an empty store append
                    if (nBatches == 1 || !part.isEmpty)
                      Forward.sendSessions(spark, part, dest,
                        saveId = s"${cq.name}-$lp-$b", tags = cq.tags)
                  }
                }
                total += n
              } finally rows.unpersist()
            case None =>
              val n = matched.count()
              if (n > 0)
                Tagging.applyToStore(spark, path, window && pred, cq.tags,
                  add = true)
              total += n
          }
          lp = end
        }
        val advanced = cq.copy(lpValue = lp, count = cq.count + total)
        notifyIfDue(advanced, cq, nowSec, notifiers)
      }
    }

  /** The viewer.js:2424-2440 alert trigger: notifier configured, hits
    * this pass, count changed, and ≥600 s since the last alert. The
    * message mirrors the reference's "N new matches" alert linking the
    * query's tags.
    */
  private def notifyIfDue(advanced: CronQuery, before: CronQuery,
      nowSec: Long, notifiers: Map[String, Notifier]): CronQuery = {
    val hits = advanced.count - before.count
    val due = advanced.notifier.isDefined && hits > 0 &&
      advanced.count != before.lastNotifiedCount &&
      (before.lastNotified == 0L || nowSec - before.lastNotified >= 600L)
    if (!due) advanced
    else {
      val newMatches =
        if (before.lastNotifiedCount > 0) advanced.count - before.lastNotifiedCount
        else advanced.count
      notifiers.get(advanced.notifier.get).foreach { n =>
        try n.notify(s"${advanced.name} periodic query hits",
          s"*${advanced.name}* periodic query matched $newMatches new " +
          s"session(s) (total ${advanced.count}); tags: " +
          advanced.tags.mkString(","))
        catch { case _: Exception => () } // alerts never fail the pass
      }
      advanced.copy(lastNotified = nowSec,
        lastNotifiedCount = advanced.count)
    }
  }
}
