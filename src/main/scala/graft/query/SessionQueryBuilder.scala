package graft.query

import java.time.Instant

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.expr.Compiler
import graft.model.FieldRegistry
import graft.ops.Endpoints

/** The viewer's `buildSessionQuery` as one facade
  * (reference: viewer/apiSessions.js:1188-1368): time-window resolution,
  * bounding mode, Moloch expression parse with views/shortcuts context,
  * forced-expression (ACL) injection, then the endpoint-shaped operators
  * over the filtered frame.
  *
  * Usage:
  * {{{
  * // pass FieldRegistry.sessionCol: derived dbFields (firstPacketSec,
  * // cert.* projections) only resolve through it, not functions.col
  * val q = SessionQueryBuilder(sessions, FieldRegistry.sessions,
  *     FieldRegistry.sessionCol)
  *   .timeRange(start, stop, Endpoints.Bounding.Last)
  *   .expression("http.method == GET && ip.dst == 10.0.0.0/8")
  *   .forced("node == test")        // admin-injected, ANDed in
  * q.table(Seq("srcIp","dstIp"), Seq(("firstPacket", false)), 100)
  * q.timeHistogram(3600)
  * q.unique("srcIp")
  * }}}
  */
final case class SessionQueryBuilder(
    sessions: DataFrame,
    registry: FieldRegistry,
    colResolver: String => Column = org.apache.spark.sql.functions.col,
    now: Instant = Instant.now(),
    views: Map[String, String] = Map.empty,
    shortcuts: Map[String, Seq[String]] = Map.empty,
    firstCol: String = "firstPacket",
    lastCol: String = "lastPacket",
    startMs: Option[Long] = None,
    stopMs: Option[Long] = None,
    bounding: Endpoints.Bounding = Endpoints.Bounding.Last,
    expressionStr: Option[String] = None,
    forcedStr: Option[String] = None,
    timeLimitHours: Option[Long] = None,
    // per-user requiredRight gate forwarded to the expression compiler
    // (reference: buildSessionQuery always parses with req.user flags,
    // apiSessions.js:1343-1352); None = unrestricted internal caller
    rights: Option[Set[String]] = None,
    // Q16 fileand: without the files dimension a `file == name` query
    // would fall through to a fileId-array term and silently match
    // nothing; populated from the files index like Users.compilerFor
    files: Seq[graft.model.FileEntry] = Nil,
    // Bounding.Database column — the reference ranges on the DB
    // insertion `timestamp`, which can trail lastPacket by minutes
    // (apiSessions.js:1175). This store carries no insertion stamp by
    // default, so None falls back to lastCol (documented approximation);
    // a store that records one passes its column here.
    dbTimeCol: Option[String] = None) {

  def timeRange(start: Long, stop: Long,
      b: Endpoints.Bounding = Endpoints.Bounding.Last): SessionQueryBuilder =
    copy(startMs = Some(start), stopMs = Some(stop), bounding = b)

  def expression(e: String): SessionQueryBuilder = copy(expressionStr = Some(e))

  /** Q19: mandatory predicate ANDed into every query (column ACL). */
  def forced(e: String): SessionQueryBuilder = copy(forcedStr = Some(e))

  /** Per-user queryable-window policy (reference
    * apiSessions.js:1206-1218 `req.user.timeLimit`, hours).
    */
  def timeLimit(hours: Long): SessionQueryBuilder =
    copy(timeLimitHours = Some(hours))

  private def compiler =
    new Compiler(registry, colResolver, now, shortcuts, views,
      files = files, rights = rights)

  private def enforceTimeLimit(): Unit = timeLimitHours.foreach { tl =>
    val exceeded = (startMs, stopMs) match {
      case (Some(s), Some(e)) => (e - s) / 3600000.0 > tl
      case _                  => true // unbounded "all" query
    }
    if (exceeded)
      throw new IllegalArgumentException(
        s"User time limit ($tl hours) exceeded")
  }

  /** The full compiled predicate — time bounding + expression + forced
    * ACL (None = unbounded, no expression). [[frame]] applies it and
    * [[buildQuery]] renders it, so the transparency surface can never
    * diverge from the query it describes.
    */
  private def pred: Option[Column] = {
    val exprPred = (expressionStr, forcedStr) match {
      case (Some(e), f)    => Some(compiler.compileWithForced(e, f))
      case (None, Some(f)) => Some(compiler.compile(f))
      case (None, None)    => None
    }
    (startMs, stopMs) match {
      case (Some(s), Some(e)) =>
        Some(Endpoints.sessionQueryPred(col(firstCol), col(lastCol),
          col(dbTimeCol.getOrElse(lastCol)), lit(s), lit(e), bounding,
          exprPred))
      case _ => exprPred
    }
  }

  /** The bounded, filtered session frame all endpoints run over. */
  def frame: DataFrame = {
    enforceTimeLimit()
    pred.map(sessions.filter).getOrElse(sessions)
  }

  /** E49 `/api/buildquery` (apiSessions.js:1578-1603 getQuery): the
    * query-transparency surface — return what WOULD run instead of
    * running it. `filterSql` is the full compiled predicate (time
    * bounding + expression + forced ACL) rendered as Spark SQL, the
    * analogue of the reference's `esquery`; applying it with
    * `df.where(expr(filterSql))` reproduces [[frame]] exactly (spec-
    * pinned). `days` lists the UTC day partitions the bounded window
    * prunes the store to — the analogue of the reference's
    * `sessions2-*` index list — empty when unbounded (= all).
    * `fields` echoes the optional projection, like `query.fields`.
    */
  def buildQuery(fields: Seq[String] = Nil): SessionQueryBuilder.BuiltQuery = {
    enforceTimeLimit()
    val days = (startMs, stopMs) match {
      case (Some(s), Some(e)) if e >= s =>
        val d0 = java.time.Instant.ofEpochMilli(s)
          .atZone(java.time.ZoneOffset.UTC).toLocalDate
        val d1 = java.time.Instant.ofEpochMilli(e)
          .atZone(java.time.ZoneOffset.UTC).toLocalDate
        Iterator.iterate(d0)(_.plusDays(1)).takeWhile(!_.isAfter(d1))
          .take(100000).map(_.toString).toSeq
      case _ => Nil
    }
    // the text names ip_in_cidr/ip_sortable, which Columns carry as
    // expressions; register the names so `expr(filterSql)` resolves here
    graft.GraftExtensions.registerFunctions(sessions.sparkSession)
    SessionQueryBuilder.BuiltQuery(
      pred.map(p => org.apache.spark.sql.graftbridge.ColumnBridge
        .filterSql(sessions, p)).getOrElse("true"), days, fields)
  }

  // ----- endpoint-shaped results over the filtered frame ---------------

  /** The histogram/graph time column follows the bounding mode, exactly
    * as the reference picks the dbHisto field (apiSessions.js:1319-1330:
    * first → firstPacket, database → timestamp, else lastPacket) — so a
    * First-bounded query never emits buckets outside its window.
    */
  private def histoCol: Column = bounding match {
    case Endpoints.Bounding.First    => col(firstCol)
    case Endpoints.Bounding.Database => col(dbTimeCol.getOrElse(lastCol))
    case _                           => col(lastCol)
  }

  /** `field` resolved through `colResolver` (derived dbFields —
    * firstPacketSec, cert.* projections — never resolve via plain
    * functions.col), flattened to one row per element when multivalued:
    * the reference's terms aggs count array fields per ELEMENT.
    * `extra` columns ride along unrenamed.
    */
  private def fieldFrame(field: String,
      extra: Seq[Column] = Nil): DataFrame = {
    val f = frame
    val c = colResolver(field)
    val isArray = f.select(c).schema.head.dataType
      .isInstanceOf[org.apache.spark.sql.types.ArrayType]
    val head = if (isArray) explode(c).as(field) else c.as(field)
    f.select(head +: extra: _*)
  }

  def table(projection: Seq[String], sortKeys: Seq[(String, Boolean)],
      limit: Int, offset: Int = 0): DataFrame = {
    // page cap: at most 2M results per listing, like the reference's
    // `Math.min(2000000, length)` (apiSessions.js:1219); an offset past
    // the window is an ERROR (ES rejects it), never a remapped page
    require(offset <= SessionQueryBuilder.PageCap,
      s"offset $offset exceeds the ${SessionQueryBuilder.PageCap} result window")
    val cols = (projection ++ sortKeys.map(_._1)).distinct
    val resolved = frame.select(cols.map(f => colResolver(f).as(f)): _*)
    Endpoints.sessionsTable(resolved, projection, sortKeys,
      math.min(limit, SessionQueryBuilder.PageCap), offset)
  }

  /** E5 spiview with the reference's index-count policy: an unbounded
    * time range is refused, and a window spanning more day partitions
    * than `spiDataMaxDays` is narrowed to the most recent allowed days
    * (apiSessions.js:1799-1812 spiDataMaxIndices over daily indices).
    */
  def spiview(field: String, k: Int,
      spiDataMaxDays: Int = 4): DataFrame = {
    if (spiDataMaxDays != -1 && (startMs.isEmpty || stopMs.isEmpty))
      throw new IllegalArgumentException(
        "'All' date range not allowed for spiview query")
    val dayMs = 86400000L
    val narrowed =
      if (spiDataMaxDays != -1 &&
        (stopMs.get / dayMs - startMs.get / dayMs) >= spiDataMaxDays)
        copy(startMs = Some((stopMs.get / dayMs - (spiDataMaxDays - 1)) * dayMs))
      else this
    Endpoints.topTerms(narrowed.fieldFrame(field), col(field), field, k)
  }

  /** E3. Without `intervalSec` the bucket width follows the query window
    * the way the reference picks it (viewerUtils.js:66-134,
    * [[Endpoints.autoInterval]]); an unbounded window gets 1 h, like the
    * reference's all-time (`date=-1`) query.
    */
  def timeHistogram(intervalSec: Long = autoInterval,
      sums: Map[String, Column] = Map.empty): DataFrame =
    Endpoints.timeHistogram(frame, timestamp_millis(histoCol), intervalSec, sums)

  private def autoInterval: Long = (startMs, stopMs) match {
    case (Some(s), Some(e)) => Endpoints.autoInterval(s / 1000, e / 1000)
    case _                  => 3600L
  }

  def unique(field: String, counts: Boolean = true): DataFrame =
    Endpoints.unique(fieldFrame(field), col(field), field, counts)

  def multiunique(fields: Seq[String]): DataFrame =
    Endpoints.multiunique(
      frame.select(fields.map(f => colResolver(f).as(f)): _*), fields)

  def topTerms(field: String, k: Int): DataFrame =
    Endpoints.topTerms(fieldFrame(field), col(field), field, k)

  def spigraph(field: String, intervalSec: Long, k: Int): DataFrame =
    Endpoints.spigraph(fieldFrame(field, Seq(histoCol.as("_graft_ts"))),
      col(field), field,
      timestamp_millis(col("_graft_ts")), intervalSec, k)

  def connections(srcField: String, dstField: String,
      sums: Map[String, Column] = Map.empty): DataFrame =
    Endpoints.connectionsLinks(frame, colResolver(srcField),
      colResolver(dstField), sums)

  def count(): Long = frame.count()
}

object SessionQueryBuilder {
  /** Listing page cap (reference apiSessions.js:1219). */
  val PageCap = 2000000

  /** `/api/buildquery`'s response shape: the compiled predicate as
    * Spark SQL, the day partitions the window prunes to, and the echoed
    * projection (the reference's esquery / indices / fields).
    */
  final case class BuiltQuery(filterSql: String, days: Seq[String],
      fields: Seq[String])
}

/** Per-query cancellation, the Spark analogue of the viewer's ES task
  * cancel plumbing (viewer/db.js:501 `cancelByOpaqueId` — every request
  * carries a cancel id; a cancel endpoint kills the running tasks).
  *
  * Every action launched through [[QueryControl.run]] carries the query
  * id as a Spark job tag; [[QueryControl.cancel]] interrupts all its
  * running stages cluster-wide. Tags add to whatever the caller set: an
  * enclosing job group or tag stays in place, so a nested run's jobs
  * carry the outer run's tag too and cancelling the outer run reaches
  * them.
  */
object QueryControl {

  /** One live query as the `/api/estasks` analogue reports it
    * (apiStats.js:727-795: taskId, action, user, running time,
    * cancellable; the reference parses the user from the request's
    * `X-Opaque-Id: user::id` header — here it is carried explicitly).
    * Job/task progress comes from Spark's status tracker for this
    * query's job tag.
    */
  final case class TaskRow(taskId: String, action: String, user: String,
      startMs: Long, runningMs: Long, activeJobs: Int, totalTasks: Int,
      completedTasks: Int, cancellable: Boolean = true)

  private val registry = new java.util.concurrent.ConcurrentHashMap[
    String, (String, String, Long)]() // queryId -> (action, user, startMs)

  // the local properties run sets besides its tag (SparkContext's
  // private SPARK_JOB_INTERRUPT_ON_CANCEL and SPARK_JOB_DESCRIPTION keys)
  private val runProps = Seq("spark.job.interruptOnCancel",
    "spark.job.description")

  def run[T](spark: org.apache.spark.sql.SparkSession, queryId: String,
      description: String, user: String = "")(body: => T): T = {
    val sc = spark.sparkContext
    // first: Spark rejects an empty id or one with a comma as a tag, and
    // that must throw before anything is registered
    sc.addJobTag(queryId)
    val saved = runProps.map(k => k -> sc.getLocalProperty(k))
    try {
      sc.setInterruptOnCancel(true)
      sc.setJobDescription(description)
      registry.put(queryId, (description, user, System.currentTimeMillis()))
      body
    } finally {
      registry.remove(queryId)
      saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      sc.removeJobTag(queryId)
    }
  }

  def cancel(spark: org.apache.spark.sql.SparkSession, queryId: String): Unit =
    spark.sparkContext.cancelJobsWithTag(queryId)

  /** GET /api/estasks (apiStats.js getESTasks): the running queries,
    * optionally filtered by a regex over action/user — driver-side
    * registry plus status-tracker progress, no jobs launched.
    */
  def tasks(spark: org.apache.spark.sql.SparkSession,
      filter: Option[String] = None,
      nowMs: Long = System.currentTimeMillis()): Seq[TaskRow] = {
    val re = filter.map(_.r)
    val st = spark.sparkContext.statusTracker
    import scala.jdk.CollectionConverters._
    registry.asScala.toSeq.collect {
      case (id, (action, user, start))
          if re.forall(r => r.findFirstIn(action).isDefined ||
            r.findFirstIn(user).isDefined) =>
        val jobs = st.getJobIdsForTag(id)
        val stages = jobs.flatMap(j => st.getJobInfo(j))
          .flatMap(_.stageIds()).distinct
          .flatMap(s => st.getStageInfo(s))
        TaskRow(id, action, user, start, math.max(0L, nowMs - start),
          activeJobs = jobs.length,
          totalTasks = stages.map(_.numTasks()).sum,
          completedTasks = stages.map(_.numCompletedTasks()).sum)
    }.sortBy(_.startMs)
  }
}
