package graft.ops

import org.apache.spark.sql.Dataset

/** The ops library's one materialization mechanism for shared
  * intermediates, plus the release hook for frames an operator persists
  * into the plan it returns (prefix-sum inputs scanned twice, token and
  * posting tables read by several consumers): the operator can't
  * unpersist before returning — the lazy plan still reads the cache —
  * and the caller doesn't know the cache exists. The hook releases it
  * after the FIRST execution that consumed it, bounding cache growth
  * across repeated calls in one long-lived session (a second action on
  * the same result recomputes the helper once).
  */
object CacheHooks {

  /** Materialize a multiply-consumed intermediate: persist
    * (MEMORY_AND_DISK) plus an eager count. Unlike `localCheckpoint` this
    * keeps lineage — a block lost with its executor recomputes from the
    * plan instead of failing the query — and the cached relation keeps
    * its output partitioning, so a key-clustered consumer plans no
    * exchange of its own. Release with `unpersist()` once the operator
    * is done with it, or, when the returned plan still reads it, with
    * [[unpersistAfterFirstUse]] AFTER every build-time consumer (a later
    * materialization derived from this one would otherwise release it
    * prematurely) and BEFORE the returned Dataset is constructed.
    */
  def materialize[T](ds: Dataset[T]): Dataset[T] = {
    val p = ds.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    p.count()
    p
  }

  /** Unpersist `frame` once any query that read it completes: a
    * QueryExecutionListener looks for the frame's own cache entry inside
    * the finished execution (cache substitution puts an `InMemoryRelation`
    * in the optimized plan), unpersists, and deregisters itself.
    *
    * Three hazards of the naive listener are closed here:
    *
    *  - '''stale build-time events''': listener events ride an async bus,
    *    so an execution that finished BEFORE registration (the operator's
    *    own build-time collect over the same cache) can still be
    *    delivered after it and would release the cache before the
    *    caller's action. `QueryExecution.id` is allocated monotonically
    *    at construction, so a fresh zero-row plan's id taken at
    *    registration upper-bounds every execution already constructed —
    *    events with `qe.id` at or below that threshold are ignored.
    *    (Two CONCURRENT calls whose helper plans are `sameResult` still
    *    share one CacheManager entry and the first finisher releases it
    *    for both — the loser recomputes; perf-only, accepted.)
    *
    *  - '''equal plans, different entries''': the entry is matched by
    *    identity (its cache builder), not by plan equality. Once this
    *    frame's entry is gone (cleared, or released by an earlier hook),
    *    a later call on an equal frame builds a NEW entry; matching by
    *    plan would let this stale hook release it during that call's
    *    build-time count, before its own plan ever ran.
    *
    *  - '''abandoned plans''': if the returned plan is never executed
    *    (consumed via .rdd, written through a non-SQL path, dropped),
    *    the listener would otherwise stay registered forever, walking
    *    the optimized plan of every later query. After `maxUnmatched`
    *    completed executions with no match, the hook gives up:
    *    unpersists (a later action on the abandoned plan just
    *    recomputes the helper) and deregisters.
    */
  def unpersistAfterFirstUse(frame: Dataset[_], maxUnmatched: Int = 64): Unit = {
    val spark = frame.sparkSession
    // the cache entry a fresh plan over the frame resolves to right now
    def liveEntry(): Option[AnyRef] =
      frame.select("*").queryExecution.withCachedData.collectFirst {
        case r: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
          r.cacheBuilder
      }
    val entry = liveEntry().orNull
    if (entry == null) return // not cached: nothing to release
    // ids are allocated at QueryExecution CONSTRUCTION, monotonically:
    // anything already running (or finished but still on the bus) was
    // constructed earlier and carries a smaller id
    val threshold = spark.range(0).queryExecution.id
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      private val done = new java.util.concurrent.atomic.AtomicBoolean(false)
      private val unmatched = new java.util.concurrent.atomic.AtomicInteger(0)
      private def release(): Unit =
        if (done.compareAndSet(false, true)) {
          if (liveEntry().exists(_ eq entry)) frame.unpersist(blocking = false)
          spark.listenerManager.unregister(this)
        }
      private def check(
          qe: org.apache.spark.sql.execution.QueryExecution): Unit = {
        if (qe.id <= threshold) return // predates registration — not ours
        val hit =
          try qe.optimizedPlan.exists {
            case r: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
              r.cacheBuilder eq entry
            case _ => false
          } catch { case _: Exception => false }
        if (hit) release()
        else if (unmatched.incrementAndGet() >= maxUnmatched) release()
      }
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = check(qe)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = check(qe)
    }
    spark.listenerManager.register(listener)
  }
}
