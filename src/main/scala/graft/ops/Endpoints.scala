package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The viewer's analytics endpoints re-expressed as declarative
  * DataFrame→DataFrame operators (SURVEY.md §2.3).
  *
  * Scale notes (100 TB design):
  *   - every operator is a single declarative plan: Catalyst pushes the
  *     session filter into the scan and does partial (map-side) aggregation
  *     before the shuffle;
  *   - top-K never collects more than K×shufflePartitions rows to the
  *     driver (`TakeOrderedAndProject`);
  *   - `spigraph` does ONE pass (groupBy key×bucket, top-K keys from that
  *     aggregate, broadcast join back) instead of the reference's 2K-query
  *     msearch fan-out (viewer/apiSessions.js:2024-2030);
  *   - `hierarchy` computes all levels from one grouped aggregate and
  *     takes per-prefix top-K with bounded-heap aggregates + broadcast
  *     joins — no ranking windows anywhere in the plan.
  *
  * Filtering an aggregate by keys derived from that same aggregate uses
  * an INNER broadcast join against a right side unique on the join keys,
  * never a `left_semi`: Catalyst pushes a semi join below the aggregate
  * (PushDownLeftSemiAntiJoin), so each branch re-scans and re-aggregates
  * the store. No rule pushes an inner join below an Aggregate, so every
  * branch keeps the same grouped subtree, AQE reuses its exchange
  * (`ReusedExchange`) and the store is scanned once.
  *
  * Results are unordered relations; callers order them for display. The
  * only sorts here choose rows: the top-K cuts by (count desc, value asc),
  * the sessions table's paging and dstats' newest sample per cell.
  */
object Endpoints {

  /** Time bounding modes of buildSessionQuery
    * (reference: viewer/apiSessions.js:1240-1279).
    */
  sealed trait Bounding
  object Bounding {
    case object First    extends Bounding // firstPacket in [start, stop]
    case object Last     extends Bounding // lastPacket in [start, stop]
    case object Both     extends Bounding // firstPacket>=start && lastPacket<=stop
    case object Either   extends Bounding // overlap
    case object Database extends Bounding // timestamp in [start, stop]
  }

  /** The combined time+expression predicate [[sessionQuery]] filters
    * by — exposed separately for the E49 `/api/buildquery` transparency
    * surface, which returns the query instead of running it.
    */
  def sessionQueryPred(
      firstCol: Column,
      lastCol: Column,
      dbCol: Column,
      startTime: Column,
      stopTime: Column,
      bounding: Bounding = Bounding.Last,
      expression: Option[Column] = None): Column = {
    val timePred = bounding match {
      case Bounding.First    => firstCol >= startTime && firstCol <= stopTime
      case Bounding.Last     => lastCol >= startTime && lastCol <= stopTime
      case Bounding.Both     => firstCol >= startTime && lastCol <= stopTime
      case Bounding.Either   => firstCol <= stopTime && lastCol >= startTime
      case Bounding.Database => dbCol >= startTime && dbCol <= stopTime
    }
    expression.map(timePred && _).getOrElse(timePred)
  }

  /** E1: canonical bounded+filtered scan. `firstCol`/`lastCol` are the
    * session's first/last timestamp columns (a single-timestamp table can
    * pass the same column for all three).
    */
  def sessionQuery(
      df: DataFrame,
      firstCol: Column,
      lastCol: Column,
      dbCol: Column,
      startTime: Column,
      stopTime: Column,
      bounding: Bounding = Bounding.Last,
      expression: Option[Column] = None): DataFrame =
    df.filter(sessionQueryPred(firstCol, lastCol, dbCol, startTime,
      stopTime, bounding, expression))

  /** E2: sessions table — projection, multi-key sort with ES null placement,
    * paging. The reference's addSortToQuery sets `missing` to `_last` for
    * ascending keys and `_first` for descending (apiSessions.js:111) —
    * i.e. a missing value sorts as +∞ in BOTH directions: after everything
    * ascending, before everything descending. asc_nulls_last /
    * desc_nulls_first is the exact Spark spelling of that.
    */
  def sessionsTable(
      df: DataFrame,
      projection: Seq[String],
      sortKeys: Seq[(String, Boolean)], // (column, ascending)
      limit: Int,
      offset: Int = 0): DataFrame = {
    val sortCols = sortKeys.map { case (c, asc) =>
      if (asc) col(c).asc_nulls_last else col(c).desc_nulls_first
    }
    // order BEFORE projecting: the reference sorts on any db field,
    // projected or not (addSortToQuery); Spark still plans this as one
    // TakeOrderedAndProject
    val sorted = df.orderBy(sortCols: _*).select(projection.map(col): _*)
    (if (offset > 0) sorted.offset(offset) else sorted).limit(limit)
  }

  /** Auto interval (seconds) for histograms
    * (reference: viewer/viewerUtils.js:66-134).
    */
  def autoInterval(startSec: Long, stopSec: Long): Long = {
    val diff = stopSec - startSec
    if (diff < 30 * 60) 1L
    else if (diff <= 5L * 24 * 60 * 60) 60L
    else 3600L
  }

  /** Shared time bucket: floor `tsCol` to `intervalSec` — FLOOR, not
    * cast-truncation, so pre-1970 timestamps land in their own bucket
    * exactly like ES date_histogram (cast-to-long truncates toward zero
    * and would merge 1969-12-31T23:59:30 into the epoch bucket).
    */
  private def timeBucket(tsCol: Column, intervalSec: Long): Column =
    timestamp_seconds(
      floor(unix_timestamp(tsCol) / intervalSec).cast("long") * intervalSec)

  /** E3: time histogram with per-bucket session count + metric sums.
    * `tsCol` must be a timestamp column; bucket is emitted as `bucket`
    * (timestamp, floor to `intervalSec`).
    */
  def timeHistogram(
      df: DataFrame,
      tsCol: Column,
      intervalSec: Long,
      sums: Map[String, Column] = Map.empty): DataFrame = {
    val bucket = timeBucket(tsCol, intervalSec).as("bucket")
    val aggs = (count(lit(1)).as("sessions") ::
      sums.toSeq.sortBy(_._1).map { case (n, c) => c.as(n) }.toList)
    df.groupBy(bucket).agg(aggs.head, aggs.tail: _*)
  }

  /** E4: geo facets — value counts of a (country-like) column. */
  def termCounts(df: DataFrame, field: Column, name: String): DataFrame =
    df.groupBy(field.as(name)).agg(count(lit(1)).as("cnt"))

  /** E5: spiview top-K values + counts for one field. Ties broken by value
    * so results are deterministic.
    */
  def topTerms(df: DataFrame, field: Column, name: String, k: Int): DataFrame =
    df.filter(field.isNotNull)
      .groupBy(field.as(name)).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col(name).asc)
      .limit(k)

  /** E6: spigraph — per-value time histogram for the top-K values of a
    * field. ONE grouped aggregate on (value, bucket) carries the metric
    * and the session count; the top-K keys come from that aggregate (same
    * `(cnt desc, value asc)` order as [[topTerms]]) and are inner-joined
    * back broadcast, so the store is scanned once. The reference fans
    * out one msearch per key.
    */
  def spigraph(
      df: DataFrame,
      field: Column,
      name: String,
      tsCol: Column,
      intervalSec: Long,
      k: Int,
      metric: Column = count(lit(1))): DataFrame = {
    val grouped = df.filter(field.isNotNull)
      .groupBy(field.as(name), timeBucket(tsCol, intervalSec).as("bucket"))
      .agg(metric.as("value"), count(lit(1)).as("_cnt"))
    // grouped by value: unique on `name`, so the inner join keeps exactly
    // the rows a semi join would
    val top = grouped.groupBy(col(name)).agg(sum("_cnt").as("_tot"))
      .orderBy(col("_tot").desc, col(name).asc)
      .limit(k)
      .select(name)
    grouped.join(broadcast(top), Seq(name))
      .select(col(name), col("bucket"), col("value"))
  }

  /** E7: spigraphhierarchy — nested top-K along a field path. Every level
    * requires non-null (the reference adds `exists` per level). One grouped
    * aggregate, then per-level top-K by pure aggregation — no windows.
    *
    * Scale shape: after the level-0 join only K prefixes survive, so a
    * prefix-partitioned ranking window would run on at most K tasks no
    * matter how many executors exist (and each task sorts every surviving
    * row of its prefix). Instead each level's top-K nodes come from the
    * bounded-heap aggregate ([[graft.functions.TopK]]): map-side partials
    * keep ≤K candidates per prefix per partition, the merged result is at
    * most K^(i+1) rows — always broadcastable — and survivors are kept with
    * a broadcast join. Ordering (total desc, value asc) is total, so
    * the kept set is exactly the reference's dense_rank<=K set. The
    * joins are inner, so the levels share one scan (see above).
    */
  def hierarchy(df: DataFrame, fields: Seq[String], k: Int): DataFrame = {
    val nonNull = fields.map(col(_).isNotNull).reduce(_ && _)
    val grouped = df.filter(nonNull)
      .groupBy(fields.map(col): _*)
      .agg(count(lit(1)).as("cnt"))
    // Level 0 has no parent prefix: plain aggregate + TakeOrderedAndProject
    // (the spigraph pattern), joined back broadcast. top0 is grouped by
    // the level-0 value, so it is unique on the join key.
    val top0 = grouped.groupBy(col(fields.head))
      .agg(sum("cnt").as("_tot0"))
      .orderBy(col("_tot0").desc, col(fields.head).asc)
      .limit(k)
      .select(fields.head)
    var surv = grouped.join(broadcast(top0), Seq(fields.head))
    // Levels >= 1: node total = sum(cnt) over the level grouping; top-K of
    // the totals within each parent prefix via the bounded-heap aggregate;
    // keep descendants of surviving nodes. Filtering level by level is
    // exact: a node's sibling set (and so its rank) is unchanged by
    // pruning other prefixes, because ancestors are shared row-wise.
    for (i <- 1 until fields.length) {
      val levelCols = fields.take(i + 1)
      val prefixCols = fields.take(i)
      val totals =
        if (i == fields.length - 1)
          // deepest level: the level grouping IS the full grouping key
          surv.select((levelCols.map(col) :+ col("cnt").as("_tot")): _*)
        else surv.groupBy(levelCols.map(col): _*).agg(sum("cnt").as("_tot"))
      // id round-trip by type: integral types keep the numeric id (and
      // numeric tie-break, matching the oracle's ORDER BY value ASC);
      // fractional/other types go through their lossless STRING form —
      // the old cast("long") collapsed fractional values and its
      // cast-back key matched no original row (empty result)
      import org.apache.spark.sql.types._
      val (vCol, topkFn) = totals.schema(fields(i)).dataType match {
        case StringType =>
          (col(fields(i)), graft.functions.TopK.stringIds(k))
        case ByteType | ShortType | IntegerType | LongType =>
          (col(fields(i)).cast("long"), graft.functions.TopK.longIds(k))
        case _ =>
          (col(fields(i)).cast("string"), graft.functions.TopK.stringIds(k))
      }
      val topNodes = totals
        .groupBy(prefixCols.map(col): _*)
        .agg(topkFn(col("_tot").cast("double"), vCol).as("_top"))
        .select((prefixCols.map(col) :+
          explode(col("_top.id")).as("_id")): _*)
        .select((prefixCols.map(col) :+
          col("_id").cast(totals.schema(fields(i)).dataType)
            .as(fields(i))): _*)
      // unique on levelCols: the bounded-heap ids of one prefix are
      // distinct, because `totals` holds one row per level node
      surv = surv.join(broadcast(topNodes), levelCols)
    }
    surv.select((fields.map(col) :+ col("cnt")): _*)
  }

  /** E8: unique values of a field (± counts). `autocompletePrefix` filters
    * by prefix as the reference's autocomplete mode does.
    */
  def unique(
      df: DataFrame,
      field: Column,
      name: String,
      counts: Boolean = true,
      autocompletePrefix: Option[String] = None,
      maxAggSize: Int = 10000): DataFrame = {
    val base0 = df.select(field.as(name)).filter(col(name).isNotNull)
    val base = autocompletePrefix match {
      case Some(p) => base0.filter(col(name).startsWith(p))
      case None    => base0
    }
    val out =
      if (counts)
        base.groupBy(col(name)).agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col(name).asc)
      else base.distinct().orderBy(col(name).asc)
    out.limit(maxAggSize)
  }

  /** E8 pair mode: `/api/unique` with an `ip:port` field emits combined
    * "ip:port" keys — the reference nests a port terms-agg under the ip
    * terms-agg and concatenates (viewer/apiSessions.js:2344-2352); the
    * separator is ':' for v4 and '.' for v6, exactly as its painless
    * script picks (viewer/internals.js:98-101). One grouped aggregate on
    * the (ip, port) pair — no nested fan-out needed.
    */
  def uniquePairs(
      df: DataFrame,
      ipField: Column,
      portField: Column,
      name: String = "pair",
      maxAggSize: Int = 10000): DataFrame = {
    // group on the raw (ip, port) pair and render "ip:port" AFTER the
    // aggregate: the concat runs once per group instead of once per row,
    // and the partial agg hashes two narrow columns instead of a built
    // string. The rendered key is injective per pair, so counts match
    // the reference's nested terms-agg concatenation exactly.
    df.filter(ipField.isNotNull && portField.isNotNull)
      .groupBy(ipField.as("_ip"), portField.as("_port"))
      .agg(count(lit(1)).as("cnt"))
      .select(concat(col("_ip"),
        when(col("_ip").contains(":"), lit(".")).otherwise(lit(":")),
        col("_port").cast("string")).as(name), col("cnt"))
      .orderBy(col("cnt").desc, col(name).asc)
      .limit(maxAggSize)
  }

  /** E9: multiunique — distinct tuples across fields with counts,
    * descending (reference: viewer/apiSessions.js:2420-2500).
    */
  def multiunique(df: DataFrame, fields: Seq[String], maxAggSize: Int = 10000): DataFrame = {
    val nonNull = fields.map(col(_).isNotNull).reduce(_ && _)
    df.filter(nonNull)
      .groupBy(fields.map(col): _*)
      .agg(count(lit(1)).as("cnt"))
      .orderBy((col("cnt").desc +: fields.map(col(_).asc)): _*)
      .limit(maxAggSize)
  }

  /** E10: connections graph. Emits the *links* table:
    * (src, dst, count, plus requested sums). Nodes with degree < minConn
    * are dropped exactly as the reference filters nodes by `minConn`
    * (viewer/apiConnections.js).
    */
  def connectionsLinks(
      df: DataFrame,
      srcField: Column,
      dstField: Column,
      sums: Map[String, Column] = Map.empty,
      minConn: Int = 1): DataFrame = {
    val links = df
      .filter(srcField.isNotNull && dstField.isNotNull)
      .groupBy(srcField.as("src"), dstField.as("dst"))
      .agg(count(lit(1)).as("cnt"),
        sums.toSeq.sortBy(_._1).map { case (n, c) => c.as(n) }: _*)
    if (minConn <= 1) links
    else {
      // node cnt = number of distinct DIRECTED links the node touches —
      // the reference bumps both endpoints once per new `src->dst` key
      // (apiConnections.js:295-299 doProcess), so A⇄B gives each node
      // cnt 2, and a self-loop counts twice. `links` is already one row
      // per directed pair, so the union counts exactly that.
      // The count reads every aggregate column of `links`: column pruning
      // would otherwise strip the aggregates this branch does not use, its
      // aggregate would differ from `links`' and it would re-scan the
      // store instead of reusing its exchange. CASE without ELSE keeps the
      // value nullable, or NullPropagation turns the count into count(1)
      // and the pruning happens anyway; cnt >= 1, so it is never null and
      // the count is the link count.
      val link = when(col("cnt") > 0,
        struct(links.columns.drop(2).map(col): _*))
      val deg = links.select(col("src").as("node"), link.as("_link"))
        .union(links.select(col("dst").as("node"), link.as("_link")))
        .groupBy("node").agg(count(col("_link")).as("deg"))
        .filter(col("deg") >= minConn)
        .select("node")
      // inner, not semi, joins: `deg` is grouped by node, so each join
      // keeps exactly the rows a semi join keeps, and `links` is not
      // re-aggregated (a semi join is pushed below the aggregate)
      links
        .join(broadcast(deg.withColumnRenamed("node", "src")), Seq("src"))
        .join(broadcast(deg.withColumnRenamed("node", "dst")), Seq("dst"))
        .select(("src" +: "dst" +: "cnt" +: sums.keys.toSeq.sorted).map(col): _*)
    }
  }

  /** E10 nodes with baseline comparison: each node flagged with a bitmask —
    * 1 = present in current window, 2 = present in baseline window
    * (reference: viewer/apiConnections.js:45-105 baseline, node flags).
    */
  def connectionsNodes(
      current: DataFrame,
      baseline: Option[DataFrame],
      srcField: Column,
      dstField: Column): DataFrame = {
    def nodes(d: DataFrame, flag: Int): DataFrame =
      d.select(srcField.cast("string").as("node"))
        .union(d.select(dstField.cast("string").as("node")))
        .filter(col("node").isNotNull)
        .groupBy("node").agg(count(lit(1)).as("sessions"))
        .withColumn("flag", lit(flag))
    val cur = nodes(current, 1)
    baseline.fold(cur)(b =>
      cur.unionByName(nodes(b, 2))
        .groupBy("node")
        .agg(sum(when(col("flag") === 1, col("sessions")).otherwise(0)).as("sessions"),
          sum(col("flag")).cast("int").as("flag")))
  }

  /** E11: CSV export of any endpoint result. */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  /** E5 (full spiview): top-K values for several fields in one result —
    * (field, value, cnt) rows. One job; per-field ranks via one grouped
    * aggregate over the exploded (field, value) pairs, not N separate
    * aggregations (the reference runs one terms agg per field).
    */
  def spiview(df: DataFrame, fields: Seq[String], k: Int): DataFrame = {
    // multivalued fields count per ELEMENT (the reference runs one ES
    // terms agg per field, and terms aggs unnest arrays) — stringifying
    // the whole array would rank distinct array renderings instead.
    // Every field normalizes to array<string> so ONE scan feeds all the
    // (field, value) pairs: outer explode fans out fields, inner one
    // elements.
    def valuesOf(f: String): Column = {
      val dt = df.select(col(f)).schema.head.dataType
      dt match {
        case _: org.apache.spark.sql.types.ArrayType =>
          col(f).cast("array<string>")
        case _ => array(col(f).cast("string"))
      }
    }
    val pairs = df.select(explode(array(fields.map(f =>
      struct(lit(f).as("field"), valuesOf(f).as("values"))): _*)).as("p"))
      .select(col("p.field"), explode(col("p.values")).as("value"))
      .filter(col("value").isNotNull)
    val counted = pairs.groupBy("field", "value").agg(count(lit(1)).as("cnt"))
    // per-field top-K via the bounded-heap aggregate: a window partitioned
    // by field would hold EVERY distinct value of a field in one task
    val topk = graft.functions.TopK.stringIds(k)
    counted
      .groupBy(col("field"))
      .agg(topk(col("cnt").cast("double"), col("value")).as("top"))
      .select(col("field"), posexplode(col("top")).as(Seq("pos", "s")))
      .select(col("field"), col("s.id").as("value"),
        col("s.score").cast("long").as("cnt"), (col("pos") + 1).as("rk"))
  }

  /** E15: multi-cluster federation — union per-cluster frames by name
    * (reference: viewer/multies.js:653-760 combineResults/sortResults).
    * This only unions: the caller re-aggregates the union (and sorts or
    * limits it) as e15 does, and Spark's partial/final aggregation does
    * the merge natively.
    */
  def federate(clusters: Seq[DataFrame]): DataFrame =
    clusters.reduce(_.unionByName(_, allowMissingColumns = true))

  /** E16: capture-node stats rollup — per-node health time series
    * (reference: viewer/apiStats.js). Generic: groupBy node+bucket over a
    * metrics table.
    */
  def nodeStats(
      metrics: DataFrame, nodeCol: Column, tsCol: Column,
      intervalSec: Long, aggs: Map[String, Column]): DataFrame = {
    val bucket = timeBucket(tsCol, intervalSec)
    // count-first like timeHistogram: well-defined on an empty aggs map,
    // and the sorted agg list is built once
    val sorted = aggs.toSeq.sortBy(_._1).map { case (n, c) => c.as(n) }
    val all = count(lit(1)).as("samples") :: sorted.toList
    metrics.groupBy(nodeCol.as("node"), bucket.as("bucket"))
      .agg(all.head, all.tail: _*)
  }

  /** The `/api/dstats` derived-metric catalogue
    * (viewer/apiStats.js:256-276 `mapping`): each named metric is an
    * expression over the raw per-sample delta columns the capture node
    * reports. Unknown names read the column of the same name verbatim,
    * exactly like the reference's fallback.
    */
  private def dstatValue(name: String): Column = {
    def perSec(c: Column) = floor(c * 1000.0 / col("deltaMS"))
    name match {
      case "deltaBits" => floor(col("deltaBytes") * 8.0)
      case "deltaTotalDropped" =>
        floor(col("deltaDropped") + col("deltaOverloadDropped"))
      case "deltaBytesPerSec" => perSec(col("deltaBytes"))
      case "deltaBitsPerSec" =>
        floor(col("deltaBytes") * 1000.0 / col("deltaMS") * 8)
      case "deltaWrittenBytesPerSec" => perSec(col("deltaWrittenBytes"))
      case "deltaUnwrittenBytesPerSec" => perSec(col("deltaUnwrittenBytes"))
      case "deltaPacketsPerSec" => perSec(col("deltaPackets"))
      case "deltaSessionsPerSec" => perSec(col("deltaSessions"))
      case "deltaSessionBytesPerSec" => perSec(col("deltaSessionBytes"))
      case "sessionSizePerSec" =>
        floor(col("deltaSessionBytes") / col("deltaSessions"))
      case "deltaDroppedPerSec" => perSec(col("deltaDropped"))
      case "deltaFragsDroppedPerSec" => perSec(col("deltaFragsDropped"))
      case "deltaOverloadDroppedPerSec" => perSec(col("deltaOverloadDropped"))
      case "deltaESDroppedPerSec" => perSec(col("deltaESDropped"))
      case "deltaDupDroppedPerSec" => perSec(col("deltaDupDropped"))
      case "deltaTotalDroppedPerSec" =>
        perSec(col("deltaDropped") + col("deltaOverloadDropped"))
      case "cpu" => col("cpu") * 0.01
      // space metrics come back in MB and are scaled to bytes
      // (apiStats.js:292 `mult = 1000000`)
      case "freeSpaceM" | "usedSpaceM" => col(name) * 1000000.0
      case other => col(other)
    }
  }

  /** E16b: `GET /api/dstats` (viewer/apiStats.js:226-337
    * getDetailedStats) — the cubism time-grid for one named metric:
    * samples in `[startSec, stopSec]` at collection interval
    * `intervalSec` land in cell `floor((currentTime-start)/step)`, the
    * newest sample wins a cell, and every (node, cell) of the grid is
    * emitted zero-filled. `metrics` carries the reference dstats
    * document columns (`nodeName`, `currentTime` epoch-sec, `interval`,
    * `delta*`/gauge columns).
    *
    * Scale: the value pass is one filtered scan + a (node,pos)-keyed
    * window (partition-pruned and bounded by the grid, never
    * partition-less); the zero-fill joins a distinct-node frame against
    * a `sequence()` literal of at most `size` cells — both sides are
    * UI-graph sized (≤ nodes × 1440), nothing collects to the driver.
    */
  def dstats(metrics: DataFrame, name: String, startSec: Long,
      stopSec: Long, stepSec: Long, intervalSec: Long = 60): DataFrame = {
    require(stepSec > 0 && stopSec > startSec,
      s"dstats: empty grid [$startSec,$stopSec] step $stepSec")
    val num = ((stopSec - startSec) / stepSec).toInt
    val vals = metrics
      .filter(col("currentTime").between(startSec, stopSec) &&
        col("interval") === intervalSec)
      .select(col("nodeName").as("node"), col("currentTime"),
        floor((col("currentTime") - startSec) / stepSec).cast("int")
          .as("pos"),
        dstatValue(name).cast("double").as("value"))
      .filter(col("pos") >= 0 && col("pos") < num)
    val newest = vals
      .withColumn("rn", row_number().over(
        Window.partitionBy("node", "pos")
          .orderBy(col("currentTime").desc)))
      .filter(col("rn") === 1).select("node", "pos", "value")
    val grid = vals.select("node").distinct()
      .crossJoin(spark_grid(num))
    grid.join(newest, Seq("node", "pos"), "left")
      .na.fill(0.0, Seq("value"))
  }

  private def spark_grid(num: Int): DataFrame = {
    // sequence() literal → explode: the zero-fill axis without a
    // driver-side range collect
    import org.apache.spark.sql.SparkSession
    SparkSession.active.range(1)
      .select(explode(sequence(lit(0), lit(num - 1))).as("pos"))
      .select(col("pos").cast("int").as("pos"))
  }

  /** The Total / Average rows the reference synthesizes when
    * `nodeName=Total|Average` (apiStats.js:316-331): per grid cell, the
    * sum over every node's (zero-filled) value — Average divides by the
    * number of nodes that reported at all.
    */
  def dstatsRollup(grid: DataFrame, average: Boolean): DataFrame = {
    val agg = grid.groupBy(col("pos"))
      .agg(sum(col("value")).as("total"),
        countDistinct(col("node")).as("nodes"))
    if (average)
      agg.select(col("pos"), (col("total") / col("nodes")).as("value"))
    else agg.select(col("pos"), col("total").as("value"))
  }

  /** E17 convenience: record one query-audit entry through the REAL
    * history log ([[graft.query.History]] — week-partitioned, id'd,
    * listable/deletable). A previous stub here emitted an incompatible
    * ad-hoc schema (mashed uiPage_user column, ms timestamps) whose rows
    * History.list could never read; endpoints must log through one
    * shape.
    */
  def recordHistory(spark: org.apache.spark.sql.SparkSession, path: String,
      user: String, api: String, expression: String, tookMs: Long,
      nowSec: Long = System.currentTimeMillis() / 1000)
      : graft.query.History.Entry =
    graft.query.History.record(spark, path, graft.query.History.Entry(
      id = "", uiPage = api.stripPrefix("/api/").takeWhile(_ != '/'),
      userId = user, method = "GET", api = api, expression = expression,
      timestamp = nowSec, queryTime = tookMs))
}
