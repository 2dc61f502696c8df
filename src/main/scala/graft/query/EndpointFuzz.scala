package graft.query

/** Parameterized differential fuzz for the facet/histogram endpoint
  * kernels (E3/E5/E6): random (interval, field, top-k, filter) combos
  * evaluated by `ops/Endpoints` on one side and by an independent ANSI
  * SQL translation (DuckDB, via the driver's oracle) on the other. The
  * fixed-parameter endpoint queries pin one shape each; this sweeps the
  * parameter space — interval snapping at odd granularities, top-k
  * tie-breaks at every k, the spigraph top-key join under filters.
  *
  * Unified output schema (both sides): (case_id BIGINT, k VARCHAR,
  * b BIGINT, n BIGINT) — term value as string ('' for histograms),
  * bucket epoch seconds (0 for top-k), count; total order (case_id, k, b).
  */
object EndpointFuzz {

  sealed trait Kind
  case object Hist extends Kind
  case object Top extends Kind
  case object Spi extends Kind

  final case class EpCase(id: Int, kind: Kind, interval: Long,
      field: String, fieldSql: String, k: Int,
      filterExpr: Option[String], filterSql: Option[String])

  private final class Rng(seed: Long) {
    private var s: Long = seed
    def nextInt(bound: Int): Int = {
      s = s * 6364136223846793005L + 1442695040888963407L
      (((s >>> 33) % bound + bound) % bound).toInt
    }
    def oneOf[T](xs: Seq[T]): T = xs(nextInt(xs.length))
  }

  private val intervals = Seq(60L, 300L, 900L, 3600L, 7200L, 21600L, 86400L)
  private val fields = Seq(("type", "event_type"), ("user", "user_id"),
    ("props", "props"))
  // (expression syntax, independent SQL) — applied BEFORE the endpoint,
  // so the spigraph top keys are computed over the filtered universe on
  // both sides
  private val filters = Seq[(Option[String], Option[String])](
    (None, None),
    (Some("type == click"), Some("event_type = 'click'")),
    (Some("value >= 100"), Some("value >= 100")),
    (Some("user == 10-80"), Some("user_id BETWEEN 10 AND 80")),
    (Some("type == [purchase, signup]"),
      Some("event_type IN ('purchase', 'signup')")))

  /** Deterministic case list (relative-date filters are the grammar
    * fuzz's job — their SQL depends on `now`).
    */
  def cases(n: Int, seed: Long): Seq[EpCase] = {
    val r = new Rng(seed)
    (0 until n).map { i =>
      val (fe, fq) = r.oneOf(filters)
      r.nextInt(3) match {
        case 0 =>
          EpCase(i, Hist, r.oneOf(intervals), "", "", 0, fe, fq)
        case 1 =>
          val (f, fsql) = r.oneOf(fields)
          EpCase(i, Top, 0L, f, fsql, r.oneOf(Seq(1, 2, 3, 5, 10, 25)),
            fe, fq)
        case _ =>
          val (f, fsql) = r.oneOf(fields.take(2))
          EpCase(i, Spi, r.oneOf(intervals), f, fsql,
            r.oneOf(Seq(2, 3, 5)), fe, fq)
      }
    }
  }

  def oracleSql(cs: Seq[EpCase]): String = {
    def whereAnd(c: EpCase, extra: String): String = {
      val parts = c.filterSql.toSeq ++ (if (extra.nonEmpty) Seq(extra) else Nil)
      if (parts.isEmpty) "" else parts.mkString("WHERE ", " AND ", "")
    }
    val branches = cs.map { c =>
      val cid = s"CAST(${c.id} AS BIGINT)"
      c.kind match {
        case Hist =>
          s"""SELECT $cid AS case_id, '' AS k,
              CAST(floor(epoch(ts)/${c.interval})*${c.interval} AS BIGINT) AS b,
              CAST(count(*) AS BIGINT) AS n
              FROM events ${whereAnd(c, "")} GROUP BY b"""
        case Top =>
          s"""SELECT $cid AS case_id, CAST(${c.fieldSql} AS VARCHAR) AS k,
              CAST(0 AS BIGINT) AS b, CAST(cnt AS BIGINT) AS n FROM (
                SELECT ${c.fieldSql}, count(*) AS cnt FROM events
                ${whereAnd(c, s"${c.fieldSql} IS NOT NULL")}
                GROUP BY ${c.fieldSql}
                ORDER BY cnt DESC, ${c.fieldSql} ASC LIMIT ${c.k})"""
        case Spi =>
          s"""SELECT $cid AS case_id, CAST(e.${c.fieldSql} AS VARCHAR) AS k,
              CAST(floor(epoch(e.ts)/${c.interval})*${c.interval} AS BIGINT) AS b,
              CAST(count(*) AS BIGINT) AS n
              FROM events e JOIN (
                SELECT ${c.fieldSql}, count(*) AS cnt FROM events
                ${whereAnd(c, s"${c.fieldSql} IS NOT NULL")}
                GROUP BY ${c.fieldSql}
                ORDER BY cnt DESC, ${c.fieldSql} ASC LIMIT ${c.k}) t
                USING (${c.fieldSql})
              ${whereAnd(c, s"e.${c.fieldSql} IS NOT NULL")}
              GROUP BY k, b"""
      }
    }
    branches.mkString("SELECT case_id, k, b, n FROM (", " UNION ALL ",
      ") ORDER BY case_id, k, b")
  }

  // ===================================================================
  // Extended endpoint fuzz: the remaining kernels — unique (counts /
  // no-counts / autocomplete-prefix / small maxAggSize), ip:port pair
  // mode, multiunique, hierarchy (per-level top-K + per-level exists),
  // connections links (minConn degree filter) and nodes (baseline
  // bitmask) — against independent SQL over a derived frame with
  // injected NULLs so the exists/notNull semantics bite.
  // ===================================================================

  sealed trait Kind2
  case object Uniq extends Kind2
  case object Pair extends Kind2
  case object Multi extends Kind2
  case object Hier extends Kind2
  case object ConnL extends Kind2
  case object ConnN extends Kind2

  final case class EpCase2(id: Int, kind: Kind2,
      fields: Seq[String], k: Int, counts: Boolean,
      prefix: Option[String], minConn: Int, splitDay: Int,
      filterExpr: Option[String], filterSql: Option[String])

  /** DuckDB derivation of the endpoint fuzz frame — independent twin of
    * SparkEntry's connEv: graph nodes, pair ip/port, bucketed hierarchy
    * levels, each with NULL injection.
    */
  val frame2Sql: String =
    """SELECT event_id, user_id, event_type, value, props, ts,
       'n' || (event_id % 997) AS srcN,
       CASE WHEN event_id % 41 = 0 THEN NULL
            ELSE 'n' || ((event_id * 7 + user_id) % 997) END AS dstN,
       CASE WHEN user_id % 23 = 0 THEN NULL
            ELSE '10.0.' || (user_id % 30) || '.1' END AS pairIp,
       CASE WHEN event_id % 31 = 0 THEN NULL
            ELSE (event_id % 9) * 100 + 80 END AS pairPort,
       CASE WHEN user_id % 11 = 0 THEN NULL
            ELSE user_id % 20 END AS ub,
       event_id % 7 AS eb
     FROM events WHERE user_id IS NOT NULL"""

  private val uniqFields = Seq(("event_type", "event_type"),
    ("user_id", "user_id"), ("props", "props"))
  private val prefixes = Seq("c", "p", "s", "e", "v", "cl", "pu")
  private val multiSets = Seq(
    Seq("event_type", "ub"), Seq("event_type", "eb"),
    Seq("ub", "eb"), Seq("event_type", "ub", "eb"))

  def cases2(n: Int, seed: Long): Seq[EpCase2] = {
    val r = new Rng(seed)
    (0 until n).map { i =>
      val (fe, fq) = r.oneOf(filters)
      r.nextInt(6) match {
        case 0 => // unique: counts / no-counts / autocomplete / limit
          val (f, _) = r.oneOf(uniqFields)
          val counts = r.nextInt(3) != 0
          val prefix =
            if (f == "event_type" && r.nextInt(3) == 0)
              Some(r.oneOf(prefixes))
            else None
          val k = r.oneOf(Seq(3, 5, 17, 10000))
          EpCase2(i, Uniq, Seq(f), k, counts, prefix, 0, 0, fe, fq)
        case 1 => // ip:port pair mode
          val k = r.oneOf(Seq(5, 25, 10000))
          EpCase2(i, Pair, Nil, k, counts = true, None, 0, 0, fe, fq)
        case 2 => // multiunique over 2–3 fields
          val fs = r.oneOf(multiSets)
          val k = r.oneOf(Seq(5, 20, 10000))
          EpCase2(i, Multi, fs, k, counts = true, None, 0, 0, fe, fq)
        case 3 => // hierarchy at depth 2–3
          val depth = 2 + r.nextInt(2)
          val fs = Seq("event_type", "ub", "eb").take(depth)
          EpCase2(i, Hier, fs, 2 + r.nextInt(2), counts = true,
            None, 0, 0, fe, fq)
        case 4 => // connections links with minConn
          // thin the graph so the degree filter actually bites
          val (fe2, fq2) = r.oneOf(Seq(
            (Some("value >= 450"), Some("value >= 450")),
            (Some("value >= 400 && type == click"),
              Some("(value >= 400 AND event_type = 'click')")),
            (Some("user == 10-25"), Some("user_id BETWEEN 10 AND 25"))))
          EpCase2(i, ConnL, Nil, 0, counts = true, None,
            1 + r.nextInt(4), 0, fe2, fq2)
        case _ => // connections nodes with a baseline window
          val day = 8 + r.nextInt(14)
          EpCase2(i, ConnN, Nil, 0, counts = true, None, 0, day, fe, fq)
      }
    }
  }

  def oracleSql2(cs: Seq[EpCase2]): String = {
    def whereAnd(extra: Seq[String]): String =
      if (extra.isEmpty) "" else extra.mkString("WHERE ", " AND ", "")
    val branches = cs.map { c =>
      val cid = s"CAST(${c.id} AS BIGINT)"
      val fil = c.filterSql.toSeq
      c.kind match {
        case Uniq =>
          val f = c.fields.head
          val conds = fil ++ Seq(s"$f IS NOT NULL") ++
            c.prefix.map(p => s"CAST($f AS VARCHAR) LIKE '$p%'")
          if (c.counts)
            s"""SELECT $cid AS case_id, CAST($f AS VARCHAR) AS k,
                CAST(0 AS BIGINT) AS b, CAST(cnt AS BIGINT) AS n FROM (
                  SELECT $f, count(*) AS cnt FROM d ${whereAnd(conds)}
                  GROUP BY $f ORDER BY cnt DESC, $f ASC LIMIT ${c.k})"""
          else
            s"""SELECT $cid AS case_id, CAST($f AS VARCHAR) AS k,
                CAST(0 AS BIGINT) AS b, CAST(0 AS BIGINT) AS n FROM (
                  SELECT DISTINCT $f FROM d ${whereAnd(conds)}
                  ORDER BY $f ASC LIMIT ${c.k})"""
        case Pair =>
          val conds = fil ++ Seq("pairIp IS NOT NULL", "pairPort IS NOT NULL")
          s"""SELECT $cid AS case_id, pairIp || ':' || pairPort AS k,
              CAST(0 AS BIGINT) AS b, CAST(cnt AS BIGINT) AS n FROM (
                SELECT pairIp, pairPort, count(*) AS cnt FROM d
                ${whereAnd(conds)} GROUP BY 1, 2
                ORDER BY cnt DESC, (pairIp || ':' || pairPort) ASC
                LIMIT ${c.k})"""
        case Multi =>
          val conds = fil ++ c.fields.map(f => s"$f IS NOT NULL")
          val key = c.fields.map(f => s"CAST($f AS VARCHAR)")
            .mkString(" || '|' || ")
          s"""SELECT $cid AS case_id, $key AS k, CAST(0 AS BIGINT) AS b,
              CAST(cnt AS BIGINT) AS n FROM (
                SELECT ${c.fields.mkString(", ")}, count(*) AS cnt FROM d
                ${whereAnd(conds)} GROUP BY ${c.fields.mkString(", ")}
                ORDER BY cnt DESC, ${c.fields.map(_ + " ASC").mkString(", ")}
                LIMIT ${c.k})"""
        case Hier =>
          // per-level top-K: level 0 by global total, deeper levels by
          // row_number within the parent prefix (total DESC, value ASC),
          // descendants of survivors only — the reference's nested
          // terms-agg shape (viewer/apiSessions.js:2159-2271)
          val fs = c.fields
          val conds = fil ++ fs.map(f => s"$f IS NOT NULL")
          val sb = new StringBuilder
          sb.append(s"""WITH g AS (SELECT ${fs.mkString(", ")},
            count(*) AS cnt FROM d ${whereAnd(conds)}
            GROUP BY ${fs.mkString(", ")}),
            s0 AS (SELECT g.* FROM g JOIN (
              SELECT ${fs.head} FROM (
                SELECT ${fs.head}, sum(cnt) AS tot FROM g GROUP BY 1
                ORDER BY tot DESC, ${fs.head} ASC LIMIT ${c.k})) t0
              USING (${fs.head}))""")
          for (i <- 1 until fs.length) {
            val lvl = fs.take(i + 1).mkString(", ")
            val pfx = fs.take(i).mkString(", ")
            sb.append(s""", s$i AS (SELECT s${i - 1}.* FROM s${i - 1} JOIN (
              SELECT $lvl FROM (
                SELECT $lvl, row_number() OVER (PARTITION BY $pfx
                  ORDER BY sum(cnt) DESC, ${fs(i)} ASC) AS rk
                FROM s${i - 1} GROUP BY $lvl) WHERE rk <= ${c.k}) t$i
              USING ($lvl))""")
          }
          val key = fs.map(f => s"CAST($f AS VARCHAR)")
            .mkString(" || '|' || ")
          sb.append(s""" SELECT $cid AS case_id, $key AS k,
            CAST(0 AS BIGINT) AS b, CAST(cnt AS BIGINT) AS n
            FROM s${fs.length - 1}""")
          sb.toString
        case ConnL =>
          val conds = fil ++ Seq("srcN IS NOT NULL", "dstN IS NOT NULL")
          val links = s"""SELECT srcN AS src, dstN AS dst, count(*) AS cnt
            FROM d ${whereAnd(conds)} GROUP BY 1, 2"""
          if (c.minConn <= 1)
            s"""SELECT $cid AS case_id, src || '>' || dst AS k,
                CAST(0 AS BIGINT) AS b, CAST(cnt AS BIGINT) AS n
                FROM ($links)"""
          else
            s"""WITH l AS ($links), deg AS (
                  SELECT node FROM (
                    SELECT node, count(*) AS dg FROM (
                      SELECT src AS node FROM l
                      UNION ALL SELECT dst FROM l) GROUP BY 1)
                  WHERE dg >= ${c.minConn})
                SELECT $cid AS case_id, src || '>' || dst AS k,
                CAST(0 AS BIGINT) AS b, CAST(cnt AS BIGINT) AS n FROM l
                WHERE src IN (SELECT node FROM deg)
                  AND dst IN (SELECT node FROM deg)"""
        case ConnN =>
          val cur = (fil :+
            s"ts >= TIMESTAMP '2024-01-${f"${c.splitDay}%02d"} 00:00:00'")
            .mkString(" AND ")
          val base = (fil :+
            s"ts < TIMESTAMP '2024-01-${f"${c.splitDay}%02d"} 00:00:00'")
            .mkString(" AND ")
          def win(cond: String, flag: Int) =
            s"""SELECT node, count(*) AS sessions, $flag AS flag FROM (
                 SELECT srcN AS node FROM d WHERE $cond
                 UNION ALL SELECT dstN FROM d WHERE $cond)
               WHERE node IS NOT NULL GROUP BY node"""
          s"""SELECT $cid AS case_id, node AS k,
              CAST(sum(flag) AS BIGINT) AS b,
              CAST(sum(CASE WHEN flag = 1 THEN sessions ELSE 0 END)
                AS BIGINT) AS n
              FROM (${win(cur, 1)} UNION ALL ${win(base, 2)})
              GROUP BY node"""
      }
    }
    // parenthesize each branch: Hier/ConnL carry their own WITH, which
    // is only set-operation-legal inside parens
    branches.map(b => s"($b)")
      .mkString(s"WITH d AS ($frame2Sql) SELECT case_id, k, b, n FROM (",
        " UNION ALL ", ") ORDER BY case_id, k, b")
  }

  // ===================================================================
  // E2 sort/paging fuzz: the sessions-table kernel — multi-key sort
  // with the reference's null placement (addSortToQuery sets `missing`
  // to `_last` for asc and `_first` for desc, apiSessions.js:111 — a
  // missing value sorts as +∞ in both directions), from/size paging
  // windows including past-the-end offsets and the 2 M result cap —
  // against an independent ORDER BY … NULLS FIRST/LAST + LIMIT/OFFSET
  // translation over a NULL-injected frame. Sort keys may include a
  // column OUTSIDE the projection (the reference sorts on any db
  // field, projected or not).
  // ===================================================================

  final case class EpCase3(id: Int, sortKeys: Seq[(String, Boolean)],
      limit: Int, offset: Int,
      filterExpr: Option[String], filterSql: Option[String])

  /** DuckDB derivation of the paging fuzz frame — independent twin of
    * SparkEntry's pageEv: nullable sort columns at several tie
    * densities (`st` 4 values, `sb` 3, `hid` 25, `su` 50, `sv`
    * near-unique), plus `hid` which is sorted on but never projected.
    */
  val frame3Sql: String =
    """SELECT event_id, user_id, event_type, value, props, ts,
       CASE WHEN event_id % 13 = 0 THEN NULL ELSE value END AS sv,
       CASE WHEN event_id % 7 = 0 THEN NULL ELSE user_id % 50 END AS su,
       CASE WHEN event_id % 11 = 0 THEN NULL ELSE event_type END AS st,
       CASE WHEN user_id % 17 = 0 THEN NULL ELSE event_id % 3 END AS sb,
       CASE WHEN event_id % 5 = 0 THEN NULL
            ELSE CAST(floor(value) AS BIGINT) % 25 END AS hid
     FROM events WHERE user_id IS NOT NULL"""

  private val sortPool = Seq("sv", "su", "st", "sb", "hid")
  private val limits = Seq(5, 20, 101, 1000)
  private val offsets = Seq(0, 0, 3, 17, 250, 5000)

  def cases3(n: Int, seed: Long): Seq[EpCase3] = {
    val r = new Rng(seed)
    (0 until n).map { i =>
      if (i == 0)
        // pinned: the full 2 M cap window (apiSessions.js:1219) — the
        // whole frame in one page, exercising the cap-sized limit path
        EpCase3(0, Seq(("sv", false)), 2000000, 0, None, None)
      else {
        val nKeys = 1 + r.nextInt(3)
        val keys = scala.collection.mutable.LinkedHashSet.empty[String]
        while (keys.size < nKeys) keys += r.oneOf(sortPool)
        val sk = keys.toSeq.map(f => (f, r.nextInt(2) == 0))
        val (fe, fq) = r.oneOf(filters)
        EpCase3(i, sk, r.oneOf(limits), r.oneOf(offsets), fe, fq)
      }
    }
  }

  def oracleSql3(cs: Seq[EpCase3]): String = {
    val branches = cs.map { c =>
      val order = (c.sortKeys.map { case (f, asc) =>
        // the reference's rule: missing = asc ? _last : _first
        if (asc) s"$f ASC NULLS LAST" else s"$f DESC NULLS FIRST"
      } :+ "event_id ASC").mkString(", ")
      val where = c.filterSql.map(f => s"WHERE $f").getOrElse("")
      // inner SELECT * keeps unprojected sort columns (hid) visible to
      // the ORDER BY; the outer projection mirrors the kernel's
      // sort-before-project shape
      s"""SELECT CAST(${c.id} AS BIGINT) AS case_id, event_id, sv, su,
          st, sb FROM (
            SELECT * FROM d $where
            ORDER BY $order LIMIT ${c.limit} OFFSET ${c.offset})"""
    }
    branches.map(b => s"($b)")
      .mkString(s"WITH d AS ($frame3Sql) SELECT * FROM (",
        " UNION ALL ", ") ORDER BY case_id, event_id")
  }
}
