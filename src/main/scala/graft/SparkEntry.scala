package graft

import java.time.Instant

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.expr.Compiler
import graft.model.FieldRegistry
import graft.ops.{Dedup, Endpoints, Enrich, Multimodal, Pack, Sessionize, Similarity, TextOps}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] is one operator from SURVEY.md §2 exercised on
  * the driver's synthetic tables; [[oracleSql]] holds the DuckDB-equivalent
  * SQL with matching column names/aliases.
  *
  * Determinism rules shared by both sides:
  *   - double sums go through DECIMAL(18,2) (exact, order-independent) and
  *     are cast back to double;
  *   - timestamps are emitted as truncated epoch-second longs;
  *   - every result has a total ordering (explicit tie-breaks).
  */
object SparkEntry {

  /** Fixed reference instant for relative-date expressions (determinism). */
  val now: Instant = Instant.parse("2024-02-01T00:00:00Z")
  /** Fuzz-only comparison instant: mid-range and NOT on a unit boundary,
    * so `@d`/`@h` snapping in generated relative dates actually moves —
    * the shared midnight `now` snaps to itself.
    */
  val fuzzNow: Instant = Instant.parse("2024-01-28T13:47:23Z")

  private def ev(s: SparkSession, dir: String) = Tables.load(s, dir, "events")
  private def li(s: SparkSession, dir: String) = Tables.load(s, dir, "lineitem")
  private def ord(s: SparkSession, dir: String) = Tables.load(s, dir, "orders")
  private def cust(s: SparkSession, dir: String) = Tables.load(s, dir, "customer")

  private def compiler = new Compiler(FieldRegistry.events, now = now)

  /** Exact, order-independent double sum: decimal-accumulate, emit double. */
  private def dsum(c: Column): Column =
    sum(c.cast("decimal(18,2)")).cast("double")

  /** Epoch seconds (truncated) of a timestamp column. */
  private def epochS(c: Column): Column = unix_timestamp(c)

  // ------------------------------------------------------------------ entry

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_pricing_summary")(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // --- TPC-H-style headliners (agg + join paths) -----------------------
    "q1_pricing_summary" -> ((s, dir) => {
      li(s, dir)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
            .cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    "q3_top_revenue" -> ((s, dir) => {
      val c = cust(s, dir).filter(col("c_mktsegment") === "BUILDING")
      val o = ord(s, dir).filter(col("o_orderdate") < lit("1995-03-15").cast("timestamp"))
      val l = li(s, dir).filter(col("l_shipdate") > lit("1995-03-15").cast("timestamp"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
          .cast("double").as("revenue"))
        .select(col("l_orderkey"), epochS(col("o_orderdate")).as("o_orderdate_s"),
          col("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
    }),

    // --- Q: expression-language compiler (SURVEY §2.2) -------------------
    // Grammar fuzz (differential): 200 seeded random expressions over the
    // full events-registry grammar (lists, ranges, wildcards, regexes,
    // case folds, EXISTS!, absolute/relative/snapped dates, &&/||/! to
    // depth 3) evaluated as wide sum(when(pred)) aggregates — chunks of 40
    // keep each aggregate inside whole-stage codegen; one scan per chunk,
    // no shuffle beyond the single-row partial agg. DuckDB executes the
    // independently-translated SQL side of every case (ExprFuzz.oracleSql).
    "q_fuzz_grammar" -> ((s, dir) => {
      // deliberately NOT the shared midnight-aligned `now`: on a day
      // boundary every @d/@h snap is the identity, so snapped relative
      // dates would fuzz as plain offsets. An odd instant makes
      // snap-then-offset observable on both sides.
      val cs = graft.query.ExprFuzz.cases(200, 0xf00dL, fuzzNow)
      val fc = new Compiler(FieldRegistry.events, now = fuzzNow)
      val e = ev(s, dir)
      val chunks = cs.grouped(40).map { chunk =>
        val aggs = chunk.map(c =>
          sum(when(fc.compile(c.expr), 1L).otherwise(0L))
            .as(s"c${c.id}"))
        val row = e.agg(aggs.head, aggs.tail: _*)
        row.select(explode(array(chunk.map(c => struct(
          lit(c.id.toLong).as("case_id"),
          col(s"c${c.id}").as("n"))): _*)).as("p"))
          .select(col("p.case_id"), col("p.n"))
      }.reduce(_.unionByName(_))
      chunks.orderBy("case_id")
    }),
    // Extended grammar fuzz (differential): 240 seeded cases over the
    // four leaf kinds the Q1–Q13 fuzz can't reach on raw events —
    // ip/CIDR/prefix-shorthand with `:port` conjuncts, `ip`/`port`/
    // `host` meta-field fan-out (incl. under must_not), ipProtocol and
    // mac dash→colon operand transforms, and `$shortcut` expansion —
    // evaluated on a derived frame with injected NULLs/empty arrays.
    // Same wide sum(when) chunking as q_fuzz_grammar; DuckDB runs the
    // independently-translated SQL (ExprFuzz.oracleSqlExt).
    "q_fuzz_grammar_ext" -> ((s, dir) => {
      val cs = graft.query.ExprFuzz.extCases(240, 0xbead5eedL)
      val fc = new Compiler(graft.query.ExprFuzz.extRegistry, now = fuzzNow,
        shortcuts = graft.query.ExprFuzz.extShortcuts,
        views = graft.query.ExprFuzz.extViews,
        files = graft.query.ExprFuzz.extFiles)
      val e = fuzzExtEv(s, dir)
      val chunks = cs.grouped(40).map { chunk =>
        val aggs = chunk.map(c =>
          sum(when(fc.compile(c.expr), 1L).otherwise(0L))
            .as(s"c${c.id}"))
        val row = e.agg(aggs.head, aggs.tail: _*)
        row.select(explode(array(chunk.map(c => struct(
          lit(c.id.toLong).as("case_id"),
          col(s"c${c.id}").as("n"))): _*)).as("p"))
          .select(col("p.case_id"), col("p.n"))
      }.reduce(_.unionByName(_))
      chunks.orderBy("case_id")
    }),
    // Endpoint-kernel fuzz (differential): 24 seeded (interval, field,
    // top-k, filter) combos through ops/Endpoints vs an independent SQL
    // translation — sweeps interval snapping, top-k tie-breaks, and the
    // spigraph semi-join across the parameter space the fixed e3/e5/e6
    // queries pin at one point each.
    "e_fuzz_endpoints" -> ((s, dir) => {
      import graft.query.EndpointFuzz
      import graft.query.EndpointFuzz.{Hist, Spi, Top}
      val e = ev(s, dir)
      val frames = EndpointFuzz.cases(24, 0xe9d0cafeL).map { c =>
        val base = c.filterExpr
          .map(fx => e.filter(compiler.compile(fx))).getOrElse(e)
        c.kind match {
          case Hist =>
            Endpoints.timeHistogram(base, col("ts"), c.interval)
              .select(lit(c.id.toLong).as("case_id"), lit("").as("k"),
                epochS(col("bucket")).as("b"), col("sessions").as("n"))
          case Top =>
            Endpoints.topTerms(base, col(c.fieldSql), c.fieldSql, c.k)
              .select(lit(c.id.toLong).as("case_id"),
                col(c.fieldSql).cast("string").as("k"),
                lit(0L).as("b"), col("cnt").as("n"))
          case Spi =>
            Endpoints.spigraph(base, col(c.fieldSql), c.fieldSql,
              col("ts"), c.interval, c.k)
              .select(lit(c.id.toLong).as("case_id"),
                col(c.fieldSql).cast("string").as("k"),
                epochS(col("bucket")).as("b"), col("value").as("n"))
        }
      }
      frames.reduce(_.unionByName(_)).orderBy("case_id", "k", "b")
    }),
    // Extended endpoint fuzz (differential): 48 seeded combos through
    // the remaining kernels — unique (counts/no-counts/autocomplete-
    // prefix/limit), ip:port pair mode, multiunique, hierarchy (per-
    // level top-K with per-level exists), connections links (minConn
    // degree filter) and nodes (baseline bitmask) — on the NULL-
    // injected connEv frame vs EndpointFuzz.oracleSql2's independent
    // SQL (per-level row_number, IN-subquery degree filter).
    "e_fuzz_endpoints2" -> ((s, dir) => {
      import graft.query.EndpointFuzz
      import graft.query.EndpointFuzz.{ConnL, ConnN, Hier, Multi, Pair, Uniq}
      val e = connEv(s, dir)
      val frames = EndpointFuzz.cases2(48, 0x5eedf00dL).map { c =>
        val base = c.filterExpr
          .map(fx => e.filter(compiler.compile(fx))).getOrElse(e)
        c.kind match {
          case Uniq =>
            val f = c.fields.head
            Endpoints.unique(base, col(f), f, counts = c.counts,
              autocompletePrefix = c.prefix, maxAggSize = c.k)
              .select(lit(c.id.toLong).as("case_id"),
                col(f).cast("string").as("k"), lit(0L).as("b"),
                (if (c.counts) col("cnt") else lit(0L)).as("n"))
          case Pair =>
            Endpoints.uniquePairs(base, col("pairIp"), col("pairPort"),
              name = "pair", maxAggSize = c.k)
              .select(lit(c.id.toLong).as("case_id"), col("pair").as("k"),
                lit(0L).as("b"), col("cnt").as("n"))
          case Multi =>
            Endpoints.multiunique(base, c.fields, maxAggSize = c.k)
              .select(lit(c.id.toLong).as("case_id"),
                concat_ws("|",
                  c.fields.map(f => col(f).cast("string")): _*).as("k"),
                lit(0L).as("b"), col("cnt").as("n"))
          case Hier =>
            Endpoints.hierarchy(base, c.fields, c.k)
              .select(lit(c.id.toLong).as("case_id"),
                concat_ws("|",
                  c.fields.map(f => col(f).cast("string")): _*).as("k"),
                lit(0L).as("b"), col("cnt").as("n"))
          case ConnL =>
            Endpoints.connectionsLinks(base, col("srcN"), col("dstN"),
              minConn = c.minConn)
              .select(lit(c.id.toLong).as("case_id"),
                concat(col("src"), lit(">"), col("dst")).as("k"),
                lit(0L).as("b"), col("cnt").as("n"))
          case ConnN =>
            val split = f"2024-01-${c.splitDay}%02d 00:00:00"
            val cur = base.filter(col("ts") >= lit(split).cast("timestamp"))
            val bl = base.filter(col("ts") < lit(split).cast("timestamp"))
            Endpoints.connectionsNodes(cur, Some(bl), col("srcN"), col("dstN"))
              .select(lit(c.id.toLong).as("case_id"), col("node").as("k"),
                col("flag").cast("long").as("b"),
                col("sessions").cast("long").as("n"))
        }
      }
      frames.reduce(_.unionByName(_)).orderBy("case_id", "k", "b")
    }),
    // E2 sort/paging fuzz: the sessions-table kernel under random
    // multi-key sorts (asc→nulls last, desc→nulls first — the
    // reference's missing rule, apiSessions.js:111), from/size paging
    // incl. past-the-end offsets and the pinned 2 M cap window, on the
    // NULL-injected pageEv frame vs EndpointFuzz.oracleSql3's
    // independent ORDER BY … NULLS FIRST/LAST + LIMIT/OFFSET SQL.
    // Every case appends event_id as the final tiebreak on BOTH sides
    // so paging windows are deterministic under heavy ties.
    "e_fuzz_endpoints3" -> ((s, dir) => {
      import graft.query.EndpointFuzz
      val e = pageEv(s, dir)
      val frames = EndpointFuzz.cases3(36, 0x3eedbeefL).map { c =>
        val base = c.filterExpr
          .map(fx => e.filter(compiler.compile(fx))).getOrElse(e)
        Endpoints.sessionsTable(base,
          Seq("event_id", "sv", "su", "st", "sb"),
          c.sortKeys :+ (("event_id", true)),
          limit = c.limit, offset = c.offset)
          .withColumn("case_id", lit(c.id.toLong))
          .select("case_id", "event_id", "sv", "su", "st", "sb")
      }
      frames.reduce(_.unionByName(_)).orderBy("case_id", "event_id")
    }),
    "q_expr_eq" -> ((s, dir) =>
      evProjected(ev(s, dir).filter(compiler.compile("type == purchase")))),
    "q_expr_bool" -> ((s, dir) =>
      evProjected(ev(s, dir).filter(compiler.compile(
        "(type == purchase || type == signup) && value >= 50 && user != 7")))),
    "q_expr_wildcard" -> ((s, dir) =>
      evProjected(ev(s, dir).filter(compiler.compile("type == p*se")))),
    "q_expr_regex" -> ((s, dir) =>
      evProjected(ev(s, dir).filter(compiler.compile("type == /s.*p/")))),
    "q_expr_list" -> ((s, dir) =>
      evProjected(ev(s, dir).filter(compiler.compile(
        "type == [signup, error, p*]")))),
    "q_expr_range" -> ((s, dir) =>
      evProjected(ev(s, dir).filter(compiler.compile(
        "value >= 50 && value < 60.5 && id != 10-20")))),
    "q_expr_not" -> ((s, dir) =>
      evProjected(ev(s, dir).filter(compiler.compile(
        "!(type == error || value < 10)")))),
    "q_expr_date" -> ((s, dir) =>
      evProjected(ev(s, dir).filter(compiler.compile(
        "ts >= \"2024/01/10\" && ts < \"2024/01/20 12:00:00\"")))),
    "q_expr_exists" -> ((s, dir) =>
      evProjected(ev(s, dir).filter(compiler.compile(
        "props == EXISTS! && type != error")))),
    // Q10: lotermfield folds the operand (and compare) to lower case
    "q10_casefold" -> ((s, dir) =>
      evProjected(ev(s, dir).filter(compiler.compile(
        "type.lower == CLICK")))),
    // Q13: relative dates with unit snapping against the fixed `now`
    // (2024-02-01T00:00Z). The reference snaps FIRST, then offsets
    // (molochparser.jison:858-880): -5d → 01-27 00:00;
    // -36h@d → snap(now)@d=02-01 00:00 minus 36h = 01-30 12:00
    "q13_relative_date" -> ((s, dir) =>
      evProjected(ev(s, dir).filter(compiler.compile(
        "ts >= -5d && ts < -36h@d")))),
    "q14_shortcut" -> ((s, dir) => {
      val c = new Compiler(FieldRegistry.events, now = now,
        shortcuts = Map("vips" -> Seq("1", "2", "3")))
      evProjected(ev(s, dir).filter(c.compile("user == $vips && type == purchase")))
    }),
    // Q14 via the persisted lookups table (apiShortcuts.js CRUD → the
    // getShortcutsCache map handed to the parser): same query, but the
    // $vips list round-trips through the store-backed Shortcuts CRUD.
    "q14_shortcut_store" -> ((s, dir) => {
      val path = java.nio.file.Files.createTempDirectory("graft-lookups")
        .resolve("lookups").toString
      graft.query.Shortcuts.create(s, path, "alice", "vips", "number",
        "1, 2\n3", shared = true)
      val c = new Compiler(FieldRegistry.events, now = now,
        shortcuts = graft.query.Shortcuts.forUser(s, path, "bob"))
      evProjected(ev(s, dir).filter(c.compile("user == $vips && type == purchase")))
    }),
    "q15_view" -> ((s, dir) => {
      val c = new Compiler(FieldRegistry.events, now = now,
        views = Map("errors" -> "type == error"))
      evProjected(ev(s, dir).filter(c.compile("view == errors && value > 150")))
    }),
    "q19_forced" -> ((s, dir) =>
      evProjected(ev(s, dir).filter(
        compiler.compileWithForced("value > 100", Some("type != error"))))),
    // Q9 + Q3 on ip-typed fields: a synthesized v4 column lets DuckDB
    // oracle the numeric-order range (ip_sortable) and CIDR semantics.
    "q_expr_ip_range" -> ((s, dir) =>
      ipEv(s, dir).filter(ipCompiler.compile(
        "ip.src > 10.100.0.0 && ip.src <= 10.200.0.0"))
        .orderBy("event_id")),
    "q_expr_ip_cidr" -> ((s, dir) =>
      ipEv(s, dir).filter(ipCompiler.compile("ip.src == 10.128/10"))
        .orderBy("event_id")),
    // Q17: `host` meta-field fan-out over every hostname column — derived
    // host columns on the events table let DuckDB oracle the OR expansion
    // (the pcap-side fan-out is golden-pinned in ExprCompilerSpec).
    "q_expr_host_meta" -> ((s, dir) => {
      val d = ev(s, dir).select(
        col("event_id"),
        array(concat(lit("h"), col("user_id") % 50, lit(".example.com")))
          .as("httpHost"),
        array(concat(lit("d"), col("event_id") % 97, lit(".example.org")))
          .as("dnsQname"),
        array(concat(lit("h"), col("event_id") % 50, lit(".example.com")))
          .as("quicHost"),
        array().cast("array<string>").as("dnsMailserverHost"),
        array().cast("array<string>").as("dnsNameserverHost"),
        array().cast("array<string>").as("smbHost"),
        array().cast("array<string>").as("emailHost"),
        array().cast("array<string>").as("dhcpHost"),
        lit(null).cast("string").as("oracleHost"),
        lit(null).cast("string").as("socksHost"))
      val c = new Compiler(FieldRegistry.sessions, FieldRegistry.sessionCol, now)
      d.filter(c.compile("host == [h7.example.com, d1*.example.org]"))
        .select("event_id").orderBy("event_id")
    }),
    // Q16: `file ==` fileand — filename resolves through the files
    // dimension to (node, fileId) OR-terms before filtering
    "q16_fileand" -> ((s, dir) => {
      val d = ev(s, dir).select(col("event_id"),
        concat(lit("node"), col("event_id") % 3).as("node"),
        array(concat(lit("/data/pcap/cap-"), col("event_id") % 7,
          lit(".pcap"))).as("fileId"))
      val filesDim = for (n <- 0 until 3; k <- 0 until 7) yield
        graft.model.FileEntry(s"cap-$k.pcap", s"node$n", s"/data/pcap/cap-$k.pcap")
      val c = new Compiler(FieldRegistry.sessions, FieldRegistry.sessionCol,
        now, files = filesDim)
      d.filter(c.compile("file == cap-3.pcap"))
        .select("event_id").orderBy("event_id")
    }),
    // Q11: tokenized textfield — analyzed phrase containment
    "q_expr_text" -> ((s, dir) => {
      val c = new Compiler(FieldRegistry(Seq(graft.model.FieldDef(
        "text", "text", graft.model.FieldKind.TextK))), now = now)
      docs(s, dir).filter(c.compile("text == \"table value\""))
        .select("doc_id").orderBy("doc_id")
    }),
    // FLAG_CNT companion fields: <field>.cnt compares the array size
    "q_expr_cnt" -> ((s, dir) => {
      val c = new Compiler(FieldRegistry(Seq(graft.model.FieldDef(
        "words", "words", graft.model.FieldKind.TermK,
        multiValued = true))), now = now)
      docs(s, dir).withColumn("words", split(col("text"), " "))
        .filter(c.compile("words.cnt >= 40 && words.cnt <= 60"))
        .select("doc_id").orderBy("doc_id")
    }),

    // --- E: endpoint operators (SURVEY §2.3) -----------------------------
    "e1_session_query" -> ((s, dir) => {
      val e = ev(s, dir)
      evProjected(Endpoints.sessionQuery(
        e, col("ts"), col("ts"), col("ts"),
        lit("2024-01-05 00:00:00").cast("timestamp"),
        lit("2024-01-25 00:00:00").cast("timestamp"),
        Endpoints.Bounding.Last,
        Some(compiler.compile("type == purchase && value >= 100"))))
    }),
    "e2_sessions_table" -> ((s, dir) =>
      Endpoints.sessionsTable(
        ev(s, dir).withColumn("ts_s", epochS(col("ts"))).drop("ts"),
        Seq("event_id", "ts_s", "user_id", "event_type", "value"),
        Seq(("value", false), ("event_id", true)),
        limit = 20, offset = 10)),
    "e3_time_histogram" -> ((s, dir) =>
      Endpoints.timeHistogram(ev(s, dir), col("ts"), 3600,
        Map("sum_value" -> dsum(col("value"))))
        .withColumn("bucket_s", epochS(col("bucket"))).drop("bucket")
        .orderBy("bucket_s")),
    "e4_term_counts" -> ((s, dir) =>
      Endpoints.termCounts(ev(s, dir), col("event_type"), "event_type")),
    "e5_spiview_top" -> ((s, dir) =>
      Endpoints.topTerms(ev(s, dir), col("user_id"), "user_id", 10)),
    "e6_spigraph" -> ((s, dir) =>
      Endpoints.spigraph(ev(s, dir), col("event_type"), "event_type",
        col("ts"), 86400, 3)
        .withColumn("bucket_s", epochS(col("bucket"))).drop("bucket")
        .orderBy("event_type", "bucket_s")),
    "e7_hierarchy" -> ((s, dir) =>
      Endpoints.hierarchy(ev(s, dir), Seq("event_type", "user_id"), 3)),
    "e8_unique" -> ((s, dir) =>
      Endpoints.unique(ev(s, dir), col("user_id"), "user_id")),
    "e9_multiunique" -> ((s, dir) =>
      Endpoints.multiunique(ev(s, dir), Seq("event_type", "user_id"))),
    "e10_connections" -> ((s, dir) =>
      Endpoints.connectionsLinks(ev(s, dir), col("user_id"), col("event_type"),
        Map("sum_value" -> dsum(col("value"))))),
    "e5_spiview_multi" -> ((s, dir) =>
      Endpoints.spiview(ev(s, dir), Seq("event_type", "user_id"), 5)),
    "e15_federation" -> ((s, dir) => {
      val e = ev(s, dir)
      // two "clusters" = disjoint halves; federate, then final agg/sort
      val merged = Endpoints.federate(Seq(
        e.filter(col("event_id") % 2 === 0), e.filter(col("event_id") % 2 === 1)))
      merged.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .orderBy(col("event_type"))
    }),
    "e1_bounding_either" -> ((s, dir) => {
      // sessionized events give real first/last columns for bounding modes
      val sess = Sessionize.sessionize(ev(s, dir), col("user_id"), col("ts"),
        col("event_id"), 1800)
      Endpoints.sessionQuery(sess,
        timestamp_seconds(col("start_s")), timestamp_seconds(col("end_s")),
        timestamp_seconds(col("end_s")),
        lit("2024-01-10 00:00:00").cast("timestamp"),
        lit("2024-01-20 00:00:00").cast("timestamp"),
        Endpoints.Bounding.Either)
        .orderBy("key", "session_seq")
    }),
    "e8_cardinality" -> ((s, dir) =>
      graft.ops.Cnt.cardinality(ev(s, dir), Seq("user_id", "event_type"))),
    // E16b dstats: the cubism grid for one derived metric over a
    // synthetic per-node hourly dstats frame (nodes from user_id%4,
    // deltaBytes = sample count so every value is integral and the
    // floor() arithmetic is oracle-exact)
    "e16b_dstats" -> ((s, dir) => {
      val m = ev(s, dir).filter(col("user_id").isNotNull)
        .groupBy(
          concat(lit("node"), col("user_id") % 4).as("nodeName"),
          (floor(epochS(col("ts")) / 3600) * 3600).cast("long")
            .as("currentTime"),
          (lit(60000L) + (col("user_id") % 4) * 1000L).as("deltaMS"))
        .agg(count(lit(1)).as("deltaBytes"))
        .withColumn("interval", lit(60L))
      Endpoints.dstats(m, "deltaBitsPerSec",
        startSec = 1704067200L, stopSec = 1706659200L,
        stepSec = 86400L, intervalSec = 60L)
        .withColumn("value", col("value").cast("long"))
    }),
    "e16_node_stats" -> ((s, dir) =>
      Endpoints.nodeStats(
        ev(s, dir).filter(col("user_id").isNotNull),
        concat(lit("node"), col("user_id") % 4), col("ts"), 86400,
        Map("n" -> count(lit(1)), "sum_value" -> dsum(col("value"))))
        // the op's built-in samples count duplicates this query's n agg
        .drop("samples")
        .withColumn("bucket_s", epochS(col("bucket"))).drop("bucket")
        .orderBy("node", "bucket_s")),
    // E38 parliament-lite: the instant issue rules over a synthetic
    // node-stats snapshot derived from events (the stateful noPackets
    // persistence + ack/ignore workflow is ParliamentSpec-pinned)
    "e38_parliament" -> ((s, dir) => {
      val stats = ev(s, dir).filter(col("user_id").isNotNull)
        .groupBy(concat(lit("node"), col("user_id") % 4).as("nodeName"))
        .agg(
          (lit(1000000L) - (max(col("user_id")) % 100L) * lit(40L))
            .as("currentTime"),
          (sum(col("user_id")) % 5L).as("deltaPacketsPerSec"),
          (count(lit(1)) % 3L).as("deltaESDroppedPerSec"))
        .withColumn("cluster", lit("c1"))
      graft.ops.Parliament.instantIssues(stats, nowSec = 1000000L)
        .orderBy("cluster", "issue_type", "node")
    }),
    // E38 rollup: getStats' per-cluster aggregates (summed rates, live
    // node count, monitoring total) over the same synthetic snapshot
    "e38_parliament_rollup" -> ((s, dir) => {
      val stats = ev(s, dir).filter(col("user_id").isNotNull)
        .groupBy(
          concat(lit("c"), col("user_id") % 2).as("cluster"),
          concat(lit("node"), col("user_id") % 4).as("nodeName"))
        .agg(
          (lit(1000000L) - (max(col("user_id")) % 100L) * lit(40L))
            .as("currentTime"),
          (sum(col("user_id")) % 5L).as("deltaPacketsPerSec"),
          (sum(col("event_id")) % 1000L).as("deltaBytesPerSec"),
          (count(lit(1)) % 7L).as("deltaTotalDroppedPerSec"),
          (count(lit(1)) % 2L).as("monitoring"))
      graft.ops.Parliament.clusterRollup(stats, nowSec = 1000000L)
        .orderBy("cluster")
    }),
    "e8_unique_autocomplete" -> ((s, dir) =>
      Endpoints.unique(ev(s, dir), col("event_type"), "event_type",
        counts = true, autocompletePrefix = Some("p"))),
    // E8 pair mode: unique "ip:port" keys over a synthetic endpoint pair
    "e8_unique_ippair" -> ((s, dir) =>
      Endpoints.uniquePairs(
        ipEv(s, dir).withColumn("srcPort", col("event_id") % 1000 + 1000),
        col("srcIp"), col("srcPort"), "pair")),
    "e10_connections_baseline" -> ((s, dir) => {
      val e = ev(s, dir)
      val cur = e.filter(col("ts") >= lit("2024-01-16 00:00:00").cast("timestamp"))
      val base = e.filter(col("ts") < lit("2024-01-16 00:00:00").cast("timestamp"))
      Endpoints.connectionsNodes(cur, Some(base), col("user_id"), col("event_type"))
    }),
    "e12_segment_join" -> ((s, dir) => {
      // rootId-style segment re-join: orders ⋈ lineitem, per-order rollup.
      li(s, dir).join(ord(s, dir), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey"))
        .agg(count(lit(1)).as("n_lines"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("o_orderkey")).limit(1000)
    }),

    // --- I11: duplicate-packet suppression (windowed content hash) ------
    "i11_packet_dedup" -> ((s, dir) => {
      val e = ev(s, dir)
        .filter(col("user_id").isNotNull && col("event_type").isNotNull)
        .withColumn("hash", concat(col("event_type"), lit("|"), col("user_id")))
      Enrich.dedupPackets(e, Seq("hash"), col("ts"), 3600)
        .groupBy(col("hash")).agg(count(lit(1)).as("n"))
        .orderBy(col("hash"))
    }),

    // --- I13: WISE intel lookup (key -> field=value set) -----------------
    "i13_wise" -> ((s, dir) => {
      import s.implicits._
      val intel = Seq(
        ("purchase", "category", "money"), ("purchase", "risk", "low"),
        ("error", "risk", "high")).toDF("key", "field", "value")
      Enrich.wiseLookup(ev(s, dir), col("event_type"), intel)
        .select(col("event_id"),
          array_join(array_sort(col("intel")), ",").as("intel"))
        .orderBy(col("event_id"))
    }),

    // --- I13/WISE service: multi-source domain lookup with the
    // exact-first one-label-stripped fallback (simpleSource.js:65-71)
    // and suffix exclusion (wise.c:510-517) ------------------------------
    "i18_wise_domain" -> ((s, dir) => {
      import s.implicits._
      val f = ev(s, dir).filter(col("user_id").isNotNull)
        .select(col("event_id"),
          concat(lit("w"), col("event_id") % 7, lit("."),
            col("event_type"), col("user_id") % 20, lit(".com")).as("host"))
      val fileSrc = graft.ops.Wise.Source("filesrc", "domain",
        Seq(("purchase3.com", "intel", "bad"),
          ("w1.click7.com", "intel", "worse"),
          ("click7.com", "intel", "meh")).toDF("key", "field", "value"))
      val urlSrc = graft.ops.Wise.Source("urlsrc", "domain",
        Seq(("error5.com", "score", "9"),
          ("purchase3.com", "score", "7")).toDF("key", "field", "value"))
      graft.ops.Wise.lookup(f, col("event_id"), col("host"), "domain",
        Seq(fileSrc, urlSrc), excludes = Seq(".view9.com"))
        .orderBy("id", "source", "field", "value")
    }),

    // --- I13/WISE service: CIDR intel with longest-prefix-wins trie
    // semantics as two hash joins (iptrie / simpleSource.js:60-63) -------
    "i19_wise_cidr" -> ((s, dir) => {
      import s.implicits._
      val geo = graft.ops.Wise.Source("geo", "ip",
        Seq(("10.0.0.0/8", "scope", "corp"),
          ("10.5.0.0/16", "scope", "lab"),
          ("10.5.7.0/24", "scope", "rack")).toDF("key", "field", "value"))
      val threat = graft.ops.Wise.Source("threat", "ip",
        Seq(("10.100.0.0/14", "threat", "scan")).toDF("key", "field", "value"))
      graft.ops.Wise.lookupIp(ipEv(s, dir), col("event_id"), col("srcIp"),
        Seq(geo, threat))
        .orderBy("id", "source", "cidr", "field", "value")
    }),

    // --- I20: BPF capture/save filter (etl/Bpf — the reference's bpf= /
    // dontSaveBPFs language) compiled to a codegen'd Column over a flow
    // frame derived deterministically from lineitem (the SF tables carry
    // no IPs); CIDR terms ride the native ip_in_cidr expression
    "i20_bpf_filter" -> ((s, dir) => {
      val f = li(s, dir).select(
        (col("l_orderkey") * 10 + col("l_linenumber")).cast("long")
          .as("row_id"),
        concat_ws(".", lit("10"), (col("l_orderkey") % 200).cast("int"),
          (col("l_partkey") % 250).cast("int"),
          (col("l_suppkey") % 250).cast("int")).as("src_ip"),
        concat_ws(".", lit("192.168"), (col("l_partkey") % 250).cast("int"),
          (col("l_linenumber") % 250).cast("int")).as("dst_ip"),
        ((col("l_orderkey") * 7 + col("l_suppkey") * 613) % 50000 + 1024)
          .cast("long").as("src_port"),
        when(col("l_linenumber") % 2 === 0, 443).otherwise(80)
          .cast("int").as("dst_port"),
        when(col("l_orderkey") % 3 === 0, 6).otherwise(17)
          .cast("int").as("proto"))
      val keep = graft.etl.Bpf.column(
        "tcp and dst port 443 and src portrange 20000-40000 " +
          "and net 10.64.0.0/10 and not src host 10.65.3.3",
        graft.etl.Bpf.Fields(col("src_ip"), col("dst_ip"),
          col("src_port"), col("dst_port"), col("proto")))
      f.filter(keep).select("row_id", "src_ip", "src_port")
        .orderBy("row_id")
    }),

    // --- I13/WISE url-json source adapter end-to-end (source.url.js +
    // simpleSource parseJSON): a constant feed body → fromJsonUrl field
    // mapping (arrayPath/keyPath walk, lotermfield fold, array-key
    // fan-out, key-only items) → the same broadcast domain-lookup path
    "i21_wise_feed" -> ((s, dir) => {
      // keys are lowercase in the feed itself: the reference's
      // simpleSource.js load() inserts non-ip/non-url keys verbatim
      // (plain newCache.set), so a mixed-case domain key would never
      // match there either — real feeds publish canonical lowercase
      val feed =
        """{"meta":{"gen":1},"data":[
          {"ind":{"d":"purchase3.com"},"mal":{"type":"C2"},"score":7},
          {"ind":{"d":"w1.click7.com"},"mal":{"type":"Phish"}},
          {"ind":{"d":"click7.com"}},
          {"ind":{"d":["error5.com","view2.com"]},"score":9}]}"""
      val p = java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir"), "graft-i21-feed.json")
      java.nio.file.Files.write(p, feed.getBytes("UTF-8"))
      val src = graft.ops.Wise.fromJsonUrl(s, "feed", "domain",
        p.toString, keyPath = "ind.d", arrayPath = Some("data"),
        fieldDefs = Seq(
          "field:mal.type;db:mal.type;kind:lotermfield;shortcut:mal.type",
          "field:score;db:score;shortcut:score"))
      val f = ev(s, dir).filter(col("user_id").isNotNull)
        .select(col("event_id"),
          concat(lit("w"), col("event_id") % 7, lit("."),
            col("event_type"), col("user_id") % 20, lit(".com")).as("host"))
      graft.ops.Wise.lookup(f, col("event_id"), col("host"), "domain",
        Seq(src))
        .select(col("id"), col("source"),
          coalesce(col("field"), lit("")).as("field"),
          coalesce(col("value"), lit("")).as("value"))
        .orderBy("id", "field", "value")
    }),

    // --- J1: as-of join — latest signup state at each purchase ----------
    "j1_asof_join" -> ((s, dir) => {
      val e = ev(s, dir).filter(col("user_id").isNotNull)
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val signups = e.filter(col("event_type") === "signup")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).cast("decimal(18,2)").cast("double").as("sv"))
        .withColumn("asof_ts", unix_timestamp(col("ts")))
      graft.ops.AsOf.asofJoin(purchases, col("user_id"), col("ts"),
        signups, col("user_id"), col("ts"), Seq("sv", "asof_ts"))
        .select(col("event_id"), col("sv"), col("asof_ts"))
        .orderBy("event_id")
    }),

    // --- I4: sessionization (batch gaps-and-islands) ---------------------
    "i4_sessionize" -> ((s, dir) =>
      Sessionize.sessionize(ev(s, dir), col("user_id"), col("ts"),
        col("event_id"), 1800, Map("sum_value" -> dsum(col("value"))))
        .orderBy("key", "session_seq")),
    // I16: suricata-plugin alert enrichment — out-of-band alerts (the
    // 'error' events) attached to the flow-session whose key+interval
    // covers them, via the bucketed interval equi-join
    "i16_suricata" -> ((s, dir) => {
      val all = ev(s, dir)
      val sess = Sessionize.sessionize(all.filter(col("event_type") =!= "error"),
        col("user_id"), col("ts"), col("event_id"), 86400)
      val alerts = all.filter(col("event_type") === "error")
        .select(col("user_id").as("key"),
          unix_timestamp(col("ts")).as("alert_s"),
          col("event_id").as("alert_id"))
      Enrich.alertSessionJoin(sess, alerts, bucketSeconds = 3600)
        .groupBy("key", "session_seq")
        .agg(count(lit(1)).as("n_alerts"),
          min(col("alert_id")).as("first_alert"),
          max(col("alert_id")).as("last_alert"))
        .orderBy("key", "session_seq")
    }),

    // --- D: deduplication ------------------------------------------------
    "d1_dedup_exact" -> ((s, dir) =>
      Dedup.exact(docs(s, dir), col("text"), col("doc_id"))
        .orderBy("content_hash")),
    "d2_dedup_minhash" -> ((s, dir) =>
      Dedup.minhashCandidates(docs(s, dir), col("text"), col("doc_id"))
        .orderBy("doc_a", "doc_b")),
    "d3_dedup_simhash" -> ((s, dir) =>
      Dedup.simhash(docs(s, dir), col("text"), col("doc_id"))
        .orderBy("doc_id")),
    "d4_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(docs(s, dir), col("text"), col("doc_id"),
        docBlockKey, shingleK = 3, threshold = 0.5)
        .orderBy("doc_a", "doc_b")),
    "d5_embedding_neardup" -> ((s, dir) =>
      Dedup.embeddingNearDup(emb(s, dir), col("embedding"), col("vec_id"),
        col("label"), threshold = 0.4)
        .orderBy("vec_a", "vec_b")),
    // D6: candidate pairs → connected components (canonical survivor per
    // dup chain, transitive closure the pair list alone can't express)
    "d6_dedup_groups" -> ((s, dir) =>
      Dedup.resolveGroups(
        Dedup.minhashCandidates(docs(s, dir), col("text"), col("doc_id")))
        .orderBy("doc_id")),
    // D7: SemDeDup — near-dups within embedding-space centroid cells
    "d7_semantic_dedup" -> ((s, dir) =>
      Dedup.semanticNearDup(emb(s, dir), col("embedding"), col("vec_id"),
        nCells = 8, threshold = 0.4)
        .orderBy("vec_a", "vec_b")),
    // D8: winnowing fingerprints — substring-level dup candidates
    "d8_winnow" -> ((s, dir) =>
      Dedup.winnowPairs(docs(s, dir), col("text"), col("doc_id"))
        .orderBy("doc_a", "doc_b")),
    // D9: benchmark decontamination — deterministic bench split (id%97),
    // k=3 so the synthetic corpus yields checkable overlap (prod: 8-13)
    "d9_contamination" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.contaminationPairs(
        d.filter(col("doc_id") % 97 =!= 0), d.filter(col("doc_id") % 97 === 0),
        col("text"), col("doc_id"), k = 3)
        .orderBy("doc_id", "bench_id")
    }),
    // D20: soft dedup — 1/|cluster| ppm weights instead of removal
    "d20_soft_dedup" -> ((s, dir) =>
      Dedup.softDedupWeights(docs(s, dir), col("text"), col("doc_id"))
        .orderBy("doc_id")),
    // T20: curriculum phases by quality score + deterministic intra-phase
    // order (exact prefix-sum cuts over score values, no global window)
    "t20_curriculum" -> ((s, dir) =>
      Pack.curriculum(docs(s, dir), col("n_chars"), col("doc_id"),
        nPhases = 4)
        .orderBy("phase", "ord", "doc_id")),
    // P13: power-of-two length-class packing into fixed-shape bins
    "p13_class_pack" -> ((s, dir) =>
      Pack.classPack(docs(s, dir), col("doc_id"), col("n_chars"),
        ctx = 2048, nShards = 8)
        .orderBy("cls", "shard", "bin", "slot")),
    // M5: perceptual dHash near-dup over the deterministic stub decode
    "m5_image_dhash" -> ((s, dir) =>
      Multimodal.dhashPairs(docs(s, dir), col("doc_id"), col("text"),
        maxHamming = 16)
        .orderBy("doc_a", "doc_b")),
    // D17: decontamination removal — corpus minus docs sharing ≥2
    // trigram hashes with the held-out benchmark slice
    "d17_decontaminate" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.decontaminate(
        d.filter(col("doc_id") % 97 =!= 0), d.filter(col("doc_id") % 97 === 0),
        col("text"), col("doc_id"), k = 3, minShared = 2)
        .orderBy("doc_id")
    }),
    // S9: time-series pattern search — top-10 windows across all node
    // series closest to a 3-day spike shape (integer-cents distances)
    "s9_series_match" -> ((s, dir) => {
      val e = ev(s, dir).filter(col("user_id").isNotNull)
      val series = e.groupBy(
          concat(lit("node"), col("user_id") % 4).as("node"),
          floor(unix_timestamp(col("ts")) / 86400).cast("long").as("day"))
        .agg(sum(floor(col("value") * 100).cast("long")).as("cents"))
      graft.ops.Series.patternMatch(series, col("node"), col("day"),
        col("cents"), pattern = Seq(100000L, 200000L, 100000L), k = 10)
    }),
    // D19: estimated Jaccard (ppm) per LSH candidate pair
    "d19_minhash_estimates" -> ((s, dir) =>
      Dedup.minhashEstimates(docs(s, dir), col("text"), col("doc_id"))
        .orderBy("doc_a", "doc_b")),
    // D18: dup-cluster size histogram — the corpus-health stat every
    // dedup run reports (how many clusters of each size)
    "d18_dedup_stats" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.resolveGroups(
        Dedup.minhashCandidates(d, col("text"), col("doc_id"), star = true))
        .groupBy("group_id").agg(count(lit(1)).as("group_size"))
        .groupBy("group_size").agg(count(lit(1)).as("n_groups"))
        .orderBy("group_size")
    }),
    // D11: the full dedup pipeline — candidates → connected groups →
    // canonical survivor (min doc_id) per group, i.e. the deduplicated
    // corpus a training run would actually consume. The groups side holds
    // only documents that appear in a dup pair (a small fraction of the
    // corpus at web scale), so AQE turns the left join into a broadcast.
    "d11_dedup_pipeline" -> ((s, dir) => {
      val d = docs(s, dir)
      // star = true: one edge per (bucket, doc) instead of all in-bucket
      // pairs — identical connected components, no hot-bucket blow-up
      val groups = Dedup.resolveGroups(
        Dedup.minhashCandidates(d, col("text"), col("doc_id"), star = true))
      d.join(groups, Seq("doc_id"), "left")
        .filter(col("group_id").isNull || col("group_id") === col("doc_id"))
        .select("doc_id").orderBy("doc_id")
    }),
    // D12: exact-substring shared spans (ExactSubstr) — maximal runs of
    // corpus-duplicated 5-gram starts covering ≥ 8 tokens.
    "d12_exact_substring" -> ((s, dir) =>
      Dedup.sharedSpans(docs(s, dir), col("text"), col("doc_id"),
        shingleK = 5, minSpan = 8)
        .orderBy("doc_id", "span_start")),
    // D14: Bloom novelty — odd-id docs not (probably-)present in the
    // even-id half's membership filter. One broadcast bitset; probe side
    // never shuffles.
    "d14_bloom_novel" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.bloomNovel(d.filter(col("doc_id") % 2 === 0),
        d.filter(col("doc_id") % 2 === 1), col("text"), col("doc_id"))
        .orderBy("doc_id")
    }),

    // --- S: similarity search -------------------------------------------
    "s1_ann_bruteforce" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 5),
        "embedding", "vec_id", k = 3).orderBy("query_id", "rk")
    }),
    "s3_ann_ivf" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.ivfTopK(e, e.filter(col("vec_id") >= 5 && col("vec_id") < 10),
        "embedding", "vec_id", k = 3, nCells = 8, nProbe = 2)
        .orderBy("query_id", "rk")
    }),
    "s2_ann_lsh" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.lshTopK(e, e.filter(col("vec_id") < 5),
        "embedding", "vec_id", k = 3, planes = 8, dim = 64)
        .orderBy("query_id", "rk")
    }),
    // S8: recall@k of the LSH index against exact brute force — the
    // quality gate run before an approximate index goes live
    "s8_ann_recall" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 5)
      Similarity.recallAtK(
        Similarity.bruteForceTopK(e, q, "embedding", "vec_id", k = 3),
        Similarity.lshTopK(e, q, "embedding", "vec_id", k = 3,
          planes = 8, dim = 64))
        .orderBy("query_id")
    }),
    // S5: the full trained pipeline — kmeansFit codebook feeding ivfTopK
    "s5_ann_ivf_trained" -> ((s, dir) => {
      val e = emb(s, dir)
      val cb = Similarity.kmeansFit(e, "embedding", "vec_id", k = 4, iters = 2)
      Similarity.ivfTopK(e, e.filter(col("vec_id") >= 5 && col("vec_id") < 10),
        "embedding", "vec_id", k = 3, nCells = 4, nProbe = 2,
        centroids = Some(cb))
        .orderBy("query_id", "rk")
    }),

    // S6: IVFADC-style product quantization — per-subspace trained
    // codebooks, corpus held as m codes, ADC table-lookup scoring
    "s6_ann_ivfpq" -> ((s, dir) => {
      val e = emb(s, dir)
      val cb = Similarity.pqFit(e, "embedding", "vec_id",
        dim = 64, m = 4, ksub = 4, iters = 2)
      Similarity.pqTopK(e, e.filter(col("vec_id") >= 5 && col("vec_id") < 10),
        "embedding", "vec_id", k = 3, dim = 64, m = 4, ksub = 4, cb)
        .orderBy("query_id", "rk")
    }),

    // S7: the complete IVFADC pipeline — trained coarse quantizer routes
    // vectors to cells, queries probe nProbe cells, in-cell scoring is
    // PQ/ADC over codes (no raw vector ever joined)
    "s7_ann_ivfadc" -> ((s, dir) => {
      val e = emb(s, dir)
      val coarse = Similarity.kmeansFit(e, "embedding", "vec_id",
        k = 4, iters = 2)
      val cb = Similarity.pqFit(e, "embedding", "vec_id",
        dim = 64, m = 4, ksub = 4, iters = 2)
      Similarity.ivfpqTopK(e, e.filter(col("vec_id") >= 5 && col("vec_id") < 10),
        "embedding", "vec_id", k = 3, dim = 64, m = 4, ksub = 4,
        coarse, nProbe = 2, cb)
        .orderBy("query_id", "rk")
    }),

    // P7: cluster-balanced subsampling — train a k-means codebook, assign
    // every embedding to its cell, keep at most N per cell by md5 rank
    // (the diversity-preserving cap used before pretraining-data pruning)
    "p7_cluster_balance" -> ((s, dir) => {
      val e = emb(s, dir)
      val cb = Similarity.kmeansFit(e, "embedding", "vec_id", k = 4, iters = 2)
      val assigned = Similarity.assignCells(e, "embedding", "vec_id", cb)
        .withColumnRenamed("id", "vec_id")
      TextOps.capPerKey(assigned, col("cell").cast("string"), col("vec_id"),
          cap = 5)
        .select(col("key").cast("long").as("cell"),
          col("doc_id").as("vec_id"))
        .orderBy("cell", "vec_id")
    }),

    // --- T: text analysis ------------------------------------------------
    "t1_lang_id" -> ((s, dir) =>
      docs(s, dir)
        .select(col("lang"), TextOps.langGuessFused(col("text")).as("guess"))
        .groupBy("lang", "guess").agg(count(lit(1)).as("n"))
        .orderBy("lang", "guess")),
    "t2_quality" -> ((s, dir) =>
      TextOps.qualityMetrics(docs(s, dir), col("text"), col("doc_id"))
        .orderBy("doc_id")),
    "t3_token_count" -> ((s, dir) =>
      TextOps.tokenCounts(docs(s, dir), col("text"), col("doc_id"))
        .orderBy("doc_id")),
    "t4_fingerprint" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")),
    // T5: PII scrub — deterministic PII is synthesized per row (both
    // engines build the identical string) so every rule actually fires
    "t5_pii_redact" -> ((s, dir) => {
      val red = TextOps.piiRedact(piiSynth(col("text"), col("doc_id")))
      docs(s, dir).select(col("doc_id"), md5(red).as("red_fp"),
        regexp_count(red, lit("<EMAIL>")).cast("long").as("n_email"),
        regexp_count(red, lit("<IP>")).cast("long").as("n_ip"),
        regexp_count(red, lit("<PHONE>")).cast("long").as("n_phone"),
        regexp_count(red, lit("<CC>")).cast("long").as("n_cc"))
        .orderBy("doc_id")
    }),
    // T7: Gopher repetition filters (top-bigram / dup-trigram fractions)
    "t7_repetition" -> ((s, dir) =>
      TextOps.repetitionMetrics(docs(s, dir), col("text"), col("doc_id"))
        .orderBy("doc_id")),
    // T16: the full Gopher keep/drop gate (integer-exact thresholds)
    "t16_gopher_gate" -> ((s, dir) =>
      TextOps.gopherGate(docs(s, dir), col("text"), col("doc_id"))
        .orderBy("doc_id")),
    // P11: per-source curation report — gate pass rates by source
    "p11_source_report" -> ((s, dir) => {
      val d = docs(s, dir)
      TextOps.gopherGate(d, col("text"), col("doc_id"))
        .join(d.select(col("doc_id"), col("source")), Seq("doc_id"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("kept").as("n_kept"),
          sum("ok_words").as("n_ok_words"), sum("ok_len").as("n_ok_len"),
          sum("ok_stop").as("n_ok_stop"), sum("ok_alpha").as("n_ok_alpha"),
          sum("ok_rep").as("n_ok_rep"))
        .orderBy("source")
    }),
    // D16: cross-source shared-gram overlap matrix
    "d16_source_overlap" -> ((s, dir) =>
      Dedup.sourceOverlap(docs(s, dir), col("text"), col("source"))
        .orderBy("src_a", "src_b")),
    // P12: mixture realization — weighted per-source token targets under
    // a global budget, deterministic seeded fill per source
    "p12_mixture_budget" -> ((s, dir) => {
      val d = docs(s, dir)
      val withTok = d.select(col("source"), col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("toks"))
      Pack.mixtureSelect(withTok, col("source"), col("doc_id"), col("toks"),
        weights = Map("src0" -> 3L, "src1" -> 2L, "src2" -> 1L),
        budget = 3000L)
        .orderBy("source", "doc_id")
    }),
    // T17: vocabulary coverage — OOV ppm against the corpus top-500 vocab
    "t17_oov_rate" -> ((s, dir) =>
      TextOps.oovRate(docs(s, dir), col("text"), col("doc_id"),
        vocabSize = 500)
        .orderBy("doc_id")),
    // T18: word2vec skip-gram pair counts (window 2, corpus top-100)
    "t18_skipgram" -> ((s, dir) =>
      TextOps.skipgramPairs(docs(s, dir), col("text"), window = 2,
        topN = 100)),
    // T6: fixed-size token chunking with overlap (context-window prep)
    "t6_chunk" -> ((s, dir) =>
      TextOps.chunkTokens(docs(s, dir), col("text"), col("doc_id"),
        chunkSize = 40, overlap = 10)
        .withColumn("n_chunk_tokens", col("n_chunk_tokens").cast("long"))
        .orderBy("doc_id", "chunk_idx")),
    // T9: exact per-language token-count quantiles via value histogram
    "t9_length_quantiles" -> ((s, dir) =>
      TextOps.lengthQuantiles(docs(s, dir), col("text"), col("lang"))
        .withColumnRenamed("grp", "lang")
        .orderBy("lang")),
    // T8: cross-document sequence packing — global prefix sum over the
    // id-ordered token stream, cut into fixed 128-token contexts
    "t8_seq_pack" -> ((s, dir) =>
      Pack.packSequences(docs(s, dir), col("text"), col("doc_id"), ctxLen = 128)
        .orderBy("doc_id")),
    // D10: BPE trainer step — corpus-wide adjacent-pair frequencies
    "d10_bpe_pairs" -> ((s, dir) =>
      TextOps.bpePairCounts(docs(s, dir), col("text"), topN = 50)),
    // T21: WordPiece-style greedy longest-match encode over a
    // corpus-derived top-50 vocabulary (char fallback)
    "t21_wordpiece" -> ((s, dir) =>
      TextOps.wordpieceStats(docs(s, dir), col("text"), col("doc_id"))
        .orderBy("doc_id")),
    // S4: Lloyd's k-means codebook over the embedding column (the
    // training op behind ivfTopK's cells), emitted per component
    "s4_kmeans_centroids" -> ((s, dir) => {
      import s.implicits._
      val cents = Similarity.kmeansFit(emb(s, dir), "embedding", "vec_id",
        k = 4, iters = 2)
      cents.zipWithIndex.flatMap { case (v, cell) =>
        v.zipWithIndex.map { case (x, pos) => (cell.toLong, pos.toLong, x) }
      }.toDF("cell", "pos", "c").orderBy("cell", "pos")
    }),
    // P1: deterministic hash-stratified sampling (reproducible mixes)
    "p1_stratified_sample" -> ((s, dir) =>
      TextOps.stratifiedSample(docs(s, dir), col("lang"), col("doc_id"),
        Map("en" -> 0.5, "de" -> 0.25), defaultRate = 0.1)
        .select("doc_id", "lang").orderBy("doc_id")),
    // P3: temperature-weighted source mixing (w^(1/T) downsampling)
    "p3_temperature_mix" -> ((s, dir) =>
      TextOps.temperatureMix(docs(s, dir), col("lang"), col("doc_id"),
        Map("en" -> 0.6, "zh" -> 0.15, "es" -> 0.1, "de" -> 0.1,
          "fr" -> 0.05), temperature = 2.0)
        .select("doc_id", "lang").orderBy("doc_id")),
    // P2: seeded deterministic global shuffle into training shards
    "p2_seeded_shuffle" -> ((s, dir) =>
      Pack.seededShuffle(docs(s, dir), col("doc_id"), seed = "graft-r3",
        nShards = 8).orderBy("doc_id")),
    // P4: at most N docs per source (crawl per-domain capping)
    "p4_source_cap" -> ((s, dir) =>
      TextOps.capPerKey(docs(s, dir), col("source"), col("doc_id"), cap = 10)
        .withColumnRenamed("key", "source")
        .orderBy("source", "doc_id")),
    // P5: leakage-safe train/valid split — near-dup groups assigned whole
    "p5_leakage_split" -> ((s, dir) => {
      val d = docs(s, dir)
      val groups = Dedup.resolveGroups(
        Dedup.minhashCandidates(d, col("text"), col("doc_id"), star = true))
      Pack.leakageSafeSplit(d, col("doc_id"), groups, validPermille = 100)
        .orderBy("doc_id")
    }),
    // P6: DSIR importance scoring — target slice = English docs; top 200
    // most target-like docs from the whole pool (hashed-bigram models)
    "p6_dsir" -> ((s, dir) =>
      TextOps.dsirScore(docs(s, dir), col("lang") === "en", col("text"),
        col("doc_id"))
        .orderBy(col("dsir_score").desc, col("doc_id").asc).limit(200)),
    // P8: CCNet head/middle/tail buckets of the t11 LM score, per language
    "p8_ppl_buckets" -> ((s, dir) => {
      val d = docs(s, dir)
      val lm = TextOps.bigramLikelihood(d, col("text"), col("doc_id"))
      TextOps.scoreBuckets(
        lm.join(d.select(col("doc_id"), col("lang")), Seq("doc_id")),
        col("lang"), col("lm_score"), col("doc_id"))
        .orderBy("doc_id")
    }),
    // P9: greedy token-budget selection by LM score (best docs until the
    // global budget is spent; exact distributed prefix sum)
    "p9_token_budget" -> ((s, dir) => {
      val d = docs(s, dir)
      val lm = TextOps.bigramLikelihood(d, col("text"), col("doc_id"))
      // toks = n_bigrams + 1 exactly: the fused kernel emits one row per
      // adjacent token pair and the c2/c1 joins drop nothing (both count
      // frames derive from the same occurrences), so the former second
      // corpus tokenize + (doc_id) join here carried no information.
      // Inner-join semantics unchanged: docs below 2 tokens never reach
      // lm, and only lm docs survived the join.
      val scored = lm.select(col("doc_id"), col("lm_score"),
        (col("n_bigrams") + lit(1L)).as("toks"))
      Pack.tokenBudgetSelect(scored, col("doc_id"), col("lm_score"),
        col("toks"), budget = 12000L)
        .orderBy("doc_id")
    }),
    // D14: URL-canonicalization dedup over synthesized crawl URLs (same
    // construction on both engines; tracking params / port / case /
    // fragment variants collapse to one canonical key)
    "d15_url_dedup" -> ((s, dir) => {
      val d = docs(s, dir)
      val url = concat(
        lit("HTTPS://WWW."), col("source"), lit(".Example.COM"),
        when(col("doc_id") % 5 === 0, lit(":443")).otherwise(lit("")),
        lit("/p/"), (col("doc_id") % 7).cast("string"),
        when(col("doc_id") % 4 === 0, lit("/")).otherwise(lit("")),
        when(col("doc_id") % 3 === 0, lit("?utm_source=feed&b=2&a=1"))
          .when(col("doc_id") % 3 === 1, lit("?a=1&b=2")).otherwise(lit("")),
        when(col("doc_id") % 2 === 0, lit("#frag")).otherwise(lit("")))
      Dedup.urlDedup(d.select(col("doc_id"), url.as("url")),
        col("url"), col("doc_id"))
        .orderBy("url")
    }),
    // P10: domain-blocklist filter (exact host + subdomain suffix match)
    "p10_domain_filter" -> ((s, dir) => {
      val d = docs(s, dir)
      val host = concat(lower(col("source")),
        when(col("doc_id") % 3 === 0, lit(".cdn.example"))
          .otherwise(lit(".org")))
      TextOps.domainFilter(
        d.select(col("doc_id"), host.as("host")), col("host"),
        Seq("cdn.example", "src4.org"))
        .orderBy("doc_id")
    }),
    // T11: corpus-trained bigram LM quality score (integer ppm mean)
    "t11_lm_score" -> ((s, dir) =>
      TextOps.bigramLikelihood(docs(s, dir), col("text"), col("doc_id"))
        .orderBy("doc_id")),
    // T23: Kneser-Ney smoothed bigram LM (proper discount +
    // continuation probability, exact integer ppm)
    "t23_kn_score" -> ((s, dir) =>
      TextOps.knBigramScore(docs(s, dir), col("text"), col("doc_id"))
        .orderBy("doc_id")),
    // T12: corpus-level paragraph dedup (Dolma-style) — a paragraph
    // survives only at its first (doc, position) occurrence corpus-wide
    "t12_paragraph_dedup" -> ((s, dir) =>
      Dedup.paragraphDedup(docs(s, dir), docParas(col("text")),
        col("doc_id"))
        .orderBy("doc_id")),
    // T13: C4 line+document cleaning rules over synthesized line structure
    "t13_c4_clean" -> ((s, dir) =>
      TextOps.c4Clean(docs(s, dir), c4Lines(col("text"), col("doc_id")),
        col("doc_id"))
        .withColumn("doc_kept", col("doc_kept").cast("long"))
        .orderBy("doc_id")),
    // T14: corpus TF-IDF — top-5 terms per doc, integer-ppm idf
    "t14_tfidf" -> ((s, dir) =>
      TextOps.tfidfTopTerms(docs(s, dir), col("text"), col("doc_id"), k = 5)
        .orderBy(col("doc_id"), col("tfidf").desc, col("term"))),
    // T15: NB-style classifier trained on the lang column, applied back
    // to the corpus (prediction + hit flag per doc)
    "t15_nb_classify" -> ((s, dir) =>
      TextOps.nbClassify(docs(s, dir), col("text"), col("doc_id"),
        col("lang"))
        .orderBy("doc_id")),
    // T22: BM25 top-5 retrieval — every 100th doc's leading 60 chars as
    // the query set against the full corpus, exact integer milli/ppm
    // scoring (broadcast query terms, bounded-heap per-query top-k)
    "t22_bm25" -> ((s, dir) => {
      val d = docs(s, dir)
      val q = d.filter(col("doc_id") % 100 === 0)
        .select(col("doc_id").as("qid"),
          substring(col("text"), 1, 60).as("qt"))
      TextOps.bm25TopK(d, col("text"), col("doc_id"),
        q, col("qt"), col("qid"), k = 5)
        .orderBy("query_id", "rk")
    }),
    // S10: hybrid retrieval — BM25 (sparse, over documents.text) and
    // exact cosine (dense, over the aligned embeddings table) fused by
    // reciprocal rank; same doc_id%100==0 query set on both sides
    "s10_hybrid_rrf" -> ((s, dir) => {
      val d = docs(s, dir)
      val q = d.filter(col("doc_id") % 100 === 0)
        .select(col("doc_id").as("qid"),
          substring(col("text"), 1, 60).as("qt"))
      val sparse = TextOps.bm25TopK(d, col("text"), col("doc_id"),
        q, col("qt"), col("qid"), k = 20)
        .select(col("query_id"), col("doc_id"), col("rk"))
      val e = emb(s, dir)
      val dense = Similarity.bruteForceTopK(e,
        e.filter(col("vec_id") % 100 === 0), "embedding", "vec_id", k = 20)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rk").cast("long").as("rk"))
      Similarity.rrfFuse(Seq(sparse, dense), kRrf = 60, topK = 10)
        .orderBy("query_id", "rk")
    }),
    // T10: boilerplate strip — the corpus text wrapped in HTML chrome on
    // both engines, then stripped back down
    "t10_html_strip" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextOps.htmlStrip(concat(
          lit("<html><head><title>T</title><style>p{color:red}</style>" +
            "</head><body><p class=\"x\">"),
          col("text"),
          lit("</p><script>var x=1;</script><!-- c --></body></html>")))
          .as("clean"))
        .orderBy("doc_id")),

    // --- M: multimodal column plumbing (stubbed decode kernel) ----------
    "m1_multimodal_meta" -> ((s, dir) =>
      Multimodal.extractMeta(
        Multimodal.asMedia(docs(s, dir), col("doc_id"), col("text"), "image"))
        .orderBy("media_id")),
    "m2_frame_sample" -> ((s, dir) =>
      Multimodal.sampleFrames(
        Multimodal.asMedia(docs(s, dir), col("doc_id"), col("text"), "video"),
        step = 7)
        .orderBy("media_id", "frame_idx")),
    "m3_resize_plan" -> ((s, dir) =>
      Multimodal.resizePlan(
        Multimodal.asMedia(docs(s, dir), col("doc_id"), col("text"), "image"),
        maxDim = 256)
        .orderBy("media_id")),
    // M4: audio chunk planning — 5 s windows, 4 s stride (1 s overlap)
    "m4_audio_chunks" -> ((s, dir) =>
      Multimodal.chunkAudio(
        Multimodal.asMedia(docs(s, dir), col("doc_id"), col("text"), "audio"),
        winMs = 5000L, strideMs = 4000L)
        .orderBy("media_id", "chunk_idx")),

    // --- I1/I2/I4/I6-I8: pcap ETL (golden-tested; rows-only check here,
    //     DuckDB cannot read pcap) --------------------------------------
    "i1_pcap_sessions" -> ((s, _) => {
      import s.implicits._
      graft.etl.SessionBuilder
        .sessionizeRef(s, "/root/reference/tests/pcap/socks-http-example.pcap")
        .toDF()
        .select("sessionId", "firstPacket", "lastPacket", "ipProtocol",
          "srcIp", "srcPort", "dstIp", "dstPort", "totPackets", "totBytes",
          "communityId", "srcPayload8", "dstPayload8")
        .orderBy("firstPacket")
    }),
    // I12: YARA content rules tagging (rows-only; DuckDB can't read pcap)
    "i12_yara" -> ((s, _) => {
      graft.etl.SessionBuilder
        .sessionizeRef(s, "/root/reference/tests/pcap/pop3-tag.pcap")
        .toDF()
        .select(col("sessionId"),
          concat_ws(",", col("tags")).as("tags"),
          concat_ws(",", col("protocol")).as("protocols"))
        .orderBy("sessionId")
    }),
    "i8_pcap_expression" -> ((s, _) => {
      import s.implicits._
      val sessions = graft.etl.SessionBuilder
        .sessionizeRef(s, "/root/reference/tests/pcap/socks-http-example.pcap")
        .toDF()
      val c = new Compiler(FieldRegistry.sessions, FieldRegistry.sessionCol, now)
      sessions
        .filter(c.compile(
          "http.method == GET && ip.dst == 10.180.156.0/24 && protocols == socks"))
        .select("sessionId", "srcIp", "dstIp", "socksIp", "socksPort")
        .orderBy("sessionId")
    }),

    // --- I10: declarative rules engine (field-set / tag / drop) ---------
    // --- I10b: the capture rules-FILE loader (tests/rules.yaml format,
    //     capture/rules.c semantics) driving the same batch engine — a
    //     synthesized session-shaped frame, one field rule per match
    //     kind (CIDR, int set, modifier substring) plus a _dontSaveSPI
    //     save-stage rule ---------------------------------------------
    "r2_rules_yaml" -> ((s, dir) => {
      import graft.query.RulesLoader
      val yaml =
        """version: 1
          |rules:
          |  - name: mark-net
          |    when: fieldSet
          |    fields:
          |      ip.src:
          |        - 10.32.0.0/11
          |      port.dst:
          |        - 4400
          |        - 4401
          |    ops:
          |      protocols: "netmark"
          |  - name: mark-host
          |    when: fieldSet
          |    fields:
          |      host.http,endsWith:
          |        - le.com
          |    ops:
          |      protocols: "hostmark"
          |  - name: drop-neither
          |    when: beforeFinalSave
          |    fields:
          |      port.dst: 4402
          |    ops:
          |      _dontSaveSPI: 1
          |""".stripMargin
      val rules = RulesLoader.load(yaml, graft.model.FieldRegistry.sessions)
      val frame = ev(s, dir).filter(col("user_id").isNotNull)
        .select(col("event_id"),
          concat_ws(".", lit("10"), col("user_id") % 64, lit("0"), lit("1"))
            .as("srcIp"),
          (lit(4400) + col("event_id") % 4).cast("int").as("dstPort"),
          array(concat(lit("h"), col("user_id") % 4,
            when(col("user_id") % 2 === 0, lit(".example.com"))
              .otherwise(lit(".other.org")))).as("httpHost"),
          array(lit("udp")).as("protocol"))
      RulesLoader.applySpi(frame, rules)
        .select(col("event_id"),
          concat_ws(",", col("protocol")).as("tags"))
        .orderBy("event_id")
    }),

    "r1_rules_engine" -> ((s, dir) => {
      import graft.ops.Rules
      val rules = Seq(
        Rules.Rule("tag-big", col("value") > 150,
          Seq(Rules.AddTag("big-value"))),
        Rules.Rule("tag-purchase", col("event_type") === "purchase",
          Seq(Rules.AddTag("purchase"))),
        Rules.Rule("drop-errors", col("event_type") === "error",
          Seq(Rules.DropSession)))
      Rules(ev(s, dir), rules)
        .select(col("event_id"), concat_ws(",", col("tags")).as("tags"))
        .orderBy("event_id")
    }),

    // --- E13: hunt (packet content scan over stored pcap bytes) --------
    "e13_hunt" -> ((s, _) => {
      import graft.ops.Hunt
      val sessions = graft.etl.SessionBuilder
        .sessionizeRef(s, "/root/reference/tests/pcap/socks-http-example.pcap")
      Hunt.run(sessions, Hunt.HuntConfig(
        Hunt.AsciiNeedle("GET", caseSensitive = false)))
        .select("sessionId", "segmentSeq", "huntTag")
        .orderBy("sessionId", "segmentSeq")
    }),

    // --- I8 (new-parser fields): Kerberos/LDAP/QUIC/SMB session metadata
    //     (golden-tested in Krb5LdapQuicSmbSpec; rows-only here) ---------
    "i10_protocol_fields" -> ((s, _) => {
      val names = Seq("krb5-tcp", "ldap-simpleauth", "quic34", "smb-smbclient")
      names.map { n =>
        graft.etl.SessionBuilder
          .sessionizeRef(s, s"/root/reference/tests/pcap/$n.pcap").toDF()
          .withColumn("pcap", lit(n))
      }.reduce(_ unionByName _)
        .select(col("pcap"), col("sessionId"),
          concat_ws(",", col("protocol")).as("protocols"),
          concat_ws(",", col("krb5Realm")).as("krb5_realm"),
          concat_ws(",", col("krb5Cname")).as("krb5_cname"),
          concat_ws(",", col("ldapAuthtype")).as("ldap_authtype"),
          concat_ws(",", col("ldapBindname")).as("ldap_bindname"),
          concat_ws(",", col("quicHost")).as("quic_host"),
          concat_ws(",", col("quicVersion")).as("quic_version"),
          concat_ws(",", col("smbShare")).as("smb_share"),
          concat_ws(",", col("smbUser")).as("smb_user"),
          concat_ws(",", col("smbFilename")).as("smb_filename"))
        .orderBy("pcap", "sessionId")
    }),

    // --- I9: enrichment via broadcast dimension joins --------------------
    "i9_enrich_join" -> ((s, dir) => {
      val li0 = li(s, dir)
      val p = Tables.load(s, dir, "part")
      val su = Tables.load(s, dir, "supplier")
      li0.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("p_brand"), col("s_nationkey"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("p_brand"), col("s_nationkey"))
    }),

    // --- I9: geo/ASN/RIR/OUI enrichment from the bundled fixtures --------
    // Synthetic per-row v4 + MAC (both engines build identical strings);
    // RIR and OUI via literal-map lookups, country/ASN via the CIDR
    // longest-prefix join over the public asn-geo fixture.
    "i9_geo_enrich" -> ((s, dir) => {
      val e = ev(s, dir).filter(col("user_id").isNotNull)
        .select(col("event_id"),
          concat_ws(".", col("event_id") % 223 + 1, col("user_id") % 256,
            lit("7"), lit("9")).as("ip4"),
          concat(element_at(typedLit(geoMacPrefixes),
            (col("event_id") % 4 + 1).cast("int")), lit(":de:ad:01")).as("mac"),
          element_at(typedLit(geoAnchorIps),
            (col("event_id") % geoAnchorIps.length + 1).cast("int")).as("anchor_ip"))
      val withAsn = Enrich.cidrJoin(
        Enrich.cidrJoin(e, col("anchor_ip"), geoAnchorDim(_.country), "country"),
        col("anchor_ip"), geoAnchorDim(_.full), "asn")
      withAsn
        .withColumn("rir", Enrich.rirFor(col("ip4")))
        .withColumn("oui", Enrich.ouiFor(col("mac")))
        .select("event_id", "ip4", "mac", "anchor_ip", "rir", "oui",
          "country", "asn")
        .orderBy("event_id")
    }),

    // --- E17-family: session tagging (addTags/removeTags set semantics;
    //     viewer/apiSessions.js:1480-1520) ------------------------------
    "e17_tagging" -> ((s, dir) => {
      import graft.ops.Tagging
      val base = ev(s, dir).withColumn("tags", array(col("event_type")))
      val matched = col("event_type") === "purchase" && col("value") > 100
      val t1 = Tagging.addTags(base, matched, Seq("incident-42", "reviewed"))
      val t2 = Tagging.removeTags(t1, col("value") > 180, Seq("reviewed"))
      t2.select(col("event_id"), concat_ws(",", col("tags")).as("tags"))
        .orderBy("event_id")
    })
  )

  // fixture-derived constants shared by the i9_geo_enrich query + oracle
  private val geoMacPrefixes =
    Seq("00:0c:29", "00:50:56", "00:1b:17", "08:00:27")
  private val geoAnchorIps = Seq("8.8.8.8", "104.16.125.34", "31.13.74.1",
    "216.58.194.195", "188.40.206.23", "139.162.123.134")
  private def geoAnchorDim(
      f: graft.model.Fixtures.AsnGeo => Option[String]): Seq[(String, String)] =
    geoAnchorIps.flatMap(ip =>
      graft.model.Fixtures.asnGeoOf(ip).flatMap(f).map(v => (ip + "/32", v)))

  /** Events with a synthesized deterministic v4 address per row (both
    * engines build the identical string), for ip-operator oracles.
    */
  private def ipEv(s: SparkSession, dir: String) =
    ev(s, dir).filter(col("user_id").isNotNull)
      .select(col("event_id"),
        concat_ws(".", lit("10"), col("user_id") % 250,
          col("event_id") % 200, lit("1")).as("srcIp"))

  private def ipCompiler = new Compiler(
    FieldRegistry(Seq(graft.model.FieldDef("ip.src", "srcIp",
      graft.model.FieldKind.IpK))), now = now)

  /** Derived frame for the extended endpoint fuzz — the Spark twin of
    * [[graft.query.EndpointFuzz.frame2Sql]] (keep in lockstep): graph
    * nodes, pair ip/port, bucketed hierarchy levels, NULL-injected.
    */
  private def connEv(s: SparkSession, dir: String): DataFrame =
    ev(s, dir).filter(col("user_id").isNotNull).select(
      col("event_id"), col("user_id"), col("event_type"), col("value"),
      col("props"), col("ts"),
      concat(lit("n"), (col("event_id") % 997).cast("string")).as("srcN"),
      when(col("event_id") % 41 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("n"),
          ((col("event_id") * 7 + col("user_id")) % 997).cast("string")))
        .as("dstN"),
      when(col("user_id") % 23 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("10.0."), (col("user_id") % 30).cast("string"),
          lit(".1"))).as("pairIp"),
      when(col("event_id") % 31 === 0, lit(null).cast("long"))
        .otherwise((col("event_id") % 9) * 100 + 80).as("pairPort"),
      when(col("user_id") % 11 === 0, lit(null).cast("long"))
        .otherwise(col("user_id") % 20).as("ub"),
      (col("event_id") % 7).as("eb"))

  /** Derived frame for the E2 sort/paging fuzz — the Spark twin of
    * [[graft.query.EndpointFuzz.frame3Sql]] (keep in lockstep): nullable
    * sort columns at several tie densities, plus `hid` which the fuzz
    * sorts on but never projects.
    */
  private def pageEv(s: SparkSession, dir: String): DataFrame =
    ev(s, dir).filter(col("user_id").isNotNull).select(
      col("event_id"), col("user_id"), col("event_type"), col("value"),
      col("props"), col("ts"),
      when(col("event_id") % 13 === 0, lit(null).cast("double"))
        .otherwise(col("value")).as("sv"),
      when(col("event_id") % 7 === 0, lit(null).cast("long"))
        .otherwise(col("user_id") % 50).as("su"),
      when(col("event_id") % 11 === 0, lit(null).cast("string"))
        .otherwise(col("event_type")).as("st"),
      when(col("user_id") % 17 === 0, lit(null).cast("long"))
        .otherwise(col("event_id") % 3).as("sb"),
      when(col("event_id") % 5 === 0, lit(null).cast("long"))
        .otherwise(floor(col("value")).cast("long") % 25).as("hid"))

  /** Derived frame for the extended grammar fuzz — the Spark twin of
    * [[graft.query.ExprFuzz.extFrameSql]] (keep the two in lockstep):
    * synthesized v4 endpoints, ports, protocol, mac/host arrays, WITH
    * injected NULLs and empty arrays so negated cases exercise the ES
    * must_not three-valued-logic corners on every column kind.
    */
  private def fuzzExtEv(s: SparkSession, dir: String): DataFrame =
    ev(s, dir).filter(col("user_id").isNotNull).select(
      col("event_id"), col("user_id"), col("event_type"),
      when(col("event_id") % 13 === 0, lit(null).cast("string"))
        .otherwise(concat_ws(".", lit("10"),
          (col("user_id") % 250).cast("string"),
          (col("event_id") % 200).cast("string"), lit("1"))).as("srcIp"),
      when(col("event_id") % 17 === 0, lit(null).cast("string"))
        .otherwise(concat_ws(".", lit("10"),
          (col("event_id") % 250).cast("string"),
          (col("user_id") % 200).cast("string"), lit("2"))).as("dstIp"),
      when(col("event_id") % 7 === 0, lit(null).cast("int"))
        .otherwise((col("event_id") % 1000 + 1000).cast("int")).as("srcPort"),
      when(col("event_id") % 7 === 0, lit(null).cast("int"))
        .otherwise((col("user_id") % 500 + 80).cast("int")).as("dstPort"),
      when(col("event_id") % 4 === 0, lit(6))
        .when(col("event_id") % 4 === 1, lit(17))
        .when(col("event_id") % 4 === 2, lit(1))
        .otherwise(lit(47)).as("ipProtocol"),
      when(col("event_id") % 11 === 0, lit(null).cast("array<string>"))
        .otherwise(array(concat(lit("00:11:22:33:44:"),
          lpad((col("event_id") % 60).cast("string"), 2, "0"))))
        .as("srcMac"),
      when(col("event_id") % 19 === 0, lit(null).cast("array<string>"))
        .when(col("event_id") % 23 === 0, array().cast("array<string>"))
        .otherwise(array(concat(lit("h"),
          (col("user_id") % 50).cast("string"), lit(".example.com"))))
        .as("httpHost"),
      array(concat(lit("d"), (col("event_id") % 97).cast("string"),
        lit(".example.org"))).as("dnsQname"),
      when(col("user_id") % 5 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("h"), (col("event_id") % 50).cast("string"),
          lit(".example.com"))).as("socksHost"),
      when(col("user_id") % 7 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("h"), (col("event_id") % 50).cast("string"),
          lit(".example.com/p"), (col("event_id") % 5).cast("string")))
        .as("httpUri"),
      lower(hex(concat(lit("P"), (col("event_id") % 3).cast("string"))))
        .as("srcPayload8"),
      when(col("user_id") % 13 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("node"), (col("event_id") % 3).cast("string")))
        .as("node"),
      when(col("user_id") % 19 === 0, lit(null).cast("array<string>"))
        .when(col("event_id") % 29 === 0, array().cast("array<string>"))
        .otherwise(array(concat(lit("/data/pcap/cap-"),
          (col("event_id") % 7).cast("string"), lit(".pcap"))))
        .as("fileId"))

  private def docs(s: SparkSession, dir: String) = Tables.load(s, dir, "documents")
  private def emb(s: SparkSession, dir: String) = Tables.load(s, dir, "embeddings")

  /** Deterministic PII-bearing text for t5: doc text + one email, one
    * phone, one IPv4, one card number derived from doc_id.
    */
  private def piiSynth(text: Column, id: Column): Column =
    concat(text,
      lit(" contact user"), id.cast("string"),
      lit("@example.com call +1 555 01"),
      lpad((id % 100).cast("string"), 2, "0"),
      lit(" from 10."), (id % 256).cast("string"),
      lit(".0.1 card 4111111111111"),
      ((id % 9000) + 1000).cast("string"))

  /** The corpus has no newlines, so paragraph-level ops segment it into
    * fixed `n`-token windows — the same segmentation both engines apply.
    */
  private def docParas(text: Column, n: Int = 10): Column = {
    val toks = TextOps.tokens(text)
    when(size(toks) === 0, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(0), floor((size(toks) - 1) / n).cast("int")),
        i => array_join(slice(toks, i * n + 1, lit(n)), " ")))
  }

  /** Paragraphs as C4 'lines': deterministic hash decides which get the
    * terminal punctuation the line rule tests (the corpus has none).
    */
  private def c4Lines(text: Column, id: Column, n: Int = 10): Column =
    transform(docParas(text, n), (p, i) => concat(p,
      when(TextOps.hex32(concat(id.cast("string"), lit("_"),
        i.cast("string"))) % 4 =!= 0, lit(".")).otherwise(lit(""))))

  /** Blocking key for near-dup joins: language × length bucket. */
  private def docBlockKey: Column =
    concat(col("lang"), lit("|"), floor(col("n_chars") / 100).cast("long").cast("string"))

  /** Project events with epoch-second ts for timestamp-safe comparison. */
  private def evProjected(df: DataFrame): DataFrame =
    df.select(col("event_id"), epochS(col("ts")).as("ts_s"), col("user_id"),
      col("event_type"), col("value"), col("props"))
      .orderBy(col("event_id"))

  // -------------------------------------------------------------- oracles

  /** Shared SQL fragments mirroring the Spark-side determinism rules. */
  private def sqlDsum(c: String) =
    s"CAST(SUM(CAST($c AS DECIMAL(18,2))) AS DOUBLE)"
  private val sqlDiscPrice =
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)"
  private val evCols =
    "event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s, user_id, event_type, value, props"

  // DuckDB fragments mirroring TextOps/Dedup/Similarity exactly.
  private val sqlToks =
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"
  private def sqlShingles(toks: String, k: Int) =
    s"list_transform(range(1, len($toks)-${k - 2}), i -> array_to_string($toks[i:i+${k - 1}], ' '))"
  private def sqlHex32(c: String) =
    s"CAST(('0x' || substr(md5($c), 1, 8)) AS BIGINT)"
  /** 63-bit md5 prefix for term-IDENTITY keys — mirrors TextOps.hex64 /
    * ShingleHashes.hashes64: bytes 0–7 of md5 with the top bit cleared,
    * always a non-negative BIGINT so no unsigned casts are needed.
    * Sketch/bucket semantics (minhash, simhash, DSIR mod-buckets, bloom
    * positions) stay on [[sqlHex32]] — there the 32-bit space is the spec.
    */
  private def sqlHex64(c: String) =
    s"((CAST(('0x' || substr(md5($c), 1, 8)) AS BIGINT) & 2147483647)" +
      s" * 4294967296 + CAST(('0x' || substr(md5($c), 9, 8)) AS BIGINT))"
  /** One 16-bit dHash band over a 72-sample list `ps` (9×8 grid): bit
    * j set when p(r,c) > p(r,c+1) for i = b*16+j, r = i/8, c = i%8 —
    * mirrors Multimodal.dhashSignatures exactly.
    */
  /** The greedy longest-match CASE chain for the t21 oracle — longest
    * vocabulary lengths tested first, mirroring TextOps.wordpieceStats.
    */
  private def sqlWpCases: String = (12 to 2 by -1).map(l =>
    s"WHEN substr(lower(text), pos + 1, $l) IN " +
      s"(SELECT w FROM tokv WHERE length(w) = $l) THEN $l").mkString(" ")
  private def sqlDhashBand(b: Int): String =
    (0 until 16).map { j =>
      val i = b * 16 + j; val r = i / 8; val c = i % 8
      s"(CASE WHEN ps[${r * 9 + c + 1}] > ps[${r * 9 + c + 2}] " +
        s"THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")
  /** The MinHash-LSH → connected-components chain as reusable CTEs
    * ending in `dgroups(doc_id, group_id)` — shared by the d6/d11/d18
    * oracles. Use with a `WITH RECURSIVE` prefix.
    */
  private def sqlGroupsCtes: String =
    s"""tok AS (SELECT doc_id, $sqlToks AS toks FROM documents),
       sh AS (SELECT doc_id, unnest(${sqlShingles("toks", 3)}) AS s
              FROM tok WHERE len(toks) >= 3),
       hs AS (SELECT doc_id, ${sqlHex32("s")} AS h FROM sh),
       sig AS (SELECT doc_id, $sqlMinhashCols FROM hs GROUP BY doc_id),
       bandrows AS (
         SELECT doc_id, b AS band_id, $sqlBandKey AS band_key
         FROM sig, range(0, 4) t(b)),
       pairs AS (
         SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM bandrows a JOIN bandrows b
           ON a.band_id = b.band_id AND a.band_key = b.band_key
           AND a.doc_id < b.doc_id),
       edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs
                 UNION SELECT doc_b, doc_a FROM pairs),
       reach(id, r) AS (
         SELECT DISTINCT s, s FROM edges
         UNION
         SELECT e.s, reach.r FROM edges e JOIN reach ON e.d = reach.id),
       dgroups AS (SELECT id AS doc_id, min(r) AS group_id FROM reach
         GROUP BY id)"""

  /** The s1/s2 ANN oracles as standalone statements — also embedded as
    * subqueries by the s8 recall oracle.
    */
  /** BM25 top-k rows `(query_id, rk, doc_id, score_ppm)` (unordered) —
    * the t22 scoring, parameterized so s10's fusion reuses it at k=20.
    */
  private def sqlBm25TopK(k: Int): String =
    s"""WITH tok AS (SELECT doc_id, ${sqlHex64("w")} AS term
         FROM (SELECT doc_id, unnest($sqlToks) AS w FROM documents) _t),
       tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
       dl AS (SELECT doc_id, count(*) AS len FROM tok GROUP BY 1),
       dfq AS (SELECT term, count(*) AS dfc FROM tf GROUP BY 1),
       st AS (SELECT count(*) AS n, sum(len) AS tot FROM dl),
       qd AS (SELECT doc_id AS query_id, substr(text, 1, 60) AS qt
         FROM documents WHERE doc_id % 100 = 0),
       qt AS (SELECT DISTINCT query_id, ${sqlHex64("w")} AS term
         FROM (SELECT query_id,
           unnest(list_filter(string_split_regex(lower(qt), '[^a-z0-9]+'),
             x -> x <> '')) AS w FROM qd) _q),
       sc AS (SELECT q.query_id, tf.doc_id,
           least((1000 * st.n) // dfq.dfc, 1000000000) AS idf_milli,
           (1000000 * tf.tf * (1200 + 1000)) //
             (1000 * tf.tf + (1200 * (1000 - 750 +
               (750 * ((1000000 * dl.len) // ((1000 * st.tot) // st.n))) // 1000)) // 1000)
             AS tfnorm_ppm
         FROM qt q
         JOIN tf ON tf.term = q.term
         JOIN dl ON dl.doc_id = tf.doc_id
         JOIN dfq ON dfq.term = q.term
         CROSS JOIN st),
       agg AS (SELECT query_id, doc_id,
           sum((idf_milli * tfnorm_ppm) // 1000) AS score_ppm
         FROM sc GROUP BY 1, 2),
       r AS (SELECT *, row_number() OVER (PARTITION BY query_id
           ORDER BY score_ppm DESC, doc_id) AS rk FROM agg)
       SELECT query_id, CAST(rk AS BIGINT) AS rk, doc_id,
         CAST(score_ppm AS BIGINT) AS score_ppm
       FROM r WHERE rk <= $k"""

  /** Exact-cosine top-k rows `(query_id, rk, neighbor_id)` for query
    * vectors matching `queryPred` — the s1 scoring, parameterized for
    * s10's dense side.
    */
  private def sqlCosTopK(queryPred: String, k: Int): String =
    s"""WITH e AS (SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE $queryPred),
       scored AS (
         SELECT q.query_id, c.vec_id AS neighbor_id,
           ${sqlCos("q.qv", "c.v", 64)} AS cosine
         FROM e c, q WHERE c.vec_id <> q.query_id),
       ranked AS (SELECT *, row_number() OVER
           (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rk
         FROM scored)
       SELECT query_id, CAST(rk AS BIGINT) AS rk, neighbor_id
       FROM ranked WHERE rk <= $k"""

  private def sqlS1BruteForce: String =
    s"""WITH e AS (SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
       scored AS (
         SELECT q.query_id, c.vec_id AS neighbor_id,
           ${sqlCos("q.qv", "c.v", 64)} AS cosine
         FROM e c, q WHERE c.vec_id <> q.query_id),
       ranked AS (SELECT *, row_number() OVER
           (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rk
         FROM scored)
       SELECT query_id, neighbor_id, cosine, rk FROM ranked
       WHERE rk <= 3 ORDER BY query_id, rk"""
  private def sqlS2Lsh: String =
    s"""WITH e AS (SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         ${sqlLshBucket("list_transform(embedding, x -> CAST(x AS DOUBLE))", 8, 64)} AS bucket
         FROM embeddings),
       q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM e WHERE vec_id < 5),
       scored AS (
         SELECT q.query_id, c.vec_id AS neighbor_id,
           ${sqlCos("q.qv", "c.v", 64)} AS cosine
         FROM e c JOIN q USING (bucket) WHERE c.vec_id <> q.query_id),
       ranked AS (SELECT *, row_number() OVER
           (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rk
         FROM scored)
       SELECT query_id, neighbor_id, cosine, rk FROM ranked
       WHERE rk <= 3 ORDER BY query_id, rk"""

  /** The t16 Gopher gate as reusable CTEs ending in
    * `gate(doc_id, ok_words, ok_len, ok_stop, ok_alpha, ok_rep, kept)` —
    * shared by the t16/p11 oracles.
    */
  private def sqlGopherCtes: String =
    s"""tok AS (SELECT doc_id, $sqlToks AS toks FROM documents),
       sh AS (SELECT doc_id, toks,
         CASE WHEN len(toks) >= 2 THEN ${sqlShingles("toks", 2)}
              ELSE []::VARCHAR[] END AS bg,
         CASE WHEN len(toks) >= 3 THEN ${sqlShingles("toks", 3)}
              ELSE []::VARCHAR[] END AS tg
         FROM tok),
       gc AS (SELECT doc_id, g, count(*) AS n FROM
         (SELECT doc_id, unnest(bg) AS g FROM sh) GROUP BY doc_id, g),
       gm AS (SELECT doc_id, max(n) AS mx FROM gc GROUP BY doc_id),
       gf AS (SELECT s.doc_id,
           CAST(len(s.toks) AS BIGINT) AS ntok,
           CAST(list_sum(list_transform(s.toks, x -> length(x))) AS BIGINT) AS sumlen,
           CAST(len(list_filter(list_distinct(s.toks), x -> x IN
             ('the','be','to','of','and','that','have','with'))) AS BIGINT) AS nstop,
           CAST(len(list_filter(s.toks, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS nalpha,
           CAST(coalesce(gm.mx, 0) AS BIGINT) AS mx,
           CAST(len(s.bg) AS BIGINT) AS tot,
           CAST(len(s.tg) AS BIGINT) AS ntri,
           CAST(len(s.tg) - len(list_distinct(s.tg)) AS BIGINT) AS duptri
         FROM sh s LEFT JOIN gm ON s.doc_id = gm.doc_id),
       gate AS (SELECT doc_id,
           CAST(CASE WHEN ntok >= 50 AND ntok <= 100000 THEN 1 ELSE 0 END AS BIGINT) AS ok_words,
           CAST(CASE WHEN 3 * ntok <= sumlen AND sumlen <= 10 * ntok THEN 1 ELSE 0 END AS BIGINT) AS ok_len,
           CAST(CASE WHEN nstop >= 2 THEN 1 ELSE 0 END AS BIGINT) AS ok_stop,
           CAST(CASE WHEN 10 * nalpha >= 8 * ntok THEN 1 ELSE 0 END AS BIGINT) AS ok_alpha,
           CAST(CASE WHEN (tot = 0 OR mx * 100 <= 18 * tot)
                      AND (ntri = 0 OR duptri * 100 <= 30 * ntri)
                THEN 1 ELSE 0 END AS BIGINT) AS ok_rep,
           CAST(CASE WHEN ntok >= 50 AND ntok <= 100000
                      AND 3 * ntok <= sumlen AND sumlen <= 10 * ntok
                      AND nstop >= 2 AND 10 * nalpha >= 8 * ntok
                      AND (tot = 0 OR mx * 100 <= 18 * tot)
                      AND (ntri = 0 OR duptri * 100 <= 30 * ntri)
                THEN 1 ELSE 0 END AS BIGINT) AS kept
         FROM gf)"""

  /** The t11 bigram-LM score as reusable CTEs ending in
    * `lm(doc_id, lm_score)` — shared by the p8/p9 oracles.
    */
  private def sqlLmCtes: String =
    s"""tok AS (SELECT doc_id, $sqlToks AS toks FROM documents),
       bg0 AS (SELECT doc_id, unnest(${sqlShingles("toks", 2)}) AS bg
               FROM tok WHERE len(toks) >= 2),
       big AS (SELECT doc_id, ${sqlHex64("bg")} AS h2,
                      ${sqlHex64("split_part(bg, ' ', 1)")} AS h1 FROM bg0),
       lc2 AS (SELECT h2, count(*) AS c2 FROM big GROUP BY h2),
       uni AS (SELECT ${sqlHex64("w")} AS h1
               FROM (SELECT unnest(toks) AS w FROM tok) u),
       lc1 AS (SELECT h1, count(*) AS c1 FROM uni GROUP BY h1),
       lq AS (SELECT b.doc_id, (1000000 * x.c2) // y.c1 AS q
             FROM big b JOIN lc2 x ON b.h2 = x.h2
             JOIN lc1 y ON b.h1 = y.h1),
       lm AS (SELECT doc_id, CAST(sum(q) // count(*) AS BIGINT) AS lm_score
              FROM lq GROUP BY doc_id)"""
  /** The docParas segmentation as CTEs (tok, paras). DuckDB's range()
    * table function can't take a lateral column, so the paragraph list is
    * built as a scalar list expression and unnested.
    */
  private def sqlParasCte(n: Int = 10): String =
    s"""tok AS (SELECT doc_id, $sqlToks AS toks FROM documents),
       plist AS (SELECT doc_id,
           list_transform(range(0, CAST(ceil(len(toks)/$n.0) AS BIGINT)),
             i -> {'idx': i, 'para': array_to_string(toks[i*$n+1 : i*$n+$n], ' ')}) AS ps
         FROM tok),
       paras AS (SELECT doc_id, CAST(u.idx AS BIGINT) AS idx, u.para AS para
         FROM (SELECT doc_id, unnest(ps) AS u FROM plist))"""
  private def sqlMinhashCols: String =
    (0 until 12).map { j =>
      s"min((h * ${Dedup.minhashA(j)} + ${Dedup.minhashB(j)}) % ${Dedup.minhashP}) AS mh$j"
    }.mkString(", ")
  private def sqlBandKey: String =
    (0 until 4).map { b =>
      val key = (0 until 3).map(r => s"CAST(mh${b * 3 + r} AS VARCHAR)")
        .mkString(" || '|' || ")
      s"WHEN $b THEN $key"
    }.mkString("CASE b ", " ", " END")
  private def sqlDot(a: String, b: String, dim: Int) =
    s"list_reduce(list_transform(range(1, ${dim + 1}), i -> $a[i]*$b[i]), (x, y) -> x + y)"
  private def sqlCos(a: String, b: String, dim: Int) =
    s"${sqlDot(a, b, dim)} / (sqrt(${sqlDot(a, a, dim)}) * sqrt(${sqlDot(b, b, dim)}))"
  /** Plane component formula — must match Similarity.hyperplane. */
  private def sqlPlaneDot(p: String, v: String, dim: Int) =
    s"list_reduce(list_transform(range(1, ${dim + 1}), i -> " +
      s"(CAST((CAST(('0x' || substr(md5(CAST($p AS VARCHAR) || '_' || CAST(i AS VARCHAR)), 1, 8)) AS BIGINT) % 1000) AS DOUBLE)/1000 - 0.5) * $v[i]), (x, y) -> x + y)"
  private def sqlLshBucket(v: String, planes: Int, dim: Int) =
    (0 until planes).map(p =>
      s"(CASE WHEN ${sqlPlaneDot(p.toString, v, dim)} > 0 THEN ${1L << p} ELSE 0 END)")
      .mkString(" + ")
  /** Lloyd's k-means unrolled as CTEs (e, c0, a1, m1, c1, a2, m2, c2):
    * init = 4 smallest vec_ids; each iteration assigns by argmax dot
    * (lowest cell on ties — mirrors the strict > in kmeansFit) and takes
    * the same quantized mean (floor(x·1e9) longs summed exactly, divided
    * in double — bit-identical IEEE ops on both engines); an emptied cell
    * keeps its old centroid (COALESCE). c2 = the trained codebook.
    */
  private def sqlKmeansCtes: String = sqlKmeansSub("", 0, 64, 4)

  /** The same unrolled Lloyd's over a subspace slice [off+1, off+dsub] of
    * the embedding, CTE names prefixed — one instance per PQ subspace.
    * Produces CTEs e$pfx (sliced vectors) and ${pfx}c2 (trained codebook).
    */
  private def sqlKmeansSub(pfx: String, off: Int, dsub: Int, k: Int): String = {
    val e = s"e$pfx"
    def iter(prev: String, assigned: String, means: String, next: String) =
      s"""$assigned AS (SELECT vec_id, v, cell FROM (
           SELECT $e.vec_id, $e.v, c.cell, row_number() OVER
             (PARTITION BY $e.vec_id ORDER BY ${sqlDot(s"$e.v", "c.v", dsub)} DESC, c.cell ASC) AS rk
           FROM $e, $prev c) WHERE rk = 1),
         $means AS (SELECT cell, i,
             (CAST(SUM(CAST(floor(v[i] * 1000000000.0) AS BIGINT)) AS DOUBLE)
               / COUNT(*)) / 1000000000.0 AS m
           FROM $assigned, range(1, ${dsub + 1}) t(i) GROUP BY cell, i),
         $next AS (SELECT g.cell, list(COALESCE(m.m, g.x) ORDER BY g.i) AS v
           FROM (SELECT c.cell, t.i, c.v[t.i] AS x
                 FROM $prev c, range(1, ${dsub + 1}) t(i)) g
           LEFT JOIN $means m ON m.cell = g.cell AND m.i = g.i
           GROUP BY g.cell)"""
    s"""$e AS (SELECT vec_id,
         list_transform(embedding[${off + 1}:${off + dsub}], x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       ${pfx}c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cell, v
         FROM (SELECT vec_id, v FROM $e ORDER BY vec_id LIMIT $k)),
       ${iter(s"${pfx}c0", s"${pfx}a1", s"${pfx}m1", s"${pfx}c1")},
       ${iter(s"${pfx}c1", s"${pfx}a2", s"${pfx}m2", s"${pfx}c2")}"""
  }

  /** PQ-encoded subspace centroid per corpus vector (${pfx}cs: vec_id, cv). */
  private def sqlPqAssign(pfx: String, dsub: Int): String =
    s"""${pfx}cs AS (SELECT vec_id, v AS cv FROM (
         SELECT e$pfx.vec_id, c.v, row_number() OVER (PARTITION BY e$pfx.vec_id
           ORDER BY ${sqlDot(s"e$pfx.v", "c.v", dsub)} DESC, c.cell ASC) AS rk
         FROM e$pfx, ${pfx}c2 c) WHERE rk = 1)"""

  private val sqlSimhash = {
    val hashes = s"list_transform(toks, t -> ${sqlHex32("t")})"
    (0 until 32).map { i =>
      s"(CASE WHEN list_sum(list_transform($hashes, h -> ((h >> $i) & 1)*2 - 1)) > 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")
  }
  private val sqlLangCase = {
    val scores = TextOps.langMarkers.map { case (lang, markers) =>
      val arr = markers.map(m => s"'$m'").mkString("[", ", ", "]")
      lang -> s"len(list_intersect(list_distinct(toks), $arr))"
    }
    val best = s"greatest(${scores.map(_._2).mkString(", ")})"
    scores.reverse.foldLeft("'und'") { case (acc, (lang, s)) =>
      s"CASE WHEN $s = $best AND $s > 0 THEN '$lang' ELSE $acc END"
    }
  }

  def oracleSql: Map[String, String] = Map(
    "q1_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus, ${sqlDsum("l_quantity")} AS sum_qty,
         ${sqlDsum("l_extendedprice")} AS sum_base_price,
         $sqlDiscPrice AS sum_disc_price,
         count(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "q3_top_revenue" ->
      s"""SELECT l_orderkey, CAST(floor(epoch(o_orderdate)) AS BIGINT) AS o_orderdate_s,
         $sqlDiscPrice AS revenue
         FROM customer, orders, lineitem
         WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
           AND l_orderkey = o_orderkey
           AND o_orderdate < TIMESTAMP '1995-03-15'
           AND l_shipdate > TIMESTAMP '1995-03-15'
         GROUP BY l_orderkey, o_orderdate
         ORDER BY revenue DESC, l_orderkey LIMIT 10""",
    "q_fuzz_grammar" ->
      graft.query.ExprFuzz.oracleSql(
        graft.query.ExprFuzz.cases(200, 0xf00dL, fuzzNow)),
    "q_fuzz_grammar_ext" ->
      graft.query.ExprFuzz.oracleSqlExt(
        graft.query.ExprFuzz.extCases(240, 0xbead5eedL)),
    "e_fuzz_endpoints" ->
      graft.query.EndpointFuzz.oracleSql(
        graft.query.EndpointFuzz.cases(24, 0xe9d0cafeL)),
    "e_fuzz_endpoints2" ->
      graft.query.EndpointFuzz.oracleSql2(
        graft.query.EndpointFuzz.cases2(48, 0x5eedf00dL)),
    "e_fuzz_endpoints3" ->
      graft.query.EndpointFuzz.oracleSql3(
        graft.query.EndpointFuzz.cases3(36, 0x3eedbeefL)),
    "q_expr_eq" ->
      s"SELECT $evCols FROM events WHERE event_type = 'purchase' ORDER BY event_id",
    "q_expr_bool" ->
      s"""SELECT $evCols FROM events
         WHERE (event_type = 'purchase' OR event_type = 'signup')
           AND value >= 50 AND NOT coalesce(user_id = 7, FALSE)
         ORDER BY event_id""",
    "q_expr_wildcard" ->
      s"SELECT $evCols FROM events WHERE event_type LIKE 'p%se' ORDER BY event_id",
    "q_expr_regex" ->
      s"SELECT $evCols FROM events WHERE regexp_full_match(event_type, 's.*p') ORDER BY event_id",
    "q_expr_list" ->
      s"""SELECT $evCols FROM events
         WHERE event_type IN ('signup', 'error') OR event_type LIKE 'p%'
         ORDER BY event_id""",
    "q_expr_range" ->
      s"""SELECT $evCols FROM events
         WHERE value >= 50 AND value < 60.5
           AND NOT coalesce(event_id BETWEEN 10 AND 20, FALSE)
         ORDER BY event_id""",
    "q_expr_not" ->
      s"""SELECT $evCols FROM events
         WHERE NOT coalesce(event_type = 'error' OR value < 10, FALSE)
         ORDER BY event_id""",
    "q_expr_date" ->
      s"""SELECT $evCols FROM events
         WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
           AND ts < TIMESTAMP '2024-01-20 12:00:00'
         ORDER BY event_id""",
    "q10_casefold" ->
      s"""SELECT $evCols FROM events
         WHERE lower(event_type) = 'click' ORDER BY event_id""",
    "q13_relative_date" ->
      s"""SELECT $evCols FROM events
         WHERE ts >= TIMESTAMP '2024-01-27 00:00:00'
           AND ts < TIMESTAMP '2024-01-30 12:00:00'
         ORDER BY event_id""",
    "q_expr_exists" ->
      s"""SELECT $evCols FROM events
         WHERE props IS NOT NULL AND NOT coalesce(event_type = 'error', FALSE)
         ORDER BY event_id""",
    "q14_shortcut" ->
      s"""SELECT $evCols FROM events
         WHERE user_id IN (1, 2, 3) AND event_type = 'purchase'
         ORDER BY event_id""",
    "q14_shortcut_store" ->
      s"""SELECT $evCols FROM events
         WHERE user_id IN (1, 2, 3) AND event_type = 'purchase'
         ORDER BY event_id""",
    "q15_view" ->
      s"""SELECT $evCols FROM events
         WHERE event_type = 'error' AND value > 150 ORDER BY event_id""",
    "q19_forced" ->
      s"""SELECT $evCols FROM events
         WHERE NOT coalesce(event_type = 'error', FALSE) AND value > 100
         ORDER BY event_id""",
    // ip range/CIDR oracles: DuckDB compares the numeric 32-bit value of
    // the same synthesized address (10.100.0.0=174325760,
    // 10.200.0.0=180879360; 10.128.0.0/10 = [176160768, 180355071])
    "q_expr_ip_range" ->
      """WITH e AS (SELECT event_id,
           '10.' || (user_id % 250) || '.' || (event_id % 200) || '.1' AS srcIp,
           167772160 + (user_id % 250)*65536 + (event_id % 200)*256 + 1 AS ipnum
         FROM events WHERE user_id IS NOT NULL)
         SELECT event_id, srcIp FROM e
         WHERE ipnum > 174325760 AND ipnum <= 180879360 ORDER BY event_id""",
    "q_expr_ip_cidr" ->
      """WITH e AS (SELECT event_id,
           '10.' || (user_id % 250) || '.' || (event_id % 200) || '.1' AS srcIp,
           167772160 + (user_id % 250)*65536 + (event_id % 200)*256 + 1 AS ipnum
         FROM events WHERE user_id IS NOT NULL)
         SELECT event_id, srcIp FROM e
         WHERE ipnum BETWEEN 176160768 AND 180355071 ORDER BY event_id""",
    "r2_rules_yaml" ->
      """SELECT event_id,
         concat_ws(',',
           CASE WHEN (user_id % 2) = 0 THEN 'hostmark' END,
           CASE WHEN (user_id % 64) BETWEEN 32 AND 63
                 AND (event_id % 4) IN (0, 1) THEN 'netmark' END,
           'udp') AS tags
         FROM events
         WHERE user_id IS NOT NULL AND (event_id % 4) <> 2
         ORDER BY event_id""",
    "r1_rules_engine" ->
      """SELECT event_id,
         concat_ws(',',
           CASE WHEN value > 150 THEN 'big-value' END,
           CASE WHEN event_type = 'purchase' THEN 'purchase' END) AS tags
         FROM events
         WHERE NOT coalesce(event_type = 'error', FALSE)
         ORDER BY event_id""",
    "q_expr_text" ->
      """SELECT doc_id FROM documents
         WHERE regexp_matches(lower(text),
           '(^|[^a-z0-9])\Qtable\E[^a-z0-9]+\Qvalue\E([^a-z0-9]|$)')
         ORDER BY doc_id""",
    "q_expr_cnt" ->
      """SELECT doc_id FROM documents
         WHERE len(string_split(text, ' ')) BETWEEN 40 AND 60
         ORDER BY doc_id""",
    "q16_fileand" ->
      """WITH d AS (SELECT event_id,
           'node' || (event_id % 3) AS node,
           '/data/pcap/cap-' || (event_id % 7) || '.pcap' AS f
         FROM events)
         SELECT event_id FROM d
         WHERE (node = 'node0' AND f = '/data/pcap/cap-3.pcap')
            OR (node = 'node1' AND f = '/data/pcap/cap-3.pcap')
            OR (node = 'node2' AND f = '/data/pcap/cap-3.pcap')
         ORDER BY event_id""",
    "q_expr_host_meta" ->
      """WITH d AS (SELECT event_id,
           'h' || (user_id % 50) || '.example.com' AS hh,
           'd' || (event_id % 97) || '.example.org' AS dh,
           'h' || (event_id % 50) || '.example.com' AS qh
         FROM events)
         SELECT event_id FROM d
         WHERE hh = 'h7.example.com' OR dh = 'h7.example.com'
            OR qh = 'h7.example.com'
            OR hh LIKE 'd1%.example.org' OR dh LIKE 'd1%.example.org'
            OR qh LIKE 'd1%.example.org'
         ORDER BY event_id""",
    "e38_parliament" ->
      """WITH stats AS (
           SELECT 'c1' AS cluster, 'node' || (user_id % 4) AS nodeName,
                  1000000 - (max(user_id) % 100) * 40 AS currentTime,
                  sum(user_id) % 5 AS deltaPacketsPerSec,
                  count(*) % 3 AS deltaESDroppedPerSec
           FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2)
         SELECT cluster, node, issue_type, severity, value_s FROM (
           SELECT cluster, nodeName AS node, 'outOfDate' AS issue_type,
                  'red' AS severity,
                  CAST(currentTime * 1000 AS VARCHAR) AS value_s
           FROM stats WHERE 1000000 - currentTime > 30
           UNION ALL
           SELECT cluster, nodeName, 'esDropped', 'yellow',
                  CAST(deltaESDroppedPerSec AS VARCHAR)
           FROM stats WHERE deltaESDroppedPerSec > 0
           UNION ALL
           SELECT cluster, nodeName, 'noPackets', 'red',
                  CAST(deltaPacketsPerSec AS VARCHAR)
           FROM stats WHERE deltaPacketsPerSec <= 0)
         ORDER BY cluster, issue_type, node""",
    "e38_parliament_rollup" ->
      """WITH stats AS (
           SELECT 'c' || (user_id % 2) AS cluster,
                  'node' || (user_id % 4) AS nodeName,
                  1000000 - (max(user_id) % 100) * 40 AS currentTime,
                  sum(user_id) % 5 AS deltaPacketsPerSec,
                  sum(event_id) % 1000 AS deltaBytesPerSec,
                  count(*) % 7 AS deltaTotalDroppedPerSec,
                  count(*) % 2 AS monitoring
           FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2)
         SELECT cluster,
                CAST(sum(deltaBytesPerSec) AS BIGINT) AS deltaBPS,
                CAST(sum(deltaTotalDroppedPerSec) AS BIGINT) AS deltaTDPS,
                CAST(sum(CASE WHEN 1000000 - currentTime <= 30
                     AND deltaPacketsPerSec > 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS liveNodes,
                CAST(sum(monitoring) AS BIGINT) AS monitoring
         FROM stats GROUP BY cluster ORDER BY cluster""",
    "e16b_dstats" ->
      """WITH m AS (
           SELECT 'node' || (user_id % 4) AS node,
                  CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS currentTime,
                  count(*) AS deltaBytes,
                  60000 + (user_id % 4) * 1000 AS deltaMS
           FROM events WHERE user_id IS NOT NULL
           GROUP BY 1, 2, 4),
         v AS (
           SELECT node, currentTime,
                  CAST(floor((currentTime - 1704067200) / 86400) AS INT) AS pos,
                  floor(deltaBytes * 1000.0 / deltaMS * 8) AS value
           FROM m
           WHERE currentTime BETWEEN 1704067200 AND 1706659200
             AND floor((currentTime - 1704067200) / 86400) BETWEEN 0 AND 29),
         newest AS (
           SELECT node, pos, value, row_number() OVER
             (PARTITION BY node, pos ORDER BY currentTime DESC) AS rn
           FROM v),
         grid AS (
           SELECT n.node, g.pos
           FROM (SELECT DISTINCT node FROM v) n
           CROSS JOIN (SELECT CAST(unnest(generate_series(0, 29)) AS INT) AS pos) g)
         SELECT grid.node, grid.pos,
                CAST(coalesce(newest.value, 0) AS BIGINT) AS value
         FROM grid LEFT JOIN newest
           ON newest.node = grid.node AND newest.pos = grid.pos AND newest.rn = 1
         ORDER BY grid.node, grid.pos""",
    "e16_node_stats" ->
      s"""SELECT 'node' || (user_id % 4) AS node, count(*) AS n,
         ${sqlDsum("value")} AS sum_value,
         CAST(floor(epoch(ts)/86400)*86400 AS BIGINT) AS bucket_s
         FROM events WHERE user_id IS NOT NULL
         GROUP BY node, bucket_s ORDER BY node, bucket_s""",
    "e5_spiview_multi" ->
      """WITH pairs AS (
           SELECT 'event_type' AS field, CAST(event_type AS VARCHAR) AS value
           FROM events WHERE event_type IS NOT NULL
           UNION ALL
           SELECT 'user_id', CAST(user_id AS VARCHAR) FROM events WHERE user_id IS NOT NULL),
         c AS (SELECT field, value, count(*) AS cnt FROM pairs GROUP BY field, value),
         r AS (SELECT *, row_number() OVER
             (PARTITION BY field ORDER BY cnt DESC, value ASC) AS rk FROM c)
         SELECT field, value, cnt, rk FROM r WHERE rk <= 5 ORDER BY field, rk""",
    "e15_federation" ->
      s"""SELECT event_type, count(*) AS n, ${sqlDsum("value")} AS sum_value
         FROM events GROUP BY event_type ORDER BY event_type""",
    "e1_session_query" ->
      s"""SELECT $evCols FROM events
         WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'
           AND ts <= TIMESTAMP '2024-01-25 00:00:00'
           AND event_type = 'purchase' AND value >= 100
         ORDER BY event_id""",
    "e2_sessions_table" ->
      """SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s, user_id, event_type, value
         FROM events
         ORDER BY value DESC NULLS FIRST, event_id ASC
         LIMIT 20 OFFSET 10""",
    "e3_time_histogram" ->
      s"""SELECT count(*) AS sessions, ${sqlDsum("value")} AS sum_value,
         CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS bucket_s
         FROM events GROUP BY bucket_s ORDER BY bucket_s""",
    "e4_term_counts" ->
      """SELECT event_type, count(*) AS cnt FROM events
         GROUP BY event_type ORDER BY cnt DESC, event_type ASC""",
    "e5_spiview_top" ->
      """SELECT user_id, count(*) AS cnt FROM events WHERE user_id IS NOT NULL
         GROUP BY user_id ORDER BY cnt DESC, user_id ASC LIMIT 10""",
    "e6_spigraph" ->
      """WITH top AS (
           SELECT event_type FROM events WHERE event_type IS NOT NULL
           GROUP BY event_type ORDER BY count(*) DESC, event_type ASC LIMIT 3)
         SELECT e.event_type, count(*) AS value,
           CAST(floor(epoch(e.ts)/86400)*86400 AS BIGINT) AS bucket_s
         FROM events e JOIN top USING (event_type)
         GROUP BY e.event_type, bucket_s
         ORDER BY e.event_type, bucket_s""",
    "e7_hierarchy" ->
      """WITH g AS (
           SELECT event_type, user_id, count(*) AS cnt FROM events
           WHERE event_type IS NOT NULL AND user_id IS NOT NULL
           GROUP BY event_type, user_id),
         t AS (SELECT *, sum(cnt) OVER (PARTITION BY event_type) AS tot0 FROM g),
         rk AS (SELECT *,
           dense_rank() OVER (ORDER BY tot0 DESC, event_type ASC) AS rk0,
           dense_rank() OVER (PARTITION BY event_type ORDER BY cnt DESC, user_id ASC) AS rk1
           FROM t)
         SELECT event_type, user_id, cnt FROM rk WHERE rk0 <= 3 AND rk1 <= 3
         ORDER BY event_type, user_id""",
    "e8_unique" ->
      """SELECT user_id, count(*) AS cnt FROM events WHERE user_id IS NOT NULL
         GROUP BY user_id ORDER BY cnt DESC, user_id ASC LIMIT 10000""",
    "e9_multiunique" ->
      """SELECT event_type, user_id, count(*) AS cnt FROM events
         WHERE event_type IS NOT NULL AND user_id IS NOT NULL
         GROUP BY event_type, user_id
         ORDER BY cnt DESC, event_type ASC, user_id ASC LIMIT 10000""",
    "e10_connections" ->
      s"""SELECT user_id AS src, event_type AS dst, count(*) AS cnt,
         ${sqlDsum("value")} AS sum_value
         FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL
         GROUP BY src, dst ORDER BY src, dst""",
    "e1_bounding_either" ->
      s"""WITH marked AS (
           SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
                  THEN 1 ELSE 0 END AS is_new
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         numbered AS (
           SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS UNBOUNDED PRECEDING) - 1 AS sid
           FROM marked),
         sessions AS (
           SELECT user_id AS key, CAST(sid AS BIGINT) AS session_seq,
             CAST(floor(epoch(min(ts))) AS BIGINT) AS start_s,
             CAST(floor(epoch(max(ts))) AS BIGINT) AS end_s,
             count(*) AS n_events
           FROM numbered GROUP BY key, session_seq)
         SELECT * FROM sessions
         WHERE start_s <= epoch(TIMESTAMP '2024-01-20 00:00:00')
           AND end_s >= epoch(TIMESTAMP '2024-01-10 00:00:00')
         ORDER BY key, session_seq""",
    "e8_cardinality" ->
      """SELECT count(DISTINCT user_id) AS user_id_card,
         count(DISTINCT event_type) AS event_type_card FROM events""",
    "e8_unique_autocomplete" ->
      """SELECT event_type, count(*) AS cnt FROM events
         WHERE event_type IS NOT NULL AND event_type LIKE 'p%'
         GROUP BY event_type ORDER BY cnt DESC, event_type ASC LIMIT 10000""",
    "i11_packet_dedup" ->
      """WITH d AS (SELECT DISTINCT
           event_type || '|' || user_id AS hash,
           CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS w
         FROM events
         WHERE user_id IS NOT NULL AND event_type IS NOT NULL)
         SELECT hash, count(*) AS n FROM d GROUP BY hash ORDER BY hash""",
    "i13_wise" ->
      """WITH intel AS (SELECT * FROM (VALUES
           ('purchase', 'category=money'), ('purchase', 'risk=low'),
           ('error', 'risk=high')) t(key, fv)),
         agg AS (SELECT key, string_agg(fv, ',' ORDER BY fv) AS intel
                 FROM intel GROUP BY key)
         SELECT event_id, intel FROM events
         LEFT JOIN agg ON event_type = key ORDER BY event_id""",
    "j1_asof_join" ->
      """WITH l AS (SELECT event_id, user_id, ts FROM events
           WHERE user_id IS NOT NULL AND event_type = 'purchase'),
         r AS (SELECT user_id, ts,
             CAST(CAST(max(value) AS DECIMAL(18,2)) AS DOUBLE) AS sv,
             CAST(floor(epoch(ts)) AS BIGINT) AS asof_ts
           FROM events WHERE user_id IS NOT NULL
             AND event_type = 'signup' GROUP BY user_id, ts)
         SELECT l.event_id, r.sv, r.asof_ts
         FROM l ASOF LEFT JOIN r
           ON l.user_id = r.user_id AND r.ts <= l.ts
         ORDER BY l.event_id""",
    "i18_wise_domain" ->
      """WITH f AS (SELECT event_id,
           'w' || (event_id % 7) || '.' || event_type || (user_id % 20)
             || '.com' AS host
         FROM events WHERE user_id IS NOT NULL),
         fx AS (SELECT * FROM f WHERE NOT host LIKE '%.view9.com'),
         intel(source, key, field, value) AS (VALUES
           ('filesrc', 'purchase3.com', 'intel', 'bad'),
           ('filesrc', 'w1.click7.com', 'intel', 'worse'),
           ('filesrc', 'click7.com', 'intel', 'meh'),
           ('urlsrc', 'error5.com', 'score', '9'),
           ('urlsrc', 'purchase3.com', 'score', '7')),
         cands AS (
           SELECT event_id, 0 AS pref, host AS key FROM fx
           UNION ALL
           SELECT event_id, 1, regexp_replace(host, '^[^.]*\.', '')
           FROM fx WHERE regexp_replace(host, '^[^.]*\.', '') <> host),
         hits AS (SELECT c.event_id, i.source, c.pref, i.field, i.value
                  FROM cands c JOIN intel i ON i.key = c.key),
         best AS (SELECT event_id, source, min(pref) AS mp
                  FROM hits GROUP BY 1, 2)
         SELECT h.event_id AS id, h.source, h.field, h.value
         FROM hits h JOIN best b
           ON h.event_id = b.event_id AND h.source = b.source
              AND h.pref = b.mp
         ORDER BY id, h.source, h.field, h.value""",
    "i21_wise_feed" ->
      """WITH f AS (SELECT event_id,
           'w' || (event_id % 7) || '.' || event_type || (user_id % 20)
             || '.com' AS host
         FROM events WHERE user_id IS NOT NULL),
         intel(key, field, value) AS (VALUES
           ('purchase3.com', 'mal.type', 'c2'),
           ('purchase3.com', 'score', '7'),
           ('w1.click7.com', 'mal.type', 'phish'),
           ('click7.com', NULL, NULL),
           ('error5.com', 'score', '9'),
           ('view2.com', 'score', '9')),
         cands AS (
           SELECT event_id, 0 AS pref, host AS key FROM f
           UNION ALL
           SELECT event_id, 1, regexp_replace(host, '^[^.]*\.', '')
           FROM f WHERE regexp_replace(host, '^[^.]*\.', '') <> host),
         hits AS (SELECT c.event_id, c.pref, i.field, i.value
                  FROM cands c JOIN intel i ON i.key = c.key),
         best AS (SELECT event_id, min(pref) AS mp
                  FROM hits GROUP BY 1)
         SELECT h.event_id AS id, 'feed' AS source,
           coalesce(h.field, '') AS field, coalesce(h.value, '') AS value
         FROM hits h JOIN best b
           ON h.event_id = b.event_id AND h.pref = b.mp
         ORDER BY id, field, value""",
    "i19_wise_cidr" ->
      """WITH f AS (SELECT event_id,
           CAST(10 * 16777216 + (user_id % 250) * 65536
                + (event_id % 200) * 256 + 1 AS BIGINT) AS ipLong
         FROM events WHERE user_id IS NOT NULL),
         intel(source, cidr, field, value, plen, net) AS (VALUES
           ('geo', '10.0.0.0/8', 'scope', 'corp', 8, 10),
           ('geo', '10.5.0.0/16', 'scope', 'lab', 16, 2565),
           ('geo', '10.5.7.0/24', 'scope', 'rack', 24, 656647),
           ('threat', '10.100.0.0/14', 'threat', 'scan', 14, 665)),
         hits AS (SELECT f.event_id, i.source, i.plen, i.cidr, i.field,
                         i.value
                  FROM f JOIN intel i
                    ON (f.ipLong >> (32 - i.plen)) = i.net),
         best AS (SELECT event_id, source, max(plen) AS bp
                  FROM hits GROUP BY 1, 2)
         SELECT h.event_id AS id, h.source, h.cidr, h.field, h.value
         FROM hits h JOIN best b
           ON h.event_id = b.event_id AND h.source = b.source
              AND h.plen = b.bp
         ORDER BY id, h.source, h.cidr, h.field, h.value""",
    "i20_bpf_filter" ->
      """WITH f AS (SELECT
           CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS row_id,
           '10.' || (l_orderkey % 200) || '.' || (l_partkey % 250)
             || '.' || (l_suppkey % 250) AS src_ip,
           CAST((l_orderkey * 7 + l_suppkey * 613) % 50000 + 1024
             AS BIGINT) AS src_port,
           l_orderkey % 3 AS pk, l_linenumber % 2 AS dk,
           l_orderkey % 200 AS o2, l_partkey % 250 AS o3,
           l_suppkey % 250 AS o4
         FROM lineitem)
         SELECT row_id, src_ip, src_port FROM f
         WHERE pk = 0 AND dk = 0
           AND src_port BETWEEN 20000 AND 40000
           AND o2 BETWEEN 64 AND 127
           AND NOT (o2 = 65 AND o3 = 3 AND o4 = 3)
         ORDER BY row_id""",
    "e8_unique_ippair" ->
      """WITH d AS (SELECT
           '10.' || (user_id % 250) || '.' || (event_id % 200) || '.1'
             || ':' || (event_id % 1000 + 1000) AS pair
         FROM events WHERE user_id IS NOT NULL)
         SELECT pair, count(*) AS cnt FROM d
         GROUP BY pair ORDER BY cnt DESC, pair ASC LIMIT 10000""",
    "e10_connections_baseline" ->
      """WITH nodes AS (
           SELECT CAST(user_id AS VARCHAR) AS node, 1 AS flag FROM events
             WHERE ts >= TIMESTAMP '2024-01-16 00:00:00' AND user_id IS NOT NULL
           UNION ALL SELECT event_type, 1 FROM events
             WHERE ts >= TIMESTAMP '2024-01-16 00:00:00' AND event_type IS NOT NULL
           UNION ALL SELECT CAST(user_id AS VARCHAR), 2 FROM events
             WHERE ts < TIMESTAMP '2024-01-16 00:00:00' AND user_id IS NOT NULL
           UNION ALL SELECT event_type, 2 FROM events
             WHERE ts < TIMESTAMP '2024-01-16 00:00:00' AND event_type IS NOT NULL),
         g AS (SELECT node, flag, count(*) AS sessions FROM nodes GROUP BY node, flag)
         SELECT node,
           CAST(sum(CASE WHEN flag = 1 THEN sessions ELSE 0 END) AS BIGINT) AS sessions,
           CAST(sum(flag) AS INT) AS flag
         FROM g GROUP BY node ORDER BY node""",
    "e12_segment_join" ->
      s"""SELECT o_orderkey, count(*) AS n_lines, ${sqlDsum("l_quantity")} AS sum_qty
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderkey ORDER BY o_orderkey LIMIT 1000""",
    "i4_sessionize" ->
      s"""WITH marked AS (
           SELECT user_id, ts, event_id, value,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
                  THEN 1 ELSE 0 END AS is_new
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         numbered AS (
           SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS UNBOUNDED PRECEDING) - 1 AS sid
           FROM marked)
         SELECT user_id AS key, CAST(sid AS BIGINT) AS session_seq,
           CAST(floor(epoch(min(ts))) AS BIGINT) AS start_s,
           CAST(floor(epoch(max(ts))) AS BIGINT) AS end_s,
           count(*) AS n_events, ${sqlDsum("value")} AS sum_value
         FROM numbered GROUP BY key, session_seq ORDER BY key, session_seq""",
    "d1_dedup_exact" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_docs
         FROM documents GROUP BY content_hash ORDER BY content_hash""",
    "d2_dedup_minhash" ->
      s"""WITH tok AS (SELECT doc_id, $sqlToks AS toks FROM documents),
         sh AS (SELECT doc_id, unnest(${sqlShingles("toks", 3)}) AS s
                FROM tok WHERE len(toks) >= 3),
         hs AS (SELECT doc_id, ${sqlHex32("s")} AS h FROM sh),
         sig AS (SELECT doc_id, $sqlMinhashCols FROM hs GROUP BY doc_id),
         bandrows AS (
           SELECT doc_id, b AS band_id, $sqlBandKey AS band_key
           FROM sig, range(0, 4) t(b))
         SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM bandrows a JOIN bandrows b
           ON a.band_id = b.band_id AND a.band_key = b.band_key
           AND a.doc_id < b.doc_id
         ORDER BY doc_a, doc_b""",
    "d6_dedup_groups" ->
      s"""WITH RECURSIVE $sqlGroupsCtes
         SELECT doc_id, group_id FROM dgroups ORDER BY doc_id""",
    "d20_soft_dedup" ->
      s"""WITH RECURSIVE $sqlGroupsCtes,
         gs AS (SELECT group_id, count(*) AS gsz FROM dgroups
                GROUP BY group_id),
         w AS (SELECT g.doc_id, 1000000 // gs.gsz AS w
               FROM dgroups g JOIN gs USING (group_id))
         SELECT d.doc_id, CAST(coalesce(w.w, 1000000) AS BIGINT)
           AS weight_ppm
         FROM documents d LEFT JOIN w ON d.doc_id = w.doc_id
         ORDER BY d.doc_id""",
    "t20_curriculum" ->
      """WITH base AS (SELECT doc_id, n_chars AS score FROM documents),
         cnt AS (SELECT score, count(*) AS cnt FROM base GROUP BY score),
         cum AS (SELECT score,
             sum(cnt) OVER (ORDER BY score DESC) - cnt AS prev FROM cnt),
         tot AS (SELECT count(*) AS n FROM base),
         cuts AS (SELECT score,
             CAST(least((prev * 4) // n, 3) AS INT) AS phase
           FROM cum, tot)
         SELECT b.doc_id, b.score, c.phase,
           CAST(('0x' || substr(md5('curriculum|' || b.doc_id), 1, 8))
             AS BIGINT) AS ord
         FROM base b JOIN cuts c USING (score)
         ORDER BY phase, ord, b.doc_id""",
    "p13_class_pack" ->
      """WITH base AS (SELECT doc_id, n_chars AS len FROM documents
           WHERE n_chars > 0 AND n_chars <= 2048),
         c AS (SELECT doc_id, len,
             CASE WHEN len <= 64 THEN 64 WHEN len <= 128 THEN 128
               WHEN len <= 256 THEN 256 WHEN len <= 512 THEN 512
               WHEN len <= 1024 THEN 1024 ELSE 2048 END AS cls,
             CAST(('0x' || substr(md5('classpack|' || doc_id), 1, 8))
               AS BIGINT) AS h
           FROM base),
         r AS (SELECT doc_id, len, cls, h % 8 AS shard,
             row_number() OVER (PARTITION BY cls, h % 8
               ORDER BY h, doc_id) - 1 AS rk
           FROM c)
         SELECT doc_id, CAST(len AS BIGINT) AS len,
           CAST(cls AS BIGINT) AS cls, CAST(shard AS BIGINT) AS shard,
           CAST(rk // (2048 // cls) AS BIGINT) AS bin,
           CAST(rk % (2048 // cls) AS BIGINT) AS slot
         FROM r ORDER BY cls, shard, bin, slot""",
    "m5_image_dhash" ->
      s"""WITH px AS (SELECT doc_id, k,
           CAST(('0x' || substr(md5('px' || '|'
             || substr(hex(encode(text)),
                  CAST((k * ((octet_length(encode(text)) + 71) // 72))
                    % greatest(octet_length(encode(text)), 1) * 2 + 1
                    AS INT),
                  CAST(((octet_length(encode(text)) + 71) // 72) * 2
                    AS INT))), 1, 8)) AS BIGINT)
             % 256 AS p
         FROM documents, range(0, 72) t(k)),
         l AS (SELECT doc_id, list(p ORDER BY k) AS ps FROM px
               GROUP BY doc_id),
         sig AS (SELECT doc_id, ${sqlDhashBand(0)} AS band0,
             ${sqlDhashBand(1)} AS band1, ${sqlDhashBand(2)} AS band2,
             ${sqlDhashBand(3)} AS band3 FROM l),
         reps AS (SELECT band0, band1, band2, band3, min(doc_id) AS rep
           FROM sig GROUP BY band0, band1, band2, band3),
         exact AS (SELECT r.rep AS doc_a, s.doc_id AS doc_b,
             CAST(0 AS BIGINT) AS hamming
           FROM sig s JOIN reps r USING (band0, band1, band2, band3)
           WHERE s.doc_id <> r.rep),
         dsig AS (SELECT rep AS doc_id, band0, band1, band2, band3
           FROM reps),
         bands AS (SELECT doc_id, 0 AS band_id, band0 AS v FROM dsig
           UNION ALL SELECT doc_id, 1, band1 FROM dsig
           UNION ALL SELECT doc_id, 2, band2 FROM dsig
           UNION ALL SELECT doc_id, 3, band3 FROM dsig),
         cnt AS (SELECT band_id, v, count(*) AS n FROM bands
           GROUP BY band_id, v),
         smallb AS (SELECT b.band_id, b.v, b.doc_id FROM bands b
           JOIN cnt c USING (band_id, v) WHERE c.n BETWEEN 2 AND 256),
         smallp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM smallb a JOIN smallb b USING (band_id, v)
           WHERE a.doc_id < b.doc_id),
         bigb AS (SELECT b.band_id, b.v, b.doc_id FROM bands b
           JOIN cnt c USING (band_id, v) WHERE c.n > 256),
         hubs AS (SELECT band_id, v, min(doc_id) AS hub FROM bigb
           GROUP BY band_id, v),
         bigp AS (SELECT h.hub AS doc_a, b.doc_id AS doc_b
           FROM bigb b JOIN hubs h USING (band_id, v)
           WHERE b.doc_id <> h.hub),
         cand AS (SELECT DISTINCT doc_a, doc_b FROM
           (SELECT * FROM smallp UNION ALL SELECT * FROM bigp)),
         near AS (SELECT p.doc_a, p.doc_b,
             CAST(bit_count(xor(sa.band0, sb.band0))
             + bit_count(xor(sa.band1, sb.band1))
             + bit_count(xor(sa.band2, sb.band2))
             + bit_count(xor(sa.band3, sb.band3)) AS BIGINT) AS hamming
           FROM cand p JOIN dsig sa ON p.doc_a = sa.doc_id
           JOIN dsig sb ON p.doc_b = sb.doc_id)
         SELECT doc_a, doc_b, hamming FROM near WHERE hamming <= 16
         UNION ALL SELECT doc_a, doc_b, hamming FROM exact
         ORDER BY doc_a, doc_b""",
    "s9_series_match" ->
      """WITH s AS (SELECT 'node' || CAST(user_id % 4 AS VARCHAR) AS key,
           CAST(floor(epoch(ts) / 86400) AS BIGINT) AS bucket,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS v
         FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2),
         ser AS (SELECT key,
             list_transform(l, x -> x.bucket) AS buckets,
             list_transform(l, x -> x.v) AS vals
           FROM (SELECT key,
               list_sort(list(struct_pack(bucket := bucket, v := v))) AS l
             FROM s GROUP BY key)
           WHERE len(l) >= 3),
         w AS (SELECT key, buckets, vals,
             CAST(unnest(range(1, len(vals) - 1)) AS INT) AS start FROM ser),
         d AS (SELECT key, buckets[start] AS start_bucket,
             (vals[start] - 100000) * (vals[start] - 100000)
             + (vals[start + 1] - 200000) * (vals[start + 1] - 200000)
             + (vals[start + 2] - 100000) * (vals[start + 2] - 100000)
               AS dist
           FROM w)
         SELECT key, start_bucket, dist FROM d
         ORDER BY dist ASC, key ASC, start_bucket ASC LIMIT 10""",
    "d19_minhash_estimates" ->
      s"""WITH RECURSIVE $sqlGroupsCtes,
         est AS (SELECT p.doc_a, p.doc_b,
             ${(0 until 12).map(j =>
               s"(CASE WHEN a.mh$j = b.mh$j THEN 1 ELSE 0 END)")
               .mkString(" + ")} AS n_equal
           FROM pairs p JOIN sig a ON p.doc_a = a.doc_id
           JOIN sig b ON p.doc_b = b.doc_id)
         SELECT doc_a, doc_b, CAST(n_equal AS BIGINT) AS n_equal,
           CAST(n_equal * 1000000 // 12 AS BIGINT) AS est_jaccard_ppm
         FROM est ORDER BY doc_a, doc_b""",
    "d18_dedup_stats" ->
      s"""WITH RECURSIVE $sqlGroupsCtes,
         g AS (SELECT group_id, count(*) AS group_size FROM dgroups
               GROUP BY group_id)
         SELECT group_size, count(*) AS n_groups FROM g
         GROUP BY group_size ORDER BY group_size""",
    "d11_dedup_pipeline" ->
      s"""WITH RECURSIVE tok AS (SELECT doc_id, $sqlToks AS toks FROM documents),
         sh AS (SELECT doc_id, unnest(${sqlShingles("toks", 3)}) AS s
                FROM tok WHERE len(toks) >= 3),
         hs AS (SELECT doc_id, ${sqlHex32("s")} AS h FROM sh),
         sig AS (SELECT doc_id, $sqlMinhashCols FROM hs GROUP BY doc_id),
         bandrows AS (
           SELECT doc_id, b AS band_id, $sqlBandKey AS band_key
           FROM sig, range(0, 4) t(b)),
         pairs AS (
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM bandrows a JOIN bandrows b
             ON a.band_id = b.band_id AND a.band_key = b.band_key
             AND a.doc_id < b.doc_id),
         edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs
                   UNION SELECT doc_b, doc_a FROM pairs),
         reach(id, r) AS (
           SELECT DISTINCT s, s FROM edges
           UNION
           SELECT e.s, reach.r FROM edges e JOIN reach ON e.d = reach.id),
         groups AS (SELECT id, min(r) AS group_id FROM reach GROUP BY id)
         SELECT d.doc_id FROM documents d
         LEFT JOIN groups g ON d.doc_id = g.id
         WHERE g.group_id IS NULL OR g.group_id = d.doc_id
         ORDER BY doc_id""",
    "d12_exact_substring" ->
      s"""WITH tok AS (SELECT doc_id, $sqlToks AS toks FROM documents),
         sh AS (SELECT doc_id, unnest(${sqlShingles("toks", 5)}) AS s,
                       unnest(range(1, len(toks)-3)) AS pos
                FROM tok WHERE len(toks) >= 5),
         hs AS (SELECT doc_id, pos, ${sqlHex32("s")} AS h FROM sh),
         dup AS (SELECT h FROM hs GROUP BY h HAVING count(*) >= 2),
         dp AS (SELECT doc_id, pos FROM hs WHERE h IN (SELECT h FROM dup)),
         g AS (SELECT doc_id, pos, pos - row_number()
                 OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM dp),
         sp AS (SELECT doc_id, min(pos) AS span_start, max(pos)+4 AS span_end,
                       max(pos)-min(pos)+5 AS span_len
                FROM g GROUP BY doc_id, grp)
         SELECT doc_id, span_start, span_end, span_len FROM sp
         WHERE span_len >= 8 ORDER BY doc_id, span_start""",
    "d14_bloom_novel" ->
      s"""WITH norm AS (SELECT doc_id,
             array_to_string($sqlToks, ' ') AS nt FROM documents),
         refp AS (SELECT DISTINCT
             ${sqlHex32("nt || '#' || CAST(i AS VARCHAR)")} % 262144 AS pos
           FROM norm, range(0, 4) r(i) WHERE doc_id % 2 = 0),
         probe AS (SELECT doc_id,
             ${sqlHex32("nt || '#' || CAST(i AS VARCHAR)")} % 262144 AS pos
           FROM norm, range(0, 4) r(i) WHERE doc_id % 2 = 1),
         hits AS (SELECT p.doc_id, count(*) AS nhit
           FROM probe p JOIN refp ON p.pos = refp.pos GROUP BY 1)
         SELECT n.doc_id AS doc_id
         FROM norm n LEFT JOIN hits h ON n.doc_id = h.doc_id
         WHERE n.doc_id % 2 = 1 AND coalesce(h.nhit, 0) < 4
         ORDER BY n.doc_id""",
    "d8_winnow" ->
      s"""WITH tok AS (SELECT doc_id, $sqlToks AS toks FROM documents),
         hs AS (SELECT doc_id,
             list_transform(${sqlShingles("toks", 3)}, s -> ${sqlHex32("s")}) AS hs
           FROM tok WHERE len(toks) >= 3),
         f AS (SELECT doc_id, unnest(list_distinct(
             list_transform(range(1, len(hs) - 3 + 1), i -> list_min(hs[i:i+3])))) AS fp
           FROM hs WHERE len(hs) >= 4)
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
         FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
         GROUP BY doc_a, doc_b HAVING count(*) >= 2
         ORDER BY doc_a, doc_b""",
    "d9_contamination" ->
      s"""WITH tok AS (SELECT doc_id, $sqlToks AS toks FROM documents),
         sh AS (SELECT doc_id, list_distinct(list_transform(
             ${sqlShingles("toks", 3)}, s -> ${sqlHex32("s")})) AS s
           FROM tok WHERE len(toks) >= 3),
         bench AS (SELECT doc_id AS bench_id, unnest(s) AS g FROM sh
           WHERE doc_id % 97 = 0),
         corp AS (SELECT doc_id, unnest(s) AS g FROM sh
           WHERE doc_id % 97 <> 0)
         SELECT c.doc_id, b.bench_id, count(*) AS n_shared
         FROM corp c JOIN bench b USING(g)
         GROUP BY c.doc_id, b.bench_id
         ORDER BY doc_id, bench_id""",
    "d17_decontaminate" ->
      s"""WITH tok AS (SELECT doc_id, $sqlToks AS toks FROM documents),
         sh AS (SELECT doc_id, list_distinct(list_transform(
             ${sqlShingles("toks", 3)}, s -> ${sqlHex32("s")})) AS s
           FROM tok WHERE len(toks) >= 3),
         bench AS (SELECT doc_id AS bench_id, unnest(s) AS g FROM sh
           WHERE doc_id % 97 = 0),
         corp AS (SELECT doc_id, unnest(s) AS g FROM sh
           WHERE doc_id % 97 <> 0),
         bad AS (SELECT DISTINCT doc_id FROM (
           SELECT c.doc_id, b.bench_id FROM corp c JOIN bench b USING (g)
           GROUP BY c.doc_id, b.bench_id HAVING count(*) >= 2))
         SELECT doc_id FROM documents
         WHERE doc_id % 97 <> 0 AND doc_id NOT IN (SELECT doc_id FROM bad)
         ORDER BY doc_id""",
    "t7_repetition" ->
      s"""WITH tok AS (SELECT doc_id, $sqlToks AS toks FROM documents),
         sh AS (SELECT doc_id,
           CASE WHEN len(toks) >= 2 THEN ${sqlShingles("toks", 2)}
                ELSE []::VARCHAR[] END AS bg,
           CASE WHEN len(toks) >= 3 THEN ${sqlShingles("toks", 3)}
                ELSE []::VARCHAR[] END AS tg
           FROM tok),
         c AS (SELECT doc_id, g, count(*) AS n FROM
           (SELECT doc_id, unnest(bg) AS g FROM sh) GROUP BY doc_id, g),
         m AS (SELECT doc_id, max(n) AS mx, sum(n) AS tot FROM c GROUP BY doc_id)
         SELECT s.doc_id,
           coalesce(CAST(m.mx AS DOUBLE) / m.tot, 0.0) AS top_bigram_frac,
           CASE WHEN len(tg) > 0
                THEN CAST(len(tg) - len(list_distinct(tg)) AS DOUBLE) / len(tg)
                ELSE 0.0 END AS dup_trigram_frac
         FROM sh s LEFT JOIN m ON s.doc_id = m.doc_id
         ORDER BY s.doc_id""",
    "t16_gopher_gate" ->
      s"""WITH $sqlGopherCtes
         SELECT doc_id, ok_words, ok_len, ok_stop, ok_alpha, ok_rep, kept
         FROM gate ORDER BY doc_id""",
    "p11_source_report" ->
      s"""WITH $sqlGopherCtes
         SELECT d.source, count(*) AS n_docs,
           CAST(sum(g.kept) AS BIGINT) AS n_kept,
           CAST(sum(g.ok_words) AS BIGINT) AS n_ok_words,
           CAST(sum(g.ok_len) AS BIGINT) AS n_ok_len,
           CAST(sum(g.ok_stop) AS BIGINT) AS n_ok_stop,
           CAST(sum(g.ok_alpha) AS BIGINT) AS n_ok_alpha,
           CAST(sum(g.ok_rep) AS BIGINT) AS n_ok_rep
         FROM gate g JOIN documents d USING (doc_id)
         GROUP BY d.source ORDER BY d.source""",
    "d16_source_overlap" ->
      s"""WITH tok AS (SELECT doc_id, $sqlToks AS toks FROM documents),
         gr AS (SELECT doc_id, unnest(${sqlShingles("toks", 3)}) AS g
                FROM tok WHERE len(toks) >= 3),
         gs AS (SELECT DISTINCT d.source AS src, ${sqlHex32("g")} AS h
                FROM gr JOIN documents d USING (doc_id)),
         t AS (SELECT src, count(*) AS tot FROM gs GROUP BY src),
         p AS (SELECT a.src AS src_a, b.src AS src_b, count(*) AS shared_grams
               FROM gs a JOIN gs b ON a.h = b.h AND a.src < b.src
               GROUP BY 1, 2)
         SELECT src_a, src_b, shared_grams,
           (1000000 * shared_grams) // least(ta.tot, tb.tot) AS overlap_ppm
         FROM p JOIN t ta ON p.src_a = ta.src JOIN t tb ON p.src_b = tb.src
         ORDER BY src_a, src_b""",
    "t21_wordpiece" ->
      s"""WITH RECURSIVE
         tok AS (SELECT doc_id, $sqlToks AS toks FROM documents),
         wrds AS (SELECT unnest(toks) AS w FROM tok),
         tokv AS (SELECT w FROM (
             SELECT w, count(*) AS c FROM wrds
             WHERE length(w) BETWEEN 2 AND 12 GROUP BY w
             ORDER BY c DESC, w ASC LIMIT 50)),
         d0 AS (SELECT doc_id, text, length(text) AS n FROM documents),
         chain AS (
           SELECT doc_id, text, n, 0 AS pos, 0 AS ntok, 0 AS nfall FROM d0
           UNION ALL
           SELECT doc_id, text, n, pos + ml, ntok + 1,
                  nfall + CASE WHEN ml = 1 THEN 1 ELSE 0 END
           FROM (SELECT *, CASE $sqlWpCases ELSE 1 END AS ml
                 FROM chain WHERE pos < n) s
         )
         SELECT doc_id, CAST(ntok AS BIGINT) AS n_tokens,
           CAST(nfall AS BIGINT) AS n_char_fallbacks
         FROM chain WHERE pos >= n ORDER BY doc_id""",
    "t17_oov_rate" ->
      s"""WITH tok AS (SELECT doc_id, $sqlToks AS toks FROM documents),
         wrds AS (SELECT doc_id, unnest(toks) AS wrd FROM tok),
         v AS (SELECT wrd FROM (
             SELECT wrd, count(*) AS c FROM wrds GROUP BY wrd
             ORDER BY c DESC, wrd ASC LIMIT 500)),
         j AS (SELECT w.doc_id, w.wrd, v.wrd AS inv
               FROM wrds w LEFT JOIN v ON w.wrd = v.wrd)
         SELECT doc_id, count(*) AS n_tokens,
           (1000000 * count(CASE WHEN inv IS NULL THEN 1 END)) // count(*) AS oov_ppm
         FROM j GROUP BY doc_id ORDER BY doc_id""",
    "d7_semantic_dedup" ->
      s"""WITH e AS (SELECT vec_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         cents AS (SELECT vec_id AS cell, v AS centv FROM e WHERE vec_id < 8),
         asg AS (
           SELECT vec_id, v, cell FROM (
             SELECT e.vec_id, e.v, c.cell, row_number() OVER
               (PARTITION BY e.vec_id ORDER BY ${sqlDot("e.v", "c.centv", 64)} DESC, c.cell ASC) AS crk
             FROM e, cents c) WHERE crk = 1)
         SELECT cell, vec_a, vec_b, cosine FROM (
           SELECT a.cell AS cell, a.vec_id AS vec_a, b.vec_id AS vec_b,
             ${sqlCos("a.v", "b.v", 64)} AS cosine
           FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id)
         WHERE cosine >= 0.4 ORDER BY vec_a, vec_b""",
    "d3_dedup_simhash" ->
      s"""WITH tok AS (SELECT doc_id, $sqlToks AS toks FROM documents)
         SELECT doc_id, $sqlSimhash AS simhash
         FROM tok WHERE len(toks) > 0 ORDER BY doc_id""",
    "d4_ngram_jaccard" ->
      s"""WITH tok AS (
           SELECT doc_id, lang || '|' || CAST(CAST(floor(n_chars/100) AS BIGINT) AS VARCHAR) AS block,
             $sqlToks AS toks FROM documents),
         sh AS (SELECT doc_id, block,
             unnest(list_distinct(list_transform(${sqlShingles("toks", 3)}, s -> ${sqlHex32("s")}))) AS h
           FROM tok WHERE len(toks) >= 3),
         sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         inter AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n
           FROM sh a JOIN sh b ON a.block = b.block AND a.h = b.h AND a.doc_id < b.doc_id
           GROUP BY doc_a, doc_b)
         SELECT doc_a, doc_b, jaccard FROM (
           SELECT doc_a, doc_b,
             CAST(n AS DOUBLE) / (sa.sz + sb.sz - n) AS jaccard
           FROM inter JOIN sizes sa ON sa.doc_id = doc_a
             JOIN sizes sb ON sb.doc_id = doc_b)
         WHERE jaccard >= 0.5 ORDER BY doc_a, doc_b""",
    "d5_embedding_neardup" ->
      s"""WITH e AS (SELECT vec_id, label,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)
         SELECT vec_a, vec_b, cosine FROM (
           SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             ${sqlCos("a.v", "b.v", 64)} AS cosine
           FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
         WHERE cosine >= 0.4 ORDER BY vec_a, vec_b""",
    "s1_ann_bruteforce" -> sqlS1BruteForce,
    "s2_ann_lsh" -> sqlS2Lsh,
    "s8_ann_recall" ->
      s"""WITH ex AS (SELECT query_id, neighbor_id FROM ($sqlS1BruteForce) s1),
         ap AS (SELECT query_id, neighbor_id, 1 AS m FROM ($sqlS2Lsh) s2)
         SELECT ex.query_id, count(*) AS n_exact,
           CAST(sum(coalesce(ap.m, 0)) AS BIGINT) AS hits,
           CAST((1000000 * sum(coalesce(ap.m, 0))) // count(*) AS BIGINT)
             AS recall_ppm
         FROM ex LEFT JOIN ap ON ex.query_id = ap.query_id
           AND ex.neighbor_id = ap.neighbor_id
         GROUP BY ex.query_id ORDER BY ex.query_id""",
    "t18_skipgram" ->
      s"""WITH tok AS (SELECT doc_id, $sqlToks AS toks FROM documents),
         f AS (SELECT unnest(${sqlShingles("toks", 2)}) AS g, 1 AS d
               FROM tok WHERE len(toks) >= 2
               UNION ALL
               SELECT unnest(${sqlShingles("toks", 3)}) AS g, 2 AS d
               FROM tok WHERE len(toks) >= 3),
         pr AS (SELECT split_part(g, ' ', 1) AS c,
                       split_part(g, ' ', d + 1) AS x FROM f),
         bi AS (SELECT c, x FROM pr UNION ALL SELECT x, c FROM pr)
         SELECT c AS center, x AS context, count(*) AS cnt FROM bi
         GROUP BY 1, 2 ORDER BY cnt DESC, center ASC, context ASC
         LIMIT 100""",
    "s3_ann_ivf" ->
      s"""WITH e AS (SELECT vec_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         cents AS (SELECT vec_id AS cell, v AS centv FROM e WHERE vec_id < 8),
         ca AS (
           SELECT vec_id AS neighbor_id, v AS nv, cell FROM (
             SELECT e.vec_id, e.v, c.cell, row_number() OVER
               (PARTITION BY e.vec_id ORDER BY ${sqlDot("e.v", "c.centv", 64)} DESC, c.cell ASC) AS crk
             FROM e, cents c) WHERE crk = 1),
         qa AS (
           SELECT vec_id AS query_id, v AS qv, cell FROM (
             SELECT e.vec_id, e.v, c.cell, row_number() OVER
               (PARTITION BY e.vec_id ORDER BY ${sqlDot("e.v", "c.centv", 64)} DESC, c.cell ASC) AS crk
             FROM e, cents c WHERE e.vec_id >= 5 AND e.vec_id < 10) WHERE crk <= 2),
         scored AS (
           SELECT qa.query_id, ca.neighbor_id, ${sqlCos("qa.qv", "ca.nv", 64)} AS cosine
           FROM ca JOIN qa USING (cell) WHERE ca.neighbor_id <> qa.query_id),
         ranked AS (SELECT *, row_number() OVER
             (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rk
           FROM scored)
         SELECT query_id, neighbor_id, cosine, rk FROM ranked
         WHERE rk <= 3 ORDER BY query_id, rk""",
    "t1_lang_id" ->
      s"""WITH tok AS (SELECT lang, $sqlToks AS toks FROM documents)
         SELECT lang, $sqlLangCase AS guess, count(*) AS n
         FROM tok GROUP BY lang, guess ORDER BY lang, guess""",
    "t2_quality" ->
      s"""WITH tok AS (SELECT doc_id, text, $sqlToks AS toks FROM documents)
         SELECT doc_id, len(toks) AS n_tokens,
           CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks) AS mean_token_len,
           CAST(len(list_filter(toks, t -> list_contains(${TextOps.stopwords.map(s => s"'$s'").mkString("[", ", ", "]")}, t))) AS DOUBLE) / len(toks) AS stop_ratio,
           CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / length(text) AS alpha_ratio
         FROM tok ORDER BY doc_id""",
    "t3_token_count" ->
      s"""SELECT doc_id, len($sqlToks) AS ws_tokens,
         len(regexp_extract_all(lower(text), '${TextOps.bpeRegex}')) AS bpe_tokens,
         CAST(ceil(CAST(length(text) AS DOUBLE) / 4) AS BIGINT) AS est_tokens
         FROM documents ORDER BY doc_id""",
    "t4_fingerprint" ->
      s"""SELECT doc_id,
         md5(array_to_string(list_sort(list_distinct($sqlToks)), ' ')) AS fp
         FROM documents ORDER BY doc_id""",
    "t5_pii_redact" -> {
      // same rule chain, same order; DuckDB needs the explicit 'g' flag
      // (single-quoted SQL strings pass backslashes to RE2 untouched)
      val redSql = TextOps.piiRules.foldLeft("t") { case (acc, (re, tag)) =>
        s"regexp_replace($acc, '$re', '$tag', 'g')"
      }
      s"""WITH s AS (SELECT doc_id,
           text || ' contact user' || CAST(doc_id AS VARCHAR)
             || '@example.com call +1 555 01'
             || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
             || ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
             || '.0.1 card 4111111111111'
             || CAST(doc_id % 9000 + 1000 AS VARCHAR) AS t
           FROM documents),
         r AS (SELECT doc_id, $redSql AS red FROM s)
         SELECT doc_id, md5(red) AS red_fp,
           len(regexp_extract_all(red, '<EMAIL>')) AS n_email,
           len(regexp_extract_all(red, '<IP>')) AS n_ip,
           len(regexp_extract_all(red, '<PHONE>')) AS n_phone,
           len(regexp_extract_all(red, '<CC>')) AS n_cc
         FROM r ORDER BY doc_id"""
    },
    "t6_chunk" ->
      s"""WITH tok AS (SELECT doc_id, $sqlToks AS toks FROM documents),
         st AS (SELECT doc_id, toks,
             unnest(range(1, greatest(len(toks) - 10, 1) + 1, 30)) AS s
           FROM tok WHERE len(toks) > 0)
         SELECT doc_id, CAST((s - 1) // 30 AS INT) AS chunk_idx,
           len(toks[s:s+39]) AS n_chunk_tokens,
           md5(array_to_string(toks[s:s+39], ' ')) AS chunk_fp
         FROM st ORDER BY doc_id, chunk_idx""",
    "t9_length_quantiles" ->
      s"""WITH hist AS (SELECT lang, CAST(len($sqlToks) AS BIGINT) AS v,
           count(*) AS cnt FROM documents GROUP BY lang, v),
         cum AS (SELECT lang, v,
             SUM(cnt) OVER (PARTITION BY lang ORDER BY v) AS cum,
             SUM(cnt) OVER (PARTITION BY lang) AS n
           FROM hist)
         SELECT lang,
           MIN(CASE WHEN cum >= ceil(0.5 * n) THEN v END) AS p50,
           MIN(CASE WHEN cum >= ceil(0.9 * n) THEN v END) AS p90,
           MIN(CASE WHEN cum >= ceil(0.99 * n) THEN v END) AS p99
         FROM cum GROUP BY lang ORDER BY lang""",
    "t8_seq_pack" ->
      s"""WITH tok AS (SELECT doc_id,
           CAST(len($sqlToks) AS BIGINT) AS n_tokens FROM documents),
         ps AS (SELECT doc_id, n_tokens,
             COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
           FROM tok)
         SELECT doc_id, n_tokens, CAST(prev // 128 AS BIGINT) AS bin,
           CAST(prev % 128 AS BIGINT) AS off_in_bin
         FROM ps ORDER BY doc_id""",
    "d10_bpe_pairs" ->
      s"""WITH tok AS (SELECT $sqlToks AS toks FROM documents),
         pr AS (SELECT unnest(list_transform(range(1, len(toks)),
             i -> {'a': toks[i], 'b': toks[i+1]})) AS p
           FROM tok WHERE len(toks) >= 2)
         SELECT p.a AS a, p.b AS b, count(*) AS n FROM pr
         GROUP BY a, b ORDER BY n DESC, a ASC, b ASC LIMIT 50""",
    "t12_paragraph_dedup" ->
      s"""WITH ${sqlParasCte()},
         ph AS (SELECT doc_id, idx, para, md5(para) AS h,
             doc_id * 1048576 + idx AS rnk FROM paras),
         keeper AS (SELECT h, min(rnk) AS keep_rnk FROM ph GROUP BY h),
         kept AS (SELECT ph.doc_id, ph.idx, ph.para FROM ph
           JOIN keeper ON ph.h = keeper.h AND ph.rnk = keeper.keep_rnk),
         reb AS (SELECT doc_id, count(*) AS n_kept,
             md5(string_agg(para, chr(10) ORDER BY idx)) AS clean_fp
           FROM kept GROUP BY doc_id)
         SELECT d.doc_id,
           CAST(ceil(len($sqlToks)/10.0) AS BIGINT) AS n_paras,
           COALESCE(r.n_kept, 0) AS n_kept,
           COALESCE(r.clean_fp, md5('')) AS clean_fp
         FROM documents d LEFT JOIN reb r USING (doc_id)
         ORDER BY doc_id""",
    "t13_c4_clean" ->
      s"""WITH ${sqlParasCte()},
         lns AS (SELECT doc_id, idx,
             para || (CASE WHEN ${sqlHex32("CAST(doc_id AS VARCHAR) || '_' || CAST(idx AS VARCHAR)")} % 4 <> 0
               THEN '.' ELSE '' END) AS line
           FROM paras),
         flt AS (SELECT doc_id, idx, line,
             (regexp_matches(line, '[.!?"]$$')
              AND len(list_filter(string_split_regex(line, '\\s+'), w -> w <> '')) >= 5
              AND NOT contains(lower(line), 'javascript')) AS keep
           FROM lns),
         agg AS (SELECT doc_id, count(*) AS n_lines,
             CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             md5(COALESCE(string_agg(CASE WHEN keep THEN line END, chr(10) ORDER BY idx), '')) AS clean_fp,
             (contains(string_agg(lower(line), chr(10) ORDER BY idx), '{')
              OR contains(string_agg(lower(line), chr(10) ORDER BY idx), 'lorem ipsum')) AS bad
           FROM flt GROUP BY doc_id)
         SELECT d.doc_id, COALESCE(a.n_lines, 0) AS n_lines,
           COALESCE(a.n_kept, 0) AS n_kept,
           CAST(CASE WHEN COALESCE(a.n_kept, 0) >= 3
             AND NOT COALESCE(a.bad, FALSE) THEN 1 ELSE 0 END AS BIGINT) AS doc_kept,
           COALESCE(a.clean_fp, md5('')) AS clean_fp
         FROM documents d LEFT JOIN agg a USING (doc_id)
         ORDER BY doc_id""",
    "t14_tfidf" ->
      s"""WITH tok AS (SELECT doc_id, unnest($sqlToks) AS term FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
         dfq AS (SELECT term, count(*) AS dfc FROM tf GROUP BY 1),
         n AS (SELECT count(*) AS n FROM documents),
         sc AS (SELECT tf.doc_id, tf.term,
             tf.tf * ((1000000 * n.n) // dfq.dfc) AS tfidf
           FROM tf JOIN dfq USING (term) CROSS JOIN n),
         r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
             ORDER BY tfidf DESC, term) AS rk FROM sc)
         SELECT doc_id, term, tfidf FROM r WHERE rk <= 5
         ORDER BY doc_id, tfidf DESC, term""",
    "t22_bm25" ->
      s"""SELECT * FROM (${sqlBm25TopK(5)}) ORDER BY query_id, rk""",
    "s10_hybrid_rrf" ->
      s"""WITH bm AS (${sqlBm25TopK(20)}),
         de AS (${sqlCosTopK("vec_id % 100 = 0", 20)}),
         u AS (SELECT query_id, doc_id, 1000000 // (60 + rk) AS p FROM bm
               UNION ALL
               SELECT query_id, neighbor_id AS doc_id, 1000000 // (60 + rk)
               FROM de),
         f AS (SELECT query_id, doc_id, CAST(sum(p) AS BIGINT) AS rrf_ppm
           FROM u GROUP BY 1, 2),
         r AS (SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY rrf_ppm DESC, doc_id) AS rk FROM f)
         SELECT query_id, CAST(rk AS BIGINT) AS rk, doc_id, rrf_ppm
         FROM r WHERE rk <= 10 ORDER BY query_id, rk""",
    "t15_nb_classify" ->
      s"""WITH tok AS (SELECT doc_id, lang,
             unnest($sqlToks) AS term FROM documents),
         ctc AS (SELECT lang AS clazz, term, count(*) AS ctc
           FROM tok GROUP BY 1, 2),
         ctot AS (SELECT clazz, sum(ctc) AS ctot FROM ctc GROUP BY 1),
         v AS (SELECT count(DISTINCT term) AS v FROM ctc),
         prior AS (SELECT lang AS clazz, count(*) AS cdocs
           FROM documents GROUP BY 1),
         n AS (SELECT count(*) AS n FROM documents),
         cls AS (SELECT DISTINCT lang AS clazz FROM documents),
         sc AS (SELECT t.doc_id, c.clazz,
             sum((1000000 * (coalesce(x.ctc, 0) + 1)) // (ct.ctot + v.v)) AS s
           FROM (SELECT doc_id, term FROM tok) t
           CROSS JOIN cls c
           LEFT JOIN ctc x ON x.clazz = c.clazz AND x.term = t.term
           JOIN ctot ct ON ct.clazz = c.clazz
           CROSS JOIN v
           GROUP BY 1, 2),
         tot AS (SELECT sc.doc_id, sc.clazz,
             sc.s + ((1000000 * p.cdocs) // n.n) AS score
           FROM sc JOIN prior p ON p.clazz = sc.clazz CROSS JOIN n),
         r AS (SELECT doc_id, clazz, row_number() OVER (PARTITION BY doc_id
             ORDER BY score DESC, clazz) AS rk FROM tot)
         SELECT r.doc_id, r.clazz AS pred, d.lang AS label,
           CAST(CASE WHEN r.clazz = d.lang THEN 1 ELSE 0 END AS BIGINT) AS hit
         FROM r JOIN documents d ON d.doc_id = r.doc_id
         WHERE r.rk = 1 ORDER BY r.doc_id""",
    "i16_suricata" ->
      s"""WITH marked AS (
           SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 86400
                  THEN 1 ELSE 0 END AS is_new
           FROM events WHERE event_type <> 'error'
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         numbered AS (
           SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS UNBOUNDED PRECEDING) - 1 AS sid
           FROM marked),
         sess AS (SELECT user_id AS key, CAST(sid AS BIGINT) AS session_seq,
             CAST(floor(epoch(min(ts))) AS BIGINT) AS start_s,
             CAST(floor(epoch(max(ts))) AS BIGINT) AS end_s
           FROM numbered GROUP BY key, sid),
         al AS (SELECT user_id AS key, CAST(floor(epoch(ts)) AS BIGINT) AS alert_s,
             event_id AS alert_id
           FROM events WHERE event_type = 'error')
         SELECT s.key, s.session_seq, count(*) AS n_alerts,
           min(al.alert_id) AS first_alert, max(al.alert_id) AS last_alert
         FROM sess s JOIN al ON al.key = s.key
           AND al.alert_s BETWEEN s.start_s AND s.end_s
         GROUP BY s.key, s.session_seq
         ORDER BY s.key, s.session_seq""",
    "s4_kmeans_centroids" ->
      s"""WITH $sqlKmeansCtes
         SELECT cell, CAST(i - 1 AS BIGINT) AS pos, v[i] AS c
         FROM c2, range(1, 65) t(i) ORDER BY cell, pos""",
    "s5_ann_ivf_trained" ->
      // the s3 IVF shape, with c2 (the trained codebook) as the cells
      s"""WITH $sqlKmeansCtes,
         cents AS (SELECT cell, v AS centv FROM c2),
         ca AS (
           SELECT vec_id AS neighbor_id, v AS nv, cell FROM (
             SELECT e.vec_id, e.v, c.cell, row_number() OVER
               (PARTITION BY e.vec_id ORDER BY ${sqlDot("e.v", "c.centv", 64)} DESC, c.cell ASC) AS crk
             FROM e, cents c) WHERE crk = 1),
         qa AS (
           SELECT vec_id AS query_id, v AS qv, cell FROM (
             SELECT e.vec_id, e.v, c.cell, row_number() OVER
               (PARTITION BY e.vec_id ORDER BY ${sqlDot("e.v", "c.centv", 64)} DESC, c.cell ASC) AS crk
             FROM e, cents c WHERE e.vec_id >= 5 AND e.vec_id < 10) WHERE crk <= 2),
         scored AS (
           SELECT qa.query_id, ca.neighbor_id, ${sqlCos("qa.qv", "ca.nv", 64)} AS cosine
           FROM ca JOIN qa USING (cell) WHERE ca.neighbor_id <> qa.query_id),
         ranked AS (SELECT *, row_number() OVER
             (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rk
           FROM scored)
         SELECT query_id, neighbor_id, cosine, rk FROM ranked
         WHERE rk <= 3 ORDER BY query_id, rk""",
    "p7_cluster_balance" ->
      s"""WITH $sqlKmeansCtes,
         cents AS (SELECT cell, v AS centv FROM c2),
         assign AS (SELECT vec_id, cell FROM (
             SELECT e.vec_id, c.cell, row_number() OVER
               (PARTITION BY e.vec_id ORDER BY ${sqlDot("e.v", "c.centv", 64)} DESC, c.cell ASC) AS crk
             FROM e, cents c) WHERE crk = 1),
         h AS (SELECT cell, vec_id,
             CAST(('0x' || substr(md5(CAST(cell AS VARCHAR) || '|' ||
               CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT) AS hv
           FROM assign),
         r AS (SELECT cell, vec_id,
             row_number() OVER (PARTITION BY cell ORDER BY hv, vec_id) AS rk
           FROM h)
         SELECT cell, vec_id FROM r WHERE rk <= 5 ORDER BY cell, vec_id""",
    "s6_ann_ivfpq" ->
      s"""WITH ${sqlKmeansSub("s0", 0, 16, 4)},
         ${sqlKmeansSub("s1", 16, 16, 4)},
         ${sqlKmeansSub("s2", 32, 16, 4)},
         ${sqlKmeansSub("s3", 48, 16, 4)},
         ${sqlPqAssign("s0", 16)},
         ${sqlPqAssign("s1", 16)},
         ${sqlPqAssign("s2", 16)},
         ${sqlPqAssign("s3", 16)},
         qv AS (SELECT q0.vec_id, q0.v AS v0, q1.v AS v1, q2.v AS v2, q3.v AS v3
           FROM es0 q0
           JOIN es1 q1 ON q1.vec_id = q0.vec_id
           JOIN es2 q2 ON q2.vec_id = q0.vec_id
           JOIN es3 q3 ON q3.vec_id = q0.vec_id
           WHERE q0.vec_id >= 5 AND q0.vec_id < 10),
         dv AS (SELECT d0.vec_id, d0.cv AS c0, d1.cv AS c1, d2.cv AS c2, d3.cv AS c3
           FROM s0cs d0
           JOIN s1cs d1 ON d1.vec_id = d0.vec_id
           JOIN s2cs d2 ON d2.vec_id = d0.vec_id
           JOIN s3cs d3 ON d3.vec_id = d0.vec_id),
         scored AS (SELECT qv.vec_id AS query_id, dv.vec_id AS neighbor_id,
             ${sqlDot("qv.v0", "dv.c0", 16)} + ${sqlDot("qv.v1", "dv.c1", 16)}
               + ${sqlDot("qv.v2", "dv.c2", 16)} + ${sqlDot("qv.v3", "dv.c3", 16)} AS score
           FROM qv, dv WHERE dv.vec_id <> qv.vec_id),
         ranked AS (SELECT *, row_number() OVER
             (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rk
           FROM scored)
         SELECT query_id, neighbor_id, score, rk FROM ranked
         WHERE rk <= 3 ORDER BY query_id, rk""",
    "s7_ann_ivfadc" ->
      s"""WITH $sqlKmeansCtes,
         ${sqlKmeansSub("s0", 0, 16, 4)},
         ${sqlKmeansSub("s1", 16, 16, 4)},
         ${sqlKmeansSub("s2", 32, 16, 4)},
         ${sqlKmeansSub("s3", 48, 16, 4)},
         ${sqlPqAssign("s0", 16)},
         ${sqlPqAssign("s1", 16)},
         ${sqlPqAssign("s2", 16)},
         ${sqlPqAssign("s3", 16)},
         cc AS (SELECT vec_id, cell FROM (
             SELECT e.vec_id, c.cell, row_number() OVER (PARTITION BY e.vec_id
               ORDER BY ${sqlDot("e.v", "c.v", 64)} DESC, c.cell ASC) AS crk
             FROM e, c2 c) WHERE crk = 1),
         qc AS (SELECT vec_id, cell FROM (
             SELECT e.vec_id, c.cell, row_number() OVER (PARTITION BY e.vec_id
               ORDER BY ${sqlDot("e.v", "c.v", 64)} DESC, c.cell ASC) AS crk
             FROM e, c2 c WHERE e.vec_id >= 5 AND e.vec_id < 10) WHERE crk <= 2),
         qv AS (SELECT q0.vec_id, q0.v AS v0, q1.v AS v1, q2.v AS v2, q3.v AS v3
           FROM es0 q0
           JOIN es1 q1 ON q1.vec_id = q0.vec_id
           JOIN es2 q2 ON q2.vec_id = q0.vec_id
           JOIN es3 q3 ON q3.vec_id = q0.vec_id
           WHERE q0.vec_id >= 5 AND q0.vec_id < 10),
         dv AS (SELECT d0.vec_id, d0.cv AS c0, d1.cv AS c1, d2.cv AS c2, d3.cv AS c3
           FROM s0cs d0
           JOIN s1cs d1 ON d1.vec_id = d0.vec_id
           JOIN s2cs d2 ON d2.vec_id = d0.vec_id
           JOIN s3cs d3 ON d3.vec_id = d0.vec_id),
         scored AS (SELECT qv.vec_id AS query_id, dv.vec_id AS neighbor_id,
             ${sqlDot("qv.v0", "dv.c0", 16)} + ${sqlDot("qv.v1", "dv.c1", 16)}
               + ${sqlDot("qv.v2", "dv.c2", 16)} + ${sqlDot("qv.v3", "dv.c3", 16)} AS score
           FROM qv
           JOIN qc ON qc.vec_id = qv.vec_id
           JOIN cc ON cc.cell = qc.cell
           JOIN dv ON dv.vec_id = cc.vec_id
           WHERE dv.vec_id <> qv.vec_id),
         ranked AS (SELECT *, row_number() OVER
             (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rk
           FROM scored)
         SELECT query_id, neighbor_id, score, rk FROM ranked
         WHERE rk <= 3 ORDER BY query_id, rk""",
    "p1_stratified_sample" ->
      """SELECT doc_id, lang FROM documents
         WHERE CAST(('0x' || substr(md5(lang || '|' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000
           < CAST((CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.25 ELSE 0.1 END) * 1000 AS BIGINT)
         ORDER BY doc_id""",
    "p6_dsir" ->
      s"""WITH tok AS (SELECT doc_id, lang, $sqlToks AS toks FROM documents),
         bg AS (SELECT doc_id, lang, unnest(${sqlShingles("toks", 2)}) AS g
                FROM tok WHERE len(toks) >= 2),
         f AS (SELECT doc_id, lang = 'en' AS is_t,
                      (${sqlHex32("g")}) % 4096 AS b FROM bg),
         m AS (SELECT b, count(*) AS cr,
                      count(*) FILTER (WHERE is_t) AS ct
               FROM f GROUP BY b),
         tots AS (SELECT sum(ct) AS tt, sum(cr) AS tr FROM m),
         ratio AS (SELECT b,
             (1000000 * (ct + 1) * (tr + 4096)) // ((cr + 1) * (tt + 4096))
               AS ratio
           FROM m, tots),
         s AS (SELECT doc_id,
                      CAST(sum(ratio) // count(*) AS BIGINT) AS dsir_score,
                      count(*) AS n_grams
               FROM f JOIN ratio USING (b) GROUP BY doc_id)
         SELECT doc_id, dsir_score, n_grams FROM s
         ORDER BY dsir_score DESC, doc_id ASC LIMIT 200""",
    "p8_ppl_buckets" ->
      s"""WITH $sqlLmCtes,
         s AS (SELECT l.doc_id, d.lang AS grp, l.lm_score AS score
               FROM lm l JOIN documents d USING (doc_id)),
         c AS (SELECT grp, score, count(*) AS cnt FROM s GROUP BY grp, score),
         cum AS (SELECT grp, score,
             sum(cnt) OVER (PARTITION BY grp ORDER BY score DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             sum(cnt) OVER (PARTITION BY grp) AS n
           FROM c),
         cuts AS (SELECT grp,
             max(CASE WHEN cum * 3 >= n THEN score END) AS t_head,
             max(CASE WHEN cum * 3 >= 2 * n THEN score END) AS t_mid
           FROM cum GROUP BY grp)
         SELECT s.doc_id, s.grp, s.score,
           CASE WHEN s.score >= t.t_head THEN 'head'
                WHEN s.score >= t.t_mid THEN 'middle'
                ELSE 'tail' END AS bucket
         FROM s JOIN cuts t USING (grp) ORDER BY doc_id""",
    "p9_token_budget" ->
      s"""WITH $sqlLmCtes,
         tk AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM tok),
         sel AS (SELECT l.doc_id, l.lm_score AS score, tk.n_tokens,
             CAST(coalesce(sum(tk.n_tokens) OVER (
               ORDER BY l.lm_score DESC, l.doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS cum_before
           FROM lm l JOIN tk USING (doc_id))
         SELECT doc_id, score, n_tokens, cum_before FROM sel
         WHERE cum_before < 12000 ORDER BY doc_id""",
    "d15_url_dedup" ->
      """WITH u AS (SELECT doc_id,
           'HTTPS://WWW.' || source || '.Example.COM'
             || CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END
             || '/p/' || CAST(doc_id % 7 AS VARCHAR)
             || CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END
             || CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed&b=2&a=1'
                     WHEN doc_id % 3 = 1 THEN '?a=1&b=2' ELSE '' END
             || CASE WHEN doc_id % 2 = 0 THEN '#frag' ELSE '' END AS url
         FROM documents),
         n1 AS (SELECT doc_id, regexp_replace(url, '#.*$', '') AS nf FROM u),
         n2 AS (SELECT doc_id,
             lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
             regexp_replace(nf, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
           FROM n1),
         n3 AS (SELECT *, regexp_extract(rest, '^([^/?]*)', 1) AS hostport,
             regexp_replace(rest, '^[^/?]*', '') AS pathq FROM n2),
         n4 AS (SELECT *,
             regexp_replace(lower(regexp_replace(hostport, ':[0-9]+$', '')),
               '^www\.', '') AS host,
             regexp_extract(hostport, ':([0-9]+)$', 1) AS port FROM n3),
         n5 AS (SELECT *,
             CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
                    OR (scheme = 'https' AND port = '443')
               THEN '' ELSE ':' || port END AS kport,
             regexp_replace(regexp_extract(pathq, '^([^?]*)', 1), '/+$', '') AS p0,
             regexp_extract(pathq, '\?(.*)$', 1) AS qs FROM n4),
         n6 AS (SELECT *, coalesce(array_to_string(list_sort(list_filter(
             string_split(qs, '&'),
             x -> x <> '' AND NOT regexp_matches(x, '^(utm_[^=]*|fbclid|gclid)='))),
             '&'), '') AS qsort FROM n5),
         n7 AS (SELECT doc_id, scheme || '://' || host || kport
             || (CASE WHEN p0 = '' THEN '/' ELSE p0 END)
             || (CASE WHEN qsort = '' THEN '' ELSE '?' || qsort END) AS curl
           FROM n6)
         SELECT curl AS url, min(doc_id) AS keeper, count(*) AS n_dups
         FROM n7 GROUP BY curl ORDER BY url""",
    "p10_domain_filter" ->
      """WITH h AS (SELECT doc_id,
           lower(source) || CASE WHEN doc_id % 3 = 0 THEN '.cdn.example'
                                 ELSE '.org' END AS host
         FROM documents)
         SELECT doc_id, host FROM h
         WHERE NOT (host = 'cdn.example' OR host LIKE '%.cdn.example'
                 OR host = 'src4.org' OR host LIKE '%.src4.org')
         ORDER BY doc_id""",
    "p12_mixture_budget" ->
      s"""WITH tok AS (SELECT doc_id, $sqlToks AS toks FROM documents),
         t AS (SELECT d.source, d.doc_id,
             CAST(len(tok.toks) AS BIGINT) AS n_tokens,
             ${sqlHex32("'mix|' || CAST(d.doc_id AS VARCHAR)")} AS hv
           FROM tok JOIN documents d USING (doc_id)
           WHERE d.source IN ('src0', 'src1', 'src2')),
         sel AS (SELECT source, doc_id, n_tokens,
             CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source
               ORDER BY hv ASC, doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS cum_before
           FROM t)
         SELECT source, doc_id, n_tokens, cum_before FROM sel
         WHERE cum_before < CASE source WHEN 'src0' THEN 1500
           WHEN 'src1' THEN 1000 ELSE 500 END
         ORDER BY source, doc_id""",
    "p3_temperature_mix" ->
      """SELECT doc_id, lang FROM documents
         WHERE CAST(('0x' || substr(md5(lang || '|' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000
           < (CASE lang WHEN 'en' THEN 1000 WHEN 'zh' THEN 500
              WHEN 'es' THEN 408 WHEN 'de' THEN 408 WHEN 'fr' THEN 289
              ELSE 0 END)
         ORDER BY doc_id""",
    "p5_leakage_split" ->
      s"""WITH RECURSIVE tok AS (SELECT doc_id, $sqlToks AS toks FROM documents),
         sh AS (SELECT doc_id, unnest(${sqlShingles("toks", 3)}) AS s
                FROM tok WHERE len(toks) >= 3),
         hs AS (SELECT doc_id, ${sqlHex32("s")} AS h FROM sh),
         sig AS (SELECT doc_id, $sqlMinhashCols FROM hs GROUP BY doc_id),
         bandrows AS (
           SELECT doc_id, b AS band_id, $sqlBandKey AS band_key
           FROM sig, range(0, 4) t(b)),
         pairs AS (
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM bandrows a JOIN bandrows b
             ON a.band_id = b.band_id AND a.band_key = b.band_key
             AND a.doc_id < b.doc_id),
         edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs
                   UNION SELECT doc_b, doc_a FROM pairs),
         reach(id, r) AS (
           SELECT DISTINCT s, s FROM edges
           UNION
           SELECT e.s, reach.r FROM edges e JOIN reach ON e.d = reach.id),
         groups AS (SELECT id, min(r) AS group_id FROM reach GROUP BY id)
         SELECT d.doc_id,
           CASE WHEN CAST(('0x' || substr(md5('split' || '|' ||
                 CAST(coalesce(g.group_id, d.doc_id) AS VARCHAR)), 1, 8))
               AS BIGINT) % 1000 < 100
             THEN 'valid' ELSE 'train' END AS split
         FROM documents d LEFT JOIN groups g ON d.doc_id = g.id
         ORDER BY doc_id""",
    "t11_lm_score" ->
      s"""WITH tok AS (SELECT doc_id, $sqlToks AS toks FROM documents),
         bg0 AS (SELECT doc_id, unnest(${sqlShingles("toks", 2)}) AS bg
                 FROM tok WHERE len(toks) >= 2),
         big AS (SELECT doc_id, ${sqlHex64("bg")} AS h2,
                        ${sqlHex64("split_part(bg, ' ', 1)")} AS h1 FROM bg0),
         c2 AS (SELECT h2, count(*) AS c2 FROM big GROUP BY h2),
         uni AS (SELECT ${sqlHex64("w")} AS h1
                 FROM (SELECT unnest(toks) AS w FROM tok) u),
         c1 AS (SELECT h1, count(*) AS c1 FROM uni GROUP BY h1),
         q AS (SELECT b.doc_id, (1000000 * x.c2) // y.c1 AS q
               FROM big b JOIN c2 x ON b.h2 = x.h2
               JOIN c1 y ON b.h1 = y.h1)
         SELECT doc_id, CAST(sum(q) // count(*) AS BIGINT) AS lm_score,
                count(*) AS n_bigrams
         FROM q GROUP BY doc_id ORDER BY doc_id""",
    "t23_kn_score" ->
      s"""WITH tok AS (SELECT doc_id, $sqlToks AS toks FROM documents),
         bg0 AS (SELECT doc_id, unnest(${sqlShingles("toks", 2)}) AS bg
                 FROM tok WHERE len(toks) >= 2),
         big AS (SELECT doc_id, ${sqlHex64("bg")} AS h2,
                        ${sqlHex64("split_part(bg, ' ', 1)")} AS h1,
                        ${sqlHex64("split_part(bg, ' ', 2)")} AS hn FROM bg0),
         c2 AS (SELECT h2, count(*) AS c12 FROM big GROUP BY h2),
         c1 AS (SELECT h1, count(*) AS c1 FROM big GROUP BY h1),
         typ AS (SELECT DISTINCT h1, hn, h2 FROM big),
         u1 AS (SELECT h1, count(*) AS u1 FROM typ GROUP BY h1),
         u2 AS (SELECT hn, count(*) AS u2 FROM typ GROUP BY hn),
         bt AS (SELECT count(*) AS bb FROM typ),
         q AS (SELECT g.doc_id,
                 (1000000 * greatest(4*x.c12 - 3, 0)) // (4*y.c1)
                 + (((750000 * v1.u1) // y.c1)
                    * ((1000000 * v2.u2) // bt.bb)) // 1000000 AS p
               FROM big g JOIN c2 x ON g.h2 = x.h2
               JOIN c1 y ON g.h1 = y.h1
               JOIN u1 v1 ON g.h1 = v1.h1
               JOIN u2 v2 ON g.hn = v2.hn, bt)
         SELECT doc_id, CAST(sum(p) // count(*) AS BIGINT) AS kn_score,
                count(*) AS n_bigrams
         FROM q GROUP BY doc_id ORDER BY doc_id""",
    "p4_source_cap" ->
      """WITH h AS (SELECT source, doc_id,
           CAST(('0x' || substr(md5(source || '|' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS hv
         FROM documents),
         r AS (SELECT source, doc_id,
           row_number() OVER (PARTITION BY source ORDER BY hv, doc_id) AS rk
         FROM h)
         SELECT source, doc_id FROM r WHERE rk <= 10
         ORDER BY source, doc_id""",
    "t10_html_strip" ->
      """SELECT doc_id, trim(regexp_replace(
           regexp_replace(regexp_replace(regexp_replace(regexp_replace(
           regexp_replace(regexp_replace(regexp_replace(regexp_replace(
           regexp_replace(regexp_replace(
             '<html><head><title>T</title><style>p{color:red}</style></head><body><p class="x">'
               || text ||
             '</p><script>var x=1;</script><!-- c --></body></html>',
             '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
             '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
             '(?s)<!--.*?-->', ' ', 'g'),
             '<[^>]*>', ' ', 'g'),
             '&lt;', '<', 'g'), '&gt;', '>', 'g'), '&quot;', '"', 'g'),
             '&#39;', '''', 'g'), '&nbsp;', ' ', 'g'), '&amp;', '&', 'g'),
             '\s+', ' ', 'g')) AS clean
         FROM documents ORDER BY doc_id""",
    "p2_seeded_shuffle" ->
      """WITH h AS (SELECT doc_id,
           CAST(('0x' || substr(md5('graft-r3' || '|' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS hv
         FROM documents)
         SELECT doc_id, CAST(hv % 8 AS BIGINT) AS shard,
           CAST(row_number() OVER (PARTITION BY hv % 8 ORDER BY hv, doc_id) AS BIGINT) AS pos
         FROM h ORDER BY doc_id""",
    "i9_enrich_join" ->
      s"""SELECT p_brand, s_nationkey, count(*) AS n, ${sqlDsum("l_quantity")} AS sum_qty
         FROM lineitem JOIN part ON l_partkey = p_partkey
         JOIN supplier ON l_suppkey = s_suppkey
         GROUP BY p_brand, s_nationkey ORDER BY p_brand, s_nationkey""",
    "i9_geo_enrich" -> {
      import graft.model.Fixtures
      val rirValues = Fixtures.rirByOctet.toSeq.sortBy(_._1)
        .map { case (o, r) => s"($o, '$r')" }.mkString(", ")
      val macCase = geoMacPrefixes.zipWithIndex
        .map { case (p, i) => s"WHEN $i THEN '$p'" }.mkString(" ")
      val ouiCase = geoMacPrefixes
        .map(p => s"WHEN '$p' THEN '${Fixtures.ouiByPrefix(p).replace("'", "''")}'")
        .mkString(" ")
      val anchorCase = geoAnchorIps.zipWithIndex
        .map { case (ip, i) => s"WHEN $i THEN '$ip'" }.mkString(" ")
      def anchorVal(f: Fixtures.AsnGeo => Option[String]) = geoAnchorIps
        .map(ip => s"WHEN '$ip' THEN '${Fixtures.asnGeoOf(ip).flatMap(f).getOrElse("").replace("'", "''")}'")
        .mkString(" ")
      s"""WITH rir_map(octet, rir) AS (VALUES $rirValues),
         e AS (SELECT event_id,
           (event_id % 223 + 1) || '.' || (user_id % 256) || '.7.9' AS ip4,
           (CASE CAST(event_id % 4 AS INT) $macCase END) || ':de:ad:01' AS mac,
           CASE CAST(event_id % ${geoAnchorIps.length} AS INT) $anchorCase END AS anchor_ip
           FROM events WHERE user_id IS NOT NULL)
         SELECT e.event_id, e.ip4, e.mac, e.anchor_ip, r.rir,
           CASE substr(e.mac, 1, 8) $ouiCase END AS oui,
           CASE e.anchor_ip ${anchorVal(_.country)} END AS country,
           CASE e.anchor_ip ${anchorVal(_.full)} END AS asn
         FROM e LEFT JOIN rir_map r ON CAST(e.event_id % 223 + 1 AS INT) = r.octet
         ORDER BY event_id"""
    },
    "m1_multimodal_meta" ->
      s"""WITH h AS (SELECT doc_id AS media_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
           ${sqlHex32("text")} AS hv FROM documents)
         SELECT media_id, byte_len,
           CAST(hv % 512 + 1 AS INT) AS width,
           CAST((hv >> 9) % 512 + 1 AS INT) AS height,
           CAST((hv >> 18) % 30 + 1 AS INT) AS n_frames
         FROM h ORDER BY media_id""",
    "m2_frame_sample" ->
      s"""WITH h AS (SELECT doc_id AS media_id, text,
           ${sqlHex32("text")} AS hv FROM documents),
         f AS (SELECT media_id, text,
           unnest(range(0, CAST((hv >> 18) % 30 + 1 AS BIGINT), 7)) AS frame_idx
           FROM h)
         SELECT media_id, frame_idx,
           md5(text || '|' || CAST(frame_idx AS VARCHAR)) AS frame_fp
         FROM f ORDER BY media_id, frame_idx""",
    "m3_resize_plan" ->
      s"""WITH h AS (SELECT doc_id AS media_id, ${sqlHex32("text")} AS hv
           FROM documents),
         d AS (SELECT media_id, CAST(hv % 512 + 1 AS INT) AS width,
           CAST((hv >> 9) % 512 + 1 AS INT) AS height FROM h)
         SELECT media_id, width, height,
           CAST(CASE WHEN greatest(width, height) <= 256 THEN width
             ELSE greatest(1, (width * 256) // greatest(width, height)) END AS INT) AS out_w,
           CAST(CASE WHEN greatest(width, height) <= 256 THEN height
             ELSE greatest(1, (height * 256) // greatest(width, height)) END AS INT) AS out_h
         FROM d ORDER BY media_id""",
    "m4_audio_chunks" ->
      s"""WITH h AS (SELECT doc_id AS media_id, text,
           ${sqlHex32("text")} AS hv FROM documents),
         a AS (SELECT media_id, text,
           ([8000, 16000, 44100])[CAST(hv % 3 AS INT) + 1] AS sample_rate,
           CAST((hv >> 2) % 60000 + 1000 AS BIGINT) AS dur FROM h),
         c AS (SELECT media_id, text, sample_rate, dur,
           CAST(unnest(range(0, dur, 4000)) AS BIGINT) AS start_ms FROM a)
         SELECT media_id, start_ms // 4000 AS chunk_idx, sample_rate,
           start_ms, least(5000, dur - start_ms) AS len_ms,
           md5(text || '@' || CAST(start_ms AS VARCHAR)) AS chunk_fp
         FROM c ORDER BY media_id, chunk_idx""",
    "e17_tagging" ->
      """SELECT event_id, concat_ws(',', event_type,
           CASE WHEN coalesce(event_type = 'purchase' AND value > 100, FALSE)
                THEN 'incident-42' END,
           CASE WHEN coalesce(event_type = 'purchase' AND value > 100, FALSE)
                AND NOT coalesce(value > 180, FALSE) THEN 'reviewed' END) AS tags
         FROM events ORDER BY event_id"""
  ).map { case (k, v) => k -> v.replaceAll("\\s+", " ").trim }
}
