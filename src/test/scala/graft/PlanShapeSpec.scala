package graft

import org.scalatest.funsuite.AnyFunSuite

/** Regression guard for the physical-plan properties the engine's scale
  * story depends on: filter pushdown, column pruning, broadcast joins,
  * top-K without global sort. Asserts on the executed plan of real
  * queries (post-AQE plans are checked textually on the initial plan —
  * the scan-level properties are decided before AQE).
  */
class PlanShapeSpec extends AnyFunSuite with SparkSpecBase {

  private def plan(q: String): String = {
    // other suites may have cached the input tables, which replaces the
    // parquet scan (and its PushedFilters) with InMemoryTableScan
    spark.catalog.clearCache()
    SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan.toString
  }

  test("q1: shipdate filter pushed, columns pruned") {
    val p = plan("q1_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
    assert(!p.contains("l_comment")) // never read
    assert(p.contains("ReadSchema") && !p.contains("l_orderkey")) // pruned out
  }

  test("q3: dimension joins broadcast, top-10 via TakeOrdered") {
    val p = plan("q3_top_revenue")
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("negated expression pushes leaf filters") {
    val p = plan("q_expr_not")
    assert(p.contains("PushedFilters: [Or(Not(EqualTo(event_type,error)),IsNull(event_type))"))
  }

  test("paging uses TakeOrdered with offset, no global sort") {
    val p = plan("e2_sessions_table")
    assert(p.contains("TakeOrderedAndProject(limit=30, offset=10"))
  }

  // Walks the adaptive root and its query stages, which a plain
  // TreeNode.collect does not enter.
  private object Aqe
    extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  // Endpoints that filter an aggregate by keys derived from it: a semi
  // join is pushed below the aggregate and re-scans the store per branch;
  // the broadcast inner join keeps ONE scan whose exchange AQE reuses.
  // Checked on the final AQE plan, after collect().
  private def assertOneScan(name: String,
      q: => org.apache.spark.sql.DataFrame): Unit = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    spark.catalog.clearCache()
    val df = q
    assert(df.collect().nonEmpty, name)
    val p = df.queryExecution.executedPlan
    def count(f: PartialFunction[SparkPlan, SparkPlan]) = Aqe.collect(p)(f).size
    assert(count { case s: FileSourceScanExec => s } == 1,
      s"$name must scan the store once:\n$p")
    assert(count { case r: ReusedExchangeExec => r } >= 1,
      s"$name must reuse the grouped exchange:\n$p")
    assert(count { case j: BroadcastHashJoinExec => j } >= 1, s"$name:\n$p")
    assert(count { case w: WindowExec => w } == 0, s"$name:\n$p")
  }

  test("spigraph joins broadcast top keys and scans the store once") {
    assertOneScan("e6_spigraph", SparkEntry.queries("e6_spigraph")(spark, sf))
  }

  test("connections minConn joins the degree set and scans the store once") {
    import org.apache.spark.sql.functions.{col, sum}
    for (sums <- Seq(Map.empty[String, org.apache.spark.sql.Column],
        Map("sum_value" -> sum(col("value")))))
      assertOneScan(s"connections minConn=2 sums=${sums.keys}",
        graft.ops.Endpoints.connectionsLinks(Tables.load(spark, sf, "events"),
          col("user_id").cast("string"), col("event_type"), sums,
          minConn = 2))
  }

  // A Window with an empty partition spec ships every row to ONE task —
  // the plans below must never contain one (hierarchy level-0 and ANN
  // top-k previously did; both now use top-K aggregates instead).
  private def partitionlessWindows(q: String) = {
    spark.catalog.clearCache()
    SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
        if w.partitionSpec.isEmpty => w
    }
  }

  test("bm25/rrf: query-term joins broadcast, no ranking window") {
    val p = plan("t22_bm25")
    assert(p.contains("BroadcastHashJoin"))
    assert(partitionlessWindows("t22_bm25").isEmpty)
    val p2 = plan("s10_hybrid_rrf")
    assert(p2.contains("BroadcastHashJoin"))
    assert(partitionlessWindows("s10_hybrid_rrf").isEmpty)
  }

  test("hierarchy plan has no window at all") {
    // levels >= 1 rank via bounded-heap top-K aggregates + broadcast
    // joins; a prefix-partitioned window would cap parallelism at K
    // tasks after the level-0 join. All levels share one scan.
    assertOneScan("e7_hierarchy", SparkEntry.queries("e7_hierarchy")(spark, sf))
  }

  test("ANN top-k plans have no window at all") {
    for (q <- Seq("s1_ann_bruteforce", "s2_ann_lsh", "s3_ann_ivf")) {
      spark.catalog.clearCache()
      val p = SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan
      val windows = p.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.isEmpty, s"$q still ranks via WindowExec")
      assert(p.toString.contains("ObjectHashAggregate"),
        s"$q should aggregate with the bounded-heap TopK")
    }
  }

  test("spiview plan has no window") {
    assert(partitionlessWindows("e5_spiview_multi").isEmpty)
    spark.catalog.clearCache()
    val p = SparkEntry.queries("e5_spiview_multi")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Window"))
  }

  test("semantic dedup broadcasts the codebook and ranks without windows") {
    spark.catalog.clearCache()
    val p = SparkEntry.queries("d7_semantic_dedup")(spark, sf)
      .queryExecution.executedPlan
    assert(p.toString.contains("BroadcastNestedLoopJoin") ||
      p.toString.contains("BroadcastHashJoin"))
    assert(p.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, "cell assignment must use the bounded-heap TopK, not a window")
  }

  test("contamination join broadcasts the benchmark side") {
    val p = plan("d9_contamination")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"),
      "the corpus side must stream map-side, never shuffle for the join")
  }

  test("repetition metrics compute scan-side — no mid-plan shuffle") {
    spark.catalog.clearCache()
    // without the presentation orderBy: the metric computation itself
    val p = graft.ops.TextOps.repetitionMetrics(
      Tables.load(spark, sf, "documents"),
      org.apache.spark.sql.functions.col("text"),
      org.apache.spark.sql.functions.col("doc_id"))
      .queryExecution.executedPlan
    val shuffles = p.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.isEmpty, "per-doc HOF folds must not shuffle")
  }

  test("packing/shuffle/BPE plans: one data shuffle, windows partitioned") {
    import org.apache.spark.sql.functions.col
    spark.catalog.clearCache()
    val docs = Tables.load(spark, sf, "documents")
    // packSequences: the row data must cross the wire exactly once (the
    // bucket repartition) and never through a window
    val pack = graft.ops.Pack
      .packSequences(docs, col("text"), col("doc_id"), 128)
    assert(pack.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, "prefix sum must not use a window")
    assert(pack.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression => r
    }.size == 1, "exactly the bucket repartition shuffle")
    // seededShuffle: rank window must be partitioned (by shard)
    val wins = graft.ops.Pack
      .seededShuffle(docs, col("doc_id"), "s", 8)
      .queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }
    assert(wins.nonEmpty && wins.forall(_.partitionSpec.nonEmpty))
    // bpePairCounts: final top-N is TakeOrdered, not a global sort
    val bpePlan = graft.ops.TextOps.bpePairCounts(docs, col("text"), 50)
      .queryExecution.executedPlan.toString
    assert(bpePlan.contains("TakeOrderedAndProject"),
      "top-N must be TakeOrderedAndProject")
  }

  test("DSIR scoring joins the bucket model broadcast") {
    val p = plan("p6_dsir")
    // the B-row ratio model must come to the feature stream, never the
    // reverse: a sort-merge join here would shuffle every bigram occurrence
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
    assert(p.contains("TakeOrderedAndProject")) // top-200, no global sort
  }

  test("cluster-balance: centroids broadcast, vectors never shuffled wide") {
    val p = plan("p7_cluster_balance")
    // crossJoin(broadcast(cents)) must plan as a broadcast nested loop;
    // the only exchanges are the bounded-heap agg keys (id, then key)
    assert(p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("corpus-curation ops: broadcast cuts, zero-join filter, one-agg dedup") {
    // p8: the per-language threshold frame must come back broadcast —
    // a shuffle join here would re-shuffle every scored document
    val p8 = plan("p8_ppl_buckets")
    assert(p8.contains("BroadcastHashJoin"))
    // p10: the blocklist compiles into the projection — zero joins
    val p10 = plan("p10_domain_filter")
    assert(!p10.contains("Join"))
    // d15: normalization is map-side; the dedup is exactly ONE hash
    // aggregate on the canonical key (plus the output range sort)
    val d15 = plan("d15_url_dedup")
    assert(!d15.contains("Join"))
    assert("Exchange hashpartitioning".r.findAllMatchIn(d15).length == 1,
      "urlDedup must shuffle once, on the canonical key")
  }

  test("m5 dhash pairs: no in-bucket pair explosion, no collect_list") {
    // the band buckets must stay O(n): exact-signature collapse + hub
    // (star) expansion are min-aggregates and joins — a collect_list in
    // this plan means the quadratic bucket interior came back
    val p = plan("m5_image_dhash")
    assert(!p.contains("collect_list"), "unbounded bucket expansion in m5")
  }

  test("batch sessionize over a multi-file dir: parallel scan, one shuffle, no funnel") {
    // Pins the 100×-ingest shape the same way the query tests pin query
    // plans: a capture DIRECTORY must decode with one task per
    // file/chunk, shuffle exactly once (the sessionId hash partition),
    // and never pass through a single-task stage or a coalesce(1) — a
    // driver-side funnel here caps ingest at one core no matter the
    // cluster.
    val dir = java.nio.file.Files.createTempDirectory("graft-plan-ingest")
    val srcs = Seq("socks-http-example.pcap", "socks-https-example.pcap",
      "smtp-zip.pcap", "wireshark-retrans.pcap")
    srcs.zipWithIndex.foreach { case (n, i) =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get("/root/reference/tests/pcap", n),
        dir.resolve(f"f$i%02d.pcap"))
    }
    // map side: decode parallelism equals the file count (all files sit
    // under the whole-file bound, so chunks == files), never one task
    val raw = graft.etl.Pcap.readPackets(spark, dir.toString)
    val scanParts = raw.rdd.getNumPartitions
    assert(scanParts >= math.min(srcs.length,
      spark.sparkContext.defaultParallelism) && scanParts > 1,
      s"decode stage has $scanParts partitions for ${srcs.length} files")
    val ds = graft.etl.SessionBuilder.sessionize(spark, dir.toString)
    // string-level like the query-plan tests: AQE wraps the tree, so
    // node collects see only the adaptive root until execution
    val planStr = ds.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllMatchIn(planStr).length == 1,
      s"sessionize must shuffle exactly once, on the session key:\n$planStr")
    val width = spark.sessionState.conf.numShufflePartitions
    assert(s"hashpartitioning\\([^)]*, $width\\)".r
      .findFirstIn(planStr).isDefined,
      s"the sessionize shuffle must plan at the configured width $width")
    assert(!planStr.contains("Coalesce"),
      "coalesce in the batch ingest plan")
    assert(!planStr.contains("SinglePartition"),
      "single-partition exchange in the batch ingest plan")
    // and the result is real: the fixtures contribute sessions
    assert(ds.count() > 0)
  }

  test("library operators return unordered relations: no global sort") {
    // row order is the caller's decision (SparkEntry sorts each result);
    // an operator ending in orderBy would add a range shuffle and a sort
    // to every caller that re-aggregates, joins or caches its output
    import org.apache.spark.sql.functions.{col, lit, sum}
    import graft.ops.{Dedup, Endpoints, Multimodal, Pack, Parliament,
      Sessionize, Similarity}
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "a b c d"), (2L, "a b c d"), (3L, "e f g h"))
      .toDF("doc_id", "text")
    val ranks = Seq((0L, 1L, 1L), (0L, 2L, 2L), (1L, 3L, 1L))
      .toDF("query_id", "doc_id", "rk")
    val events = Seq((1L, 100L, 1L), (1L, 200L, 2L), (2L, 5000L, 3L))
      .toDF("user_id", "t", "event_id")
      .withColumn("ts", col("t").cast("timestamp"))
    val stats = Seq(("c1", 990000L, 1L, 10L, 0L, 1L),
        ("c2", 100L, 0L, 20L, 1L, 0L))
      .toDF("cluster", "currentTime", "deltaPacketsPerSec",
        "deltaBytesPerSec", "deltaTotalDroppedPerSec", "monitoring")
    val links = Seq(("a", "b", 1L), ("b", "a", 2L), ("a", "c", 4000L))
      .toDF("src", "dst", "t")
      .withColumn("ts", col("t").cast("timestamp"))
    val samples = Seq(("n1", 5L, 60L, 1000L, 500L), ("n2", 25L, 60L, 300L, 1000L))
      .toDF("nodeName", "currentTime", "interval", "deltaBytes", "deltaMS")
    val grid = Endpoints.dstats(samples, "deltaBitsPerSec", 0L, 40L, 10L)
    val ops = Seq(
      "Dedup.exact" -> (() => Dedup.exact(docs, col("text"), col("doc_id"))),
      "Dedup.simhash" -> (() =>
        Dedup.simhash(docs, col("text"), col("doc_id"))),
      "Multimodal.extractMeta" -> (() => Multimodal.extractMeta(
        Multimodal.asMedia(docs, col("doc_id"), col("text"), "image"))),
      "Similarity.rrfFuse" -> (() => Similarity.rrfFuse(Seq(ranks, ranks))),
      "Pack.tokenBudgetSelect" -> (() => Pack.tokenBudgetSelect(
        docs.withColumn("score", col("doc_id") * 10), col("doc_id"),
        col("score"), lit(5L), budget = 8L)),
      "Sessionize.sessionize" -> (() => Sessionize.sessionize(events,
        col("user_id"), col("ts"), col("event_id"), 1800)),
      "Parliament.clusterRollup" -> (() =>
        Parliament.clusterRollup(stats, nowSec = 1000000L)),
      "Endpoints.timeHistogram" -> (() =>
        Endpoints.timeHistogram(links, col("ts"), 60)),
      "Endpoints.termCounts" -> (() =>
        Endpoints.termCounts(links, col("src"), "src")),
      "Endpoints.spigraph" -> (() =>
        Endpoints.spigraph(links, col("src"), "src", col("ts"), 60, 1)),
      "Endpoints.hierarchy" -> (() =>
        Endpoints.hierarchy(links, Seq("src", "dst"), 1)),
      "Endpoints.connectionsLinks" -> (() =>
        Endpoints.connectionsLinks(links, col("src"), col("dst"),
          Map("t" -> sum(col("t"))))),
      "Endpoints.connectionsLinks minConn 2" -> (() =>
        Endpoints.connectionsLinks(links, col("src"), col("dst"),
          minConn = 2)),
      "Endpoints.connectionsNodes" -> (() =>
        Endpoints.connectionsNodes(links, Some(links), col("src"),
          col("dst"))),
      "Endpoints.spiview" -> (() =>
        Endpoints.spiview(links, Seq("src", "dst"), 1)),
      "Endpoints.nodeStats" -> (() => Endpoints.nodeStats(links, col("src"),
        col("ts"), 60, Map("t" -> sum(col("t"))))),
      "Endpoints.dstats" -> (() => grid),
      "Endpoints.dstatsRollup" -> (() =>
        Endpoints.dstatsRollup(grid, average = true)))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val sorted = ops.filter { case (_, op) =>
        op().queryExecution.executedPlan.collect {
          case x: org.apache.spark.sql.execution.SortExec if x.global => x
        }.nonEmpty
      }.map(_._1)
      assert(sorted.isEmpty, s"operators ending in a global sort: $sorted")
      // the sorts that choose rows stay: a top-K cut is one TakeOrdered
      assert(Endpoints.topTerms(links, col("src"), "src", 1)
        .queryExecution.executedPlan.collect {
          case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
        }.size == 1)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("NO query plan contains a partition-less window (full sweep)") {
    // planning only — nothing executes; guards every current and future
    // driver-contract query against the single-task window anti-pattern
    val offenders = SparkEntry.queries.keys.toSeq.sorted.filter { q =>
      spark.catalog.clearCache()
      SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
      }.nonEmpty
    }
    assert(offenders.isEmpty, s"single-partition windows in: $offenders")
  }
}
