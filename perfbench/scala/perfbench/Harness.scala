package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

import graft.{SparkEntry, Sessions}
import graft.etl.{Decode, PacketCodec, Pcap, SessionBuilder, SessionStore}
import graft.expr.{Compiler, Parser}
import graft.model.FieldRegistry
import graft.ops.Endpoints
import graft.query.SessionQueryBuilder

/** The benchmark's JVM side. It calls graft's public functions on inputs
  * that the Python side (`run.py`) generated from the seed, times them,
  * and writes raw samples, counters, spans and the outputs to be checked
  * into `<work>/result.json`; `run.py` turns those into metrics and checks
  * the outputs outside the timed region.
  *
  * Usage: Harness <workload> <work dir> <seconds> <trace 0|1>
  */
object Harness {
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

  /** One timed operation: failed operations carry no time. */
  final case class Sample(name: String, kind: String, ms: Double,
      error: String = null)

  final class Run(val spark: SparkSession, val work: String,
      val seconds: Double, val trace: Trace) {
    val samples = mutable.ArrayBuffer[Sample]()
    val setup = mutable.LinkedHashMap[String, Double]()
    val layers = mutable.LinkedHashMap[String, Any]()
    var windowS = 0.0
    var windowCpuS = 0.0
    var windowThreadCpuS = 0.0
    var rounds = 0

    /** Times `f` as one operation; an exception is recorded as a failure
      * and never as a time.
      */
    def timed[T](name: String, kind: String)(f: => T): Option[(Long, T)] = {
      val t0 = System.nanoTime()
      try {
        val (opId, r) = trace.op(name)(f)
        samples += Sample(name, kind, (System.nanoTime() - t0) / 1e6)
        Some((opId, r))
      } catch {
        case e: Throwable =>
          samples += Sample(name, kind, Double.NaN,
            s"${e.getClass.getName}: ${e.getMessage}".take(300))
          None
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, work, secondsArg, traceArg) = args
    val cpus = Runtime.getRuntime.availableProcessors
    val local = new File(work, "spark-local")
    local.mkdirs()
    val spark = Sessions.builder(s"local[$cpus]", cpus)
      .config("spark.local.dir", local.getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val run = new Run(spark, work, secondsArg.toDouble,
      new Trace(traceArg == "1", spark.sparkContext))
    run.setup("spark_s") = (System.currentTimeMillis() - jvmStartMs) / 1e3
    try workload match {
      case "ingest"    => Ingest(run)
      case "viewer"    => Viewer(run)
      case "operators" => Operators(run)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } finally {
      writeResult(run)
      spark.stop()
    }
  }

  // ------------------------------------------------------------ helpers

  def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Runs `round` a fixed number of times: `seconds` ÷ the round's length
    * on a quiet 4-vCPU host, at least `min`. The work of a run depends on
    * `seconds` only, never on how fast the host is, so per-round figures
    * (CPU time that includes the JIT's and GC's share) compare across
    * runs; on a slow host the window takes longer.
    */
  def rounds(seconds: Double, nominalS: Double, min: Int)(round: => Unit): Int = {
    val n = math.max(min, math.round(seconds / nominalS).toInt)
    for (_ <- 1 to n) round
    n
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def processCpuS(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => Double.NaN
  }

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  /** CPU nanoseconds of every live Java thread: the Spark driver, its task
    * and service threads, not the JIT compiler or GC threads.
    */
  def threadCpuNs(): Map[Long, Long] = {
    val mx = ManagementFactory.getThreadMXBean
    mx.getAllThreadIds.map(id => id -> mx.getThreadCpuTime(id)).filter(_._2 >= 0).toMap
  }

  /** Whole-run counters around the measured window; `body` returns how
    * many rounds (passes or cycles over the operation set) it ran.
    */
  def window(run: Run, workload: String)(body: => Int): Unit = {
    val cpu0 = processCpuS(); val gc0 = gcMs(); val t0 = System.nanoTime()
    val threads0 = threadCpuNs()
    val jobs0 = run.trace.jobs
    val ops0 = run.samples.size
    run.rounds = body
    run.windowS = since(t0)
    run.windowCpuS = processCpuS() - cpu0
    run.windowThreadCpuS = threadCpuNs().iterator
      .map { case (id, ns) => ns - threads0.getOrElse(id, 0L) }.sum / 1e9
    if (run.trace.enabled) {
      val cpu = run.windowCpuS
      val gc = (gcMs() - gc0).toDouble
      run.layers(s"$workload.cpu_s") = cpu
      run.layers(s"$workload.gc_ms") = gc
      run.layers(s"$workload.jobs") = (run.trace.jobs - jobs0).toDouble
      run.layers("jvm.cpu_s") = cpu
      run.layers("jvm.gc_ms") = gc
      val n = math.max(1, run.samples.size - ops0).toDouble
      val w = run.trace.total
      run.layers("spark.jobs_per_op") = w.jobs / n
      run.layers("spark.tasks_per_op") = w.tasks / n
      run.layers("spark.executor_cpu_s_per_op") = w.cpuNs / 1e9 / n
      run.layers("spark.shuffle_bytes_per_op") = w.shuffleWriteBytes / n
    }
  }

  /** Every node of an executed plan, through AQE stages and reused
    * exchanges.
    */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => planNodes(q.plan)
    case r: ReusedExchangeExec => planNodes(r.child)
    case o => o +: (o.children ++ o.subqueries).flatMap(planNodes)
  }

  def scanMetric(df: DataFrame, metric: String): Long =
    planNodes(df.queryExecution.executedPlan).collect {
      case s: FileSourceScanExec => s.metrics.get(metric).map(_.value).getOrElse(0L)
    }.sum

  def dirBytes(f: File): (Long, Int) =
    if (f.isFile) (f.length, if (f.getName.endsWith(".parquet")) 1 else 0)
    else Option(f.listFiles).toSeq.flatten.map(dirBytes)
      .foldLeft((0L, 0)) { case ((a, b), (c, d)) => (a + c, b + d) }

  def writeLines(path: String, lines: Iterator[String]): Unit = {
    val w = new PrintWriter(path, StandardCharsets.UTF_8)
    try lines.foreach(w.println) finally w.close()
  }

  def readLines(path: String): Seq[String] =
    Files.readAllLines(Paths.get(path), StandardCharsets.UTF_8).asScala.toSeq
      .filter(_.nonEmpty)

  private def writeResult(run: Run): Unit = {
    val body = Seq(
      "setup" -> Json.Raw(Json.obj(run.setup.toSeq: _*)),
      "window_s" -> run.windowS,
      "window_cpu_s" -> run.windowCpuS,
      "window_thread_cpu_s" -> run.windowThreadCpuS,
      "rounds" -> run.rounds,
      "samples" -> Json.Raw(Json.arr(run.samples.toSeq.map(s => Json.obj(
        "name" -> s.name, "kind" -> s.kind,
        "ms" -> (if (s.ms.isNaN) null else s.ms), "error" -> s.error)))),
      "layers" -> Json.Raw(Json.obj(run.layers.toSeq: _*)),
      "spans" -> Json.Raw(run.trace.spansJson))
    writeLines(s"${run.work}/result.json", Iterator(Json.obj(body: _*)))
  }
}

/** Capture directory → written day-partitioned store. */
object Ingest {
  import Harness._

  def pass(spark: SparkSession, cap: String, store: String): Unit =
    SessionStore.write(SessionBuilder.sessionize(spark, cap), store)

  /** [[pass]] with a span around each public call. */
  def tracedPass(run: Run, cap: String, store: String): Unit = {
    val sessions = run.trace.span("etl.SessionBuilder.sessionize")(
      SessionBuilder.sessionize(run.spark, cap))
    run.trace.span("etl.SessionStore.write")(SessionStore.write(sessions, store))
  }

  def apply(run: Run): Unit = {
    val spark = run.spark
    val cap = s"${run.work}/capture"
    val store = s"${run.work}/store"
    val t0 = System.nanoTime()
    pass(spark, cap, store)
    run.setup("warm_s") = since(t0)
    window(run, "ingest") {
      if (!run.trace.enabled)
        rounds(run.seconds, 1.5, 3)(run.timed("ingest.pass", "pass")(pass(spark, cap, store)))
      else traced(run, cap, store)
    }
    // outputs for the manifest check, read back from the written store
    val rows = SessionStore.read(spark, store)
      .selectExpr("srcIp", "srcPort", "dstIp", "dstPort", "ipProtocol",
        "totPackets", "totBytes", "protocol", "segmentCnt", "day")
      .collect()
    writeLines(s"${run.work}/sessions.jsonl", rows.iterator.map(r => Json.value(r)))
    if (run.trace.enabled) {
      val (bytes, files) = dirBytes(new File(store))
      val input = new File(cap).listFiles.filter(_.getName.endsWith(".pcap"))
        .map(_.length).sum
      run.layers("etl.SessionStore.stored_bytes_per_input_byte") = bytes.toDouble / input
      run.layers("etl.SessionStore.files_written") = files.toDouble
      run.layers("etl.SessionBuilder.sessions") = rows.length.toDouble
    }
  }

  /** Nested prefix pipelines, each a public-function prefix of
    * `sessionize` + write, plus the end-to-end pass itself. A stage's time
    * is its prefix's median minus the previous prefix's median.
    */
  private def traced(run: Run, cap: String, store: String): Int = {
    val spark = run.spark
    import spark.implicits._
    def scan = Pcap.readPackets(spark, cap)
    def decode = scan.flatMap(p => Decode.decode(p).iterator)
    def codec = decode.map(p => (SessionBuilder.sessionKey(p), PacketCodec.pack(p)))
    def shuffle = codec.groupByKey(_._1).mapGroups((k, ps) => (k, ps.size))
    // every prefix ends in the same sink, an object-level foreach, so no
    // prefix pays for encoding its last operator's rows
    val prefixes: Seq[(String, () => Unit)] = Seq(
      "etl.Pcap.scan" -> (() => scan.foreach(_ => ())),
      "etl.Decode.decode" -> (() => decode.foreach(_ => ())),
      "etl.PacketCodec.pack" -> (() => codec.foreach(_ => ())),
      "etl.SessionBuilder.shuffle" -> (() => shuffle.foreach(_ => ())),
      "etl.SessionBuilder.build" -> (() => SessionBuilder.sessionize(spark, cap).foreach(_ => ())),
      "etl.SessionStore.write" -> (() => pass(spark, cap, store)))
    prefixes.foreach(_._2()) // warm the prefix plans, untimed
    val times = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    val lastOp = mutable.Map[String, Long]()
    val n = rounds(run.seconds, 5.0, 3) {
      for ((name, f) <- prefixes)
        run.timed(name, "prefix")(f()).foreach { case (op, _) =>
          times.getOrElseUpdate(name, mutable.ArrayBuffer()) += run.samples.last.ms / 1e3
          lastOp(name) = op
        }
      run.timed("ingest.pass", "pass")(tracedPass(run, cap, store))
    }
    val med = prefixes.map { case (n, _) => n -> median(times.getOrElse(n, Nil).toSeq) }.toMap
    var prev = 0.0
    var stageSum = 0.0
    for ((name, _) <- prefixes) {
      val stage = med(name) - prev
      val metric = name.split('.').last match {
        case "scan" => "etl.Pcap.scan_s"
        case "decode" => "etl.Decode.decode_s"
        case "pack" => "etl.PacketCodec.pack_s"
        case "shuffle" => "etl.SessionBuilder.shuffle_s"
        case "build" => "etl.SessionBuilder.build_s"
        case "write" => "etl.SessionStore.write_s"
      }
      run.layers(metric) = stage
      stageSum += stage
      prev = med(name)
    }
    val e2e = median(run.samples.filter(s => s.kind == "pass" && s.error == null).map(_.ms / 1e3).toSeq)
    run.layers("ingest.pass_s") = e2e
    run.layers("ingest.stage_sum_s") = stageSum
    run.layers("ingest.stage_residual_s") = e2e - stageSum
    run.layers("ingest.prefix_rounds") = n.toDouble

    // work counters of the shuffle and build prefixes (last round)
    val sh = run.trace.workOf(lastOp("etl.SessionBuilder.shuffle"))
    val codecW = run.trace.workOf(lastOp("etl.PacketCodec.pack"))
    val build = run.trace.workOf(lastOp("etl.SessionBuilder.build"))
    run.layers("etl.SessionBuilder.shuffle_write_bytes") = sh.shuffleWriteBytes.toDouble
    run.layers("etl.SessionBuilder.shuffle_records") = sh.shuffleWriteRecords.toDouble
    run.layers("etl.SessionBuilder.spill_bytes") = build.spillBytes.toDouble
    val reduceTasks = sh.taskMs.toSeq.filter(_._2.nonEmpty).sortBy(_._1).lastOption
      .map(_._2.map(_.toDouble).toSeq).getOrElse(Nil)
    run.layers("etl.SessionBuilder.task_skew") =
      if (reduceTasks.isEmpty) Double.NaN else reduceTasks.max / math.max(1.0, median(reduceTasks))
    run.layers("etl.SessionBuilder.build_cpu_s") = (build.cpuNs - sh.cpuNs) / 1e9
    run.layers("etl.PacketCodec.cpu_s") = codecW.cpuNs / 1e9

    // packet counts (outside the timed prefixes)
    val records = Pcap.readPackets(spark, cap).count()
    val decoded = decode.count()
    val packed = codec.map(_._2.length.toLong).reduce(_ + _)
    run.layers("etl.Pcap.records") = records.toDouble
    run.layers("etl.Decode.decoded_ratio") = decoded.toDouble / records
    run.layers("etl.PacketCodec.bytes_per_packet") = packed.toDouble / decoded
    buildMicrobench(run, cap)
    n
  }

  /** Off-Spark, single-thread `buildSessions` throughput on the flows of
    * each protocol, grouped by session key on one thread outside Spark.
    */
  private def buildMicrobench(run: Run, cap: String): Unit = {
    val byProto = mutable.Map[String, mutable.ArrayBuffer[(String, Array[Decode.DecodedPacket])]]()
    val groups = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Decode.DecodedPacket]]()
    for (f <- new File(cap).listFiles.filter(_.getName.endsWith(".pcap")).sortBy(_.getName)) {
      val bytes = Files.readAllBytes(f.toPath)
      Pcap.assembleFrags4(Pcap.parseFile(bytes, f.getPath)).flatMap(Decode.decode(_))
        .foreach(p => groups.getOrElseUpdate(SessionBuilder.sessionKey(p),
          mutable.ArrayBuffer()) += p)
    }
    for ((k, ps) <- groups) {
      val h = ps.head
      val ports = Set(h.srcPort, h.dstPort)
      val proto =
        if (h.ipProtocol == 1) "icmp"
        else if (ports(80)) "http" else if (ports(53)) "dns"
        else if (ports(443)) "tls" else if (ports(25)) "smtp"
        else if (ports(22)) "ssh" else if (h.ipProtocol == 17) "udp" else "other"
      byProto.getOrElseUpdate(proto, mutable.ArrayBuffer()) += ((k, ps.toArray))
    }
    for (proto <- Seq("http", "dns", "tls", "smtp", "ssh", "udp");
         flows <- byProto.get(proto)) {
      val bytes = flows.iterator.map(_._2.iterator.map(_.wireLen.toLong).sum).sum
      val t0 = System.nanoTime()
      var reps = 0
      var n = 0L
      while (reps < 2 || since(t0) < 0.25) {
        flows.foreach { case (k, ps) =>
          n += SessionBuilder.buildSessions(k, ps.iterator, "test").size }
        reps += 1
      }
      run.layers(s"etl.SessionBuilder.build_mbps.$proto") =
        bytes.toDouble * reps / 1e6 / since(t0)
    }
  }
}

/** Seeded query mix through SessionQueryBuilder over SessionStore.read. */
object Viewer {
  import Harness._

  final case class Query(id: String, endpoint: String, field: String,
      expr: Option[String], startMs: Long, stopMs: Long)

  val Now = java.time.Instant.parse("2024-01-08T00:00:00Z")

  def parse(line: String): Query = {
    val f = line.split("\t", -1)
    Query(f(0), f(1), f(2), Some(f(3)).filter(_ != "-"), f(4).toLong, f(5).toLong)
  }

  def frame(sessions: DataFrame, q: Query): DataFrame = {
    val q0 = SessionQueryBuilder(sessions, FieldRegistry.sessions,
      FieldRegistry.sessionCol, now = Now).timeRange(q.startMs, q.stopMs)
    val b = q.expr.map(q0.expression).getOrElse(q0)
    q.endpoint match {
      case "table" =>
        b.table(Seq("sessionId", "srcIp", "dstIp", "dstPort", "totBytes", "firstPacket"),
          Seq(("firstPacket", false), ("sessionId", true)), 50)
      case "spiview" => b.spiview(q.field, 10)
      case "spigraph" => b.spigraph(q.field, 3600, 5)
      case "unique" => b.unique(q.field)
      case "connections" => b.connections("srcIp", "dstIp")
      case "timeHistogram" => b.timeHistogram(3600)
      case "hierarchy" =>
        val fs = q.field.split(",").toSeq
        Endpoints.hierarchy(b.frame.select(fs.map(FieldRegistry.sessionCol): _*), fs, 5)
    }
  }

  /** Row values in a form the DuckDB twin reproduces: timestamps as epoch
    * seconds, arrays as lists.
    */
  def norm(v: Any): Any = v match {
    case t: java.sql.Timestamp => t.getTime / 1000
    case t: java.time.Instant => t.getEpochSecond
    case s: scala.collection.Seq[_] => s.map(norm)
    case o => o
  }

  /** One query with its layers as child spans: expression parse and
    * compile (timed apart, as SessionQueryBuilder does them inside planning),
    * planning to the executed plan, and execution.
    */
  def tracedQuery(run: Run, sessions: DataFrame, q: Query,
      parseUs: mutable.ArrayBuffer[Double], compileUs: mutable.ArrayBuffer[Double],
      planMs: mutable.ArrayBuffer[Double], execMs: mutable.ArrayBuffer[Double],
      rowsRatio: mutable.ArrayBuffer[Double], parts: mutable.ArrayBuffer[Double]): Array[Row] = {
    def micros[T](name: String, into: mutable.ArrayBuffer[Double], scale: Double)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = run.trace.span(name)(f)
      into += (System.nanoTime() - t0) / scale
      r
    }
    q.expr.foreach { e =>
      micros("expr.Parser.parse", parseUs, 1e3)(Parser.parse(e))
      micros("expr.Compiler.compile", compileUs, 1e3)(
        new Compiler(FieldRegistry.sessions, FieldRegistry.sessionCol, Now).compile(e))
    }
    val df = micros("query.SessionQueryBuilder.plan", planMs, 1e6) {
      val d = frame(sessions, q); d.queryExecution.executedPlan; d }
    val rows = micros("query.SessionQueryBuilder.exec", execMs, 1e6)(df.collect())
    val scanned = scanMetric(df, "numOutputRows")
    if (rows.nonEmpty) rowsRatio += scanned.toDouble / rows.length
    parts += scanMetric(df, "numPartitions").toDouble
    rows
  }

  def apply(run: Run): Unit = {
    val spark = run.spark
    val t0 = System.nanoTime()
    val store = s"${run.work}/store"
    SessionStore.write(SessionBuilder.sessionize(spark, s"${run.work}/capture"), store)
    run.setup("prep_s") = since(t0)
    val sessions = SessionStore.read(spark, store)
    val queries = readLines(s"${run.work}/queries.tsv").map(parse)
    val t1 = System.nanoTime()
    for (_ <- 1 to 2; q <- queries)
      try frame(sessions, q).collect() catch { case _: Throwable => () }
    run.setup("warm_s") = since(t1)

    val results = mutable.LinkedHashMap[String, Array[Row]]()
    val perEndpoint = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    val parseUs, compileUs, planMs, execMs, rowsRatio, parts, jobs, tasks, shuf =
      mutable.ArrayBuffer[Double]()
    window(run, "viewer") {
      // whole cycles over the mix, so every query has as many samples
      rounds(run.seconds, 2.5, 3) {
        for (q <- queries) {
          val r = run.timed(s"viewer.${q.id}", q.endpoint) {
            if (!run.trace.enabled) frame(sessions, q).collect()
            else tracedQuery(run, sessions, q, parseUs, compileUs, planMs, execMs,
              rowsRatio, parts)
          }
          r.foreach { case (opId, rows) =>
            results.getOrElseUpdate(q.id, rows)
            perEndpoint.getOrElseUpdate(q.endpoint, mutable.ArrayBuffer()) +=
              run.samples.last.ms
            if (run.trace.enabled) {
              val w = run.trace.workOf(opId)
              jobs += w.jobs.toDouble; tasks += w.tasks.toDouble
              shuf += w.shuffleWriteBytes.toDouble
            }
          }
        }
      }
    }
    writeLines(s"${run.work}/results.jsonl", results.iterator.map { case (id, rows) =>
      Json.obj("id" -> id, "rows" -> rows.map(r => r.toSeq.map(norm)).toSeq) })
    if (run.trace.enabled) {
      def mean(xs: Iterable[Double]) = if (xs.isEmpty) Double.NaN else xs.sum / xs.size
      run.layers("expr.Parser.parse_us") = median(parseUs.toSeq)
      run.layers("expr.Compiler.compile_us") = median(compileUs.toSeq)
      run.layers("query.SessionQueryBuilder.plan_ms") = median(planMs.toSeq)
      run.layers("query.SessionQueryBuilder.exec_ms") = median(execMs.toSeq)
      run.layers("query.SessionQueryBuilder.rows_scanned_per_row_returned") = median(rowsRatio.toSeq)
      run.layers("etl.SessionStore.partitions_scanned_per_query") = mean(parts)
      run.layers("ops.Endpoints.jobs_per_query") = mean(jobs)
      run.layers("ops.Endpoints.tasks_per_query") = mean(tasks)
      run.layers("ops.Endpoints.shuffle_bytes_per_query") = mean(shuf)
      for ((ep, ms) <- perEndpoint) run.layers(s"viewer.${ep}_ms") = median(ms.toSeq)
    }
  }
}

/** SparkEntry queries of the ops.* families over generated tables. */
object Operators {
  import Harness._

  def apply(run: Run): Unit = {
    val spark = run.spark
    val sf = s"${run.work}/sf"
    val set = readLines(s"${run.work}/operators.tsv").map { l =>
      val Array(name, family) = l.split("\t"); (name, family) }
    val t1 = System.nanoTime()
    for ((name, _) <- set)
      try SparkEntry.queries(name)(spark, sf).collect() catch { case _: Throwable => () }
    run.setup("warm_s") = since(t1)

    val results = mutable.LinkedHashMap[String, (Seq[String], Array[Row])]()
    val famWork = mutable.Map[String, mutable.Map[String, Double]]()
    val planJobs = mutable.Map[String, Double]().withDefaultValue(0.0)
    var passes = 0
    window(run, "operators") {
      passes = rounds(run.seconds, 10.0, 1) {
        for ((name, family) <- set) {
          val r = run.timed(name, family) {
            if (!run.trace.enabled) {
              val df = SparkEntry.queries(name)(spark, sf)
              (df.columns.toSeq, df.collect())
            } else {
              // jobs an operator launches while building its plan
              val j0 = run.trace.jobs
              val df = run.trace.span(s"$family.plan")(SparkEntry.queries(name)(spark, sf))
              planJobs(family) += run.trace.jobs - j0
              (df.columns.toSeq, run.trace.span(s"$family.exec")(df.collect()))
            }
          }
          r.foreach { case (opId, res) =>
            results(name) = res
            if (run.trace.enabled) {
              val w = run.trace.workOf(opId)
              val m = famWork.getOrElseUpdate(family, mutable.Map().withDefaultValue(0.0))
              m("wall_s") += run.samples.last.ms / 1e3
              m("jobs") += w.jobs; m("tasks") += w.tasks
              m("shuffle_bytes") += w.shuffleWriteBytes
              m("cpu_s") += w.cpuNs / 1e9
              m("spill_bytes") += w.spillBytes
              m("gc_ms") += w.gcMs
            }
          }
        }
      }
      passes
    }
    for ((fam, m) <- famWork; (k, v) <- m) run.layers(s"$fam.$k") = v / passes
    for ((fam, n) <- planJobs) run.layers(s"$fam.plan_jobs") = n / passes
    run.layers("operators.passes") = passes.toDouble
    writeLines(s"${run.work}/results.jsonl", results.iterator.map { case (name, (cols, rows)) =>
      Json.obj("name" -> name, "columns" -> cols, "rows" -> rows.map(_.toSeq).toSeq) })
    writeLines(s"${run.work}/oracle.jsonl", set.iterator.map { case (name, _) =>
      Json.obj("name" -> name, "sql" -> SparkEntry.oracleSql.getOrElse(name, null)) })
  }
}
