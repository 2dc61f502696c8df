package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: one JSON line with per-query wall seconds at
  * SPARK_GRAFT_SF_DIR (driver runs sf0.1 per round).
  *
  * A warmup pass runs EVERY query once at sf0.001 before timing: first
  * execution of a plan pays one-time JVM/JIT + whole-stage-codegen
  * compilation (measured: d2's fused minhash kernel is 5.2 s cold vs
  * 1.5 s warm in the same JVM). Steady-state throughput is what projects
  * to a long-lived cluster, so that's what the timed pass measures;
  * queries then run in sorted name order for stable attribution.
  */
object Bench {

  /** Latency-pass publication rules, extracted so a spec can pin them
    * against recorded driver pass lists (LatencyPublishSpec feeds the
    * r14 list through and asserts the 12.98 s stall is rejected).
    *
    * Every published "quiet" number needs BOTH gates:
    *  - a bracket gate: the pass's own contention index. In-process
    *    passes must read < 1.15; forked children bracket ~+0.1 hotter
    *    structurally (their kernel runs beside the parent JVM's
    *    background threads — measured 5/5 forks at 1.15-1.26 while
    *    same-run in-process brackets read 1.05-1.14) so they get < 1.30.
    *  - a relative-time credibility gate: the ~0.07 s kernel samples
    *    around a multi-second pass can BOTH land outside a mid-window
    *    load burst, so a quiet bracket alone proves nothing. r12
    *    published an 11 s sessionize pass at idx 1.11 that way; r14
    *    published a 12.98 s heap-latency pass at idx 1.147 while four
    *    passes clustered at 3.0-3.6 s. The time itself must be within
    *    1.5x the run's best same-backend pass.
    */
  private[graft] object LatencyPublish {
    trait PassLike {
      def p50: Double
      def idx: Double
      def backend: String
      def forked: Boolean
    }
    final case class Pass(p50: Double, idx: Double, backend: String,
        forked: Boolean) extends PassLike
    private def bracketOk(p: PassLike): Boolean =
      if (p.forked) p.idx < 1.30 else p.idx < 1.15
    private def quietOf[P <: PassLike](passes: Seq[P], backend: String)
        : Option[P] = {
      val same = passes.filter(_.backend == backend)
      same.map(_.p50).minOption.flatMap { best =>
        same.filter(p => bracketOk(p) && p.p50 <= 1.5 * best)
          .sortBy(_.p50).headOption
      }
    }
    /** Credible quiet heap pass, or None (publish 0.0 — the raw pass
      * list in bench_full.json keeps every rejected pass readable).
      */
    def heapQuiet[P <: PassLike](passes: Seq[P]): Option[P] =
      quietOf(passes, "heap")
    /** RocksDB line: relaxed bracket (rocksdb passes are always forked)
      * plus credibility against the CREDIBLE heap quiet pass — not the
      * raw bracket minimum, which r14 showed can be a stall that makes
      * the 2x check pass trivially. Without a credible heap reference
      * the rocksdb pass must be self-credible under the same rule.
      */
    def rocksQuiet[P <: PassLike](passes: Seq[P]): Option[P] = {
      val rocks = passes.filter(_.backend == "rocksdb")
      heapQuiet(passes) match {
        case Some(h) =>
          rocks.filter(p => p.idx < 1.30 && p.p50 <= 2 * h.p50)
            .sortBy(_.p50).headOption
        case None => quietOf(rocks, "rocksdb")
      }
    }
  }

  /** Synthesize a sessionize-throughput corpus once (cached in /tmp):
    * records of four protocol-rich reference fixtures replicated with a
    * per-replica IP-pair rewrite (distinct flows) and a 60 s timestamp
    * shift, spread over `nFiles` classic pcaps so the non-splittable
    * per-file decode parallelizes — the shape of a real capture
    * directory. Returns (dir, totalBytes).
    *
    * This feeds the one BASELINE.md comparison the reference publishes:
    * capture throughput. The MB/s below is full batch sessionization —
    * decode, TCP reassembly, every protocol parser, session build — on
    * one node, reported as `sessionize_mbps`.
    */
  private def ensureThroughputCorpus(nFiles: Int = 64,
      replicasPerFile: Int = 37): (String, Long) = {
    val dir = new java.io.File("/tmp/graft-bench-tput")
    val done = new java.io.File(dir, "_done")
    def totalBytes: Long =
      dir.listFiles().filter(_.getName.endsWith(".pcap")).map(_.length).sum
    if (done.exists()) return (dir.toString, totalBytes)
    dir.mkdirs()
    // all plain-Ethernet (linktype 1) little-endian IPv4 fixtures — the
    // replica IP rewrite below assumes that framing
    val srcs = Seq("socks-http-example.pcap", "socks-https-example.pcap",
      "wireshark-retrans.pcap", "socks5-reverse.pcap",
      "smtp-zip.pcap", "http-wrapped-header.pcap")
      .map(n => java.nio.file.Paths.get("/root/reference/tests/pcap", n))
      .filter(java.nio.file.Files.exists(_))
    // unit = every record (16B header + data) of the source fixtures
    val units: Seq[Array[Byte]] = srcs.flatMap { p =>
      val b = java.nio.file.Files.readAllBytes(p)
      val out = Seq.newBuilder[Array[Byte]]
      var off = 24
      while (off + 16 <= b.length) {
        val incl = java.nio.ByteBuffer.wrap(b, off + 8, 4)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
        if (incl < 0 || off + 16 + incl > b.length) { off = b.length }
        else { out += java.util.Arrays.copyOfRange(b, off, off + 16 + incl)
          off += 16 + incl }
      }
      out.result()
    }
    val hdr = java.nio.file.Files.readAllBytes(srcs.head).take(24)
    for (f <- 0 until nFiles) {
      val out = new java.io.BufferedOutputStream(
        new java.io.FileOutputStream(new java.io.File(dir, f"tput-$f%03d.pcap")),
        1 << 20)
      try {
        out.write(hdr)
        for (r <- 0 until replicasPerFile) {
          val g = f * replicasPerFile + r
          units.foreach { u =>
            val rec = u.clone()
            // shift ts_sec so replicas never merge across timeouts
            val bb = java.nio.ByteBuffer.wrap(rec)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN)
            bb.putInt(0, bb.getInt(0) + g * 60)
            // plain-Ethernet IPv4: rewrite both IPs' middle octets per
            // replica so every copy is a distinct flow
            if (rec.length >= 16 + 34 &&
              (rec(16 + 12) & 0xff) == 0x08 && rec(16 + 13) == 0) {
              rec(16 + 27) = (rec(16 + 27) ^ (g & 0xff)).toByte
              rec(16 + 28) = (rec(16 + 28) ^ ((g >> 8) & 0xff)).toByte
              rec(16 + 31) = (rec(16 + 31) ^ (g & 0xff)).toByte
              rec(16 + 32) = (rec(16 + 32) ^ ((g >> 8) & 0xff)).toByte
            }
            out.write(rec)
          }
        }
      } finally out.close()
    }
    java.nio.file.Files.write(done.toPath, Array.emptyByteArray)
    (dir.toString, totalBytes)
  }

  /** Host-contention probe: a fixed single-threaded xxh64 pass over a
    * fixed 256 MB heap buffer — pure CPU + memory bandwidth, no Spark, no
    * allocation inside the timed region. Timed before/between/after every
    * measurement block and reported as `contention_idx`, the ratio of the
    * observed per-pass seconds to a committed quiet-host constant. Five
    * straight rounds of bench adjudication reduced to "was the host busy
    * during that sweep?" — this answers it arithmetically from the
    * artifact itself: idx ≈ 1 means the co-timed queries ran on a quiet
    * host and their numbers are trustworthy; idx ≫ 1 brands the
    * neighboring samples as contention-inflated.
    */
  private[graft] object ContentionKernel {
    private val Bytes = 256 << 20
    private lazy val buf: Array[Byte] = {
      val b = new Array[Byte](Bytes)
      var i = 0
      while (i < b.length) { b(i) = (i * 31).toByte; i += 1 }
      b
    }
    /** Quiet-host constant: seconds for ONE single-thread xxh64 pass over
      * the 256 MB buffer, calibrated as the min of 60 samples across two
      * runs on the 32-cpu builder host (floor 0.0624–0.0634 s ≈ 4.0 GB/s).
      * The min is the right calibration: contention only ever ADDS time,
      * so idx ≈ 1.0 reads "as quiet as this host gets" and idx ≫ 1 brands
      * the bracketed samples as load-inflated.
      */
    val QuietSec = 0.0625
    /** One sample = mean of 4 passes (~0.12 s quiet). Mean, not min: the
      * probe's job is to MEASURE load present during the sample window,
      * so a stall inside it must raise the number, not be discarded.
      */
    def sample(): Double = {
      val b = buf // force one-time fill outside the timed region
      var sink = 0L
      val reps = 4
      val t0 = System.nanoTime()
      var r = 0
      while (r < reps) {
        sink ^= org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
          b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, 42L + r)
        r += 1
      }
      val sec = (System.nanoTime() - t0) / 1e9 / reps
      if (sink == 0x5eed) Console.err.println("") // keep the hash live
      sec
    }
  }

  /** Streaming-latency micro-bench: loopback pcap-over-ip → decode →
    * stateful sessionize → memory sink, one single-packet UDP session
    * every `gapMs`, event timestamps marching 600 s apart so each new
    * packet's watermark flushes the PREVIOUS session (the reference's
    * ingest-to-visible analogue of its 5 s index-refresh gate,
    * db/db.pl:4130). Reported latency = wall clock from the packet's
    * socket WRITE to its session row's first visibility in the sink —
    * so the floor is one inter-packet gap (the flush trigger) plus the
    * engine's micro-batch round, which is exactly the user-visible lag.
    *
    * STEADY-STATE: the first micro-batch pays query start + state-store
    * init + streaming codegen (measured 30 s+ when it follows the sf0.1
    * sweeps), which is deployment cost, not per-packet lag — so the
    * percentiles are computed over the sessions flushed AFTER the
    * pipeline's first visible output (a long-lived capture node restarts
    * its stream rarely; the steady cadence is what its users see).
    * `targetSteady` = 120 keeps the 99th percentile INTERIOR to the
    * sample (index 118 of 120) instead of the max-of-n a smaller pool
    * degenerates to. Returns (p50_ms, p99_ms, measured count).
    */
  private def streamLatency(spark: SparkSession, queryName: String,
      targetSteady: Int = 120,
      gapMs: Long = 100): Option[(Double, Double, Int)] = {
    val maxSessions = 600 // server keeps feeding until measurement stops
    def packet(i: Int): Array[Byte] = {
      val payload = Array[Byte](0x68, 0x69)
      val udpLen = 8 + payload.length
      val ipLen = 20 + udpLen
      val f = new Array[Byte](14 + ipLen)
      f(12) = 0x08; f(13) = 0x00 // ethertype ipv4
      f(14) = 0x45 // v4, ihl 5
      f(16) = ((ipLen >> 8) & 0xff).toByte; f(17) = (ipLen & 0xff).toByte
      f(22) = 64; f(23) = 17 // ttl, udp
      f(26) = 10; f(27) = 0 // src 10.0.hi.lo — i is recoverable from the row
      f(28) = ((i >> 8) & 0xff).toByte; f(29) = (i & 0xff).toByte
      f(30) = 10; f(31) = 99; f(32) = 99; f(33) = 99
      f(34) = (4000 >> 8).toByte; f(35) = (4000 & 0xff).toByte
      f(36) = (9999 >> 8).toByte; f(37) = (9999 & 0xff).toByte
      f(38) = ((udpLen >> 8) & 0xff).toByte; f(39) = (udpLen & 0xff).toByte
      System.arraycopy(payload, 0, f, 42, payload.length)
      val rec = java.nio.ByteBuffer.allocate(16 + f.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      rec.putInt((1700000000L + i * 600L).toInt).putInt(0)
        .putInt(f.length).putInt(f.length)
      rec.put(f)
      rec.array()
    }
    val sendNanos = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    @volatile var stopServing = false
    var server: java.net.ServerSocket = null
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    try {
      server = new java.net.ServerSocket(0, 1,
        java.net.InetAddress.getLoopbackAddress)
      val serve = new Thread(() => {
        try {
          val s = server.accept()
          val o = s.getOutputStream
          val hdr = java.nio.ByteBuffer.allocate(24)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          hdr.putInt(0xa1b2c3d4).putShort(2).putShort(4)
            .putInt(0).putInt(0).putInt(65535).putInt(1)
          o.write(hdr.array()); o.flush()
          var i = 0
          while (i < maxSessions && !stopServing) {
            val rec = packet(i)
            sendNanos.put(i, System.nanoTime())
            o.write(rec); o.flush()
            Thread.sleep(gapMs)
            i += 1
          }
          Thread.sleep(30000)
          s.close()
        } catch { case _: Exception => () }
      })
      serve.setDaemon(true)
      serve.start()
      q = graft.streaming.StreamSessionize
        .fromPcapOverIp(spark, "127.0.0.1", server.getLocalPort)
        .writeStream.format("memory").queryName(queryName)
        .outputMode("append").start()
      import scala.jdk.CollectionConverters._
      val firstSeen = new java.util.HashMap[Int, Long]()
      // steady state = sessions SENT after the pipeline's first visible
      // flush: everything earlier queued behind query start + state-store
      // init (measured 30 s+ when the stream follows the sf0.1 sweeps) —
      // deployment cost a long-lived capture node pays once, not lag
      // warmStart = the first visibility timestamp ever recorded; values
      // are inserted with a monotonically increasing `now`, so the first
      // insert IS the min — track it once instead of re-scanning per poll
      var warmStart = Long.MaxValue
      def steadyPool(): Seq[Int] = {
        if (firstSeen.isEmpty) return Nil
        firstSeen.asScala.keys.toSeq
          .filter(i => sendNanos.get(i) > warmStart)
      }
      val deadline = System.nanoTime() + 150L * 1000 * 1000 * 1000
      while (steadyPool().size < targetSteady &&
          System.nanoTime() < deadline) {
        val rows = spark.table(queryName)
          .selectExpr("srcIp").collect()
        val now = System.nanoTime()
        rows.foreach { r =>
          val ip = r.getString(0)
          val oct = ip.split('.')
          if (oct.length == 4 && oct(0) == "10" && oct(1) == "0") {
            val i = oct(2).toInt * 256 + oct(3).toInt
            if (i < maxSessions && !firstSeen.containsKey(i)) {
              if (warmStart == Long.MaxValue) warmStart = now
              firstSeen.put(i, now)
            }
          }
        }
        Thread.sleep(5)
      }
      stopServing = true
      val seen = firstSeen.asScala.toMap
      val steady = steadyPool()
      val pool = if (steady.size >= 10) steady else seen.keys.toSeq
      if (pool.size < 10) None
      else {
        val lats = pool.map(i => (seen(i) - sendNanos.get(i)) / 1e6).sorted
        val p50 = lats(lats.size / 2)
        val p99 = lats(math.min(lats.size - 1, (lats.size * 99) / 100))
        Some((p50, p99, lats.size))
      }
    } catch { case _: Throwable => None }
    finally {
      try if (q != null) q.stop() catch { case _: Throwable => () }
      try if (server != null) server.close() catch { case _: Throwable => () }
      try spark.catalog.dropTempView(queryName)
      catch { case _: Throwable => () }
    }
  }

  private def warmup(spark: SparkSession): Unit = {
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory)
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (_, fn) =>
        try { fn(spark, warmDir).count() } catch { case _: Throwable => () }
      }
  }

  /** Child-JVM entry (`--latency-once <backend>`): ONE streamLatency pass
    * in a FRESH JVM, result printed as a `LATJSON{...}` line for the
    * parent to parse. Why a child process: late-run latency attempts
    * inside the bench JVM measure its own pollution (tens of GB of
    * cached sweep intermediates + retained executions read 10-40 s/batch
    * — see the comment at the in-process attempts), so spreading
    * attempts across the run — the defense the query sweeps and tput
    * passes use against sustained host contention — requires each late
    * attempt to run in the same engine state the run-start attempts
    * measured: a fresh JVM. The child samples its own contention
    * brackets, so the parent applies the identical quiet gate.
    */
  private def latencyOnce(backend: String): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    var b = Sessions.builder(s"local[$cpus]", cpus.toInt)
    if (backend == "rocksdb")
      b = b.config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val pre = ContentionKernel.sample()
    val r = streamLatency(spark, "bench_latency_child")
    val post = ContentionKernel.sample()
    r match {
      case Some((p50, p99, n)) =>
        println(f"""LATJSON{"p50":$p50%.1f,"p99":$p99%.1f,"n":$n,""" +
          f""""pre_k":$pre%.4f,"post_k":$post%.4f}""")
      case None => println("LATJSON{}")
    }
    Console.out.flush()
    spark.stop()
  }

  /** Diagnostics from failed forked latency children (last output lines
    * / exception), embedded in bench_full.json so a 0.0 line in the
    * artifact is attributable.
    */
  private[graft] val forkDiag =
    scala.collection.mutable.ArrayBuffer[String]()

  /** Fork one latency pass (see [[latencyOnce]]); returns
    * (p50, p99, n, preK, postK) or None on failure/timeout.
    */
  private[graft] def forkLatencyPass(backend: String): Option[(Double, Double, Int, Double, Double)] = {
    try {
      val javaBin = new java.io.File(new java.io.File(
        System.getProperty("java.home"), "bin"), "java").getAbsolutePath
      import scala.jdk.CollectionConverters._
      // forward the module opens + -D flags the parent was launched with
      // (Spark on JDK17 needs the add-opens; the -Ds carry log config);
      // heap is re-sized down — the child runs one tiny stream
      val parentArgs = java.lang.management.ManagementFactory
        .getRuntimeMXBean.getInputArguments.asScala.toList
      val fwd = scala.collection.mutable.ArrayBuffer[String]()
      val it = parentArgs.iterator
      while (it.hasNext) {
        val a = it.next()
        if (a == "--add-opens" && it.hasNext) { fwd += a; fwd += it.next() }
        else if (a.startsWith("--add-opens=")) fwd += a
        else if (a.startsWith("-D") && !a.startsWith("-Dvisualvm")) fwd += a
      }
      val cmd = (Seq(javaBin) ++ fwd.toSeq ++ Seq("-Xmx8g", "-cp",
        System.getProperty("java.class.path"), "graft.Bench",
        "--latency-once", backend)).asJava
      val pb = new ProcessBuilder(cmd)
      pb.redirectErrorStream(true)
      // own shuffle scratch: SPARK_LOCAL_DIRS beats the session's
      // spark.local.dir election, so the child never contends with the
      // parent's (possibly /dev/shm-resident) sweep scratch — a full
      // tmpfs fails the child's first shuffle with ENOSPC and the
      // artifact line silently reads 0.0
      val scratch = new java.io.File(
        System.getProperty("java.io.tmpdir"), s"graft-lat-child-$backend")
      scratch.mkdirs()
      pb.environment().put("SPARK_LOCAL_DIRS", scratch.getAbsolutePath)
      val p = pb.start()
      val lines = java.util.Collections.synchronizedList(
        new java.util.ArrayList[String]())
      val reader = new Thread(() => {
        try {
          val br = new java.io.BufferedReader(
            new java.io.InputStreamReader(p.getInputStream))
          var l = br.readLine()
          while (l != null) { lines.add(l); l = br.readLine() }
        } catch { case _: Exception => () }
      })
      reader.setDaemon(true)
      reader.start()
      // streamLatency's own deadline is 150 s + session/query start; a
      // hung child must not hang the bench
      if (!p.waitFor(480, java.util.concurrent.TimeUnit.SECONDS)) {
        p.destroyForcibly()
        forkDiag += s"$backend: child timed out after 480s"
        return None
      }
      reader.join(5000)
      val re = ("""LATJSON\{"p50":([0-9.]+),"p99":([0-9.]+),"n":(\d+),""" +
        """"pre_k":([0-9.]+),"post_k":([0-9.]+)\}""").r
      val res = lines.asScala.reverseIterator.collectFirst {
        case re(p50, p99, n, pre, post) =>
          (p50.toDouble, p99.toDouble, n.toInt, pre.toDouble, post.toDouble)
      }
      if (res.isEmpty) {
        val tail = lines.asScala.takeRight(4).mkString(" | ")
        forkDiag += s"$backend: exit=${p.exitValue()} tail=$tail"
      }
      res
    } catch {
      case t: Throwable =>
        forkDiag += s"$backend: ${t.getClass.getSimpleName}: ${t.getMessage}"
        None
    }
  }

  def main(args: Array[String]): Unit = {
    if (args.length >= 1 && args(0) == "--latency-once") {
      latencyOnce(if (args.length > 1) args(1) else "heap")
      return
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warmup + two timed sweeps run every query ≥3× in one JVM; ops that
    // persist() intermediates (IVF index, pack prefix sums) re-submit an
    // identical plan and CacheManager WARNs "already cached" once per
    // re-run — benign, but dozens of lines eat the driver's bounded
    // stdout tail, so drop that logger to ERROR for the bench JVM only.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.CacheManager",
      org.apache.logging.log4j.Level.ERROR)
    // Streaming packet-to-row-visible latency, measured FIRST — in the
    // engine state a capture node actually runs in. Measured after the
    // sweeps it reads 10-40 s/batch: tens of gigabytes of cached sweep
    // intermediates + a thousand retained executions are bench
    // pollution, not the live path (isolated check: same 32-thread JVM
    // without the sf0.1 sweep state holds p50 ≈ 2.7 s).
    // Each latency pass carries its OWN kernel bracket, and the block
    // RETRIES (bounded) until one pass runs on a quiet host — the same
    // attribution the sessionize number got in r11: a loaded-bracket
    // p50 published alone reads as an engine miss of the reference's
    // 5 s refresh gate when it is host contention.
    final case class LatPass(p50: Double, p99: Double, n: Int,
        preK: Double, postK: Double, backend: String, forked: Boolean)
        extends LatencyPublish.PassLike {
      def idx: Double = math.max(preK, postK) / ContentionKernel.QuietSec
    }
    val latPasses = scala.collection.mutable.ArrayBuffer[LatPass]()
    // Both quiet-line publishers delegate to LatencyPublish (top of this
    // file) so LatencyPublishSpec can pin the rules against the recorded
    // r14 driver pass list. The r14 defect this closes: latQuietOf took
    // the min-p50 pass with bracket idx < 1.15 and NO relative-time
    // check, so a 12.98 s bracket-straddling stall (idx 1.147) published
    // as stream_p50_ms_quiet while four passes clustered at 3.0-3.6 s —
    // AND fed rocksCredible a bogus 2x reference. Now: quiet = bracket
    // ok (in-proc < 1.15; forked < 1.30, the measured +0.1 structural
    // bias) AND p50 <= 1.5x the run's best same-backend pass.
    def latQuietOf(backend: String): Option[LatPass] =
      if (backend == "rocksdb") LatencyPublish.rocksQuiet(latPasses.toSeq)
      else LatencyPublish.heapQuiet(latPasses.toSeq)
    def rocksCredible(): Option[LatPass] = latQuietOf("rocksdb")
    def needLat(backend: String): Boolean =
      !latQuietOf(backend).exists(_.p50 <= 5000.0)
    // Attempts are SPREAD across the whole run — r13 ran all three
    // back-to-back here at run start and one sustained contention window
    // killed every one of them (all brackets 1.25-3.41, honest 0.0
    // published). Two attempts run now in this fresh JVM; if none lands
    // quiet, bounded re-attempts fire between the sweeps and after the
    // final tput block — each in a FORKED fresh JVM, because a late
    // in-process pass would measure this JVM's cached sweep state
    // (10-40 s/batch, see above), not the engine.
    var latAttempt = 0
    def latAttemptInProc(): Unit = {
      if (latAttempt > 0) Thread.sleep(10000) // let a contention burst pass
      val pre = ContentionKernel.sample()
      val r = streamLatency(spark, s"bench_latency_$latAttempt")
      val post = ContentionKernel.sample()
      r.foreach { case (p50, p99, n) =>
        latPasses += LatPass(p50, p99, n, pre, post, "heap", forked = false)
      }
      latAttempt += 1
    }
    var rocksAttempt = 0
    def latAttemptForked(backend: String): Unit = {
      if (backend == "rocksdb") rocksAttempt += 1 else latAttempt += 1
      forkLatencyPass(backend).foreach { case (p50, p99, n, pre, post) =>
        latPasses += LatPass(p50, p99, n, pre, post, backend, forked = true)
      }
    }
    while (latAttempt < 2 && needLat("heap")) latAttemptInProc()
    Tables.all.foreach(t => Tables.load(spark, sfDir, t).count())
    // Exercise shuffle, sort and window machinery once so first-query
    // codegen/exchange initialization isn't charged to the first
    // alphabetical query (results discarded).
    warmup(spark)
    // time only the queries that scale with SPARK_GRAFT_SF_DIR — the
    // pcap-fixture queries read fixed reference files, not the SF tables,
    // and the correctness fuzz harnesses (hundreds of generated cases in
    // one query) measure coverage, not an operator: timing them would
    // inflate the headline total and break round-over-round comparability
    val fixtureOnly = Set("i1_pcap_sessions", "i8_pcap_expression",
      "i10_protocol_fields", "q_fuzz_grammar", "q_fuzz_grammar_ext",
      "e_fuzz_endpoints", "e_fuzz_endpoints2", "e_fuzz_endpoints3")
    // Each query is timed as the MIN of two passes, with the GC time the
    // pass absorbed recorded alongside. One pass per query makes the
    // artifact a lottery on a noisy host: a single GC pause or scheduler
    // hiccup lands entirely on one query's number (observed 10–58×
    // inflations across rounds on queries whose code hadn't changed).
    // min-of-2 discards any one-off stall, and the per-pass GC deltas in
    // bench_full.json let a reader attribute a remaining outlier to
    // collector time rather than query cost.
    //
    // The two passes are INTERLEAVED at sweep granularity: the whole
    // query list runs once, then runs again, and each query's number is
    // the min of its two sweep samples. Back-to-back passes (pass 1 then
    // pass 2 of the same query) proved useless against SUSTAINED host
    // contention — a multi-minute stall on a shared host lands on both
    // consecutive samples of whichever query it overlaps (observed four
    // rounds running: 15–39× inflations with gc_ms 0 that never
    // reproduce). Separating a query's samples by a full sweep (~tens of
    // minutes) means only contention that recurs at exactly that spacing
    // can corrupt a min.
    def gcMillis(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
    }
    case class Timing(name: String, passesSec: Seq[Double], gcMs: Seq[Long]) {
      def failed: Boolean = passesSec.exists(_.isNaN)
      def best: Double = passesSec.min
    }
    val timedQueries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot(q => fixtureOnly(q._1))
    // Sessionize-throughput passes are SPREAD across the run for the
    // same reason the query sweeps are interleaved: five back-to-back
    // passes all land inside one sustained contention window (observed:
    // a clean-host 310 MB/s measuring 237 under load). One pass before
    // sweep 1 (also the JIT warm pass — min discards it), two between
    // the sweeps, two at the end: samples ~25 minutes apart. Each block
    // collects first so throughput measures the ingest path, not the
    // tail of query-state garbage.
    // Every sessionize pass carries its OWN kernel bracket (pre + post
    // samples), so the published number is attributable: the winning
    // pass's bracket is `sessionize_idx` in the stdout line, and a
    // quiet-gated best (min over passes whose bracket stayed < 1.10)
    // proves — or denies — the quiet floor from the artifact itself.
    // The block-level probes below still bracket the sweeps.
    final case class TputPass(sec: Double, preK: Double, postK: Double) {
      def idx: Double = math.max(preK, postK) / ContentionKernel.QuietSec
    }
    val tputPassList = scala.collection.mutable.ArrayBuffer[TputPass]()
    var tputSessions = 0L
    val tputCorpus = try Some(ensureThroughputCorpus())
      catch { case _: Throwable => None }
    def tputPasses(k: Int): Unit = tputCorpus.foreach { case (dir, _) =>
      try {
        System.gc()
        Thread.sleep(200)
        for (_ <- 0 until k) {
          // settle before sampling: the previous pass's executor threads
          // and GC drain for a few hundred ms after count() returns, and
          // a bracket taken inside that tail reads our own wind-down as
          // host contention (observed pre_k idx 1.2+ on a quiet host)
          Thread.sleep(300)
          val pre = ContentionKernel.sample()
          val t0 = System.nanoTime()
          tputSessions = graft.etl.SessionBuilder.sessionize(spark, dir)
            .count()
          val sec = (System.nanoTime() - t0) / 1e9
          Thread.sleep(300)
          tputPassList += TputPass(sec, pre, ContentionKernel.sample())
        }
      } catch { case _: Throwable => () }
    }
    def sweep(): Map[String, (Double, Long)] =
      timedQueries.map { case (name, fn) =>
        val gc0 = gcMillis()
        val t0 = System.nanoTime()
        // a thrown query is NaN, never a (fast) time of its exception path
        val sec =
          try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
          catch { case _: Throwable => Double.NaN }
        name -> ((sec, gcMillis() - gc0))
      }.toMap
    // Kernel samples bracket every measurement block, so each query pass
    // and each throughput pass sits between two contention readings.
    val kernelSec = Seq.newBuilder[Double]
    def probe(): Unit = kernelSec += ContentionKernel.sample()
    probe()
    tputPasses(1)
    probe()
    val sweep1 = sweep()
    probe()
    // mid-run heap-latency re-attempt (forked fresh JVM — see
    // latAttemptForked) when no quiet pass landed at run start: samples
    // now sit ~20 minutes from the start-of-run attempts, so only
    // contention recurring at exactly that spacing can kill both
    if (needLat("heap") && latAttempt < 4) latAttemptForked("heap")
    tputPasses(2)
    probe()
    val sweep2 = sweep()
    probe()
    // RocksDB-provider latency — the state backend a capture-scale
    // deployment actually runs (HDFS-backed heap state dies at capture
    // state sizes); correctness is pinned by StreamSessionizeSpec's
    // RocksDB kill-and-restart variant, this adds the latency artifact
    if (needLat("rocksdb") && rocksAttempt < 1) latAttemptForked("rocksdb")
    tputPasses(2)
    probe()
    // end-of-run latency re-attempts, same bounded-budget discipline as
    // the tput retry below: heap to 5 total attempts, rocksdb to 2
    while (needLat("heap") && latAttempt < 5) {
      Thread.sleep(10000)
      latAttemptForked("heap")
    }
    while (needLat("rocksdb") && rocksAttempt < 2) {
      Thread.sleep(10000)
      latAttemptForked("rocksdb")
    }
    // Stall rejection + bounded retry — the defense streamLatency already
    // had (see the latAttempt loop above), now applied to throughput: a
    // quiet-BRACKETED pass whose time is far above the overall winner is
    // a bracket-straddling stall (the ~0.07 s kernel samples around a
    // ~1 s pass can both land outside a mid-window load burst), not a
    // quiet floor. r12 published exactly that: an 11.05 s pass at idx
    // 1.11 became sessionize_mbps_quiet 24.2 while the winner ran 1.089 s.
    // Credible quiet = bracket idx < 1.15 AND time within 1.5× of the
    // fastest pass of the run. When no credible quiet pass exists, retry
    // (bounded, with a settle sleep so a contention burst can pass); if
    // none ever runs, publish 0.0 — the raw pass list in bench_full.json
    // keeps every rejected pass readable.
    def credibleQuiet(): Option[TputPass] = {
      val ps = tputPassList.toSeq
      ps.map(_.sec).minOption.flatMap { fastest =>
        ps.filter(p => p.idx < 1.15 && p.sec <= fastest * 1.5)
          .sortBy(_.sec).headOption
      }
    }
    var tputAttempt = 0
    while (tputAttempt < 3 && tputPassList.nonEmpty &&
        credibleQuiet().isEmpty) {
      Thread.sleep(10000) // let a contention burst pass
      tputPasses(1)
      tputAttempt += 1
    }
    val kernels = kernelSec.result()
    val contentionIdx = kernels.map(_ / ContentionKernel.QuietSec)
    // headline = best heap pass by p50 with its own bracket published;
    // quiet companions are 0 when NO pass ran quiet (read the raw pass
    // list); rocksdb gets its own quiet-gated line
    val latAll = latPasses.toSeq
    val latBest = latAll.filter(_.backend == "heap").sortBy(_.p50).headOption
    val latQuiet = latQuietOf("heap")
    val rocksQuiet = rocksCredible()
    val sweeps = Seq(sweep1, sweep2)
    val timings = timedQueries.map { case (name, _) =>
      val samples = sweeps.map(_(name))
      Timing(name, samples.map(_._1), samples.map(_._2))
    }
    // a query that failed in any sweep is listed as failed and left out
    // of `value`
    val failed = timings.filter(_.failed).map(_.name)
    val results = timings.filterNot(_.failed).map(t => t.name -> t.best)
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    val passes = tputPassList.toSeq
    val corpusBytes = tputCorpus.map(_._2).getOrElse(0L)
    def mbpsOf(sec: Double): Double =
      if (sec > 0) corpusBytes / 1e6 / sec else 0.0
    // headline number = fastest pass; its OWN bracket is published as
    // sessionize_idx (the attribution the block-level index can't give)
    val winner = passes.sortBy(_.sec).headOption
    val tputMbps = winner.map(p => mbpsOf(p.sec)).getOrElse(0.0)
    val tputIdx = winner.map(_.idx).getOrElse(0.0)
    // quiet-gated best: min over CREDIBLE quiet passes (bracket < 1.15
    // AND within 1.5× of the winner — see credibleQuiet above). 0.0 means
    // no credible quiet pass ran (read the raw pass list). 1.15, not
    // 1.10: inside a working Spark JVM the kernel reads a few percent
    // above the process-free floor even on an idle host
    val quietBest = credibleQuiet()
    val tputMbpsQuiet = quietBest.map(p => mbpsOf(p.sec)).getOrElse(0.0)
    // A4 cross-check: the committed QuietSec is calibrated to ONE host;
    // the in-run kernel floor exposes a uniformly slower/faster host as
    // a constant bias (floor_ratio ≈ 1 ⇒ the constant fits this host)
    val allKernels = kernels ++ passes.flatMap(p => Seq(p.preK, p.postK)) ++
      latAll.flatMap(p => Seq(p.preK, p.postK))
    val floorRatio =
      if (allKernels.nonEmpty) allKernels.min / ContentionKernel.QuietSec
      else 0.0
    // Round-over-round comparability defense: r14's driver run landed on
    // a whole-run-degraded host (floor 1.06, every block probe >= 1.09)
    // and 40 UNTOUCHED shared queries drifted +18% median — min-of-2
    // interleaved sweeps defends against bursts, not a uniformly slow
    // run. Publish a host-corrected companion: total / kernel_floor_ratio.
    // The floor ratio is the run's QUIETEST kernel sample vs the
    // committed quiet floor — the host's best case this run — so a
    // uniform slowdown divides out while a code regression cannot hide
    // behind it (a regression inflates total without moving the kernel).
    val totalNorm = if (floorRatio > 0) total / floorRatio else total
    def line(entries: Seq[(String, Double)]): String = {
      val qs = entries.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
        .mkString("{", ",", "}")
      val cidx = contentionIdx.map(v => f"$v%.2f").mkString("[", ",", "]")
      val failedList = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
      f"""{"metric":"total","value":$total%.3f,"unit":"sec",""" +
        f""""total_floor_normalized":$totalNorm%.3f,"queries":$qs,""" +
        f""""failed":$failedList,"failed_count":${failed.size},""" +
        f""""sessionize_mbps":$tputMbps%.1f,"sessionize_idx":$tputIdx%.2f,""" +
        f""""sessionize_mbps_quiet":$tputMbpsQuiet%.1f,""" +
        f""""sessionize_sessions":$tputSessions,""" +
        f""""stream_p50_ms":${latBest.map(_.p50).getOrElse(0.0)}%.0f,""" +
        f""""stream_p99_ms":${latBest.map(_.p99).getOrElse(0.0)}%.0f,""" +
        f""""stream_idx":${latBest.map(_.idx).getOrElse(0.0)}%.2f,""" +
        f""""stream_n":${latBest.map(_.n).getOrElse(0)},""" +
        f""""stream_p50_ms_quiet":${latQuiet.map(_.p50).getOrElse(0.0)}%.0f,""" +
        f""""stream_p99_ms_quiet":${latQuiet.map(_.p99).getOrElse(0.0)}%.0f,""" +
        f""""stream_n_quiet":${latQuiet.map(_.n).getOrElse(0)},""" +
        f""""stream_p50_ms_rocksdb":${rocksQuiet.map(_.p50).getOrElse(0.0)}%.0f,""" +
        f""""stream_p99_ms_rocksdb":${rocksQuiet.map(_.p99).getOrElse(0.0)}%.0f,""" +
        f""""stream_rocksdb_idx":${rocksQuiet.map(_.idx).getOrElse(0.0)}%.2f,""" +
        f""""stream_n_rocksdb":${rocksQuiet.map(_.n).getOrElse(0)},""" +
        f""""contention_idx":$cidx,"kernel_floor_ratio":$floorRatio%.2f,""" +
        f""""sf":"$sfDir"}"""
    }
    // Full per-query detail goes to a sidecar file; stdout gets a line
    // guaranteed to fit the driver's bounded output tail (slowest queries
    // first, as many as fit the budget) so the metric always parses.
    // The sidecar carries both raw passes and per-pass GC deltas so an
    // outlier in the official artifact can be adjudicated from the file
    // itself (was the slow pass just eating a collection?).
    val full = {
      def arr[T](xs: Seq[T], fmt: T => String): String =
        xs.map(fmt).mkString("[", ",", "]")
      val detail = timings.map { t =>
        "\"" + t.name + "\":{\"sec\":" +
          arr[Double](t.passesSec, v => if (v.isNaN) "null" else f"$v%.3f") +
          ",\"gc_ms\":" + arr[Long](t.gcMs, _.toString) + "}"
      }.mkString("{", ",", "}")
      val kRaw = arr[Double](kernels, v => f"$v%.4f")
      val tputRaw = arr[TputPass](passes, p =>
        f"""{"sec":${p.sec}%.3f,"pre_k":${p.preK}%.4f,"post_k":${p.postK}%.4f,"idx":${p.idx}%.2f}""")
      val lat = arr[LatPass](latAll, p =>
        f"""{"p50_ms":${p.p50}%.1f,"p99_ms":${p.p99}%.1f,"n":${p.n},""" +
          f""""pre_k":${p.preK}%.4f,"post_k":${p.postK}%.4f,""" +
          f""""idx":${p.idx}%.2f,"backend":"${p.backend}",""" +
          f""""forked":${p.forked}}""")
      val diag = forkDiag.map(d => "\"" + d.replace("\\", "\\\\")
        .replace("\"", "\\\"").replaceAll("[\\u0000-\\u001f]", " ") + "\"")
        .mkString("[", ",", "]")
      line(results).dropRight(1) +
        s""","kernel_sec":$kRaw,"kernel_quiet_sec":${ContentionKernel.QuietSec},""" +
        s""""tput_passes":$tputRaw,"stream_latency":$lat,""" +
        s""""lat_fork_diag":$diag,"passes":$detail}"""
    }
    try {
      val w = new java.io.PrintWriter("bench_full.json")
      try w.println(full) finally w.close()
    } catch { case _: Exception => () }
    // 1880, not 1500: the consumer keeps a 2000-char output tail, and the
    // only line that must survive intact is the LAST copy — 2000 minus the
    // build tool's ~75-char success line and a slack margin. The extra 380
    // chars fit ~15 more per-query entries, so fewer fast queries fall out
    // of the printed map and get mislabeled "dropped" by a diff against it
    // (every query still runs and is summed into `value`; the full map is
    // always in bench_full.json).
    val budget = 1880
    val slowestFirst = results.sortBy(-_._2)
    var kept = slowestFirst.length
    while (kept > 0 && line(slowestFirst.take(kept).sortBy(_._1)).length > budget)
      kept -= 1
    // Printed twice: the driver keeps only a bounded tail of the combined
    // output, and stray late log lines have previously pushed a single
    // copy out of the window. Two copies a flush apart guarantee at least
    // one complete line survives any one interleaved write.
    val out = line(slowestFirst.take(kept).sortBy(_._1))
    println(out)
    Console.out.flush()
    println(out)
    Console.out.flush()
    spark.stop()
  }
}
