package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.{SessionBuilder, SessionStore}
import graft.functions.IpFunctions

class StoreAndCidrSpec extends AnyFunSuite with SparkSpecBase {

  test("day-partitioned session store prunes partitions on time range") {
    val sessions = SessionBuilder.sessionizeRef(spark,
      "/root/reference/tests/pcap/socks-http-example.pcap")
    val path = java.nio.file.Files.createTempDirectory("sessions").toString
    SessionStore.write(sessions, path)
    // the fixture's day is 2013-12-02
    val hit = SessionStore.readRange(spark, path,
      1386004000000L, 1386005000000L)
    assert(hit.count() == 3)
    val miss = SessionStore.readRange(spark, path,
      1486004000000L, 1486005000000L)
    assert(miss.count() == 0)
    // partition pruning visible in the physical plan
    val plan = hit.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: ["))
    assert("PartitionFilters: \\[\\]".r.findFirstIn(plan).isEmpty,
      "expected non-empty PartitionFilters")
  }

  test("store writes carry sessionId/rootId parquet bloom filters") {
    import scala.jdk.CollectionConverters._
    val sessions = SessionBuilder.sessionizeRef(spark,
      "/root/reference/tests/pcap/socks-http-example.pcap")
    val path = java.nio.file.Files.createTempDirectory("sessions-bloom").toString
    SessionStore.write(sessions, path)
    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf)
    val part = fs.listStatus(root).filter(_.getPath.getName.startsWith("day="))
      .flatMap(d => fs.listStatus(d.getPath))
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(part, conf))
    try {
      val cols = footer.getFooter.getBlocks.get(0).getColumns.asScala
      def bloomOf(name: String) =
        cols.find(_.getPath.toDotString == name).get.getBloomFilterOffset
      assert(bloomOf("sessionId") >= 0, "sessionId bloom filter missing")
      // a column we did NOT enable has none (option is per-column)
      assert(bloomOf("node") < 0)
    } finally footer.close()
  }

  test("store layout: every file has a right-sized sessionId bloom filter") {
    // in-test capture: 400 one-packet UDP flows, one session each
    import java.nio.{ByteBuffer, ByteOrder}
    val nFlows = 400
    val dir = java.nio.file.Files.createTempDirectory("sessions-layout")
    val cap = dir.resolve("flows.pcap")
    val out = new java.io.ByteArrayOutputStream()
    out.write(graft.etl.Pcap.classicHeader(1, 65535))
    for (i <- 0 until nFlows) {
      val data = ByteBuffer.allocate(14 + 20 + 8 + 16)
      data.position(12); data.putShort(0x0800.toShort)
      data.put(0x45.toByte).put(0.toByte).putShort((20 + 8 + 16).toShort)
      data.putShort(i.toShort).putShort(0.toShort)
      data.put(64.toByte).put(17.toByte).putShort(0.toShort)
      data.putInt(0x0a000000 | i).putInt(0xc0a80001)
      data.putShort((1024 + i).toShort).putShort(53.toShort)
      data.putShort((8 + 16).toShort).putShort(0.toShort)
      val rec = ByteBuffer.allocate(16 + data.capacity)
        .order(ByteOrder.LITTLE_ENDIAN)
      rec.putInt(1700000000 + i).putInt(0)
        .putInt(data.capacity).putInt(data.capacity).put(data.array())
      out.write(rec.array())
    }
    java.nio.file.Files.write(cap, out.toByteArray)
    val path = dir.resolve("store").toString
    SessionStore.write(SessionBuilder.sessionize(spark, cap.toString), path)
    val blooms = StoreFooters.sessionIdBloomLengths(spark, path)
    assert(blooms.nonEmpty)
    // sized by the row group's distinct ids, not parquet's 1 MiB cap: a
    // 64 KiB bitset (the smallest adaptive candidate) plus its header
    blooms.foreach { case (f, lens) =>
      assert(lens.nonEmpty && lens.forall(l => l > 0 && l <= 65 * 1024),
        s"$f: sessionId bloom filter lengths $lens")
    }
    val store = SessionStore.read(spark, path)
    assert(store.count() == nFlows)
    val id = store.select("sessionId").head().getString(0)
    assert(store.filter(col("sessionId") === id).count() == 1)
    assert(store.filter(col("sessionId") === "absent-session-id").count() == 0)
  }

  test("expire drops only day partitions older than the retention window") {
    val sessions = SessionBuilder.sessionizeRef(spark,
      "/root/reference/tests/pcap/socks-http-example.pcap")
    val path = java.nio.file.Files.createTempDirectory("sessions-exp").toString
    SessionStore.write(sessions, path) // fixture day: 2013-12-02
    // "now" = 2013-12-05: keepDays=4 keeps 12-02..12-05; keepDays=3 drops it
    val now = java.time.Instant.parse("2013-12-05T12:00:00Z").toEpochMilli
    assert(SessionStore.expire(spark, path, keepDays = 4, now) == Nil)
    assert(SessionStore.read(spark, path).count() == 3)
    assert(SessionStore.expire(spark, path, keepDays = 3, now) == Seq("2013-12-02"))
    // dropped partition is gone from the store listing
    val left = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("day="))
    assert(left.isEmpty)
  }

  test("dropDay deletes exactly the named partition (esindices DELETE analogue)") {
    val sessions = SessionBuilder.sessionizeRef(spark,
      "/root/reference/tests/pcap/socks-http-example.pcap")
    val path = java.nio.file.Files.createTempDirectory("sessions-drop").toString
    SessionStore.write(sessions, path) // fixture day: 2013-12-02
    // request input: traversal-shaped day values must never reach the fs
    intercept[IllegalArgumentException] {
      SessionStore.dropDay(spark, path, "x/../..")
    }
    intercept[IllegalArgumentException] {
      SessionStore.dropDay(spark, path, "2013-12-02/../..")
    }
    assert(!SessionStore.dropDay(spark, path, "2099-01-01"))
    assert(SessionStore.read(spark, path).count() == 3)
    assert(SessionStore.dropDay(spark, path, "2013-12-02"))
    assert(new java.io.File(path).listFiles()
      .count(_.getName.startsWith("day=")) == 0)
    assert(!SessionStore.dropDay(spark, path, "2013-12-02"), "already gone")
  }

  test("compact rewrites a day partition into few time-clustered files") {
    val sessions = SessionBuilder.sessionizeRef(spark,
      "/root/reference/tests/pcap/socks-http-example.pcap")
    val path = java.nio.file.Files.createTempDirectory("sessions-cmp").toString
    // write deliberately fragmented: one file per session
    sessions.toDF().repartition(3)
      .withColumn("day", org.apache.spark.sql.functions.date_format(
        org.apache.spark.sql.functions.timestamp_millis(
          org.apache.spark.sql.functions.col("firstPacket")), "yyyy-MM-dd"))
      .write.mode("overwrite").partitionBy("day").parquet(path)
    val before = SessionStore.read(spark, path)
      .orderBy("sessionId").collect().toSeq
    def files(day: String): Seq[java.io.File] =
      new java.io.File(path, s"day=$day").listFiles().toSeq
        .filter(f => f.getName.endsWith(".parquet"))
    assert(files("2013-12-02").size == 3)
    assert(SessionStore.compact(spark, path, "2013-12-02") == 1)
    assert(files("2013-12-02").size == 1)
    // content identical, absent partition is a no-op
    assert(SessionStore.read(spark, path)
      .orderBy("sessionId").collect().toSeq == before)
    assert(SessionStore.compact(spark, path, "2020-01-01") == 0)
  }

  test("bucketed store co-locates sessionId joins (no Exchange)") {
    val sessions = SessionBuilder.sessionizeRef(spark,
      "/root/reference/tests/pcap/socks-http-example.pcap")
    SessionStore.writeBucketed(sessions, "graft_bucketed_test", nBuckets = 4)
    try {
      val t = spark.table("graft_bucketed_test")
      val joined = t.as("a").join(t.as("b"), Seq("sessionId"))
        .groupBy("sessionId")
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"))
      assert(joined.count() == 3) // 3 single-segment sessions, 1 pair each
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed self-join should not shuffle:\n$plan")
    } finally spark.sql("DROP TABLE IF EXISTS graft_bucketed_test")
  }

  test("store inspection: per-day metadata rows with zero data pages read") {
    import spark.implicits._
    val base = SessionBuilder.sessionizeRef(spark,
      "/root/reference/tests/pcap/socks-http-example.pcap").collect().toSeq
    val dayMs = 86400000L
    val rows = (0 until 3).flatMap(d => base.map(r => r.copy(
      sessionId = s"${r.sessionId}#$d",
      firstPacket = r.firstPacket + d * dayMs,
      lastPacket = r.lastPacket + d * dayMs)))
    val path = java.nio.file.Files.createTempDirectory("inspect").toString
    SessionStore.write(spark.createDataset(rows)(
      org.apache.spark.sql.Encoders.product[SessionBuilder.SessionRow]), path)
    val bytesRead = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          bytesRead.addAndGet(e.taskMetrics.inputMetrics.bytesRead)
    }
    spark.sparkContext.addSparkListener(listener)
    val got =
      try {
        val g = SessionStore.inspect(spark, path).collect()
        Thread.sleep(1500) // listener bus is async
        g
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(bytesRead.get == 0,
      s"inspection must be metadata-only, read ${bytesRead.get} bytes")
    assert(got.length == 3)
    val byDay = got.map(r => r.getString(0) -> r).toMap
    assert(byDay.keys.toSeq.sorted == Seq("2013-12-02", "2013-12-03",
      "2013-12-04"))
    got.foreach { r =>
      assert(r.getLong(1) >= 1) // files
      assert(r.getLong(2) > 0) // bytes
      assert(r.getLong(3) == base.size.toLong) // rows per day
      assert(!r.getBoolean(6)) // plain store: not bucketed
    }
    // footer min/max firstPacket match the data
    val d0 = byDay("2013-12-02")
    assert(d0.getLong(4) == base.map(_.firstPacket).min)
    assert(d0.getLong(5) == base.map(_.firstPacket).max)
    val d2 = byDay("2013-12-04")
    assert(d2.getLong(4) == base.map(_.firstPacket).min + 2 * dayMs)
    // bucketed layout is reported
    SessionStore.writeBucketed(spark.createDataset(rows)(
      org.apache.spark.sql.Encoders.product[SessionBuilder.SessionRow]),
      "graft_inspect_bucketed", nBuckets = 4)
    try {
      val loc = spark.sql("DESCRIBE TABLE EXTENDED graft_inspect_bucketed")
        .filter(col("col_name") === "Location")
        .head.getString(1)
      val b = SessionStore.inspect(spark, loc).collect()
      assert(b.length == 3 && b.forall(_.getBoolean(6)),
        "bucket-ordinal file naming must report bucketed=true")
    } finally spark.sql("DROP TABLE IF EXISTS graft_inspect_bucketed")
  }

  test("gap0 packetPos decodes like viewer/db.js and round-trips") {
    import graft.etl.Pcap
    // markers reset, 0 repeats the last gap, positive adds to running pos
    val stored = Seq(-1L, 24L, 100L, 0L, 0L, 16L, 0L)
    assert(Pcap.decodePacketPosGap0(stored) ==
      Seq(-1L, 24L, 124L, 224L, 324L, 340L, 356L))
    // two files in one session: second marker resets the base
    val twoFiles = Seq(-3L, 24L, 0L, -7L, 24L, 0L)
    assert(Pcap.decodePacketPosGap0(twoFiles) ==
      Seq(-3L, 24L, 48L, -7L, 24L, 48L))
    // encode is the exact inverse on absolute form
    for (abs <- Seq(Seq(-1L, 24L, 124L, 224L, 324L, 340L, 356L),
      Seq(-3L, 24L, 48L, -7L, 24L, 48L)))
      assert(Pcap.decodePacketPosGap0(Pcap.encodePacketPosGap0(abs)) == abs)
  }

  test("localIndex packetPos reads base-128 varint gaps from a side index") {
    import graft.etl.Pcap
    // gaps 24, 300, repeat: varints [0x98], [0x2c 0x82], [0x80]
    val index = Array[Byte](0x98.toByte, 0x2c, 0x82.toByte, 0x80.toByte)
    var asked: (Long, Long, Long) = null
    val out = Pcap.decodePacketPosLocalIndex(Seq(-5L, 1000L, 4L),
      (fileId, off, len) => { asked = (fileId, off, len); index })
    assert(asked == ((5L, 1000L, 4L))) // marker negated to the fileId
    assert(out == Seq(-5L, 24L, 324L, 624L))
  }

  test("codegen ip_in_cidr matches UDF semantics and stays in codegen") {
    val sessions = SessionBuilder.sessionizeRef(spark,
      "/root/reference/tests/pcap/socks-http-example.pcap").toDF()
    val filtered = sessions.filter(IpFunctions.ipInCidr(col("srcIp"), "10.180.0.0/16"))
    assert(filtered.count() == 3)
    assert(sessions.filter(IpFunctions.ipInCidr(col("srcIp"), "10.181.0.0/16")).count() == 0)
    // shorthand + exact forms
    assert(sessions.filter(IpFunctions.ipInCidr(col("srcIp"), "10.180")).count() == 3)
    assert(sessions.filter(IpFunctions.ipInCidr(col("srcIp"), "10.180.156.185")).count() == 3)
    // the plan uses the native expression, not a ScalaUDF
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("ip_in_cidr"))
    assert(!plan.toLowerCase.contains("scalaudf"))
    // v6
    import spark.implicits._
    val v6 = Seq("2001:db8::1", "2001:db9::1").toDF("ip")
    assert(v6.filter(IpFunctions.ipInCidr(col("ip"), "2001:db8::/32")).count() == 1)
  }

  test("ip gt/lt compare numerically (ES ip-range semantics), codegen'd") {
    import spark.implicits._
    import graft.expr.Compiler
    import graft.model.FieldRegistry
    val df = Seq("9.0.0.1", "10.0.0.0", "10.0.0.5", "11.2.3.4", "2.3.4.5",
      "255.0.0.1", "::1", "2001:db8::1")
      .toDF("srcIp")
      .withColumn("dstIp", lit("1.1.1.1")).withColumn("socksIp", lit(null.asInstanceOf[String]))
    val c = new Compiler(FieldRegistry.sessions, FieldRegistry.sessionCol,
      SparkEntry.now)
    // lexicographic compare would put 9.0.0.1 > 10.0.0.0 — numeric must not
    // in the v4-mapped 128-bit space: ::1 < any v4 (no ffff at bytes 10-11),
    // 2001:… > any v4
    val gt = df.filter(c.compile("ip.src > 10.0.0.0"))
      .select("srcIp").as[String].collect().toSet
    assert(gt == Set("10.0.0.5", "11.2.3.4", "255.0.0.1", "2001:db8::1"))
    val lt = df.filter(c.compile("ip.src < 10.0.0.0"))
      .select("srcIp").as[String].collect().toSet
    assert(lt == Set("9.0.0.1", "2.3.4.5", "::1"))
    val gte = df.filter(c.compile("ip.src >= 10.0.0.0"))
      .select("srcIp").as[String].collect().toSet
    assert(gte == gt + "10.0.0.0")
    // native expression, not a ScalaUDF (local relations fold eagerly, so
    // inspect the analyzed plan)
    val plan = df.filter(c.compile("ip.src > 10.0.0.0"))
      .queryExecution.analyzed.toString
    assert(plan.contains("ip_sortable"))
    assert(!plan.toLowerCase.contains("scalaudf"))
  }

  test("GraftExtensions injects native functions by config alone") {
    val base = spark // force shared session (and its context) up first
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    try {
      val s2 = org.apache.spark.sql.SparkSession.builder()
        .master("local[2]")
        .withExtensions(new GraftExtensions())
        .getOrCreate()
      val r = s2.sql(
        "SELECT ip_in_cidr('10.1.2.3', '10.0.0.0/8') AS a, " +
          "ip_in_cidr('11.1.2.3', '10.0.0.0/8') AS b, " +
          "ip_sortable('10.1.2.3') < ip_sortable('10.1.2.4') AS c").head()
      assert(r.getBoolean(0) && !r.getBoolean(1) && r.getBoolean(2))
      // the full expression language as a SQL predicate over any
      // session-schema relation
      graft.etl.SessionBuilder
        .sessionizeRef(s2, "/root/reference/tests/pcap/dns-udp.pcap")
        .toDF().createOrReplaceTempView("sessions")
      def cnt(e: String): Long = s2.sql(
        s"SELECT count(*) AS n FROM sessions WHERE graft_expr('$e')")
        .head().getLong(0)
      assert(cnt("dns.host == EXISTS!") >= 1)
      assert(cnt("dns.host == EXISTS! && port.dst == 53") >= 1)
      assert(cnt("dns.host == no-such-host.example") == 0)
    } finally {
      org.apache.spark.sql.SparkSession.setDefaultSession(base)
      org.apache.spark.sql.SparkSession.setActiveSession(base)
    }
  }

  test("exact ip equality canonicalizes non-canonical v6 spellings") {
    import spark.implicits._
    val df = Seq("2001:db8::1", "10.0.0.1").toDF("ip") // canonical storage
    // expanded / uppercase / zero-padded spellings must all match
    for (q <- Seq("2001:0db8::1", "2001:DB8::1",
        "2001:0db8:0:0:0:0:0:1")) {
      assert(df.filter(graft.functions.IpFunctions.ipInCidr(col("ip"), q))
        .count() == 1, q)
    }
  }

  test("ip:port negation includes rows whose port is null (must_not)") {
    import spark.implicits._
    val reg = graft.model.FieldRegistry.sessions
    val c = new graft.expr.Compiler(reg, graft.model.FieldRegistry.sessionCol)
    val df = Seq(
      ("1.2.3.4", Some(80)),   // matches ip:port -> excluded by !=
      ("1.2.3.4", None),       // ICMP: port null -> ES must_not INCLUDES
      ("9.9.9.9", Some(80)))   // different ip -> included
      .toDF("srcIp", "p")
      .withColumn("srcPort", col("p").cast("int")).drop("p")
    val out = df.filter(c.compile("ip.src != 1.2.3.4:80"))
      .select("srcIp").as[String].collect().sorted.toSeq
    assert(out == Seq("1.2.3.4", "9.9.9.9")) // null-port row included
  }
}
