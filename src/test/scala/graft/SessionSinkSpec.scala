package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.{Decode, Pcap, SessionBuilder, SessionStore}
import graft.streaming.{SessionSink, StreamSessionize}

class SessionSinkSpec extends AnyFunSuite with SparkSpecBase {

  test("streaming pipeline lands day-partitioned parquet and es ndjson") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val pcap = "/root/reference/tests/pcap/socks-http-example.pcap"
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(pcap))
    val packets = Pcap.parseFile(bytes, pcap).flatMap(Decode.decode(_)).toSeq

    val tmp = java.nio.file.Files.createTempDirectory("sink").toString
    val input = MemoryStream[Decode.DecodedPacket]
    val sessions = StreamSessionize.sessions(input.toDS())
    val qP = SessionSink.toParquet(sessions, s"$tmp/parquet", s"$tmp/cp1",
      Trigger.ProcessingTime("0 seconds"))
    // feed packets + a far-future dummy to fire the event-time timeout
    val late = packets.last.copy(
      tsMicros = packets.map(_.tsMicros).max + 1000L * 1000000L,
      srcIp = "203.0.113.99")
    input.addData(packets)
    qP.processAllAvailable()
    input.addData(Seq(late))
    qP.processAllAvailable()
    input.addData(Seq(late.copy(tsMicros = late.tsMicros + 1)))
    qP.processAllAvailable()
    qP.stop()

    val landed = spark.read.parquet(s"$tmp/parquet")
    assert(landed.filter(org.apache.spark.sql.functions.col("srcIp") =!= "203.0.113.99")
      .count() == 3)
    assert(landed.columns.contains("day"))
    // es ndjson sink over the same stream (fresh input)
    val input2 = MemoryStream[Decode.DecodedPacket]
    val qE = SessionSink.toEsBulk(StreamSessionize.sessions(input2.toDS()),
      s"$tmp/es", s"$tmp/cp2", Trigger.ProcessingTime("0 seconds"))
    input2.addData(packets)
    qE.processAllAvailable()
    input2.addData(Seq(late))
    qE.processAllAvailable()
    input2.addData(Seq(late.copy(tsMicros = late.tsMicros + 1)))
    qE.processAllAvailable()
    qE.stop()
    val docs = spark.read.text(s"$tmp/es/*").collect()
    assert(docs.nonEmpty)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    docs.foreach(r => assert(mapper.readTree(r.getString(0)).has("source")))
  }

  test("streaming parquet sink lands the UTC day SessionStore.write lands") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // 2023-11-14T22:13:20Z is already 2023-11-15 at UTC+14
    val base = 1700000000L * 1000000L
    def pkt(i: Int, src: Boolean): Decode.DecodedPacket =
      Decode.DecodedPacket("s", i, base + i * 1000L, i.toLong * 100, 70, 54,
        "aa:aa:aa:aa:aa:01", "ff:ff:ff:ff:ff:ff", 17,
        if (src) "1.1.1.1" else "2.2.2.2", if (src) "2.2.2.2" else "1.1.1.1",
        if (src) 1234 else 53, if (src) 53 else 1234,
        0, 0, 0L, 0L, Array.emptyByteArray,
        prevTsMicros = base + math.max(0, i - 1) * 1000L, l4Offset = 42)
    val packets = Seq(pkt(0, src = true), pkt(1, src = false), pkt(2, src = true))
    val tmp = java.nio.file.Files.createTempDirectory("sinkday").toString
    val zone = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Pacific/Kiritimati")
    try {
      val input = MemoryStream[Decode.DecodedPacket]
      val q = SessionSink.toParquet(StreamSessionize.sessions(input.toDS()),
        s"$tmp/stream", s"$tmp/cp", Trigger.ProcessingTime("0 seconds"))
      try {
        input.addData(packets)
        q.processAllAvailable()
        // a far-future dummy fires the event-time timeout
        val late = packets.last.copy(tsMicros = base + 1000L * 1000000L,
          srcIp = "203.0.113.99", srcPort = 1)
        input.addData(Seq(late))
        q.processAllAvailable()
        input.addData(Seq(late.copy(tsMicros = late.tsMicros + 1)))
        q.processAllAvailable()
      } finally q.stop()
      val rows = SessionBuilder.buildSessions(
        SessionBuilder.sessionKey(packets.head), packets.iterator, "test").toSeq
      SessionStore.write(rows.toDS(), s"$tmp/batch")
      def days(path: String): Set[(String, String)] = spark.read.parquet(path)
        .filter(col("srcIp") =!= "203.0.113.99")
        .select(col("sessionId"), col("day").cast("string"))
        .as[(String, String)].collect().toSet
      val batch = days(s"$tmp/batch")
      assert(batch == Set((rows.head.sessionId, "2023-11-14")))
      assert(days(s"$tmp/stream") == batch)
    } finally spark.conf.set("spark.sql.session.timeZone", zone)
  }

  test("streaming parquet sink writes the store's sessionId bloom filter") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = 1700000000L * 1000000L
    // 40 in-test sessions: one DNS-shaped UDP packet per flow
    val rows = (0 until 40).flatMap { i =>
      val p = Decode.DecodedPacket("s", i, base + i * 1000L, i.toLong * 100,
        70, 54, "aa:aa:aa:aa:aa:01", "ff:ff:ff:ff:ff:ff", 17,
        s"10.0.0.$i", "2.2.2.2", 1024 + i, 53, 0, 0, 0L, 0L,
        Array.emptyByteArray, prevTsMicros = base + i * 1000L, l4Offset = 42)
      SessionBuilder.buildSessions(SessionBuilder.sessionKey(p),
        Iterator(p), "test")
    }
    val tmp = java.nio.file.Files.createTempDirectory("sinkbloom").toString
    val input = MemoryStream[SessionBuilder.SessionRow]
    val q = SessionSink.toParquet(input.toDS(), s"$tmp/stream", s"$tmp/cp",
      Trigger.ProcessingTime("0 seconds"))
    try {
      input.addData(rows)
      q.processAllAvailable()
    } finally q.stop()
    assert(graft.etl.SessionStore.bloomOpts.keys
      .forall(spark.conf.getOption(_).isEmpty), "session conf left changed")
    assert(spark.read.parquet(s"$tmp/stream").count() == rows.size)
    val blooms = StoreFooters.sessionIdBloomLengths(spark, s"$tmp/stream")
    assert(blooms.nonEmpty)
    // the store's adaptive filter: present in every row group, a 64 KiB
    // bitset plus header, not the 1 MiB a fixed-size filter puts into
    // every micro-batch file
    blooms.foreach { case (f, lens) =>
      assert(lens.nonEmpty && lens.forall(l => l > 0 && l <= 65 * 1024),
        s"$f: sessionId bloom filter lengths $lens")
    }
  }

  test("live _bulk HTTP sink posts action/doc ndjson and retries 429") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val pcap = "/root/reference/tests/pcap/socks-http-example.pcap"
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(pcap))
    val packets = Pcap.parseFile(bytes, pcap).flatMap(Decode.decode(_)).toSeq
    // loopback ES stand-in: first request is throttled with 429, the rest
    // are accepted and recorded
    val bodies = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val throttled = new java.util.concurrent.atomic.AtomicBoolean(false)
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/_bulk", (ex: com.sun.net.httpserver.HttpExchange) => {
      val body = new String(ex.getRequestBody.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      if (throttled.compareAndSet(false, true)) {
        ex.sendResponseHeaders(429, -1)
      } else {
        bodies.add(body)
        val ok = "{\"errors\":false}".getBytes
        ex.sendResponseHeaders(200, ok.length)
        ex.getResponseBody.write(ok)
      }
      ex.close()
    })
    server.start()
    try {
      val tmp = java.nio.file.Files.createTempDirectory("sink-http").toString
      val input = MemoryStream[Decode.DecodedPacket]
      val q = SessionSink.toEsBulkHttp(StreamSessionize.sessions(input.toDS()),
        s"http://127.0.0.1:${server.getAddress.getPort}/_bulk",
        s"$tmp/cp", maxBulkBytes = 4 * 1024,
        trigger = Trigger.ProcessingTime("0 seconds"))
      val late = packets.last.copy(
        tsMicros = packets.map(_.tsMicros).max + 1000L * 1000000L,
        srcIp = "203.0.113.99")
      input.addData(packets)
      q.processAllAvailable()
      input.addData(Seq(late))
      q.processAllAvailable()
      input.addData(Seq(late.copy(tsMicros = late.tsMicros + 1)))
      q.processAllAvailable()
      q.stop()
      assert(throttled.get, "the 429 path was never exercised")
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val units = bodies.toArray(Array.empty[String])
        .flatMap(_.split("\n")).grouped(2).toSeq
      assert(units.size >= 3)
      units.foreach { case Array(action, doc) =>
        val a = mapper.readTree(action)
        assert(a.get("index").get("_index").asText.startsWith("sessions3-"))
        assert(a.get("index").get("_id").asText.nonEmpty)
        assert(mapper.readTree(doc).has("source"))
      }
    } finally server.stop(0)
  }
}
