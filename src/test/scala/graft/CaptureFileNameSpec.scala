package graft

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.{Pcap, SessionBuilder}
import graft.ops.{FilesTable, Hunt, PcapExport, Scrub}

/** A stored fileId is Hadoop's rendering of the capture path, with the
  * file name raw. Every consumer that opens the capture again (hunt,
  * export, files table, scrub) must find the same file whatever the
  * upload called it.
  */
class CaptureFileNameSpec extends AnyFunSuite with SparkSpecBase {

  private val Marker = "GRAFTMARK"

  /** One UDP packet whose payload carries [[Marker]]. */
  private def writeCapture(f: Path): Unit = {
    val payload = (Marker + "-------").getBytes("US-ASCII")
    val data = ByteBuffer.allocate(14 + 20 + 8 + payload.length)
    data.position(12); data.putShort(0x0800.toShort)
    data.put(0x45.toByte).put(0.toByte)
      .putShort((20 + 8 + payload.length).toShort)
    data.putShort(1.toShort).putShort(0.toShort)
    data.put(64.toByte).put(17.toByte).putShort(0.toShort)
    data.putInt(0x0a000001).putInt(0x0a000002)
    data.putShort(40000.toShort).putShort(9999.toShort)
    data.putShort((8 + payload.length).toShort).putShort(0.toShort)
    data.put(payload)
    val rec = ByteBuffer.allocate(16 + data.capacity)
      .order(ByteOrder.LITTLE_ENDIAN)
    rec.putInt(1700000000).putInt(0)
      .putInt(data.capacity).putInt(data.capacity).put(data.array())
    Files.write(f, Pcap.classicHeader(1, 65535) ++ rec.array())
  }

  /** (hunt hits, exported records, files-table rows, files-table size is
    * the capture's, payload scrubbed, files in the capture's directory).
    */
  private def consumers(name: String) = {
    val dir = Files.createTempDirectory("graft-fileid")
    val f = dir.resolve(name)
    writeCapture(f)
    val s = spark
    import s.implicits._
    // held in memory: scrub rewrites the capture the sessions came from
    val sessions = spark.createDataset(
      SessionBuilder.sessionize(spark, f.toString).collect().toSeq)
    val hits = Hunt.run(sessions,
      Hunt.HuntConfig(Hunt.AsciiNeedle(Marker, caseSensitive = true)))
      .filter(col("huntTag").isNotNull).count()
    val records = PcapExport.records(sessions).count()
    val files = FilesTable.files(sessions).data
      .select("filesize").as[Long].collect().toSeq
    Scrub.scrub(sessions).collect()
    val scrubbed = !new String(Files.readAllBytes(f), "US-ASCII")
      .contains(Marker)
    (hits, records, files.size, files == Seq(Files.size(f)), scrubbed,
      dir.toFile.list().length)
  }

  test("hunt, export, files and scrub open captures under any file name") {
    val plain = consumers("capture.pcap")
    assert(plain == ((1L, 1L, 1, true, true, 1)))
    for (name <- Seq("my capture.pcap", "e[1].pcap", "a%20b.pcap", "c#d.pcap"))
      assert(consumers(name) == plain, name)
  }
}
