package graft.ops

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.SessionBuilder.SessionRow

/** PCAP scrub and SPI delete — the `/api/session/:id/delete` endpoint
  * family (reference: viewer/apiSessions.js:959-1085 pcapScrub/scrubList;
  * byte overwrite viewer/pcap.js:254-284 scrubPacket).
  *
  * Modes, as the reference's `whatToRemove`:
  *  - pcap scrub (`entire = false`): overwrite each packet's L4 payload
  *    bytes in the capture file with three passes — 0x00-fill, 0x01-fill,
  *    then a repeating "Scrubbed! Hoot! " pattern — keeping the 16-byte
  *    pcap record header and the L2/L3/L4 headers so the file stays
  *    structurally valid (pcap.js:255-262 scrubbingBuffers, 283 write).
  *  - `entire = true` ('all'): wipe everything after the record header
  *    and drop the session rows too (apiSessions.js:1034-1038).
  *  - SPI delete ('spi'): remove the session rows, leave pcap alone.
  *
  * Distribution mirrors [[Hunt]]: packet slices repartition by capture
  * file so exactly one task writes a given file (no cross-task interleaved
  * writes), each task opens its files once read-write and seeks to
  * `(packetPos, packetLen)` — never reading or rewriting whole capture
  * files, which are multi-GB in production.
  */
object Scrub {

  private val PassLen = 5000
  /** The reference's three scrubbing buffers (pcap.js:960-968). */
  private[ops] def passes: Array[Array[Byte]] = {
    val zeros = Array.fill[Byte](PassLen)(0)
    val ones = Array.fill[Byte](PassLen)(1)
    val hoot = {
      val pat = "Scrubbed! Hoot! ".getBytes(StandardCharsets.US_ASCII)
      Array.tabulate[Byte](PassLen)(i => pat(i % pat.length))
    }
    Array(zeros, ones, hoot)
  }

  /** Offset of the L4 payload within a record's captured bytes, following
    * pcap.js:260-280: icmp/icmp6 +8, tcp +dataOffset×4, udp +8, sctp +8.
    * -1 when the packet can't be walked (reference throws and skips).
    */
  private[ops] def payloadOffset(data: Array[Byte], linkType: Int): Int = {
    def u8(i: Int) = data(i) & 0xff
    var off = linkType match {
      case 1 => // ethernet: skip VLAN stacks
        var o = 12
        while (o + 2 <= data.length &&
          (u8(o) == 0x81 && u8(o + 1) == 0x00 ||
            u8(o) == 0x88 && u8(o + 1) == 0xa8)) o += 4
        o + 2
      case 101 | 12 => 0 // raw IP
      case 0 => 4 // null/loopback
      case _ => return -1
    }
    if (off >= data.length) return -1
    val proto = (u8(off) >> 4) match {
      case 4 =>
        val ihl = (u8(off) & 0xf) * 4
        val p = u8(off + 9); off += ihl; p
      case 6 =>
        var next = u8(off + 6)
        off += 40
        // hop-by-hop / routing / destination-options extension walk
        while (next == 0 || next == 43 || next == 60) {
          if (off + 2 > data.length) return -1
          val n = u8(off); val len = (u8(off + 1) + 1) * 8
          off += len; next = n
        }
        next
      case _ => return -1
    }
    if (off >= data.length) return -1
    proto match {
      case 1 | 58 => off + 8
      case 6 => off + ((u8(off + 12) >> 4) & 0xf) * 4
      case 17 => off + 8
      case 132 => off + 8
      case _ => -1
    }
  }

  /** Overwrite the payload bytes of every packet of `sessions` in their
    * capture files (three passes, reference-identical patterns) and
    * return the sessions stamped `scrubby`/`scrubat` — the fields the
    * reference writes back to ES (apiSessions.js:1040-1047).
    *
    * This is an ACTION: the file writes happen before it returns.
    */
  def scrub(sessions: Dataset[SessionRow], entire: Boolean = false,
      scrubBy: String = "-", scrubAtMs: Long = 0L): DataFrame = {
    val spark = sessions.sparkSession
    import spark.implicits._
    val slices = sessions.flatMap { s =>
      s.packetPos.indices.flatMap { i =>
        s.fileId.lift(s.packetFileIdx(i)).map(f => (f, s.packetPos(i), s.packetLen(i)))
      }
    }.toDF("file", "pos", "len")
      // one task per file: no two tasks ever write the same file
      .repartition(col("file"))
      .sortWithinPartitions("file", "pos")
    slices.foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
      val pats = passes
      val open = scala.collection.mutable.Map[String, java.io.RandomAccessFile]()
      val hdrs = scala.collection.mutable.Map[String, Option[graft.etl.Pcap.PcapHeader]]()
      try {
        rows.foreach { r =>
          val f0 = r.getString(0); val pos = r.getLong(1); val len = r.getInt(2)
          val f = graft.etl.Pcap.localPath(f0)
          val hdr = hdrs.getOrElseUpdate(f, {
            val raf = new java.io.RandomAccessFile(f, "rw")
            open(f) = raf
            val b = new Array[Byte](24); raf.seek(0); raf.readFully(b)
            val h = graft.etl.Pcap.parseHeader(b)
            // an unreadable header means an encrypted-at-rest or non-pcap
            // store: silently skipping would stamp sessions scrubbed
            // while the payload bytes remain readable — refuse loudly
            if (h.isEmpty) throw new IllegalStateException(
              s"scrub requires a plaintext local pcap store; cannot parse $f")
            h
          })
          hdr.foreach { h =>
            val raf = open(f)
            val data = new Array[Byte](len - 16)
            raf.seek(pos + 16); raf.readFully(data)
            // a truncated record that cannot be walked is skipped like
            // the reference's per-packet throw-and-skip — never crashes
            // the scrub job
            val start =
              if (entire) 0
              else (try payloadOffset(data, h.linkType)
                catch { case _: ArrayIndexOutOfBoundsException => -1 }) match {
                case -1 => data.length // unknown shape: nothing to scrub
                case o => math.min(o, data.length)
              }
            val n = data.length - start
            if (n > 0) pats.foreach { pat =>
              var written = 0
              while (written < n) {
                val chunk = math.min(pat.length, n - written)
                raf.seek(pos + 16 + start + written)
                raf.write(pat, 0, chunk)
                written += chunk
              }
              raf.getFD.sync() // reference fsyncs between passes (pcap.js:283)
            }
          }
        }
      } finally open.values.foreach(r => try r.close() catch { case _: Exception => () })
    }
    sessions.toDF()
      .withColumn("scrubby", lit(scrubBy))
      .withColumn("scrubat", lit(scrubAtMs))
  }

  /** SPI delete from a day-partitioned store: drop matched rows,
    * rewriting only the day partitions that held them
    * (apiSessions.js:1034-1038 Db.deleteDocument per session).
    */
  def deleteSpiFromStore(spark: SparkSession, path: String,
      matched: Column): Seq[String] =
    Tagging.rewriteMatchedDays(spark, path, matched)(
      _.filter(!coalesce(matched, lit(false))))
}
