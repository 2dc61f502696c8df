package graft.ops

import java.io.{BufferedOutputStream, FileOutputStream}

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.etl.SessionBuilder.SessionRow

/** PCAP export — the `/api/sessions.pcap` / `/api/session/:id/pcap`
  * endpoint family (reference: viewer/apiSessions.js:685-744
  * sessionsPcapList, 853-894 writePcap): one 24-byte global header from
  * the source capture, then every selected session's packet records —
  * raw 16-byte record header + bytes, copied verbatim — in per-session
  * stored order, sessions ordered by start time.
  *
  * Split Spark-first into a distributed read and a serial assembly:
  *  - [[records]] seeks each stored `(fileId, packetPos, packetLen)`
  *    slice exactly like [[Hunt]] — tasks read only the bytes their
  *    sessions reference, grouped per file, never whole multi-GB
  *    captures.
  *  - [[writeFile]] streams the sorted records into one output file via
  *    `toLocalIterator` — the export is inherently a single byte stream
  *    (the reference writes an HTTP response), so only the assembly is
  *    serial, and it holds one partition of record bytes at a time.
  */
object PcapExport {

  /** One row per referenced packet record, raw bytes verbatim, with the
    * `(firstPacket, sessionId, seq)` sort key that reproduces the
    * reference's write order.
    */
  def records(sessions: Dataset[SessionRow],
      keys: String => graft.etl.PcapCrypto.FileKeys = _ => graft.etl.PcapCrypto.Normal,
      store: graft.etl.PcapStore.Store = graft.etl.PcapStore.Local): DataFrame = {
    val spark = sessions.sparkSession
    import spark.implicits._
    val slices = sessions.flatMap { s =>
      s.packetPos.indices.flatMap { i =>
        s.fileId.lift(s.packetFileIdx(i)).map(f =>
          (s.firstPacket, s.sessionId, i, f, s.packetPos(i), s.packetLen(i)))
      }
    }.toDF("firstPacket", "sessionId", "seq", "file", "pos", "len")
    slices
      .repartition(col("file"))
      .sortWithinPartitions("file", "pos")
      .as[(Long, String, Int, String, Long, Int)]
      .mapPartitions { rows =>
        val open = scala.collection.mutable.Map[
          String, Option[(graft.etl.PcapStore.Blob, graft.etl.PcapCrypto.FileKeys)]]()
        Option(org.apache.spark.TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit](_ => open.values.flatten.foreach(r =>
            try r._1.close() catch { case _: Exception => () })))
        def channelOf(f0: String) =
          open.getOrElseUpdate(f0,
            try Some((store.open(graft.etl.Pcap.localPath(f0)), keys(f0)))
            catch { case _: Exception => None })
        rows.flatMap { case (first, sid, seq, file, pos, len) =>
          channelOf(file).flatMap { case (raf, k) =>
            // exported records are always plaintext pcap, whatever the
            // store encoding — the reference likewise decrypts on export
            try Some((first, sid, seq,
              graft.etl.PcapCrypto.readSlice(raf, pos, len, k)))
            catch { case _: Exception => None }
          }
        }
      }
      .toDF("firstPacket", "sessionId", "seq", "record")
  }

  /** The 24-byte global header of the first capture file the sessions
    * reference (in packet order) — the reference likewise emits the
    * header of the first processed pcap (apiSessions.js:733-736).
    */
  def header(sessions: Dataset[SessionRow],
      keys: String => graft.etl.PcapCrypto.FileKeys = _ => graft.etl.PcapCrypto.Normal,
      store: graft.etl.PcapStore.Store = graft.etl.PcapStore.Local): Array[Byte] = {
    val spark = sessions.sparkSession
    import spark.implicits._
    val first = sessions
      .flatMap(s => s.fileId.headOption.map(f => (s.firstPacket, f)))
      .toDF("firstPacket", "file")
      .orderBy("firstPacket").limit(1)
      .collect()
    first.headOption.map { r =>
      val f0 = r.getString(1)
      val blob = store.open(graft.etl.Pcap.localPath(f0))
      try graft.etl.PcapCrypto.readSlice(blob, 0L, 24, keys(f0))
      finally blob.close()
    }.getOrElse(Array.emptyByteArray)
  }

  /** Assemble `sessions` into a single pcap at `outPath`. Returns the
    * number of packet records written.
    */
  def writeFile(sessions: Dataset[SessionRow], outPath: String,
      writeHeader: Boolean = true,
      keys: String => graft.etl.PcapCrypto.FileKeys = _ => graft.etl.PcapCrypto.Normal,
      store: graft.etl.PcapStore.Store = graft.etl.PcapStore.Local): Long = {
    val hdr = if (writeHeader) header(sessions, keys, store) else Array.emptyByteArray
    val sorted = records(sessions, keys, store).orderBy("firstPacket", "sessionId", "seq")
    val out = new BufferedOutputStream(new FileOutputStream(outPath), 1 << 16)
    var n = 0L
    try {
      out.write(hdr)
      // toLocalIterator: one partition of record bytes in memory at a time
      sorted.select("record").toLocalIterator().forEachRemaining { r =>
        out.write(r.getAs[Array[Byte]](0)); n += 1
      }
    } finally out.close()
    n
  }

  /** Assemble `sessions` into a pcapng at `outPath` — SHB + IDB, then one
    * Enhanced Packet Block per record (reference: viewer/pcap.js:733-756
    * getHeaderNg, viewer/apiSessions.js:896-934 writePcapNg). Timestamps
    * are re-encoded at the EPB default 1 µs resolution, whatever the
    * source file's endianness and micro/nano magic. Returns the number of
    * packet blocks written.
    */
  def writePcapNg(sessions: Dataset[SessionRow], outPath: String): Long = {
    import java.nio.{ByteBuffer, ByteOrder}
    val hdrBytes = header(sessions)
    val hdr = graft.etl.Pcap.parseHeader(hdrBytes)
    val sorted = records(sessions).orderBy("firstPacket", "sessionId", "seq")
    val out = new BufferedOutputStream(new FileOutputStream(outPath), 1 << 16)
    var n = 0L
    try {
      hdr.foreach { h =>
        val b = ByteBuffer.allocate(56).order(ByteOrder.LITTLE_ENDIAN)
        b.putInt(0x0a0d0d0a).putInt(32).putInt(0x1a2b3c4d) // SHB + BOM
          .putShort(1).putShort(0).putLong(-1L)            // v1.0, unknown len
          .putInt(0).putInt(32)                            // end-opt, len2
        b.putInt(0x00000001).putInt(24)                    // IDB
          .putShort(h.linkType.toShort).putShort(0).putInt(h.snapLen)
          .putInt(0).putInt(24)
        out.write(b.array())
        val srcOrder =
          if (h.bigEndian) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN
        sorted.select("record").toLocalIterator().forEachRemaining { r =>
          val rec = r.getAs[Array[Byte]](0)
          if (rec.length >= 16) {
            val rb = ByteBuffer.wrap(rec, 0, 16).order(srcOrder)
            val sec = rb.getInt.toLong & 0xffffffffL
            val frac = rb.getInt.toLong & 0xffffffffL
            val origLen = { rb.getInt; rb.getInt } // skip inclLen; read orig
            val cap = rec.length - 16
            val micros = sec * 1000000L + (if (h.nanos) frac / 1000 else frac)
            val pad = (4 - (cap % 4)) % 4
            // 28-byte fixed header + data + pad + end-opt word + len2
            val len = 36 + cap + pad
            val eb = ByteBuffer.allocate(len).order(ByteOrder.LITTLE_ENDIAN)
            eb.putInt(0x00000006).putInt(len).putInt(0)    // EPB, iface 0
              .putInt((micros >>> 32).toInt).putInt(micros.toInt)
              .putInt(cap).putInt(origLen)
            eb.put(rec, 16, cap).position(eb.position() + pad)
            eb.putInt(0).putInt(len)                       // end-opt, len2
            out.write(eb.array())
            n += 1
          }
        }
      }
    } finally out.close()
    n
  }
}
