package graft.etl

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.{Dataset, SparkSession}

/** Classic-pcap file parsing → packet records.
  *
  * File layout (reference reader: capture/reader-libpcap-file.c): 24-byte
  * global header (magic 0xa1b2c3d4, swapped and nanosecond 0xa1b23c4d
  * variants), then per-packet 16-byte record headers (ts_sec, ts_frac,
  * incl_len, orig_len). `fileOffset` is the record-header offset — the
  * same value the reference stores in `packetPos` (capture/packet.c:
  * 265-301); `recLen` (16 + incl_len) matches its `packetLen`.
  *
  * Scale note: the driver fixtures are single small files, read via
  * Spark's binaryFile source (one task per file — pcap files are not
  * splittable without an index). At 100 TB the same decode runs per file
  * over many thousands of capture files, so parallelism = file count;
  * the per-file iterator never materializes the whole packet list.
  */
object Pcap {

  final case class RawPacket(
      file: String,
      index: Int,
      tsMicros: Long,
      inclLen: Int,
      origLen: Int,
      fileOffset: Long,
      linkType: Int,
      data: Array[Byte],
      // ts of the preceding packet in this file (own ts for the first):
      // the offline analogue of the reference's lastPacketSecs clock,
      // which drives idle/save timeouts (capture/session.c:508-541)
      prevTsMicros: Long = 0L)

  final case class PcapHeader(
      bigEndian: Boolean, nanos: Boolean, linkType: Int, snapLen: Int)

  def parseHeader(bytes: Array[Byte]): Option[PcapHeader] = {
    if (bytes.length < 24) return None
    val magicLE = ByteBuffer.wrap(bytes, 0, 4).order(ByteOrder.LITTLE_ENDIAN).getInt
    val (big, nanos) = magicLE match {
      case 0xa1b2c3d4 => (false, false)
      case 0xa1b23c4d => (false, true)
      case 0xd4c3b2a1 => (true, false)
      case 0x4d3cb2a1 => (true, true)
      case _          => return None
    }
    val order = if (big) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN
    val bb = ByteBuffer.wrap(bytes, 0, 24).order(order)
    bb.position(16)
    val snapLen = bb.getInt
    val linkType = bb.getInt
    Some(PcapHeader(big, nanos, linkType, snapLen))
  }

  /** pcapng section-header magic (block type 0x0A0D0D0A). */
  def isPcapng(bytes: Array[Byte]): Boolean =
    bytes.length >= 4 &&
      ByteBuffer.wrap(bytes, 0, 4).order(ByteOrder.LITTLE_ENDIAN)
        .getInt == 0x0a0d0d0a

  /** Transcode a pcapng capture to classic little-endian µs pcap — the
    * ingest normalization the reference gets from libpcap (its readers
    * accept pcapng, its writer-simple store is always classic records;
    * capture/reader-libpcap-file.c). Handles both byte orders (per
    * section), multiple IDBs with per-interface `if_tsresol` (decimal
    * and binary exponents), Enhanced and Simple packet blocks, and
    * skips every other block type. Returns None when the capture is not
    * pcapng or its interfaces disagree on link type (classic pcap has
    * exactly one).
    */
  def pcapngToPcap(bytes: Array[Byte]): Option[Array[Byte]] = {
    if (!isPcapng(bytes) || bytes.length < 28) return None
    val body = new java.io.ByteArrayOutputStream(bytes.length)
    pcapngToPcapStream(new java.io.ByteArrayInputStream(bytes), body).map {
      case (lt, snap) =>
        val b = body.toByteArray
        val outBytes = new Array[Byte](24 + b.length)
        System.arraycopy(classicHeader(lt, snap), 0, outBytes, 0, 24)
        System.arraycopy(b, 0, outBytes, 24, b.length)
        outBytes
    }
  }

  /** The 24-byte classic little-endian µs global header the transcoder
    * emits (snapLen 0 normalizes to 65536, like libpcap's default).
    */
  def classicHeader(linkType: Int, snapLen: Int): Array[Byte] = {
    val hdr = ByteBuffer.allocate(24).order(ByteOrder.LITTLE_ENDIAN)
    hdr.putInt(0xa1b2c3d4).putShort(2).putShort(4)
      .putInt(0).putInt(0)
      .putInt(if (snapLen > 0) snapLen else 65536).putInt(linkType)
    hdr.array()
  }

  /** Streaming form of the pcapng transcode: reads block-by-block with a
    * bounded buffer (one block resident at a time, blocks over 256 MiB
    * treated as corrupt), writes classic RECORDS to `out`, and returns
    * `Some((linkType, snapLen))` for the caller to prepend/backpatch the
    * [[classicHeader]] — or None when the capture is not transcodable
    * (no interface block, or mixed link types; on None whatever was
    * already written to `out` must be discarded by the caller). This is
    * what lets a multi-GB posted pcapng ingest without a heap
    * proportional to the file ([[graft.ops.Upload]]).
    */
  def pcapngToPcapStream(in: java.io.InputStream,
      out: java.io.OutputStream): Option[(Int, Int)] = {
    var linkType = -1
    var snapLen = 0
    // per-section interface table: (linkType, unitsPerSecond)
    var ifaces = Vector.empty[(Int, Long)]
    var order = ByteOrder.LITTLE_ENDIAN
    var buf = new Array[Byte](1 << 16)
    val hdr8 = new Array[Byte](8)
    val bom4 = new Array[Byte](4)
    val rec = ByteBuffer.allocate(16).order(ByteOrder.LITTLE_ENDIAN)
    val MaxBlock = 256 << 20
    def readFullyOpt(b: Array[Byte], o: Int, len: Int): Boolean = {
      var p = o
      val end = o + len
      while (p < end) {
        val n = in.read(b, p, end - p)
        if (n < 0) return false
        p += n
      }
      true
    }
    def u32(b: Array[Byte], o: Int): Long =
      ByteBuffer.wrap(b, o, 4).order(order).getInt.toLong & 0xffffffffL
    def u16(b: Array[Byte], o: Int): Int =
      ByteBuffer.wrap(b, o, 2).order(order).getShort.toInt & 0xffff
    var stop = false
    while (!stop) {
      if (!readFullyOpt(hdr8, 0, 8)) stop = true
      else {
        // block type reads in the CURRENT section's order except SHB,
        // whose type bytes are order-independent
        val rawType = ByteBuffer.wrap(hdr8, 0, 4)
          .order(ByteOrder.LITTLE_ENDIAN).getInt
        val isShb = rawType == 0x0a0d0d0a
        var consumed = 8
        if (isShb) {
          // byte-order magic decides this section's endianness
          if (!readFullyOpt(bom4, 0, 4)) stop = true
          else {
            val bomLE = ByteBuffer.wrap(bom4, 0, 4)
              .order(ByteOrder.LITTLE_ENDIAN).getInt
            if (bomLE == 0x1a2b3c4d) order = ByteOrder.LITTLE_ENDIAN
            else if (bomLE == 0x4d3c2b1a) order = ByteOrder.BIG_ENDIAN
            else stop = true
            ifaces = Vector.empty
            consumed = 12
          }
        }
        if (!stop) {
          val totalLen = u32(hdr8, 4)
          if (totalLen < 12 || totalLen % 4 != 0 || totalLen > MaxBlock)
            stop = true
          else {
            // one block resident at a time; body index k = file off + consumed + k
            val bodyLen = totalLen.toInt - consumed
            if (buf.length < bodyLen) buf = new Array[Byte](bodyLen)
            if (!readFullyOpt(buf, 0, bodyLen)) stop = true
            else if (!isShb) {
              val blockType = ByteBuffer.wrap(hdr8, 0, 4).order(order).getInt
              blockType match {
                case 0x00000001 => // IDB
                  val lt = u16(buf, 0)
                  val snap = u32(buf, 4).toInt
                  if (linkType < 0) linkType = lt
                  else if (linkType != lt) return None // mixed link types
                  if (snap > snapLen) snapLen = snap
                  // walk options for if_tsresol (code 9)
                  var units = 1000000L
                  var o = 8
                  val end = bodyLen - 4
                  var done = false
                  while (!done && o + 4 <= end) {
                    val code = u16(buf, o); val len = u16(buf, o + 2)
                    if (code == 0) done = true
                    else {
                      if (code == 9 && len >= 1) {
                        val v = buf(o + 4) & 0xff
                        val exp = v & 0x7f
                        // exponents that overflow units-per-second in a
                        // long (decimal > 18, binary > 62) are invalid
                        // per spec use — keep the µs default rather than
                        // a mod-64 shift artifact
                        if ((v & 0x80) == 0) {
                          if (exp <= 18) units = math.pow(10, exp).toLong
                        } else if (exp <= 62) units = 1L << exp
                      }
                      o += 4 + ((len + 3) / 4) * 4
                    }
                  }
                  ifaces :+= ((lt, units))
                case 0x00000006 => // Enhanced Packet Block
                  val ifId = u32(buf, 0).toInt
                  val units = ifaces.lift(ifId).map(_._2).getOrElse(1000000L)
                  val ts = (u32(buf, 4) << 32) | u32(buf, 8)
                  val cap = u32(buf, 12).toInt
                  val orig = u32(buf, 16).toInt
                  // captured bytes must fit inside THIS block (28-byte
                  // fixed part + trailing length word) — a corrupt cap
                  // field must not swallow following blocks' bytes
                  if (cap >= 0 && cap <= totalLen - 32) {
                    val micros =
                      (BigInt(ts) * 1000000 / BigInt(units)).toLong
                    rec.clear()
                    rec.putInt((micros / 1000000L).toInt)
                      .putInt((micros % 1000000L).toInt)
                      .putInt(cap).putInt(orig)
                    out.write(rec.array(), 0, 16)
                    out.write(buf, 20, cap)
                  }
                case 0x00000003 => // Simple Packet Block (no timestamp)
                  val orig = u32(buf, 0).toInt
                  val cap = math.min(orig.toLong, totalLen - 16).toInt
                  if (cap >= 0 && 4 + cap <= bodyLen) {
                    rec.clear()
                    rec.putInt(0).putInt(0).putInt(cap).putInt(orig)
                    out.write(rec.array(), 0, 16)
                    out.write(buf, 4, cap)
                  }
                case _ => () // SHB handled above; skip NRB/ISB/custom
              }
            }
          }
        }
      }
    }
    if (linkType < 0) None
    else Some((linkType, snapLen))
  }

  /** Iterate packet records of one capture file (byte array form).
    * pcapng input is transcoded to classic pcap first — offsets then
    * reference the TRANSCODED image, which is what ingest persists
    * ([[graft.ops.Upload]] writes the transcoded copy as the durable
    * file, so stored packetPos/packetLen stay seekable).
    */
  def parseFile(bytes0: Array[Byte], file: String): Iterator[RawPacket] = {
    val bytes =
      if (isPcapng(bytes0)) pcapngToPcap(bytes0).getOrElse(bytes0)
      else bytes0
    parseHeader(bytes) match {
      case None => Iterator.empty
      case Some(h) =>
        val order = if (h.bigEndian) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN
        recordIterator(bytes, 24, file, order, h.nanos, maxInclOf(h.snapLen),
          h.linkType, baseIdx = 0, prevTs0 = -1L, offsetBase = 0L)
    }
  }

  /** snapLen-derived record-length sanity bound: snapLen when sane, else
    * 64 MiB. A corrupt record header (negative or absurd incl_len) stops
    * iteration for its file instead of throwing — the reference reader
    * degrades per file the same way (capture/reader-libpcap-file.c
    * record-length checks).
    */
  private def maxInclOf(snapLen: Int): Int =
    if (snapLen > 0 && snapLen <= (64 << 20)) snapLen else (64 << 20)

  /** Walk classic records in `bytes` starting at `from`. `offsetBase`
    * rebases emitted fileOffsets when `bytes` is a mid-file slice (the
    * chunked reader); `prevTs0 = -1` means "first record uses its own
    * timestamp" (whole-file semantics), otherwise it seeds the
    * previous-packet clock across a chunk boundary.
    */
  private def recordIterator(bytes: Array[Byte], from: Int, file: String,
      order: ByteOrder, nanos: Boolean, maxIncl: Int, linkType: Int,
      baseIdx: Int, prevTs0: Long, offsetBase: Long): Iterator[RawPacket] =
    new Iterator[RawPacket] {
      private var off = from.toLong
      private var idx = baseIdx
      private var dead = false
      private var prevTs = prevTs0
      def hasNext: Boolean =
        !dead && off + 16 <= bytes.length && {
          val incl = ByteBuffer.wrap(bytes, off.toInt + 8, 4).order(order).getInt
          if (incl < 0 || incl > maxIncl) { dead = true; false } else true
        }
      def next(): RawPacket = {
        val bb = ByteBuffer.wrap(bytes, off.toInt, 16).order(order)
        val sec = bb.getInt.toLong & 0xffffffffL
        val frac = bb.getInt.toLong & 0xffffffffL
        val inclLen = bb.getInt
        val origLen = bb.getInt
        val micros = sec * 1000000L + (if (nanos) frac / 1000 else frac)
        val start = off + 16
        val end = math.min(start + inclLen, bytes.length.toLong)
        val data = java.util.Arrays.copyOfRange(bytes, start.toInt, end.toInt)
        val p = RawPacket(file, idx, micros, inclLen, origLen,
          offsetBase + off, linkType, data,
          if (prevTs < 0) micros else prevTs)
        prevTs = micros
        off = start + inclLen
        idx += 1
        p
      }
    }

  /** Parse one record slice fetched from `fileOffset` (16-byte record
    * header + capped packet data) — the random-access counterpart of
    * [[parseFile]], for consumers that seek to stored `packetPos` /
    * `packetLen` slices instead of reading whole capture files (the
    * reference's readPacket(pos) path, viewer/pcap.js).
    */
  def parseRecord(h: PcapHeader, rec: Array[Byte], file: String,
      fileOffset: Long): Option[RawPacket] = {
    if (rec.length < 16) return None
    val order = if (h.bigEndian) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN
    val bb = ByteBuffer.wrap(rec, 0, 16).order(order)
    val sec = bb.getInt.toLong & 0xffffffffL
    val frac = bb.getInt.toLong & 0xffffffffL
    val inclLen = bb.getInt
    val origLen = bb.getInt
    if (inclLen < 0) return None
    val micros = sec * 1000000L + (if (h.nanos) frac / 1000 else frac)
    val end = math.max(16, math.min(16L + inclLen, rec.length.toLong).toInt)
    Some(RawPacket(file, 0, micros, inclLen, origLen, fileOffset, h.linkType,
      java.util.Arrays.copyOfRange(rec, 16, end), micros))
  }

  /** IPv4 fragment reassembly over one file's packet stream, mirroring
    * moloch_packet_frags4/frags_process (capture/packet.c:470-600):
    * fragments buffer keyed (src, dst, ipId); once the no-MF fragment has
    * arrived and offsets are contiguous, the completing packet is rewritten
    * with the full payload (ip_len fixed up, frag bits cleared) and emitted
    * at its position; consumed fragments emit nothing. Only plain-Ethernet
    * IPv4 is examined — tunneled fragments pass through untouched.
    */
  def assembleFrags4(packets: Iterator[RawPacket]): Iterator[RawPacket] = {
    val asm = new FragAssembler
    packets.flatMap(asm.offer)
  }

  /** [[assembleFrags4]] over ONE record-aligned chunk of a bigger file,
    * with boundary repair: a fragment group whose offset-0 fragment this
    * chunk saw ("owned") but which is still incomplete at chunk end is
    * finished by reading a bounded overlap past the chunk boundary
    * (`overlap`, built lazily — only incomplete owned groups pay the
    * extra read). The NEXT chunk sees the same overlap records but drops
    * fragments of groups whose start it never saw, so each spanning
    * group assembles exactly once, in the owning chunk, with the
    * completing fragment's index/timestamp — the same row the
    * single-pass whole-file walk emits. Residual drop (was: every
    * spanning group, Pcap.scala's documented chunk-boundary degradation):
    * only groups whose offset-0 fragment arrives out of order on the far
    * side of the boundary, or that span more than the overlap cap, or —
    * after the ipId-reuse repair below (offset-colliding stale replays
    * lose to the live group via the epoch split in [[FragAssembler]]) —
    * a reused ipId whose stale replayed fragments extend BEYOND the new
    * group's end (different fragmentation pattern): the leftover tail
    * fragment keeps the contiguity walk from terminating and the group
    * ages out exactly like the reference's per-group timeout would. A
    * stale replayed FINAL fragment whose offset+length happen to align
    * with the live group's layout can conversely complete the group a
    * packet early — indistinguishable from a legitimate out-of-order
    * final fragment of the same group, and bounded to the reused-ipId
    * window.
    */
  def assembleFrags4Chunked(packets: Iterator[RawPacket],
      overlap: () => Iterator[RawPacket]): Iterator[RawPacket] = {
    val asm = new FragAssembler
    packets.flatMap(asm.offer) ++ {
      // built only after the main iterator is exhausted (++ is by-name)
      asm.retainOwned()
      if (!asm.hasPending) Iterator.empty
      else {
        val it = overlap()
        // check pending BEFORE pulling: stop reading overlap records the
        // moment the last owned group completes
        new Iterator[Iterator[RawPacket]] {
          def hasNext: Boolean = asm.hasPending && it.hasNext
          def next(): Iterator[RawPacket] = asm.offerBoundary(it.next())
        }.flatten
      }
    }
  }

  /** moloch_packet_frags4/frags_process (capture/packet.c:470-600) as
    * incremental state: fragments buffer keyed (src, dst, ipId); once
    * the no-MF fragment has arrived and offsets are contiguous, the
    * completing packet is rewritten with the full payload (ip_len fixed
    * up, frag bits cleared) and emitted at its position; consumed
    * fragments emit nothing. Only plain-Ethernet IPv4 is examined —
    * tunneled fragments pass through untouched.
    */
  private final class FragAssembler {
    /** `epoch` 0 = arrived before the group's first offset-0 fragment,
      * 1 = the offset-0 fragment and everything after it. The split is
      * what lets a chunk distinguish stale replays (fragments a previous
      * chunk's overlap window already consumed, colliding here because a
      * fresh group reused the ipId — always epoch 0, since the stale
      * group's offset-0 lived in the previous chunk) from duplicates
      * within the live group itself.
      */
    private final case class Frag(off: Int, mf: Boolean,
        payload: Array[Byte], raw: RawPacket, epoch: Int)
    private val pending = scala.collection.mutable.LinkedHashMap[
      String, scala.collection.mutable.ArrayBuffer[Frag]]()

    private def ipOffOf(p: RawPacket): Int = {
      if (p.linkType != 1 || p.data.length < 34) return -1
      var off = 12
      var et = ((p.data(off) & 0xff) << 8) | (p.data(off + 1) & 0xff)
      off += 2
      while ((et == 0x8100 || et == 0x88a8) && off + 4 <= p.data.length) {
        et = ((p.data(off + 2) & 0xff) << 8) | (p.data(off + 3) & 0xff)
        off += 4
      }
      if (et != 0x0800) -1 else off
    }

    /** Drop pending groups whose offset-0 fragment was never seen: at a
      * chunk boundary those belong to (and were consumed by) an earlier
      * chunk's overlap read.
      */
    def retainOwned(): Unit =
      pending.filterInPlace((_, frags) => frags.exists(_.off == 0))

    def hasPending: Boolean = pending.nonEmpty

    /** Boundary mode: only fragments of already-pending groups are
      * consumed; everything else — non-fragments, new groups (their
      * offset-0 fragment) — belongs to the next chunk and is skipped.
      */
    def offerBoundary(p: RawPacket): Iterator[RawPacket] = {
      val ipOff = ipOffOf(p)
      if (ipOff < 0 || (p.data(ipOff) & 0xf0) != 0x40) return Iterator.empty
      val b = p.data
      val fragField = ((b(ipOff + 6) & 0xff) << 8) | (b(ipOff + 7) & 0xff)
      val fragOff = (fragField & 0x1fff) * 8
      // off-0 covers both plain packets and a NEW group's first fragment
      if (fragOff == 0) return Iterator.empty
      if (!pending.contains(keyOf(b, ipOff))) return Iterator.empty
      offer(p)
    }

    private def keyOf(b: Array[Byte], ipOff: Int): String =
      (ipOff + 12 to ipOff + 19).map(b(_)).mkString(",") +
        "|" + (((b(ipOff + 4) & 0xff) << 8) | (b(ipOff + 5) & 0xff))

    def offer(p: RawPacket): Iterator[RawPacket] = {
      val ipOff = ipOffOf(p)
      if (ipOff < 0 || (p.data(ipOff) & 0xf0) != 0x40) Iterator.single(p)
      else {
        val b = p.data
        val ihl = (b(ipOff) & 0x0f) * 4
        val fragField = ((b(ipOff + 6) & 0xff) << 8) | (b(ipOff + 7) & 0xff)
        val mf = (fragField & 0x2000) != 0
        val fragOff = (fragField & 0x1fff) * 8
        if (!mf && fragOff == 0) Iterator.single(p)
        else {
          val ipLen = ((b(ipOff + 2) & 0xff) << 8) | (b(ipOff + 3) & 0xff)
          val key = keyOf(b, ipOff)
          val payEnd = math.min(ipOff + ipLen, b.length)
          val payload = java.util.Arrays.copyOfRange(
            b, ipOff + ihl, math.max(ipOff + ihl, payEnd))
          val frags = pending.getOrElseUpdate(
            key, scala.collection.mutable.ArrayBuffer())
          val epoch = if (frags.exists(_.epoch == 1) || fragOff == 0) 1 else 0
          frags += Frag(fragOff, mf, payload, p, epoch)
          if (frags.exists(!_.mf)) {
            // Duplicate-offset handling, two distinct cases:
            //  - ACROSS epochs (a stale epoch-0 replay from a previous
            //    chunk's overlap window colliding with the live group
            //    that reused its ipId): the live epoch-1 copy wins — in
            //    the whole-file walk the stale group completed earlier
            //    and was evicted, so no collision would exist at all;
            //  - WITHIN an epoch (a genuine duplicate in the live
            //    group): reference parity — packet.c inserts the
            //    duplicate and the contiguity walk then always breaks on
            //    it (fip_off != off, packet.c:540), so the group never
            //    reassembles and ages out; we likewise emit nothing.
            // Residual divergence (documented): a retransmit whose two
            // copies straddle the group's offset-0 arrival is
            // indistinguishable from ipId reuse and reassembles here
            // where the reference stalls.
            val byOff = frags.groupBy(_.off)
            val dupInEpoch = byOff.valuesIterator.exists(fs =>
              fs.size > 1 && fs.map(_.epoch).distinct.size < fs.size)
            val live = byOff.map { case (_, fs) => fs.maxBy(_.epoch) }
            val sorted = live.toIndexedSeq.sortBy(_.off)
            var expect = 0
            var ok = !dupInEpoch
            sorted.foreach { f =>
              if (f.off != expect) ok = false
              if (ok) expect += f.payload.length
            }
            val total = expect
            if (ok && !sorted.last.mf) {
              pending.remove(key)
              // rebuild: completing packet's link+ip header + full payload
              val hdrLen = ipOff + ihl
              val out = new Array[Byte](hdrLen + total)
              System.arraycopy(b, 0, out, 0, hdrLen)
              sorted.foreach(f =>
                System.arraycopy(f.payload, 0, out, hdrLen + f.off, f.payload.length))
              val newIpLen = ihl + total
              out(ipOff + 2) = ((newIpLen >> 8) & 0xff).toByte
              out(ipOff + 3) = (newIpLen & 0xff).toByte
              out(ipOff + 6) = 0; out(ipOff + 7) = 0
              Iterator.single(p.copy(data = out, inclLen = out.length,
                origLen = out.length))
            } else Iterator.empty
          } else Iterator.empty
        }
      }
    }
  }

  /** One unit of distributed pcap reading: either a whole (small) file
    * or a record-aligned byte range of a big one, with the per-file
    * header facts and cursor seeds ([[recordIterator]]) it needs to
    * parse standalone.
    */
  final case class ChunkSpec(
      file: String, start: Long, end: Long, baseIdx: Int, prevTs: Long,
      bigEndian: Boolean, nanos: Boolean, linkType: Int, snapLen: Int,
      whole: Boolean)

  /** Files up to this read as one task (the pre-chunking behavior);
    * bigger ones are record-walked into [[SplitBytes]]-sized chunks.
    */
  private val WholeFileMax = 400L << 20
  private val SplitBytes = 256L << 20

  /** Hadoop Configuration is not java-serializable; chunk tasks must
    * still see the JOB's configuration (spark.hadoop.* — s3a
    * credentials, endpoints), not classpath defaults, or a remote-FS
    * read that listed fine on the driver fails on every executor.
    */
  private[graft] final class SerializableConf(
      @transient var value: org.apache.hadoop.conf.Configuration)
      extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject()
      value.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      value = new org.apache.hadoop.conf.Configuration(false)
      value.readFields(in)
    }
  }

  /** The local path of a fileId, which [[readPackets]] renders with
    * Hadoop's `Path` and a raw file name: `java.net.URI` would throw on a
    * space or `[`, and decode `%20` or cut at `#` to another file.
    */
  def localPath(fileId: String): String =
    if (fileId.startsWith("file:"))
      new org.apache.hadoop.fs.Path(fileId).toUri.getPath
    else fileId

  /** Read a directory (or single file) of pcaps as a packet Dataset,
    * with per-chunk IPv4 fragment reassembly.
    *
    * pcap files are not splittable blindly, and reading a whole file as
    * one value caps at a 2 GiB JVM array — but the reference's capture
    * nodes rotate files at maxFileSizeG (default 12G), so big files are
    * the NORM at scale. Big classic files therefore get a cheap
    * record-header walk (16 bytes read + seek per record, distributed
    * one task per file) that plans record-aligned ~256 MiB chunks; the
    * chunks then shuffle across the cluster and parse independently,
    * so one 12 GB capture decodes on ~48 cores instead of one.
    * Fragment reassembly runs per chunk, with boundary repair: a group
    * that starts in a chunk but completes past its end is finished via
    * a bounded overlap read ([[assembleFrags4Chunked]]); only groups
    * spanning more than [[FragOverlapBytes]] (or whose first fragment
    * arrives out of order on the far side) still drop — the degradation
    * the reference accepts for frags spanning capture-file rotation.
    * Big pcapng files must ingest via [[graft.ops.Upload]] (which
    * persists a streamed classic transcode).
    */
  def readPackets(spark: SparkSession, path: String): Dataset[RawPacket] = {
    import spark.implicits._
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // globStatus handles literal paths, directories AND glob patterns
    // (the binaryFile reader this replaced accepted globs); hidden /
    // bookkeeping siblings (.foo.pcap.crc, _SUCCESS) are skipped the way
    // Hadoop's own input formats do
    @inline def visible(name: String): Boolean =
      !name.startsWith(".") && !name.startsWith("_")
    // a path that exists LITERALLY is taken as-is before any glob
    // expansion: upload filenames are user-controlled and may contain
    // glob metacharacters (`capture[1].pcap`) that globStatus would
    // otherwise reinterpret
    val matched =
      if (fs.exists(p)) Seq(fs.getFileStatus(p))
      else Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Nil)
    if (matched.isEmpty)
      throw new java.io.FileNotFoundException(s"no pcap input matches $path")
    // the hidden-file skip applies to DIRECTORY listings only: a file
    // the caller named (or glob-matched) explicitly is always read,
    // whatever its name
    val metas: Seq[(String, Long)] = matched.flatMap { st =>
      if (st.isDirectory)
        fs.listStatus(st.getPath).toSeq
          .filter(_.isFile)
          .filter(f => visible(f.getPath.getName) &&
            f.getPath.getName.contains(".pcap")) // .pcap and .pcapng
          .map(s => (s.getPath.toString, s.getLen))
      else Seq((st.getPath.toString, st.getLen))
    }.sortBy(_._1)
    val shufflePartitions = spark.sessionState.conf.numShufflePartitions
    val sconf = new SerializableConf(
      spark.sparkContext.hadoopConfiguration)
    def whole(f: String, size: Long) =
      ChunkSpec(f, 0L, size, 0, -1L, bigEndian = false,
        nanos = false, linkType = 0, snapLen = 0, whole = true)
    if (metas.forall(_._2 <= WholeFileMax))
      // all-small fast path: chunks == files, plan on the driver and
      // parallelize directly — zero shuffles, like the pre-chunked read
      spark.createDataset(metas.map { case (f, s) => whole(f, s) })
        .flatMap(readChunk(_, sconf))
    else
      spark.createDataset(metas)
        .repartition(math.max(1, math.min(metas.size, shufflePartitions)))
        .flatMap { case (f, size) =>
          if (size <= WholeFileMax) Seq(whole(f, size))
          else planChunks(f, size, sconf)
        }
        // chunk specs are tiny rows: rebalance them so one big file's
        // chunks decode across the cluster, not inside the planning task
        .repartition(shufflePartitions)
        .flatMap(readChunk(_, sconf))
  }

  /** Record-walk one big classic pcap into record-aligned chunk specs.
    * Reads 16 bytes per record and skips the payloads — a metadata pass.
    */
  private[etl] def planChunks(file: String, size: Long,
      sconf: SerializableConf, splitBytes: Long = SplitBytes): Seq[ChunkSpec] = {
    val path = new org.apache.hadoop.fs.Path(file)
    val fs = path.getFileSystem(sconf.value)
    val in = new java.io.DataInputStream(
      new java.io.BufferedInputStream(fs.open(path), 1 << 20))
    try {
      val head = new Array[Byte](24)
      in.readFully(head)
      if (isPcapng(head))
        throw new java.io.IOException(
          s"pcapng $file exceeds the whole-file bound ($WholeFileMax B); " +
            "ingest it via Upload, which persists a streamed classic transcode")
      val h = parseHeader(head) match {
        case Some(x) => x
        case None =>
          // unparseable header: defer to parseFile's empty-iterator path
          return Seq(ChunkSpec(file, 0L, size, 0, -1L, bigEndian = false,
            nanos = false, linkType = 0, snapLen = 0, whole = true))
      }
      val order = if (h.bigEndian) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN
      val maxIncl = maxInclOf(h.snapLen)
      val rec = new Array[Byte](16)
      val out = Seq.newBuilder[ChunkSpec]
      var off = 24L
      var idx = 0
      var chunkStart = 24L
      var chunkIdx = 0
      var chunkPrev = -1L
      var prevTs = -1L
      var dead = false
      while (!dead && off + 16 <= size) {
        in.readFully(rec)
        val bb = ByteBuffer.wrap(rec).order(order)
        val sec = bb.getInt.toLong & 0xffffffffL
        val frac = bb.getInt.toLong & 0xffffffffL
        val incl = bb.getInt
        if (incl < 0 || incl > maxIncl || off + 16 + incl > size) dead = true
        else {
          if (off - chunkStart >= splitBytes) {
            out += ChunkSpec(file, chunkStart, off, chunkIdx, chunkPrev,
              h.bigEndian, h.nanos, h.linkType, h.snapLen, whole = false)
            chunkStart = off
            chunkIdx = idx
            chunkPrev = prevTs
          }
          var toSkip = incl.toLong
          while (toSkip > 0) {
            val s = in.skip(toSkip)
            if (s <= 0) { dead = true; toSkip = 0 } else toSkip -= s
          }
          if (!dead) {
            prevTs = sec * 1000000L + (if (h.nanos) frac / 1000 else frac)
            off += 16 + incl
            idx += 1
          }
        }
      }
      if (off > chunkStart)
        out += ChunkSpec(file, chunkStart, off, chunkIdx, chunkPrev,
          h.bigEndian, h.nanos, h.linkType, h.snapLen, whole = false)
      out.result()
    } finally in.close()
  }

  /** Bound on the boundary-repair overlap read: a fragment group that
    * spans more than this past its chunk's end is dropped (same
    * degradation the reference accepts at capture-file rotation).
    */
  private val FragOverlapBytes = 8L << 20

  private[etl] def readChunk(c: ChunkSpec,
      sconf: SerializableConf): Iterator[RawPacket] = {
    val path = new org.apache.hadoop.fs.Path(c.file)
    val fs = path.getFileSystem(sconf.value)
    val len = (c.end - c.start).toInt
    val bytes = new Array[Byte](len)
    val in = fs.open(path)
    try in.readFully(c.start, bytes, 0, len) finally in.close()
    if (c.whole) assembleFrags4(parseFile(bytes, c.file))
    else {
      val order =
        if (c.bigEndian) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN
      val maxIncl = maxInclOf(c.snapLen)
      // track the tail record's index/ts so overlap records continue the
      // file's numbering exactly as the next chunk will assign it
      var lastIdx = c.baseIdx - 1
      var lastTs = c.prevTs
      val main = recordIterator(bytes, 0, c.file, order, c.nanos,
        maxIncl, c.linkType, c.baseIdx, c.prevTs, c.start)
        .map { p => lastIdx = p.index; lastTs = p.tsMicros; p }
      assembleFrags4Chunked(main, () => {
        val fileLen = fs.getFileStatus(path).getLen
        val oLen = math.min(FragOverlapBytes, fileLen - c.end).toInt
        if (oLen <= 0) Iterator.empty
        else {
          val ob = new Array[Byte](oLen)
          val oin = fs.open(path)
          try oin.readFully(c.end, ob, 0, oLen) finally oin.close()
          // the overlap buffer is NOT record-aligned at its end: a record
          // cut mid-payload by the 8 MiB window must be dropped, not
          // emitted with clipped data — a truncated final fragment would
          // otherwise assemble into a silently corrupted packet
          recordIterator(ob, 0, c.file, order, c.nanos, maxIncl,
            c.linkType, lastIdx + 1, lastTs, c.end)
            .filter(p => p.data.length >= p.inclLen)
        }
      })
    }
  }

  /** `packetPosEncoding: gap0` decode (viewer/db.js:353-370): the
    * capture's simple/inplace writers store packet positions gap-encoded —
    * a negative value is a `-fileId` marker (kept verbatim, resets the
    * running position), `0` repeats the previous gap (the common
    * fixed-size-packet run), and a positive value is a delta added to the
    * running position. Returns absolute positions with the file markers
    * in place, the form the rest of the engine consumes.
    */
  def decodePacketPosGap0(pos: Seq[Long]): Seq[Long] = {
    var last = 0L
    var lastGap = 0L
    pos.map { v =>
      if (v < 0) { last = 0L; v }
      else {
        val abs = if (v == 0L) last + lastGap else { lastGap = v; last + v }
        last = abs
        abs
      }
    }
  }

  /** gap0 encode — the writer side (writer-simple.c packetPosEncoding),
    * used when shipping sessions to a reference-compatible files index
    * and to round-trip-test the decoder. Absolute positions in, markers
    * preserved, repeated gaps collapsed to 0.
    */
  def encodePacketPosGap0(pos: Seq[Long]): Seq[Long] = {
    var last = 0L
    var lastGap = 0L
    pos.map { v =>
      if (v < 0) { last = 0L; v }
      else {
        val gap = v - last
        last = v
        if (gap == lastGap) 0L else { lastGap = gap; gap }
      }
    }
  }

  /** `packetPosEncoding: localIndex` decode (viewer/db.js:371-417): the
    * stored array is (marker, indexOffset, indexLength) triples; the
    * real positions live in a side index file as base-128 varints
    * (little-endian groups, high bit terminates a number), themselves
    * gap0-coded (varint 0 repeats the previous gap). `readIndex` fetches
    * `len` bytes at `off` from the marker's index file — injectable so
    * callers can route through [[PcapCrypto.readSlice]] or a cache.
    * Output shape matches gap0 decode: marker, then absolute positions.
    */
  def decodePacketPosLocalIndex(pos: Seq[Long],
      readIndex: (Long, Long, Long) => Array[Byte]): Seq[Long] = {
    val out = scala.collection.mutable.ArrayBuffer[Long]()
    var i = 0
    while (i + 3 <= pos.length) {
      val marker = pos(i)
      val bytes = readIndex(-marker, pos(i + 1), pos(i + 2))
      out += marker
      var last = 0L
      var lastGap = 0L
      var num = 0L
      var mult = 1L
      var j = 0
      while (j < bytes.length) {
        val x = bytes(j) & 0xff
        if ((x & 0x80) != 0) {
          num += (x & 0x7f).toLong * mult
          if (num != 0L) lastGap = num
          last += lastGap
          out += last
          num = 0L
          mult = 1L
        } else {
          num += x.toLong * mult
          mult *= 128L
        }
        j += 1
      }
      i += 3
    }
    out.toSeq
  }
}
