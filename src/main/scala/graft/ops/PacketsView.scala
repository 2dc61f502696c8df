package graft.ops

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.Dataset

import graft.etl.Decode
import graft.etl.Decode.DecodedPacket
import graft.etl.SessionBuilder.SessionRow

/** `GET /api/session/:node/:id/packets` — the session-detail packets
  * pane (apiSessions.js:2556-2570 getPackets → :481-580
  * localSessionDetail): the session's direction runs pushed through the
  * viewer's item pipeline (decode.js:850-892) — ITEM-HTTP message
  * splitting, the BODY-UNCOMPRESS/UNBASE64 decodes, ITEM-BYTES, one of
  * the four base renderers (hex / ascii / utf8 / natural,
  * decode.js:633-760) and the ts-stable ITEM-SORTER — plus the
  * `showFrames=true` per-packet frame listing (viewer/pcap.js:1037-1099
  * packetFlow).
  *
  * Like [[RawPackets]] and [[CyberChef]] this is an interactive
  * single-session fetch: seek-only blob reads on the calling thread,
  * capped at [[CyberChef.MaxPackets]]; no Spark job is launched. The
  * returned [[Rendered]] rows are exactly what the reference's
  * `sessionPackets.pug` template loops over.
  */
object PacketsView {

  /** One pipeline item (decode.js Pcap2ItemStream rows + the
    * ITEM-HTTP additions). `client` mirrors the reference's
    * `i % 2` flag: true = source direction. `bodyNum`/`bodyName` are
    * set only on HTTP body items (0/"" otherwise).
    */
  final case class Item(key: String, tsMs: Long, client: Boolean,
      data: Array[Byte], bodyNum: Int = 0, bodyName: String = "")

  /** A rendered pane row: `bytes` is ITEM-BYTES' pre-render length,
    * `html` the base renderer's output.
    */
  final case class Rendered(key: String, tsMs: Long, client: Boolean,
      bytes: Int, html: String, bodyNum: Int = 0, bodyName: String = "")

  /** One `showFrames` row (pcap.js packetFlow results). */
  final case class Frame(key: String, tsMs: Long, src: Boolean,
      data: Array[Byte], tcpflags: Option[Map[String, Boolean]])

  // -------------------------------------------------------- safeStr/html

  /** viewerUtils.js:476-483 — the escaping every renderer applies. */
  def safeStr(s: String): String = {
    val b = new StringBuilder(s.length + 16)
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '&' => b.append("&amp;")
        case '<' => b.append("&lt;")
        case '>' => b.append("&gt;")
        case '"' => b.append("&quot;")
        case '\'' => b.append("&#39;")
        case '/' => b.append("&#47;")
        case c => b.append(c)
      }
      i += 1
    }
    b.toString
  }

  /** ITEM-HEX (decode.js:633-679): 16 bytes per line, pairs spaced
    * every second byte, optional 8-digit zero-padded offsets, printable
    * column with the reference's exact `<=32 || >128 → '.'` rule.
    */
  def hexHtml(data: Array[Byte], showOffsets: Boolean): String = {
    val out = new StringBuilder("<pre>")
    var pos = 0
    while (pos < data.length) {
      val len = math.min(16, data.length - pos)
      if (showOffsets) {
        out.append("<span class=\"sessionln\">")
        val p = pos.toString
        var k = p.length; while (k < 8) { out.append('0'); k += 1 }
        out.append(p).append(":</span> ")
      }
      var i = 0
      while (i < 16) {
        if (i % 2 == 0 && i > 0) out.append(' ')
        if (i < len) {
          val v = data(pos + i) & 0xff
          out.append(Character.forDigit(v >> 4, 16))
            .append(Character.forDigit(v & 0xf, 16))
        } else out.append("  ")
        i += 1
      }
      out.append(' ')
      i = 0
      while (i < len) {
        val v = data(pos + i) & 0xff
        if (v <= 32 || v > 128) out.append('.')
        else out.append(safeStr(String.valueOf(v.toChar)))
        i += 1
      }
      out.append('\n')
      pos += 16
    }
    out.append("</pre>").toString
  }

  /** ITEM-ASCII: latin-1 view in a pre block (decode.js:750-755). */
  def asciiHtml(data: Array[Byte]): String =
    "<pre>" + safeStr(new String(data, StandardCharsets.ISO_8859_1)) + "</pre>"

  /** ITEM-UTF8 (decode.js:743-748). */
  def utf8Html(data: Array[Byte]): String =
    "<pre>" + safeStr(new String(data, StandardCharsets.UTF_8)) + "</pre>"

  /** ITEM-NATURAL: utf-8, newlines become breaks, no pre
    * (decode.js:756-761).
    */
  def naturalHtml(data: Array[Byte]): String =
    safeStr(new String(data, StandardCharsets.UTF_8))
      .replaceAll("\r?\n", "<br>")

  // ------------------------------------------------------- ITEM-HTTP

  /** ItemHTTPStream's engage test (decode.js:658-660 _shouldProcess via
    * ItemTransform's two-item peek): one of the first two runs starts
    * with `HTTP`.
    */
  private def looksHttp(chunks: IndexedSeq[RawPackets.Chunk]): Boolean =
    chunks.take(2).exists(c => c.data.length >= 4 &&
      c.data(0) == 'H' && c.data(1) == 'T' && c.data(2) == 'T' &&
      c.data(3) == 'P')

  /** Split the direction runs into HTTP header + body items
    * (ItemHTTPStream): each message yields its header block as one item
    * and, when a framed body exists, the de-chunked body as a second
    * item carrying `bodyNum`/`bodyName` (request-URI tail,
    * decode.js onHeadersComplete). Items inherit the ts of the run
    * containing their first byte.
    *
    * Divergence from the node stream plumbing (documented, deliberate):
    * when a message's headers span runs the reference's header item
    * carries only the final run's pre-body bytes (decode.js:612
    * `buf.slice(0, start)`); we emit the complete header block.
    * `decodes` is the BODY-* pipeline applied to body items
    * (needgzip → uncompress, like localSessionDetailReturn builds).
    */
  private[graft] def httpItems(chunks: IndexedSeq[RawPackets.Chunk],
      decodes: Array[Byte] => Array[Byte]): Seq[Item] = {
    // per-direction concatenated stream + run boundaries for ts lookup
    def dirRows(dir: Int): Seq[(Long, Array[Byte], Boolean)] = {
      val runs = chunks.zipWithIndex.filter(_._2 % 2 == dir).map(_._1)
        .filter(_.data.nonEmpty)
      if (runs.isEmpty) Seq.empty
      else {
        val stream = runs.map(_.data).reduce(_ ++ _)
        val bounds = runs.scanLeft(0L)(_ + _.data.length)
        def tsAt(off: Long): Long = {
          var i = 0
          while (i + 1 < bounds.length && bounds(i + 1) <= off) i += 1
          runs(math.min(i, runs.length - 1)).tsMs
        }
        graft.etl.HttpParser.displayItems(stream)
          .map { case (off, bytes, isBody) => (tsAt(off), bytes, isBody) }
      }
    }
    // request-URI tails name the bodies (decode.js onHeadersComplete's
    // shared bodyName register; the nth response pairs with the nth
    // request)
    val uriTails = graft.etl.HttpParser
      .requestUris(chunks.zipWithIndex.filter(_._2 % 2 == 0)
        .map(_._1.data).foldLeft(Array.emptyByteArray)(_ ++ _))
      .map(_.split("[/?=]").lastOption.getOrElse(""))
    var bodyNum = 0
    def emit(dir: Int, rows: Seq[(Long, Array[Byte], Boolean)],
        key: String): Seq[Item] = {
      var msgIdx = -1
      rows.map { case (ts, d, isBody) =>
        if (!isBody) { msgIdx += 1; Item(key, ts, dir == 0, d) }
        else {
          bodyNum += 1
          Item(key, ts, dir == 0, decodes(d), bodyNum,
            uriTails.lift(msgIdx).getOrElse(""))
        }
      }
    }
    val srcKey = chunks.zipWithIndex
      .find(c => c._2 % 2 == 0 && c._1.key.nonEmpty).map(_._1.key)
      .getOrElse("")
    val dstKey = chunks.zipWithIndex
      .find(c => c._2 % 2 == 1 && c._1.key.nonEmpty).map(_._1.key)
      .getOrElse("")
    emit(0, dirRows(0), srcKey) ++ emit(1, dirRows(1), dstKey)
  }

  // ---------------------------------------------------------- pipeline

  /** Run the item pipeline over a session's direction runs:
    * ITEM-HTTP splitting when the conversation looks like HTTP,
    * ITEM-BYTES, the chosen base renderer, ITEM-SORTER's (ts, arrival)
    * stable order. `base` ∈ hex | ascii | utf8 | natural;
    * `showOffsets` = the reference's `line=true`.
    */
  def render(chunks: IndexedSeq[RawPackets.Chunk], base: String,
      showOffsets: Boolean = false,
      needgzip: Boolean = false): Seq[Rendered] = {
    val decodes: Array[Byte] => Array[Byte] =
      if (needgzip) DisplayDecode.uncompress else identity
    val items: Seq[Item] = itemsOf(chunks, decodes)
    val rendered = items.map { it =>
      val html = base match {
        case "hex" => hexHtml(it.data, showOffsets)
        case "ascii" => asciiHtml(it.data)
        case "utf8" => utf8Html(it.data)
        case _ => naturalHtml(it.data)
      }
      Rendered(it.key, it.tsMs, it.client, it.data.length, html,
        it.bodyNum, it.bodyName)
    }
    // ITEM-SORTER: ts, then arrival position (decode.js:682-706)
    rendered.zipWithIndex
      .sortBy { case (r, pos) => (r.tsMs, pos) }.map(_._1)
  }

  private def itemsOf(chunks: IndexedSeq[RawPackets.Chunk],
      decodes: Array[Byte] => Array[Byte]): Seq[Item] =
    if (looksHttp(chunks)) httpItems(chunks, decodes)
    else chunks.zipWithIndex.map { case (c, i) =>
      Item(c.key, c.tsMs, i % 2 == 0, c.data)
    }

  /** The packets pane's file-download link:
    * `GET /api/session/:node/:id/body/:bodyType/:bodyNum/:bodyName`
    * (apiSessions.js:323-371 reqGetRawBody — the same item pipeline
    * with ITEM-RAWBODY keeping only the item whose body ordinal equals
    * `bodyNum`). Returns that body's (bodyName, bytes); None is the
    * reference's 'No match'. `needgzip` = BODY-UNCOMPRESS, exactly as
    * in [[render]]. Ordinals are the 1-based `bodyNum` values
    * [[render]] stamped on the pane the link came from.
    */
  def body(sessions: Dataset[SessionRow], sessionId: String, bodyNum: Int,
      needgzip: Boolean = false,
      keys: String => graft.etl.PcapCrypto.FileKeys = _ => graft.etl.PcapCrypto.Normal,
      store: graft.etl.PcapStore.Store = graft.etl.PcapStore.Local): Option[(String, Array[Byte])] = {
    val decodes: Array[Byte] => Array[Byte] =
      if (needgzip) DisplayDecode.uncompress else identity
    itemsOf(RawPackets.sessionChunks(sessions, sessionId, keys, store),
      decodes)
      .find(it => it.bodyNum == bodyNum && bodyNum > 0)
      .map(it => (it.bodyName, it.data))
  }

  /** `GET /api/session/:node/:id/bodypng/...` (viewer.js:1786): the
    * body's bytes as the grayscale bitmap, empty placeholder on miss;
    * `needgzip` decodes compressed bodies exactly as the /body twin
    * does, so the bitmap shows the bytes the pane shows.
    */
  def bodyPng(sessions: Dataset[SessionRow], sessionId: String,
      bodyNum: Int, needgzip: Boolean = false,
      keys: String => graft.etl.PcapCrypto.FileKeys = _ => graft.etl.PcapCrypto.Normal,
      store: graft.etl.PcapStore.Store = graft.etl.PcapStore.Local): Array[Byte] =
    body(sessions, sessionId, bodyNum, needgzip, keys, store)
      .map(b => RawPackets.renderPng(Seq(b._2)))
      .getOrElse(RawPackets.emptyPng)

  /** The endpoint: fetch + divide + render one stored session. */
  def packets(sessions: Dataset[SessionRow], sessionId: String,
      base: String = "natural", showOffsets: Boolean = false,
      needgzip: Boolean = false,
      keys: String => graft.etl.PcapCrypto.FileKeys = _ => graft.etl.PcapCrypto.Normal,
      store: graft.etl.PcapStore.Store = graft.etl.PcapStore.Local): Seq[Rendered] =
    render(RawPackets.sessionChunks(sessions, sessionId, keys, store),
      base, showOffsets, needgzip)

  // --------------------------------------------------------- showFrames

  /** pcap.js:1037-1099 packetFlow — the per-packet frame view: every
    * packet's direction key, ms timestamp, src flag (matched against
    * the session's source key; non-TCP anchors on the first packet like
    * the reference), payload, and TCP flag map. Returns
    * (frames, sourceKey, destinationKey).
    */
  def packetFlow(packets: IndexedSeq[DecodedPacket], srcKey: String,
      numPackets: Int = 200): (Seq[Frame], String, String) = {
    val slice = packets.take(numPackets)
    if (slice.isEmpty) return (Seq.empty, srcKey, "")
    def keyOf(p: DecodedPacket): String =
      if (p.ipProtocol == 1 || p.ipProtocol == 58) p.srcIp
      else s"${p.srcIp}:${p.srcPort}"
    val sKey = if (slice.head.ipProtocol == 6) srcKey else keyOf(slice.head)
    var dKey = ""
    val frames = slice.map { p =>
      val k = keyOf(p)
      val src = k == sKey
      if (!src && dKey.isEmpty) dKey = k
      val flags =
        if (p.ipProtocol == 6) Some(Map(
          "syn" -> ((p.tcpFlags & Decode.TH_SYN) != 0),
          "ack" -> ((p.tcpFlags & Decode.TH_ACK) != 0),
          "psh" -> ((p.tcpFlags & Decode.TH_PSH) != 0),
          "rst" -> ((p.tcpFlags & Decode.TH_RST) != 0),
          "fin" -> ((p.tcpFlags & Decode.TH_FIN) != 0),
          "urg" -> ((p.tcpFlags & Decode.TH_URG) != 0)))
        else None
      Frame(k, p.tsMicros / 1000L, src, p.payload, flags)
    }
    (frames, sKey, dKey)
  }

  /** `showFrames=true` over a stored session. */
  def frames(sessions: Dataset[SessionRow], sessionId: String,
      numPackets: Int = 200,
      keys: String => graft.etl.PcapCrypto.FileKeys = _ => graft.etl.PcapCrypto.Normal,
      store: graft.etl.PcapStore.Store = graft.etl.PcapStore.Local): (Seq[Frame], String, String) = {
    val segs = sessions.filter(_.sessionId == sessionId)
      .collect().sortBy(_.segmentSeq)
    if (segs.isEmpty) return (Seq.empty, "", "")
    val s0 = segs.head
    val pkts = CyberChef.readSessionPackets(segs.toIndexedSeq, keys, store)
    packetFlow(pkts, s"${s0.srcIp}:${s0.srcPort}", numPackets)
  }
}
