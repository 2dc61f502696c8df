package graft.etl

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.functions.CommunityId
import graft.model.Fixtures
import Decode.DecodedPacket

/** Sessionization: decoded packets → one row per flow segment.
  *
  * Reference semantics (capture/session.c):
  *   - session key = protocol-normalized 5-tuple with the two endpoints
  *     ordered canonically (session.c:61-112);
  *   - source/destination = the first packet's direction (packet.c:203-225);
  *   - inactivity timeouts split a key's packet run into segments
  *     (ICMP 10 s, UDP 60 s, TCP 480 s — config.c:518-523), and a segment
  *     is also cut at `maxPackets` (10,000 — config.c:526);
  *   - tcpflags counting per parsers/tcp.c:140-225 (window-zero per
  *     direction excl. RST; URG; SYN / SYN-ACK; RST early-returns; FIN;
  *     bare-ACK; PSH — SYN packets count nothing else);
  *   - src/dstPayload8 = first 8 reassembled payload bytes per direction
  *     (moloch.h firstBytes);
  *   - initRTT = half the first-SYN→first-bare-ACK delta in ms
  *     (db.c:670 (ackTime-synTime)/2000); -1 when either side is absent.
  *
  * Distribution: `groupByKey(sessionKey)` is the Spark analogue of the
  * reference's `hash(sessionId) % packetThreads` routing (packet.c:1316) —
  * one shuffle, then per-key streaming aggregation. Payload bytes cross
  * the shuffle once; everything downstream is columnar session rows.
  */
object SessionBuilder {

  /** Canonical session key: ordered endpoints, like the reference's
    * 13/37-byte sessionId. IGMP/OSPF/PIM lump all traffic into one
    * session per protocol, exactly as the reference does
    * (capture/parsers/{igmp,ospf,pim}.c: "lump all … into the same
    * session").
    */
  def sessionKey(p: DecodedPacket): String =
    if (p.keyOverride != null) p.keyOverride
    else p.ipProtocol match {
      case 2 | 89 | 103 => s"${p.ipProtocol}|lumped"
      case _ =>
        // one builder, no intermediate interpolated strings — per-packet hot
        val sb = new java.lang.StringBuilder(
          p.srcIp.length + p.dstIp.length + 18)
        val a = p.srcIp + ":" + p.srcPort
        val b = p.dstIp + ":" + p.dstPort
        sb.append(p.ipProtocol).append('|')
        if (a <= b) sb.append(a).append('|').append(b)
        else sb.append(b).append('|').append(a)
        sb.toString
    }

  /** Inactivity timeouts. `icmpTimeoutSecs` defaults to the reference's
    * test configuration (tests/config.test.ini icmpTimeout=60, which its
    * golden fixtures encode); the production default is 10
    * (capture/config.c:518).
    */
  def timeoutSecs(ipProtocol: Int, icmpTimeoutSecs: Long = 60L): Long =
    ipProtocol match {
      case 1 | 58 => icmpTimeoutSecs
      case 17     => 60L   // udp
      case 6      => 480L  // tcp
      case 132    => 60L   // sctp
      case 50     => 600L  // esp
      case 0      => Long.MaxValue / 2000000L // ether sessions never split
      case _      => 600L
    }

  val MaxPackets = 10000

  final case class SessionRow(
      sessionId: String,
      node: String,
      firstPacket: Long, // epoch ms
      lastPacket: Long,
      length: Long, // duration ms
      ipProtocol: Int,
      srcIp: String, srcPort: Int,
      srcPackets: Long, srcBytes: Long, srcDataBytes: Long,
      srcMac: Seq[String],
      dstIp: String, dstPort: Int,
      dstPackets: Long, dstBytes: Long, dstDataBytes: Long,
      dstMac: Seq[String],
      // bundled-dimension enrichment at save, as capture/db.c:695-780
      // emits srcRIR/dstRIR/srcOui/dstOui/geo/as
      srcRIR: String, dstRIR: String,
      srcOui: Seq[String], dstOui: Seq[String],
      srcCountry: String, dstCountry: String,
      srcAsn: String, dstAsn: String,
      totPackets: Long, totBytes: Long, totDataBytes: Long,
      tcpflagsSyn: Int, tcpflagsSynAck: Int, tcpflagsAck: Int,
      tcpflagsPsh: Int, tcpflagsRst: Int, tcpflagsFin: Int,
      tcpflagsUrg: Int, tcpflagsSrcZero: Int, tcpflagsDstZero: Int,
      srcPayload8: String, dstPayload8: String,
      initRTT: Long,
      communityId: String,
      protocol: Seq[String],
      tags: Seq[String],
      fileId: Seq[String],
      // primitive arrays, not Seq: these are the only per-PACKET columns
      // (hundreds of elements per row), and the Catalyst encoder writes a
      // primitive array as one bulk copy where a Seq walks a boxed
      // element loop — the row-encode leg of ingest measured ~20% of
      // sessionize wall before this change. SQL schema is identical
      // (array<bigint>/array<int>).
      packetPos: Array[Long], packetLen: Array[Int],
      // per-packet index into fileId — the flat analogue of the
      // reference's negative file markers inside packetPos
      // (viewer/apiSessions.js:1122-1125); lets consumers (hunts, packet
      // detail) seek (file, offset, len) without re-reading whole files
      packetFileIdx: Array[Int],
      segmentCnt: Int, segmentSeq: Int,
      socksIp: String, socksHost: String, socksPort: Int,
      socksUser: Seq[String],
      // tests/plugins/test.c pre-save fields (sessions from 10.0.0.1)
      testIp: Seq[String], testNumber: Seq[Long], testString: Seq[String],
      testAsn: Seq[String], testGeo: Seq[String], testRir: Seq[String],
      httpMethod: Seq[String], httpUri: Seq[String], httpHost: Seq[String],
      httpStatuscode: Seq[Int], httpUseragent: Seq[String],
      httpPath: Seq[String], httpKey: Seq[String], httpValue: Seq[String],
      httpRequestHeader: Seq[String], httpResponseHeader: Seq[String],
      httpReferer: Seq[String], httpLocation: Seq[String],
      httpCookieKey: Seq[String], httpCookieValue: Seq[String],
      httpMd5: Seq[String],
      httpClientVersion: Seq[String], httpServerVersion: Seq[String],
      httpBodyMagic: Seq[String],
      httpRequestHeaderField: Seq[String], httpRequestHeaderValue: Seq[String],
      httpResponseHeaderField: Seq[String], httpResponseHeaderValue: Seq[String],
      httpUser: Seq[String], httpAuthType: Seq[String],
      httpAuthorization: Seq[String],
      dnsQname: Seq[String], dnsQtype: Seq[String], dnsRcode: Seq[String],
      dnsOpcode: Seq[String], dnsQclass: Seq[String], dnsIp: Seq[String],
      dnsMailserverHost: Seq[String], dnsNameserverHost: Seq[String],
      dnsNameserverIp: Seq[String], dnsMailserverIp: Seq[String],
      // per-ip enrichment arrays aligned with their ip arrays, rendered
      // exactly as db.c:1088-1152 ("---" for unknown ASN/GEO, "" RIR)
      dnsAsn: Seq[String], dnsGeo: Seq[String], dnsRir: Seq[String],
      dnsNameserverAsn: Seq[String], dnsNameserverGeo: Seq[String],
      dnsNameserverRir: Seq[String],
      dnsMailserverAsn: Seq[String], dnsMailserverGeo: Seq[String],
      dnsMailserverRir: Seq[String],
      emailAsn: Seq[String], emailGeo: Seq[String], emailRir: Seq[String],
      greIp: Seq[String], greAsn: Seq[String], greGeo: Seq[String],
      greRir: Seq[String],
      httpXffIp: Seq[String], httpXffAsn: Seq[String],
      httpXffGeo: Seq[String], httpXffRir: Seq[String],
      dnsPuny: Seq[String], dhcpOui: Seq[String], isisMsgType: Seq[String],
      httpSha256: Seq[String], httpRequestBody: Seq[String],
      emailMd5: Seq[String], emailSha256: Seq[String],
      emailFilename: Seq[String], emailBodyMagic: Seq[String],
      socksAsn: String, socksGeo: String, socksRir: String,
      radiusFramedAsn: Seq[String], radiusFramedGeo: Seq[String],
      radiusFramedRir: Seq[String],
      tlsVersion: Seq[String], tlsCipher: Seq[String],
      tlsJa3: Seq[String], tlsJa3String: Seq[String],
      tlsJa3s: Seq[String], tlsJa3sString: Seq[String],
      tlsSrcSessionId: Seq[String], tlsDstSessionId: Seq[String],
      sshVersion: Seq[String], sshHassh: Seq[String],
      sshHasshServer: Seq[String], sshKey: Seq[String],
      dhcpId: Seq[String], dhcpMac: Seq[String], dhcpType: Seq[String],
      dhcpHost: Seq[String],
      smtpHello: Seq[String], emailSrc: Seq[String], emailDst: Seq[String],
      emailSubject: Seq[String], emailContentType: Seq[String],
      emailMimeVersion: Seq[String], emailHeader: Seq[String],
      emailHeaderField: Seq[String], emailHeaderValue: Seq[String],
      emailHeaderTrace: Seq[String],
      emailId: Seq[String], emailHost: Seq[String],
      emailIp: Seq[String], emailUseragent: Seq[String],
      cert: Seq[CertParser.CertInfo],
      vlanId: Seq[Int],
      ircNick: Seq[String], ircChannel: Seq[String],
      pgUser: String, pgDb: String, pgApp: String,
      mysqlVersion: String, mysqlUser: String,
      krb5Realm: Seq[String], krb5Cname: Seq[String], krb5Sname: Seq[String],
      ldapAuthtype: Seq[String], ldapBindname: Seq[String],
      quicHost: Seq[String], quicUseragent: Seq[String], quicVersion: Seq[String],
      smbDomain: Seq[String], smbUser: Seq[String], smbHost: Seq[String],
      smbOs: Seq[String], smbVersion: Seq[String], smbShare: Seq[String],
      smbFilename: Seq[String],
      icmpType: Seq[Int], icmpCode: Seq[Int],
      bgpType: Seq[String],
      user: Seq[String],
      oracleUser: String, oracleHost: String, oracleService: String,
      radiusUser: Seq[String], radiusFramedIp: Seq[String],
      radiusMac: Seq[String]) {

    // packetPos/packetLen/packetFileIdx are primitive arrays (one bulk
    // copy in the Catalyst encoder), which would make the synthesized
    // case-class equals/hashCode compare those three fields by REFERENCE
    // — a `row == row`, `Set[SessionRow]`, or `.distinct` over rebuilt
    // rows would silently mismatch. Override with content comparison so
    // value semantics hold for every field.
    override def equals(other: Any): Boolean = other match {
      case that: SessionRow =>
        productIterator.zip(that.productIterator).forall {
          case (a, b) => java.util.Objects.deepEquals(a, b)
        }
      case _ => false
    }
    override def hashCode(): Int =
      productIterator.foldLeft(0) { (h, v) =>
        31 * h + (v match {
          // generic arm: deepHashCode handles EVERY array kind (primitive
          // or ref), keeping this consistent with deepEquals above even if
          // a future field adds e.g. Array[Byte] — a per-type match would
          // silently fall through to identity hashCode instead
          case a: Array[_] =>
            java.util.Arrays.deepHashCode(Array[AnyRef](a))
          case null        => 0
          case x           => x.hashCode
        })
      }
  }

  /** Reassemble one direction's TCP payload stream: order by sequence
    * number (handling 32-bit wrap relative to the first seq), drop
    * duplicate retransmissions, concatenate. The reference does this
    * incrementally in parsers/tcp.c:228-336; offline we can sort-merge.
    */
  def reassemble(packets: Seq[DecodedPacket]): Array[Byte] = {
    val withPayload = packets.filter(_.payload.nonEmpty)
    if (withPayload.isEmpty) return Array.empty
    // exact-size concat for the non-tcp path: the old pairwise ++ fold
    // re-copied the prefix per datagram (quadratic on chatty UDP flows)
    var cap = 0
    withPayload.foreach(cap += _.payload.length)
    if (withPayload.head.ipProtocol != 6) {
      val flat = new Array[Byte](cap)
      var o = 0
      withPayload.foreach { p =>
        System.arraycopy(p.payload, 0, flat, o, p.payload.length)
        o += p.payload.length
      }
      return flat
    }
    // anchor at the handshake when captured: stream start = SYN seq + 1
    // (parsers/tcp.c:166-199 sets tcpSeq from the SYN); a mid-stream
    // first payload packet (http-tcp-seq-issue golden) would otherwise
    // wrongly become the base and wrap earlier-seq packets to the end
    val base = packets.find(p => (p.tcpFlags & Decode.TH_SYN) != 0)
      .map(p => (p.tcpSeq + 1) & 0xffffffffL)
      .getOrElse(withPayload.head.tcpSeq)
    def rel(seq: Long): Long = (seq - base) & 0xffffffffL
    val sorted = withPayload.sortBy(p => (rel(p.tcpSeq), p.index))
    // delivered bytes ≤ cap (the payload sum), so the stream assembles
    // into one pre-sized array — no growth cycles, no synchronized
    // ByteArrayOutputStream writes, and zero copies on the common
    // nothing-dropped stream (the trim copy only fires after a
    // retransmission or pre-base drop)
    val buf = new Array[Byte](cap)
    var written = 0
    var nextRel = 0L
    sorted.foreach { p =>
      val r = rel(p.tcpSeq)
      val len = p.payload.length.toLong
      // bytes BEFORE the stream base wrap to ~2^32 (a keep-alive probe
      // at seq base-1) — dropping them keeps them off the stream tail,
      // where they corrupted dataBytes/payload8/body digests
      if (r >= (1L << 31)) ()
      else if (r >= nextRel) {
        System.arraycopy(p.payload, 0, buf, written, len.toInt)
        written += len.toInt
        nextRel = r + len
      } else if (r + len > nextRel) { // partial overlap: new suffix only
        val n = (r + len - nextRel).toInt
        System.arraycopy(p.payload, (nextRel - r).toInt, buf, written, n)
        written += n
        nextRel = r + len
      } // else: full retransmission, drop
    }
    if (written == cap) buf else java.util.Arrays.copyOf(buf, written)
  }

  /** Per-packet DELIVERED chunks: the same base / ordering / overlap
    * trimming as [[reassemble]], but each contributing packet's bytes
    * stay their own chunk tagged with the packet's capture index — the
    * unit the reference's tcp.c hands to classifiers and parsers
    * (tcp.c:102-117). The TLS walker needs this: the reference parses
    * the ClientHello from its classify PACKET only and drains its
    * server buffer at most one record per packet, so chunk boundaries
    * are semantics, not plumbing.
    */
  def deliveredChunks(packets: Seq[DecodedPacket]): Seq[(Long, Array[Byte])] = {
    val withPayload = packets.filter(_.payload.nonEmpty)
    if (withPayload.isEmpty) return Nil
    if (withPayload.head.ipProtocol != 6)
      return withPayload.map(p => (p.index.toLong, p.payload)).toSeq
    val base = packets.find(p => (p.tcpFlags & Decode.TH_SYN) != 0)
      .map(p => (p.tcpSeq + 1) & 0xffffffffL)
      .getOrElse(withPayload.head.tcpSeq)
    def rel(seq: Long): Long = (seq - base) & 0xffffffffL
    val sorted = withPayload.sortBy(p => (rel(p.tcpSeq), p.index))
    val out = Seq.newBuilder[(Long, Array[Byte])]
    var nextRel = 0L
    sorted.foreach { p =>
      val r = rel(p.tcpSeq)
      val len = p.payload.length.toLong
      if (r >= (1L << 31)) () // pre-base bytes, same drop as reassemble
      else if (r >= nextRel) {
        out += ((p.index.toLong, p.payload))
        nextRel = r + len
      } else if (r + len > nextRel) { // partial overlap: new suffix only
        out += ((p.index.toLong, java.util.Arrays.copyOfRange(
          p.payload, (nextRel - r).toInt, p.payload.length)))
        nextRel = r + len
      } // else: full retransmission, drop
    }
    out.result()
  }

  /** Build the session rows for one key's packets (already sorted).
    *
    * Segment boundaries replicate the reference's offline clock model
    * (capture/session.c:508-541): its timers compare against
    * `lastPacketSecs` — the timestamp of the previously PROCESSED packet
    * (any flow), not wall-clock — so an idle gap only splits a session
    * when some intervening packet advanced the clock past the deadline.
    * Here `clock(i)` = max(own previous packet ts, file-order predecessor
    * ts), and the boundary rules are:
    *   - idle save: own lastPacket + type timeout < clock → new session
    *     before packet i (sessionsQ scan, session.c:517-529);
    *   - tcp mid-save: segment start + tcpSaveTimeout(480 s) < clock →
    *     segment boundary before i (tcpWriteQ, session.c:534-541);
    *   - maxPackets (10 000) per segment (packet.c:303);
    *   - tcp port reuse: a SYN (no ACK) after the segment saw RST or both
    *     FINs starts a new session (parsers/tcp.c:368, closingQ);
    *   - BGP keepalive queue: parsers/bgp.c re-arms a 5 s timer on every
    *     BGP message; when a packet arrives past the deadline the session
    *     mid-saves WITH that packet (pq fires before processing, save
    *     runs after — packet.c:190,303), so the boundary falls after it.
    */
  def buildSessions(key: String, packets: Iterator[DecodedPacket],
      node: String, testRules: Boolean = false,
      yaraRules: Seq[graft.ops.Yara.Rule] = Nil): Iterator[SessionRow] =
    buildSessionsCarry(key, packets, node, testRules, yaraRules, None)
      ._1.iterator

  /** Cross-slice session state for the STREAMING sessionizer
    * ([[graft.streaming.StreamSessionize]]): what a mid-save flush
    * boundary must not lose — the batch builder keeps all of this as
    * locals because it sees the whole packet list at once.
    */
  final case class GroupCarry(
      // orientation, fixed at session creation
      cliIp: String, cliPort: Int, srvIp: String, srvPort: Int,
      // a SYN was seen in the open group (tcp delivery anchor + BGP gate)
      synSeen: Boolean,
      // walk flag state at the slice edge, for port-reuse detection.
      // finDirs bits are measured against (finRefIp, finRefPort): the
      // reference endpoint must stay FIXED across slices or one
      // endpoint's FINs land on both bits (fake close) / one bit
      // (missed close) — see the walk's finRef seeding.
      rstSeen: Boolean, finDirs: Int,
      finRefIp: String, finRefPort: Int,
      // a port-reuse split was pending when the slice ended (the bare
      // SYN was the slice's last packet): the next slice starts a new
      // session (splitAfterPrevNew, closingQ semantics)
      splitPendingNew: Boolean,
      // accumulators of the open group (protocols/macs/firstBytes
      // survive mid-saves — db.c keeps them on the session)
      protoAcc: Seq[String], srcMacAcc: Seq[String], dstMacAcc: Seq[String],
      src8Acc: String, dst8Acc: String,
      // session-start µs (firstPacket survives mid-saves), emitted
      // segment count, and the port-reuse ordinal of the open group
      firstTsMicros: Long, segBase: Int, reuseBase: Int,
      // BGP 5 s pq timer state: classification and the last-data
      // timestamp the pq deadline is measured from must survive a flush
      // or a long BGP session's keepalive saves restart their clock at
      // every flush edge (parsers/tcp.c:229 pq re-arm).
      // Known residue: when the pq fires on a slice's LAST packet, the
      // flush boundary realizes the segment split itself, but the
      // reference's save-before-processing placement (that packet's
      // flags/payload deferring into the NEXT save, deferTail/carryIn)
      // is not carried — the packet counts fully in the flushed row.
      // Carrying it would require the batch walk's final segment to
      // defer a packet that, at end-of-capture, has no next save to land
      // in; this one-packet placement skew at a >5 s-gap flush edge
      // stays in the documented flush-residue class instead.
      bgpActive: Boolean = false, bgpArmedTs: Long = -1L)

  /** [[buildSessions]] with explicit cross-call state: `carry` seeds the
    * open group (orientation, accumulators, flag state, ordinals) and
    * the returned carry reflects the LAST group after this slice, ready
    * for the next flush. Semantics with `carry = None` are exactly the
    * batch builder's (the public overload delegates here).
    *
    * Boundary port reuse: a slice that STARTS with a bare SYN while the
    * carried state shows a FIN-closed or RST-closed stream starts a new
    * session (new `|rN` suffix, fresh accumulators). In the FIN case the
    * batch walk files that SYN inside the OLD session's final segment
    * (closingQ semantics) — at a flush boundary that segment is already
    * emitted, so the SYN opens the new group directly; the one-packet
    * placement difference is the documented stream-vs-batch residue.
    */
  def buildSessionsCarry(key: String, packets: Iterator[DecodedPacket],
      node: String, testRules: Boolean = false,
      yaraRules: Seq[graft.ops.Yara.Rule] = Nil,
      carry: Option[GroupCarry]): (Seq[SessionRow], Option[GroupCarry]) = {
    // arrival order (file, index), not timestamp order: the reference
    // processes packets as captured, so a response recorded before its
    // query (dns-flags0110) makes the RESPONDER the session source
    val sorted = packets.toArray.sortBy(p => (p.file, p.index))
    if (sorted.isEmpty) return (Nil, carry)
    val head = sorted.head
    val timeoutUs = timeoutSecs(head.ipProtocol) * 1000000L
    val saveTimeoutUs = 480L * 1000000L
    val bgpPqUs = 5L * 1000000L
    val isTcp = head.ipProtocol == 6 && head.keyOverride == null
    // BGP classification gates on a seen SYN: without one the reference's
    // TCP parser has no sequence base, never delivers data to classifiers,
    // and the 5 s keepalive queue never arms (parsers/tcp.c:229,368) —
    // mid-capture BGP flows stay plain 'tcp' and never mid-save.
    // mid-stream slices (streaming flush) may start with the SERVER's
    // packet or already-classified carry, so either port or a carried
    // classification qualifies; the sawSyn + marker gates below keep
    // false positives out
    val mayBgp = isTcp && (head.dstPort == 179 || head.srcPort == 179 ||
      carry.exists(_.bgpActive))
    // 19-byte floor: both bgp_tcp_classify and bgp_parser refuse a
    // marker without the length+type header (bgp.c:27,41) — a 16-18
    // byte all-ff payload neither registers nor arms the pq
    def bgpMarker(p: DecodedPacket): Boolean =
      p.payload.length >= 19 && p.payload.take(16).forall(_ == -1)
    // Each emitted slice is tagged with whether it STARTS A NEW SESSION
    // (idle-timeout save+free, port-reuse) or continues the previous one
    // as a mid-save segment (tcpSaveTimeout, maxPackets, BGP pq). The
    // distinction matters because session state — firstPacket, protocols,
    // macs, firstBytes, segment ordinals, orientation — survives
    // mid-saves but resets on a genuinely new session (gtp-iphone's
    // port-reused SIP flow is three sessions of segmentCnt 1, while
    // long-session is one session whose saves count 1, 2, …).
    // third element: BGP-pq cut — the slice's LAST packet is the one
    // whose arrival fired the 5 s pq. The reference saves BEFORE
    // processing it (packet.c:190), so that packet's wire counters land
    // in the old save while its tcp flags and payload are processed into
    // the next one (cloudshark-bgp-md5: seg1 has 14 packets but only 8
    // psh / 102+102 databytes; the 15th packet's psh+19 bytes open seg2).
    // boundary port reuse vs the CARRIED stream state: the slice's very
    // first packet is a bare SYN against a closed (FIN both dirs / RST)
    // carried connection → this slice opens a NEW session
    val headSynNoAck = isTcp && (head.tcpFlags & Decode.TH_SYN) != 0 &&
      (head.tcpFlags & Decode.TH_ACK) == 0
    val boundaryReuse = carry.exists(c =>
      // the pending split from the previous slice (its last packet was
      // the reuse SYN) cuts unconditionally; otherwise the slice's own
      // first packet being a bare SYN against a closed stream does
      c.splitPendingNew || (headSynNoAck && (c.finDirs == 3 || c.rstSeen)))
    // the open group continues into this slice unless boundary reuse cut it
    val continuing = carry.isDefined && !boundaryReuse
    val segments = Seq.newBuilder[(Array[DecodedPacket], Boolean, Boolean)]
    var curSegNew = true // the first slice always opens a session
    var start = 0
    var rstSeen = if (continuing) carry.get.rstSeen else false
    var finDirs = if (continuing) carry.get.finDirs else 0
    var sawSyn = continuing && carry.get.synSeen
    var bgpActive = continuing && carry.get.bgpActive
    // ts of last BGP data packet (pq deadline base); carried across
    // flushes so the 5 s keepalive-save clock spans slice edges
    var bgpArmedTs = if (continuing) carry.get.bgpArmedTs else -1L
    var splitAfterPrevNew = false // port reuse after FIN close
    var splitAfterPrevMid = false // BGP pq fired
    // FIN-direction reference: carried across slices so both slices
    // label a given endpoint with the SAME bit; fresh sessions anchor it
    // like the orientation (synAckSwap-adjusted first packet)
    val (finRefIp, finRefPort) =
      if (continuing && carry.get.finRefIp != null)
        (carry.get.finRefIp, carry.get.finRefPort)
      else if (isTcp &&
        (head.tcpFlags & (Decode.TH_SYN | Decode.TH_ACK)) ==
          (Decode.TH_SYN | Decode.TH_ACK))
        (head.dstIp, head.dstPort)
      else (head.srcIp, head.srcPort)
    def noteFlags(p: DecodedPacket): Unit = if (isTcp) {
      if ((p.tcpFlags & Decode.TH_RST) != 0) rstSeen = true
      if ((p.tcpFlags & Decode.TH_FIN) != 0)
        finDirs |= (if (p.srcIp == finRefIp && p.srcPort == finRefPort) 1 else 2)
    }
    def noteBgp(p: DecodedPacket): Unit = if (mayBgp) {
      if ((p.tcpFlags & Decode.TH_SYN) != 0) sawSyn = true
      if (sawSyn && !bgpActive && bgpMarker(p)) bgpActive = true
      if (bgpActive && p.payload.nonEmpty) bgpArmedTs = p.tsMicros
    }
    noteFlags(head)
    // a carried pq deadline can fire on the slice's FIRST packet — the
    // in-loop check below only sees packets 1…n
    if (bgpActive && bgpArmedTs >= 0 && head.tsMicros > bgpArmedTs + bgpPqUs) {
      splitAfterPrevMid = true
      bgpArmedTs = -1L
    }
    noteBgp(head)
    var i = 1
    while (i < sorted.length) {
      val cur = sorted(i)
      val clock = math.max(sorted(i - 1).tsMicros, cur.prevTsMicros)
      val synNoAck = isTcp && (cur.tcpFlags & Decode.TH_SYN) != 0 &&
        (cur.tcpFlags & Decode.TH_ACK) == 0
      // Both the flow's own gap AND the processed-packet clock must pass
      // the deadline: merged captures with non-monotonic timestamps would
      // otherwise inflate the clock and split flows the reference keeps.
      val newBoundary =
        splitAfterPrevNew ||
          (cur.tsMicros - sorted(i - 1).tsMicros > timeoutUs &&
            sorted(i - 1).tsMicros + timeoutUs < clock) ||
          (synNoAck && rstSeen)
      val midBoundary =
        splitAfterPrevMid ||
          (isTcp && cur.tsMicros - sorted(start).tsMicros > saveTimeoutUs &&
            sorted(start).tsMicros + saveTimeoutUs < clock) ||
          i - start >= MaxPackets
      if (newBoundary || midBoundary) {
        segments += ((java.util.Arrays.copyOfRange(sorted, start, i), curSegNew,
          splitAfterPrevMid))
        curSegNew = newBoundary
        start = i
        rstSeen = false; finDirs = 0
        splitAfterPrevNew = false; splitAfterPrevMid = false
        if (newBoundary) {
          // idle save + free / port reuse: parser state dies with the
          // old session
          sawSyn = false; bgpActive = false; bgpArmedTs = -1L
        }
      } else if (synNoAck && finDirs == 3) {
        // Port reuse after a FIN-closed connection: the SYN still finds
        // the old session in the closing queue and joins it; the flush
        // then runs before the SYN-ACK, so the NEW session starts after
        // the SYN (gtp-iphone golden; closingQ, capture/session.c:220-232).
        // RST-closed sessions instead split before the SYN
        // (parsers/tcp.c:368 pre-process retry).
        splitAfterPrevNew = true
        rstSeen = false; finDirs = 0
      }
      noteFlags(cur)
      if (bgpActive && bgpArmedTs >= 0 && cur.tsMicros > bgpArmedTs + bgpPqUs) {
        splitAfterPrevMid = true // pq fired: this packet closes the segment
        bgpArmedTs = -1L
      }
      noteBgp(cur)
      i += 1
    }
    segments += ((java.util.Arrays.copyOfRange(sorted, start, sorted.length),
      curSegNew, false))
    // group mid-save segments under the session that opened them: each
    // group is one reference session; its segments share session state
    val groups = {
      val gs = scala.collection.mutable.ArrayBuffer[
        scala.collection.mutable.ArrayBuffer[(Array[DecodedPacket], Boolean)]]()
      segments.result().foreach { case (s, isNew, pqCut) =>
        if (isNew || gs.isEmpty)
          gs += scala.collection.mutable.ArrayBuffer((s, pqCut))
        else gs.last += ((s, pqCut))
      }
      gs.map(_.toSeq).toSeq
    }
    // Per group (= one reference session): protocol tags, macs and
    // firstBytes accumulate across that session's mid-save segments
    // (long-session's RST-only segment still carries http and both dst
    // macs); firstPacket and length span from the SESSION's first packet
    // (db.c: firstPacket survives mid-saves, packets/bytes reset);
    // segmentCnt is the save ordinal (1, 2, …); orientation is fixed at
    // session creation. Port-reused groups beyond the first get a
    // distinct sessionId suffix — the reference gives each its own ES id.
    // flag state at the walk's end belongs to the OPEN segment — what a
    // following slice must resume from. A port-reuse split still pending
    // (the reuse SYN was the slice's LAST packet) must survive too, or
    // the next slice silently continues the closed session.
    val endRst = rstSeen
    val endFin = finDirs
    val endSplitPendingNew = splitAfterPrevNew
    val rows = Seq.newBuilder[SessionRow]
    var outCarry: Option[GroupCarry] = carry
    groups.zipWithIndex.foreach { case (gsegs, gIdx) =>
      // continuing group 0 keeps the carried reuse ordinal; boundary
      // reuse (and every in-slice reuse split) bumps it
      val ordinal = carry match {
        case Some(c) => c.reuseBase + gIdx + (if (boundaryReuse) 1 else 0)
        case None    => gIdx
      }
      val gKey = if (ordinal == 0) key else s"$key|r$ordinal"
      val seeded = continuing && gIdx == 0
      val gFirstUs =
        if (seeded && carry.get.firstTsMicros >= 0) carry.get.firstTsMicros
        else gsegs.head._1.head.tsMicros
      val segBase = if (seeded) carry.get.segBase else 0
      var protoAcc: Set[String] =
        if (seeded) carry.get.protoAcc.toSet else Set.empty
      val o0 =
        if (seeded && carry.get.cliIp != null)
          (carry.get.cliIp, carry.get.cliPort,
            carry.get.srvIp, carry.get.srvPort)
        else {
          val f = gsegs.head._1.head
          val synAckSwap = f.ipProtocol == 6 &&
            (f.tcpFlags & (Decode.TH_SYN | Decode.TH_ACK)) ==
              (Decode.TH_SYN | Decode.TH_ACK)
          if (synAckSwap) (f.dstIp, f.dstPort, f.srcIp, f.srcPort)
          else (f.srcIp, f.srcPort, f.dstIp, f.dstPort)
        }
      var srcMacAcc: Set[String] =
        if (seeded) carry.get.srcMacAcc.toSet else Set.empty
      var dstMacAcc: Set[String] =
        if (seeded) carry.get.dstMacAcc.toSet else Set.empty
      var src8Acc = if (seeded) carry.get.src8Acc else ""
      var dst8Acc = if (seeded) carry.get.dst8Acc else ""
      var synSeen = seeded && carry.get.synSeen
      var emitted = 0
      gsegs.zipWithIndex.foreach { case ((seg, pqCut), idx) =>
        val carryIn: Array[DecodedPacket] =
          if (idx > 0 && gsegs(idx - 1)._2) Array(gsegs(idx - 1)._1.last)
          else Array.empty
        val row = buildOne(gKey, seg, node, segBase + idx + 1, segBase + idx,
          bgpSession = bgpActive, testRules = testRules,
          yaraRules = yaraRules, orient = Some(o0),
          synSeenBefore = synSeen,
          carryIn = carryIn, deferTail = if (pqCut) 1 else 0)
        synSeen ||= seg.exists(p => (p.tcpFlags & Decode.TH_SYN) != 0)
        protoAcc ++= row.protocol
        srcMacAcc ++= row.srcMac
        dstMacAcc ++= row.dstMac
        src8Acc =
          if (row.ipProtocol == 6) (src8Acc + row.srcPayload8).take(16)
          else if (src8Acc.nonEmpty) src8Acc else row.srcPayload8
        dst8Acc =
          if (row.ipProtocol == 6) (dst8Acc + row.dstPayload8).take(16)
          else if (dst8Acc.nonEmpty) dst8Acc else row.dstPayload8
        val segLastUs = seg.last.tsMicros
        emitted += 1
        rows += row.copy(protocol = protoAcc.toSeq.sorted,
          srcMac = srcMacAcc.toSeq.sorted,
          dstMac = dstMacAcc.toSeq.sorted,
          srcPayload8 = src8Acc, dstPayload8 = dst8Acc,
          firstPacket = gFirstUs / 1000,
          length = ((segLastUs / 1000000 - gFirstUs / 1000000) * 1000 +
            (segLastUs % 1000000 - gFirstUs % 1000000) / 1000) & 0xffffffffL)
      }
      if (gIdx == groups.length - 1)
        outCarry = Some(GroupCarry(
          cliIp = o0._1, cliPort = o0._2, srvIp = o0._3, srvPort = o0._4,
          synSeen = synSeen, rstSeen = endRst, finDirs = endFin,
          finRefIp = finRefIp, finRefPort = finRefPort,
          splitPendingNew = endSplitPendingNew,
          protoAcc = protoAcc.toSeq.sorted,
          srcMacAcc = srcMacAcc.toSeq.sorted,
          dstMacAcc = dstMacAcc.toSeq.sorted,
          src8Acc = src8Acc, dst8Acc = dst8Acc,
          firstTsMicros = gFirstUs, segBase = segBase + emitted,
          reuseBase = ordinal,
          bgpActive = bgpActive, bgpArmedTs = bgpArmedTs))
    }
    (rows.result(), outCarry)
  }

  import Decode.{TH_ACK, TH_FIN, TH_PSH, TH_RST, TH_SYN, TH_URG}

  /** Distinct non-empty strings from one selector over each side's
    * (optionally capped) packets, first-seen order then sorted. The
    * per-session distinct sets here are 1-2 entries (macs, file ids),
    * so a linear scan of the tiny accumulator beats hashing every
    * per-packet string — these set builds were ~20% of buildOne's
    * profile as map/filter/distinct/sorted chains.
    */
  private def distinctSorted(
      a: Array[DecodedPacket], aSel: DecodedPacket => String,
      b: Array[DecodedPacket], bSel: DecodedPacket => String,
      cap: Int): IndexedSeq[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](2)
    @inline def add(s: String): Unit = if (s != null && s.nonEmpty) {
      var j = 0
      var found = false
      while (j < out.length && !found) {
        if (out(j) == s) found = true
        j += 1
      }
      if (!found) out += s
    }
    val na = if (cap > 0) math.min(cap, a.length) else a.length
    var i = 0
    while (i < na) { add(aSel(a(i))); i += 1 }
    val nb = if (cap > 0) math.min(cap, b.length) else b.length
    i = 0
    while (i < nb) { add(bSel(b(i))); i += 1 }
    out.sortInPlace().toIndexedSeq
  }

  private def buildOne(key: String, seg: Array[DecodedPacket], node: String,
      segmentCnt: Int, segmentSeq: Int,
      bgpSession: Boolean = false, testRules: Boolean = false,
      yaraRules: Seq[graft.ops.Yara.Rule] = Nil,
      orient: Option[(String, Int, String, Int)] = None,
      synSeenBefore: Boolean = false,
      carryIn: Array[DecodedPacket] = Array.empty,
      deferTail: Int = 0): SessionRow = {
    val first = seg.head
    // `seg` drives the packet-level counters (packets, bytes, packetPos,
    // first/last); `dataSeg` drives everything the tcp parser sees —
    // flags, reassembly, databytes, parsers. They differ only around a
    // BGP pq save, where the firing packet is counted in the old save
    // (deferTail trims it here) but its flags+payload process into the
    // next one (carryIn prepends it there) — packet.c:190 fires the pq
    // before packet processing, save runs in between.
    val dataSeg: Array[DecodedPacket] =
      if (carryIn.isEmpty && deferTail == 0) seg
      else carryIn ++ seg.dropRight(deferTail)
    // antiSynDrop (parsers/tcp.c:375-382, default TRUE in config.c:560):
    // a session whose first captured packet is the SYN-ACK had its SYN
    // dropped — the SYN-ACK sender is the responder, so the session's
    // source endpoint is that packet's destination.
    val synAckSwap = segmentSeq == 0 && first.ipProtocol == 6 &&
      (first.tcpFlags & (TH_SYN | TH_ACK)) == (TH_SYN | TH_ACK)
    val (cliIp, cliPort, srvIp, srvPort) = orient.getOrElse {
      if (synAckSwap) (first.dstIp, first.dstPort, first.srcIp, first.srcPort)
      else (first.srcIp, first.srcPort, first.dstIp, first.dstPort)
    }
    // direction 0 == the session-source (client) endpoint. Only the
    // TCP/UDP/SCTP/ICMP enqueue paths assign a direction in the
    // reference (parsers/{tcp,udp,sctp,icmp}.c); lumped protocols
    // (pim/ospf/igmp/esp/...) leave every packet at the default 0 —
    // a second sender's ether-src still lands in source.mac (pim golden).
    val directedProtos = Set(1, 6, 17, 58, 132)
    def dirOf(p: DecodedPacket): Int =
      if (first.keyOverride != null ||
        !directedProtos.contains(first.ipProtocol)) 0 // lumped: arp & co.
      else if (p.srcIp == cliIp && p.srcPort == cliPort) 0
      else 1
    // one dirOf pass (it compares endpoint strings) + one fill, instead
    // of two filter passes each re-deriving the direction per packet
    val dirIsSrc = new Array[Boolean](seg.length)
    val (src, dst) = {
      var srcN = 0
      var i = 0
      while (i < seg.length) {
        val d0 = dirOf(seg(i)) == 0
        dirIsSrc(i) = d0
        if (d0) srcN += 1
        i += 1
      }
      val s = new Array[DecodedPacket](srcN)
      val d = new Array[DecodedPacket](seg.length - srcN)
      var si = 0
      var di = 0
      i = 0
      while (i < seg.length) {
        if (dirIsSrc(i)) { s(si) = seg(i); si += 1 }
        else { d(di) = seg(i); di += 1 }
        i += 1
      }
      (s, d)
    }
    // data-side (parser-visible) per-direction packets — see dataSeg
    val dataSrc = if (dataSeg eq seg) src else dataSeg.filter(dirOf(_) == 0)
    val dataDst = if (dataSeg eq seg) dst else dataSeg.filter(dirOf(_) == 1)

    var syn, synAck, ack, psh, rst, fin, urg = 0
    val zero = Array(0, 0)
    var synTimeUs = 0L
    var ackTimeUs = 0L
    if (first.ipProtocol == 6) dataSeg.foreach { p =>
      val f = p.tcpFlags
      if (p.tcpWindow == 0 && (f & TH_RST) == 0) zero(dirOf(p)) += 1
      if ((f & TH_URG) != 0) urg += 1
      if ((f & TH_SYN) != 0) {
        if ((f & TH_ACK) != 0) synAck += 1
        else {
          syn += 1
          if (synTimeUs == 0) {
            synTimeUs = p.tsMicros - first.tsMicros + 1
            ackTimeUs = 0
          }
        }
      } else if ((f & TH_RST) != 0) {
        rst += 1
      } else {
        if ((f & TH_FIN) != 0) fin += 1
        if ((f & (TH_FIN | TH_RST | TH_PSH | TH_SYN | TH_ACK)) == TH_ACK) {
          ack += 1
          if (ackTimeUs == 0) ackTimeUs = p.tsMicros - first.tsMicros + 1
        }
        if ((f & TH_PSH) != 0) psh += 1
      }
    }

    val srcStream = reassemble(dataSrc.toIndexedSeq)
    val dstStream = reassemble(dataDst.toIndexedSeq)
    def payload8(b: Array[Byte]): String =
      Hex.hex(b, 0, math.min(8, b.length))
    // firstBytes are filled ONLY by the tcp/udp parsers (tcp.c:105-108
    // accumulates DELIVERED bytes to 8 — so an unanchored no-SYN session
    // that delivers nothing has none; udp.c:86-88 copies the first
    // non-empty datagram only, no accumulation). Other ipProtocols
    // (icmp/sctp/esp/ospf…) never set them.
    def payload8For(stream: Array[Byte],
        pkts: Seq[Decode.DecodedPacket], anchored: Boolean): String =
      if (first.ipProtocol == 6) { if (anchored) payload8(stream) else "" }
      else if (first.ipProtocol == 17)
        pkts.iterator.map(_.payload).find(_.nonEmpty)
          .map(payload8).getOrElse("")
      else ""

    // databytes follow the reference's per-protocol accounting:
    //   tcp  — bytes actually DELIVERED by reassembly (tcp.c:117), so
    //          retransmissions count once = the reassembled stream length;
    //   udp  — pktlen - payloadOffset - 8 per packet (udp.c:73), which
    //          deliberately includes any ethernet trailer padding;
    //   icmp — pktlen - payloadOffset (icmp.c:100,135);
    //   sctp — pktlen - 8 (sctp.c:93);
    //   everything else (lumped/arp/esp) has no handler → 0.
    // delivery needs a sequence base: a session that never saw a SYN or
    // SYN-ACK queues its data forever and counts nothing (tcp.c:185,229 —
    // the single-packets golden has client.bytes 0 on every session)
    val tcpAnchored = synSeenBefore || seg.exists(p =>
      (p.tcpFlags & TH_SYN) != 0)
    def dataBytes(side: Seq[DecodedPacket], stream: Array[Byte]): Long =
      if (first.keyOverride != null) 0L
      else first.ipProtocol match {
        case 6 => if (tcpAnchored) stream.length.toLong else 0L
        case 17 =>
          side.iterator.map(p =>
            // l4Offset = -1 marks an undecoded transport header (a
            // non-first IP fragment that missed reassembly): no L4
            // payload attributable, not wireLen+7 bytes
            if (p.l4Offset < 0) 0L
            else math.max(0, p.wireLen - p.l4Offset - 8).toLong).sum
        case 1 | 58 =>
          side.iterator.map(p =>
            if (p.l4Offset < 0) 0L
            else math.max(0, p.wireLen - p.l4Offset).toLong).sum
        case 132 =>
          side.iterator.map(p => math.max(0, p.wireLen - 8).toLong).sum
        case _ => 0L
      }
    val srcData = dataBytes(dataSrc, srcStream)
    val dstData = dataBytes(dataDst, dstStream)

    // SOCKS tunnels carry an inner protocol: peel the handshake and
    // classify/parse the tunneled streams too (parsers/socks.c behavior).
    // A reverse-direction handshake (server-side capture) peels the same
    // way with the roles swapped.
    val peeledFwd =
      if (first.ipProtocol == 6) AppProtocols.peelSocks(srcStream, dstStream)
      else None
    val peeledRev =
      if (first.ipProtocol == 6 && peeledFwd.isEmpty)
        AppProtocols.peelSocks(dstStream, srcStream, allowSocks4 = false)
      else None
    val peeled = peeledFwd.orElse(peeledRev)
    // effSrc/effDst are CLIENT/SERVER oriented — every downstream parser
    // (HTTP requests, TLS clientHello, SMTP commands, PG startup…) reads
    // effSrc as the initiator stream. In the reverse-socks case the
    // tunnel's client rode the TCP destination side, so the peeled inner
    // client stream still lands in effSrc.
    val (effSrc, effDst) = (peeledFwd, peeledRev) match {
      case (Some((is, id, _)), _) => (is, id)
      case (_, Some((ic, isv, _))) => (ic, isv)
      case _ => (srcStream, dstStream)
    }
    val srcPayloads = src.filter(_.payload.nonEmpty).map(_.payload).toIndexedSeq
    val dstPayloads = dst.filter(_.payload.nonEmpty).map(_.payload).toIndexedSeq
    // ARP-keyed sessions take only their handler tag (+tunnels): the
    // reference's arp mProtocol adds no tcp/udp protocol (parsers/arp.c)
    val outerTags =
      if (first.keyOverride != null) Nil
      else AppProtocols.classify(first.ipProtocol,
        cliPort, srvPort, srcStream, dstStream,
        srcPayloads.headOption.getOrElse(Array.emptyByteArray),
        dstPayloads.headOption.getOrElse(Array.emptyByteArray),
        isV6 = cliIp.indexOf(':') >= 0) ++
        (if (first.ipProtocol == 6 && srvPort == 179 &&
          (bgpSession || ((syn > 0 || synAck > 0) &&
            // 19-byte floor, not 16: bgp_tcp_classify refuses a bare
            // marker without the length+type header (bgp.c:41-43)
            Seq(srcStream, dstStream).exists(st =>
              st.length >= 19 && st.take(16).forall(_ == -1))))) Seq("bgp")
        else Nil)
    val innerTags =
      if (peeled.isDefined)
        AppProtocols.classify(first.ipProtocol, cliPort, srvPort,
          effSrc, effDst)
      else Nil
    val tunnelTags = seg.iterator.flatMap(_.tunnels).toSeq.distinct
    val baseTags = (outerTags ++ innerTags ++ tunnelTags).distinct
    // QUIC (UDP): per-packet public headers; tags quic on a readable CHLO
    // frame, a PRST, or Q05x traffic in both directions (parsers/quic.c)
    val quic =
      if (first.ipProtocol == 17)
        // arrival-ordered datagrams: classification happens on the FIRST
        // datagram of each direction only (udp.c:85-90), and registered
        // parsers then see every datagram — order is semantics
        QuicParser.parseDatagrams(dataSeg.iterator
          .filter(_.payload.nonEmpty)
          .map(p => (dirOf(p), p.payload)).toSeq)
      else None
    // Kerberos: UDP payloads are bare KDC messages; TCP carries a 4-byte
    // record length. Tagged krb5 only when a valid AS-REQ/TGS-REQ parses,
    // like the reference (parsers/krb5.c:137).
    val krb5 =
      if (first.ipProtocol == 17 &&
          // classify fires only on each direction's FIRST datagram
          // (udp.c:85-90); the registered parser then reads them all
          (srcPayloads.headOption.exists(Krb5Parser.classifiesUdp) ||
            dstPayloads.headOption.exists(Krb5Parser.classifiesUdp)))
        Krb5Parser.parse(srcPayloads ++ dstPayloads)
      else if (first.ipProtocol == 6 &&
          Krb5Parser.isKrb5Tcp(effSrc))
          // client-direction classify only (krb5_tcp_classify gates
          // which == 0, krb5.c:259-261); the parser then walks BOTH
          // directions' streams
        Krb5Parser.parse(
          Krb5Parser.tcpMessages(effSrc) ++ Krb5Parser.tcpMessages(effDst))
      else None
    // LDAP: per-direction message walk; a STARTTLS extended op ends LDAP
    // and the remainder of the stream re-classifies (ldap+tls both tag)
    val ldapSrc = if (baseTags.contains("ldap")) LdapParser.parse(effSrc) else None
    val ldapDst = if (baseTags.contains("ldap")) LdapParser.parse(effDst) else None
    val ldapPeelTags: Seq[String] =
      if (ldapSrc.exists(_.restOffset >= 0) || ldapDst.exists(_.restOffset >= 0))
        AppProtocols.classify(first.ipProtocol, cliPort, srvPort,
          ldapSrc.filter(_.restOffset >= 0).map(i => effSrc.drop(i.restOffset))
            .getOrElse(Array.emptyByteArray),
          ldapDst.filter(_.restOffset >= 0).map(i => effDst.drop(i.restOffset))
            .getOrElse(Array.emptyByteArray))
      else Nil
    val smb = if (baseTags.contains("smb")) SmbParser.parse(effSrc, effDst) else None
    // FBZero: QUIC CHLO over TCP (parsers/quic.c:283-313)
    val fbzero =
      if (first.ipProtocol == 6) QuicParser.parseFbzero(effSrc) else None
    val oracleInfo =
      if (baseTags.contains("oracle"))
        MiscParsers.parseOracle(srcPayloads.headOption.getOrElse(Array.emptyByteArray))
      else None
    val bgpTypes =
      if (baseTags.contains("bgp")) MiscParsers.parseBgpTypes(Seq(effSrc, effDst))
      else Nil
    val radius =
      if (baseTags.contains("radius"))
        RadiusParser.parse(srcPayloads ++ dstPayloads)
      else None
    val dtlsCerts =
      if (baseTags.contains("dtls"))
        // dtls.c's cert walk records serial/names/validity only — its
        // sessions carry hash "" and no publicAlgorithm/curve/alt
        // (wireshark-dtls0 / cloudshark-dtls1 goldens)
        DtlsParser.certs(srcPayloads ++ dstPayloads)
          .map(_.copy(hash = "", publicAlgorithm = "", curve = "",
            alt = Nil))
      else Nil
    // In-stream upgrades re-classify the remainder, like the reference's
    // parsers handing post-handshake bytes back to the classify stage:
    // HTTP CONNECT tunnels, SMTP STARTTLS, MySQL SSL login.
    val upgradeTags: Seq[String] = {
      val out = Seq.newBuilder[String]
      def tlsStart(b: Array[Byte]): Boolean =
        b.length >= 3 && (b(0) & 0xff) == 0x16 && (b(1) & 0xff) == 0x03
      def afterHeaders(st: Array[Byte]): Array[Byte] = {
        val s = new String(st, java.nio.charset.StandardCharsets.ISO_8859_1)
        val i = s.indexOf("\r\n\r\n")
        if (i < 0) Array.emptyByteArray else st.drop(i + 4)
      }
      if (baseTags.contains("http")) {
        val text = new String(effSrc.take(16),
          java.nio.charset.StandardCharsets.ISO_8859_1)
        if (text.startsWith("CONNECT ") &&
          (tlsStart(afterHeaders(effSrc)) || tlsStart(afterHeaders(effDst))))
          out += "tls"
      }
      if (baseTags.contains("smtp")) {
        val text = new String(effSrc,
          java.nio.charset.StandardCharsets.ISO_8859_1)
        val i = text.indexOf("STARTTLS")
        if (i >= 0) {
          val nl = text.indexOf('\n', i)
          if (nl > 0 && tlsStart(effSrc.drop(nl + 1))) out += "tls"
        }
      }
      if (baseTags.contains("mysql") && effSrc.length > 4) {
        val plen = (effSrc(0) & 0xff) | ((effSrc(1) & 0xff) << 8) |
          ((effSrc(2) & 0xff) << 16)
        if (tlsStart(effSrc.drop(4 + plen))) out += "tls"
      }
      out.result()
    }

    val preRuleProtocols = (baseTags ++ ldapPeelTags ++ upgradeTags ++
      (if (quic.isDefined || fbzero.isDefined) Seq("quic") else Nil) ++
      // "fbzero" only when the CHLO walk started; the tag header alone
      // tags just quic (quic.c:305-306 vs chlo_parser's early return 0)
      (if (fbzero.exists(_.chloOk)) Seq("fbzero") else Nil) ++
      (if (krb5.isDefined) Seq("krb5") else Nil)).distinct
    val http1 =
      if (preRuleProtocols.contains("http")) HttpParser.parse(effSrc, effDst)
      else None
    // cleartext http2 (PRI * preface classifier); TLS-negotiated h2 has
    // no decodable payload here
    val http2 =
      if (preRuleProtocols.contains("http2")) Http2Parser.parse(effSrc, effDst)
      else None
    val http = {
      val merged = (http1, http2) match {
        case (Some(a), Some(b)) => Some(HttpParser.merge(a, b))
        case (a, b)             => a.orElse(b)
      }
      // *HeaderField/Value attribution is by RAW packet direction
      // (http.c:484 keys on which==0, unlike the urlWhich-keyed name
      // fields). A reverse-peeled socks tunnel fed the parser swapped
      // streams, so swap these four back (socks5-reverse golden puts the
      // RESPONSE headers in requestHeaderField).
      if (peeledRev.isDefined)
        merged.map(h => h.copy(
          requestHeaderField = h.responseHeaderField,
          requestHeaderValue = h.responseHeaderValue,
          responseHeaderField = h.requestHeaderField,
          responseHeaderValue = h.requestHeaderValue))
      else merged
    }
    val dns =
      if (Seq("dns", "mdns", "llmnr").exists(preRuleProtocols.contains)) {
        val messages = (src ++ dst).filter(_.payload.nonEmpty).map(_.payload)
        // TCP DNS: walk each REASSEMBLED direction stream by its 2-byte
        // length prefix — per-packet stripping broke messages split
        // across segments and lost coalesced second messages.
        // dns_tcp_parser fidelity (dns.c:441-495):
        //  - a declared length < 18 unregisters the parser (no further
        //    DNS from that point) — walk stops, r15;
        //  - an incomplete final message is buffered awaiting more
        //    bytes and never parsed if they don't arrive — dropped, not
        //    truncated-parsed, r15.
        // Known approximation: unregister is session-wide in arrival
        // order; reassembled per-direction streams can't reconstruct
        // the interleaving, so the stop applies per direction.
        def deframeTcp(stream: Array[Byte]): Seq[Array[Byte]] = {
          val out = Seq.newBuilder[Array[Byte]]
          var i = 0
          while (i + 2 <= stream.length) {
            val len = ((stream(i) & 0xff) << 8) | (stream(i + 1) & 0xff)
            if (len < 18 || i + 2 + len > stream.length) i = stream.length
            else {
              out += java.util.Arrays.copyOfRange(stream, i + 2, i + 2 + len)
              i += 2 + len
            }
          }
          out.result()
        }
        val deframed: Seq[Array[Byte]] =
          if (first.ipProtocol == 6)
            Seq(effSrc, effDst).filter(_.nonEmpty).flatMap(deframeTcp)
          else messages.toSeq
        // one State per session: dns_find_host's host hashes span every
        // message of the session (a response datagram attributes A
        // records against names the QUERY datagram added)
        val dnsState = new DnsParser.State
        val infos =
          deframed.flatMap(m => DnsParser.parseMessage(m, dnsState))
        if (infos.isEmpty) None
        else Some(AppProtocols.DnsInfo(
          infos.flatMap(_.qname).distinct.toIndexedSeq,
          infos.flatMap(_.qtype).distinct.toIndexedSeq,
          infos.flatMap(_.rcode).distinct.toIndexedSeq,
          infos.flatMap(_.opcode).distinct.toIndexedSeq,
          infos.flatMap(_.qclass).distinct.toIndexedSeq,
          infos.flatMap(_.ip).distinct.toIndexedSeq,
          infos.flatMap(_.mailserverHost).distinct.toIndexedSeq,
          infos.flatMap(_.nameserverHost).distinct.toIndexedSeq,
          infos.flatMap(_.nameserverIp).distinct.toIndexedSeq,
          infos.flatMap(_.mailserverIp).distinct.toIndexedSeq,
          infos.flatMap(_.puny).distinct.toIndexedSeq))
      } else None
    // Per-packet delivered chunks in capture order — the unit tcp.c
    // hands the reference's classify + parser callbacks; the TLS and
    // SSH machines both consume it (their chunk boundaries are
    // semantics: one-record-per-packet draining, banner-chunk discard,
    // packet-size counting).
    lazy val arrivalChunks: Seq[(Int, Array[Byte])] =
      (deliveredChunks(dataSrc).map { case (i, b) => (i, 0, b) } ++
        deliveredChunks(dataDst).map { case (i, b) => (i, 1, b) })
        .sortBy(_._1).map(t => (t._2, t._3))
    val tls =
      if (preRuleProtocols.contains("tls")) {
        // SMTP STARTTLS: the reference re-classifies on the server packet
        // after "220 Go ahead" (smtp.c:769-772 EMAIL_TLS + tls_classify),
        // so the client's earlier ClientHello is never parsed — no ja3.
        // Mirror by feeding only the server side for smtp sessions.
        //
        // Peeled tunnel streams lost their inner packet boundaries, so
        // they approximate with record-aligned chunks
        // (see TlsParser.recordChunks).
        val chunks: Seq[(Int, Array[Byte])] =
          if (peeled.isDefined) {
            val client =
              if (preRuleProtocols.contains("smtp")) Nil
              else TlsParser.recordChunks(effSrc).map(0 -> _)
            client ++ TlsParser.recordChunks(effDst).map(1 -> _)
          } else if (preRuleProtocols.contains("smtp"))
            deliveredChunks(dataDst).map { case (_, b) => (1, b) }
          else arrivalChunks
        TlsParser.parseChunks(chunks)
      } else None
    val ssh =
      if (preRuleProtocols.contains("ssh")) {
        // peeled approximation: banner-line chunks + binary remainder
        // (a single whole-stream chunk would discard everything after
        // the banner — ssh.c returns from a banner chunk)
        val chunks: Seq[(Int, Array[Byte])] =
          if (peeled.isDefined)
            SshParser.bannerSplit(effSrc).map(0 -> _) ++
              SshParser.bannerSplit(effDst).map(1 -> _)
          else arrivalChunks
        SshParser.parseChunks(chunks)
      } else None
    val dhcp =
      if (preRuleProtocols.contains("dhcp"))
        DhcpParser.parse(dataSeg.filter(_.payload.nonEmpty).map(_.payload).toIndexedSeq)
      else None
    val smtp =
      if (preRuleProtocols.contains("smtp")) SmtpParser.parse(effSrc)
      else None
    val irc =
      if (preRuleProtocols.contains("irc")) MiscParsers.parseIrc(effSrc) else None
    val pg =
      if (preRuleProtocols.contains("postgresql")) MiscParsers.parsePostgres(effSrc)
      else None
    val mysql =
      if (preRuleProtocols.contains("mysql")) MiscParsers.parseMysql(effSrc, effDst)
      else None

    // Final protocol list: the reference's test rules (tests/rules.yaml)
    // add tag-protocols on field match; SNI lands in http.host first
    val hostsForRules =
      http.map(_.host).getOrElse(Nil) ++ tls.map(_.sni).getOrElse(Nil)
    // negotiated h2 over TLS is the http2 protocol (tls-alpn-h2 golden)
    val alpnTags =
      if (tls.exists(_.alpn.contains("h2"))) Seq("http2") else Nil
    // Test-fidelity rules replay the reference test deployment's
    // rules.yaml; they are opt-in (ADVICE r2) so real traffic never picks
    // up 'tlsrulestest'-style marker tags. Production rule sets go through
    // the general engine, graft.ops.Rules.
    val ruleTags =
      if (testRules) SessionRules.protocolTags(
        cliIp, srvPort, peeled.map(_._3.ip).orNull,
        hostsForRules, preRuleProtocols)
      else Nil
    val protocols = (preRuleProtocols ++ alpnTags ++ ruleTags).distinct.sorted

    // shared `user` db field: only the parsers whose field_define dbField
    // IS "user" — USER commands (ftp/pop3, misc.c user_classify), the RDP
    // cookie, SMTP AUTH, TDS login. socks/http/oracle users go to their
    // own socks.user / http.user / oracle.user fields ("category user",
    // different dbField) and must NOT fan into this one — the corpus
    // goldens have no top-level `user` on socks4-https / http-basicauth /
    // oracle exactly because of that split.
    def users = (
      Seq(effSrc, effDst).flatMap(MiscParsers.parseUserCommand) ++
        (if (baseTags.contains("rdp"))
          Seq(effSrc, effDst).flatMap(MiscParsers.parseRdpUser) else Nil) ++
        smtp.map(_.user).getOrElse(Nil) ++
        (if (baseTags.contains("tds")) MiscParsers.parseTdsUser(effSrc).toSeq
        else Nil)
      ).distinct.sorted

    val firstMs = first.tsMicros / 1000
    val lastMs = seg.last.tsMicros / 1000
    // ONE walk over seg for every per-packet output column: file ids in
    // first-seen order (NOT sorted — packetPos file refs index into
    // this), packetPos/packetLen/packetFileIdx as primitive arrays, and
    // the wire-byte sum. These were five separate walks; each one chases
    // seg.length object pointers, and the repeated traversal (not the
    // per-element work) was ~30% of buildOne's self time in the ingest
    // profile. The file-id compare tries `eq` first — within a chunk
    // every packet carries the same path INSTANCE, so the common case is
    // one pointer compare.
    val packetPosArr = new Array[Long](seg.length)
    val packetLenArr = new Array[Int](seg.length)
    val packetFileIdxArr = new Array[Int](seg.length)
    var totWireBytes = 0L
    val fileIds: IndexedSeq[String] = {
      val out = new scala.collection.mutable.ArrayBuffer[String](1)
      // consecutive packets almost always come from the same file (and
      // after a boundary, from the new one): one cached (ref, idx) pair
      // collapses the per-packet list scan to a single pointer compare
      var lastFile: String = null
      var lastIdx = -1
      var i = 0
      while (i < seg.length) {
        val p = seg(i)
        val f = p.file
        var idx = if (f eq lastFile) lastIdx else -1
        if (idx < 0) {
          var j = 0
          while (j < out.length && idx < 0) {
            val o = out(j)
            if ((o eq f) || o == f) idx = j
            j += 1
          }
          if (idx < 0) { idx = out.length; out += f }
          lastFile = f
          lastIdx = idx
        }
        packetPosArr(i) = p.fileOffset
        packetLenArr(i) = p.recLen
        packetFileIdxArr(i) = idx
        totWireBytes += p.wireLen.toLong
        i += 1
      }
      out.toIndexedSeq
    }
    // stopSaving truncation of the STORED packet arrays: ESP hard-codes
    // stopSaving=1 on every packet (esp.c:69), and the tests config's
    // dontSaveBPFs=port 12345 sets 1 at session setup. The count is
    // session-cumulative (packet.c:264-265 `packets <= stopSaving`), so a
    // later segment of a stop-saved session stores nothing. totPackets/
    // totBytes keep counting — only the store references are capped.
    val stopSaving =
      if (first.ipProtocol == 50 ||
        (testRules && (cliPort == 12345 || srvPort == 12345))) 1
      else Int.MaxValue
    val savedN =
      if (stopSaving == Int.MaxValue) seg.length
      else if (segmentSeq > 0) 0
      else math.min(stopSaving, seg.length)
    val (stopSavedPos, stopSavedLen, stopSavedIdx) =
      if (savedN == seg.length) (packetPosArr, packetLenArr, packetFileIdxArr)
      else (java.util.Arrays.copyOf(packetPosArr, savedN),
        java.util.Arrays.copyOf(packetLenArr, savedN),
        java.util.Arrays.copyOf(packetFileIdxArr, savedN))
    val certSeq = (tls.map(_.cert).getOrElse(Nil) ++ dtlsCerts).distinct

    // tests/plugins/test.c pre_save: when the session source is 10.0.0.1
    // (v4), emit test.ip = addr1, test.number = addr2 read as a
    // little-endian uint32, test.string.snow = "a1:p1,a2:p2" in the same
    // integer rendering. ASN/GEO come from the [override-ips] enrichment
    // of 10.0.0.1.
    val testPlugin: Option[(String, Long, String)] =
      if (!testRules || cliIp != "10.0.0.1") None
      else {
        def le(ip: String): Option[Long] = {
          val m = graft.functions.IpUtil.toBytes(ip) // 16-byte v4-mapped
          if (m == null || m.length != 16 || m(10) != -1 || m(11) != -1 ||
            !(0 until 10).forall(m(_) == 0)) None
          else Some((((m(15) & 0xffL) << 24) | ((m(14) & 0xffL) << 16) |
            ((m(13) & 0xffL) << 8) | (m(12) & 0xffL)))
        }
        // snprintf "%d": string.snow renders the addrs as SIGNED int32,
        // while the int field keeps the unsigned value (ospf/ssl3 goldens)
        // port-less (lumped) protocols render port 0, as session->port
        for (a1 <- le(cliIp); a2 <- le(srvIp))
          yield ("10.0.0.1", a2,
            s"${a1.toInt}:${math.max(0, cliPort)},${a2.toInt}:${math.max(0, srvPort)}")
      }

    // ---- session tags (replaying the reference test deployment) -------
    // smtp:statuscode:N — needStatus fires when the client ends DATA with
    // "."; the next server payload's leading 3-digit code becomes the tag
    // (smtp.c:455-459, 563-565)
    def smtpStatusTags: Seq[String] =
      if (!preRuleProtocols.contains("smtp")) Nil
      else {
        val out = Seq.newBuilder[String]
        var needStatus = false
        dataSeg.filter(_.payload.nonEmpty).foreach { p =>
          val text = new String(p.payload,
            java.nio.charset.StandardCharsets.ISO_8859_1)
          if (dirOf(p) == 0) {
            // the "." line can be pipelined mid-packet (… "\r\n.\r\nQUIT")
            if (text.startsWith(".\r\n") || text.contains("\r\n.\r\n"))
              needStatus = true
          } else if (needStatus) {
            needStatus = false
            // atoi(line->str), not a 3-digit gate: the reference tags
            // whatever atoi reads — "99 foo" → 99, non-numeric → 0,
            // "9999999999" → 1410065407 via the (int)strtol truncation
            // (smtp.c:456-459 snprintf("smtp:statuscode:%d", atoi(...)))
            out += s"smtp:statuscode:${graft.etl.SmtpParser.atoiC(text)}"
          }
        }
        out.result()
      }

    // TCP anomaly tags (parsers/tcp.c): no-syn-ack (228-231, seq adopted),
    // acked-unseen-segment-src/dst (257-266), out-of-order-src/dst (333-337
    // — a data packet queued while earlier data is still pending). A
    // faithful mini-replay of the delivery queue over the packet stream.
    def tcpAnomalyTags: Seq[String] =
      if (first.ipProtocol != 6 || first.keyOverride != null) Nil
      else {
        val out = scala.collection.mutable.LinkedHashSet[String]()
        var haveTcp = false
        var synAckSeen = false
        val seqSet = Array(false, false)
        val expected = Array(0L, 0L)
        val ooTagged = Array(false, false)
        val ackTagged = Array(false, false)
        final case class Pend(dir: Int, seq: Long, len: Int)
        val pending = scala.collection.mutable.ListBuffer[Pend]()
        def sdiff(a: Long, b: Long): Long = {
          val d = (b - a) & 0xffffffffL
          if (d > 0x7fffffffL) d - 0x100000000L else d
        }
        dataSeg.foreach { p =>
          val d = dirOf(p)
          val f = p.tcpFlags
          val seq = p.tcpSeq & 0xffffffffL
          if ((f & TH_SYN) != 0) {
            if ((f & TH_ACK) != 0) {
              synAckSeen = true
              // antiSynDrop: a first-captured SYN-ACK seeds the missing
              // SYN's sequence from its ack (tcp.c:170-175)
              if (!haveTcp && !seqSet(1 - d)) {
                expected(1 - d) = p.tcpAck & 0xffffffffL; seqSet(1 - d) = true
              }
            }
            haveTcp = true
            if (!seqSet(d)) { expected(d) = (seq + 1) & 0xffffffffL; seqSet(d) = true }
          } else if ((f & TH_RST) != 0) {
            // RST of already-delivered data returns early (tcp.c:196-200)
          } else {
            if (haveTcp && !synAckSeen && !seqSet(d)) {
              out += "no-syn-ack"
              expected(d) = seq; seqSet(d) = true
            }
            if ((f & TH_ACK) != 0 && haveTcp && !ackTagged(d) && seqSet(1 - d) &&
              sdiff(expected(1 - d), p.tcpAck & 0xffffffffL) > 1) {
              ackTagged(d) = true
              out += (if (d == 0) "acked-unseen-segment-src"
                else "acked-unseen-segment-dst")
            }
            val len = p.payload.length
            if (len > 0) {
              val pastDiff = sdiff(expected(d), (seq + len) & 0xffffffffL)
              if (!(haveTcp && pastDiff <= 0)) {
                if (pending.nonEmpty && haveTcp && !ooTagged(d)) {
                  ooTagged(d) = true
                  out += (if (d == 0) "out-of-order-src" else "out-of-order-dst")
                }
                pending += Pend(d, seq, len)
                var progress = true
                while (progress) {
                  progress = false
                  pending.find(q =>
                    seqSet(q.dir) && sdiff(q.seq, expected(q.dir)) >= 0)
                    .foreach { q =>
                      pending -= q
                      if (sdiff(expected(q.dir), (q.seq + q.len) & 0xffffffffL) > 0)
                        expected(q.dir) = (q.seq + q.len) & 0xffffffffL
                      progress = true
                    }
                }
              }
            }
          }
        }
        out.toSeq
      }

    // All capture-side tag sources behind the golden corpus `tags` arrays:
    // [override-ips] tag ops (config.test.ini:187-188), filenameOps
    // (config.test.ini:40), dontSaveBPFs=port 12345 truncation, parser
    // tags, and the tcp anomaly replay. Gated on test fidelity mode.
    val captureTags: Seq[String] =
      if (!testRules) Nil
      else {
        val socksInfo = peeled.map(_._3)
        val dnsIps = dns.map(_.ip).getOrElse(Nil)
        val emailIps = smtp.map(_.ip).getOrElse(Nil)
        val radiusIps = radius.map(_.framedIp).getOrElse(Nil)
        val out = Seq.newBuilder[String]
        // [override-ips] tag ops run on EVERY ip-typed field add
        // (field.c ipTree lookup) — session endpoints, socks.ip, dns.ip,
        // email.ip, radius.framedIp (socks5-rdp's srcip comes from its
        // socks.ip 10.0.0.1, smtp-originating's dstip from email.ip)
        val ips = Seq(cliIp, srvIp) ++ socksInfo.flatMap(s => Option(s.ip)) ++
          dnsIps ++ emailIps ++ radiusIps
        if (ips.contains("10.0.0.1")) out += "srcip"
        if (ips.contains("10.0.0.2")) out += "dstip"
        // dontSaveBPFs=port 12345 → stopSaving=1: the 2nd packet tags
        // truncated-pcap (packet.c:308-311); ESP hard-codes stopSaving=1
        // for every session (parsers/esp.c:69)
        if ((cliPort == 12345 || srvPort == 12345 || first.ipProtocol == 50) &&
          seg.length >= 2)
          out += "truncated-pcap"
        // filenameOps: tags=/gre-(.*)\.pcap%gretest-\1; tags=dns-error%error-dns
        fileIds.map(f => new java.io.File(Pcap.localPath(f)).getName)
          .foreach { n =>
            "^gre-(.*)\\.pcap$".r.findFirstMatchIn(n)
              .foreach(m => out += s"gretest-${m.group(1)}")
            if (n.contains("dns-error")) out += "error-dns"
          }
        smtp.foreach(s => out ++= s.tags)
        out ++= smtpStatusTags
        if (peeled.exists(_._3.password) ||
          (baseTags.contains("socks") &&
            AppProtocols.socks5AuthUser(srcStream).isDefined))
          out += "socks:password"
        if (smb.exists(_.badSecurityBlob)) out += "smb:bad-security-blob"
        // ssh-reverse-shell — packets 6-15 of BOTH directions dominated
        // by 50-99-byte sizes (ssh.c:133-136)
        if (ssh.exists(_.reverseShell)) out += "ssh-reverse-shell"
        if (http.exists(_.passwordInBody)) out += "http:password"
        // cert:pre-epoch-time — any validity time parsed below 0 was
        // clamped (parsers.c asn_parse_time) and tags the session
        if (certSeq.exists(_.preEpoch)) out += "cert:pre-epoch-time"
        // cert:self-signed — first cert only, not a CA, single equal CN,
        // orgs equal or both absent (tls.c:455-467)
        certSeq.headOption.foreach { c =>
          if (!c.isCA && c.subjectCN.size == 1 && c.issuerCN.size == 1 &&
            c.subjectCN == c.issuerCN &&
            ((c.subjectON.size == 1 && c.issuerON.size == 1 &&
              c.subjectON == c.issuerON) ||
              (c.subjectON.isEmpty && c.issuerON.isEmpty)))
            out += "cert:self-signed"
        }
        if (segmentSeq == 0) out ++= tcpAnomalyTags
        out.result().distinct
      }
    // Per-address enrichment (override-ips → geo/ASN dbs → rirFile, the
    // capture/db.c:267-340 merge); aligned arrays render unknowns as
    // "---"/"---"/"" exactly like db.c:1118-1152's IP_GHASH writer.
    def enrichIp(ip: String): Fixtures.IpEnrich =
      if (ip == null) Fixtures.IpEnrich(None, None, None)
      else Fixtures.enrichOf(ip, testRules)
    def asnArr(ips: Seq[String]): Seq[String] =
      ips.map(ip => enrichIp(ip).asnFull.getOrElse("---"))
    def geoArr(ips: Seq[String]): Seq[String] =
      ips.map(ip => enrichIp(ip).country.getOrElse("---"))
    def rirArr(ips: Seq[String]): Seq[String] =
      ips.map(ip => enrichIp(ip).rir.getOrElse(""))
    val dnsIps = dns.map(_.ip).getOrElse(Nil)
    val dnsNsIps = dns.map(_.nameserverIp).getOrElse(Nil)
    val dnsMxIps = dns.map(_.mailserverIp).getOrElse(Nil)
    val emailIps = smtp.map(_.ip).getOrElse(Nil)
    val framedIps = radius.map(_.framedIp).getOrElse(Nil)
    val socksIpVal = peeled.flatMap(p => Option(p._3.ip)).orNull
    val greIps = seg.iterator.flatMap(_.greIps).distinct.toIndexedSeq
    val xffIps = http.map(_.xffIp).getOrElse(Nil)
    val socksEnrich = enrichIp(socksIpVal)
    val srcEnrich = enrichIp(cliIp)
    val dstEnrich = enrichIp(srvIp)

    SessionRow(
      sessionId = key, node = node,
      firstPacket = firstMs, lastPacket = lastMs,
      // duration per db.c:620-621: second-diff ms plus the µs-part diff
      // divided with trunc-toward-zero — NOT the total-µs diff / 1000 and
      // not lastPacket-firstPacket of the truncated stamps; all three can
      // differ by 1 ms when the µs parts straddle a second boundary
      // ...and it's cast through uint32 (db.c:620 `(uint32_t) timediff`),
      // so out-of-order stamps (dns-flags0110) and multi-year captures
      // (wireshark-lldp) wrap exactly like the reference
      length = ((seg.last.tsMicros / 1000000 - first.tsMicros / 1000000) * 1000 +
        (seg.last.tsMicros % 1000000 - first.tsMicros % 1000000) / 1000) & 0xffffffffL,
      ipProtocol = first.ipProtocol,
      srcIp = cliIp, srcPort = cliPort,
      srcPackets = src.length, srcBytes = src.map(_.wireLen.toLong).sum,
      srcDataBytes = srcData,
      // macs per side: ether-src of that side's packets plus ether-dst of
      // the opposite side's — the reference accumulates both, which also
      // fills destination.mac for unidirectional flows (lldp golden).
      // Only the FIRST 10 packets per direction contribute
      // (packet.c:316), and only on ethernet captures (DLT_EN10MB gate
      // at packet.c:319 — radiotap/SLL sessions carry no macs).
      srcMac = distinctSorted(src, _.macSrc, dst, _.macDst, cap = 10),
      dstIp = srvIp, dstPort = srvPort,
      dstPackets = dst.length, dstBytes = dst.map(_.wireLen.toLong).sum,
      dstDataBytes = dstData,
      dstMac = distinctSorted(dst, _.macSrc, src, _.macDst, cap = 10),
      srcRIR = srcEnrich.rir.orNull,
      dstRIR = dstEnrich.rir.orNull,
      srcOui = distinctSorted(src, _.macSrc, dst, _.macDst, cap = 0)
        .flatMap(Fixtures.ouiOf).distinct,
      dstOui = distinctSorted(dst, _.macSrc, src, _.macDst, cap = 0)
        .flatMap(Fixtures.ouiOf).distinct,
      srcCountry = srcEnrich.country.orNull,
      dstCountry = dstEnrich.country.orNull,
      srcAsn = srcEnrich.asnFull.orNull,
      dstAsn = dstEnrich.asnFull.orNull,
      totPackets = seg.length, totBytes = totWireBytes,
      totDataBytes = srcData + dstData,
      tcpflagsSyn = syn, tcpflagsSynAck = synAck, tcpflagsAck = ack,
      tcpflagsPsh = psh, tcpflagsRst = rst, tcpflagsFin = fin,
      tcpflagsUrg = urg, tcpflagsSrcZero = zero(0), tcpflagsDstZero = zero(1),
      srcPayload8 = payload8For(srcStream, dataSrc, tcpAnchored),
      dstPayload8 = payload8For(dstStream, dataDst, tcpAnchored),
      // db.c:669-671: emitted only when both syn and bare-ack were seen,
      // as HALF the µs delta in ms ((ack-syn)/2000); -1 = not set
      initRTT = if (synTimeUs > 0 && ackTimeUs > 0) (ackTimeUs - synTimeUs) / 2000 else -1,
      communityId = CommunityId.compute(cliIp, srvIp,
        cliPort, srvPort, first.ipProtocol),
      protocol = protocols,
      // YARA content rules over the reassembled streams
      // (capture/yara.c:161-165 scans payload; tags yara:<rule>)
      tags = ((if (yaraRules.isEmpty) Nil
        else graft.ops.Yara.tags(yaraRules, effSrc, effDst)) ++
        captureTags).distinct,
      fileId = fileIds,
      packetPos = stopSavedPos,
      packetLen = stopSavedLen,
      packetFileIdx = stopSavedIdx,
      segmentCnt = segmentCnt, segmentSeq = segmentSeq,
      socksIp = socksIpVal,
      // scalar IP fields omit enrichment keys the lookup misses
      // (db.c:1051-1072 `if (g) ... if (asStr) ... if (rir)`)
      socksAsn = socksEnrich.asnFull.orNull,
      socksGeo = socksEnrich.country.orNull,
      socksRir = socksEnrich.rir.orNull,
      socksHost = peeled.flatMap(p => Option(p._3.host)).orNull,
      socksPort = peeled.map(_._3.port).getOrElse(-1),
      socksUser = (peeled.map(_._3.user).filter(_.nonEmpty) orElse
        (if (baseTags.contains("socks"))
          AppProtocols.socks5AuthUser(srcStream) else None)).toSeq,
      testIp = testPlugin.map(_._1).toSeq,
      testNumber = testPlugin.map(_._2).toSeq,
      testString = testPlugin.map(_._3).toSeq,
      testAsn = testPlugin.flatMap(_ =>
        graft.model.Fixtures.asnGeoOf("10.0.0.1", testMode = true)
          .flatMap(_.full)).toSeq,
      testGeo = testPlugin.flatMap(_ =>
        graft.model.Fixtures.asnGeoOf("10.0.0.1", testMode = true)
          .flatMap(_.country)).toSeq,
      // 10.0.0.1 carries no rir override → the RIR sub-field serializes
      // as an empty string, not as absent
      testRir = testPlugin.map(_ => "").toSeq,
      httpMethod = http.map(_.method).getOrElse(Nil),
      httpUri = http.map(_.uri).getOrElse(Nil),
      httpHost = (http.map(_.host).getOrElse(Nil) ++
        tls.map(_.sni).getOrElse(Nil)).distinct,
      httpStatuscode = http.map(_.statuscode).getOrElse(Nil),
      httpUseragent = http.map(_.useragent).getOrElse(Nil),
      httpPath = http.map(_.path).getOrElse(Nil),
      httpKey = http.map(_.key).getOrElse(Nil),
      httpValue = http.map(_.value).getOrElse(Nil),
      httpRequestHeader = http.map(_.requestHeader).getOrElse(Nil),
      httpResponseHeader = http.map(_.responseHeader).getOrElse(Nil),
      httpReferer = http.map(_.referer).getOrElse(Nil),
      httpLocation = http.map(_.location).getOrElse(Nil),
      httpCookieKey = http.map(_.cookieKey).getOrElse(Nil),
      httpCookieValue = http.map(_.cookieValue).getOrElse(Nil),
      httpMd5 = http.map(_.md5).getOrElse(Nil),
      httpClientVersion = http.map(_.clientVersion).getOrElse(Nil),
      httpServerVersion = http.map(_.serverVersion).getOrElse(Nil),
      httpBodyMagic = http.map(_.bodyMagic).getOrElse(Nil),
      httpRequestHeaderField = http.map(_.requestHeaderField).getOrElse(Nil),
      httpRequestHeaderValue = http.map(_.requestHeaderValue).getOrElse(Nil),
      httpResponseHeaderField = http.map(_.responseHeaderField).getOrElse(Nil),
      httpResponseHeaderValue = http.map(_.responseHeaderValue).getOrElse(Nil),
      httpUser = http.map(_.authUser).getOrElse(Nil),
      httpAuthType = http.map(_.authType).getOrElse(Nil),
      httpAuthorization = http.map(_.authorization).getOrElse(Nil),
      dnsQname = dns.map(_.qname).getOrElse(Nil),
      dnsQtype = dns.map(_.qtype).getOrElse(Nil),
      dnsRcode = dns.map(_.rcode).getOrElse(Nil),
      dnsOpcode = dns.map(_.opcode).getOrElse(Nil),
      dnsQclass = dns.map(_.qclass).getOrElse(Nil),
      dnsIp = dnsIps,
      dnsMailserverHost = dns.map(_.mailserverHost).getOrElse(Nil),
      dnsNameserverHost = dns.map(_.nameserverHost).getOrElse(Nil),
      dnsNameserverIp = dnsNsIps,
      dnsMailserverIp = dnsMxIps,
      dnsAsn = asnArr(dnsIps), dnsGeo = geoArr(dnsIps),
      dnsRir = rirArr(dnsIps),
      dnsNameserverAsn = asnArr(dnsNsIps),
      dnsNameserverGeo = geoArr(dnsNsIps),
      dnsNameserverRir = rirArr(dnsNsIps),
      dnsMailserverAsn = asnArr(dnsMxIps),
      dnsMailserverGeo = geoArr(dnsMxIps),
      dnsMailserverRir = rirArr(dnsMxIps),
      tlsVersion = tls.map(_.version).getOrElse(Nil),
      tlsCipher = tls.map(_.cipher).getOrElse(Nil),
      tlsJa3 = tls.map(_.ja3).getOrElse(Nil),
      tlsJa3String = tls.map(_.ja3string).getOrElse(Nil),
      tlsJa3s = tls.map(_.ja3s).getOrElse(Nil),
      tlsJa3sString = tls.map(_.ja3sstring).getOrElse(Nil),
      tlsSrcSessionId = tls.map(_.srcSessionId).getOrElse(Nil),
      tlsDstSessionId = tls.map(_.dstSessionId).getOrElse(Nil),
      sshVersion = ssh.map(_.version).getOrElse(Nil),
      sshHassh = ssh.map(_.hassh).getOrElse(Nil),
      sshHasshServer = ssh.map(_.hasshServer).getOrElse(Nil),
      sshKey = ssh.map(_.key).getOrElse(Nil),
      dhcpId = dhcp.map(_.id).getOrElse(Nil),
      dhcpHost = dhcp.map(_.host).getOrElse(Nil),
      dhcpMac = dhcp.map(_.mac).getOrElse(Nil),
      dhcpType = dhcp.map(_.dhcpType).getOrElse(Nil),
      smtpHello = smtp.map(_.hello).getOrElse(Nil),
      emailSrc = smtp.map(_.src).getOrElse(Nil),
      emailDst = smtp.map(_.dst).getOrElse(Nil),
      emailSubject = smtp.map(_.subject).getOrElse(Nil),
      emailContentType = smtp.map(_.contentType).getOrElse(Nil),
      emailMimeVersion = smtp.map(_.mimeVersion).getOrElse(Nil),
      emailHeader = smtp.map(_.headers).getOrElse(Nil),
      emailHeaderField = smtp.map(_.headerField).getOrElse(Nil),
      emailHeaderValue = smtp.map(_.headerValue).getOrElse(Nil),
      emailHeaderTrace = smtp.map(_.headerTrace).getOrElse(Nil),
      emailId = smtp.map(_.id).getOrElse(Nil),
      emailHost = smtp.map(_.host).getOrElse(Nil),
      emailIp = emailIps,
      emailAsn = asnArr(emailIps), emailGeo = geoArr(emailIps),
      emailRir = rirArr(emailIps),
      greIp = greIps, greAsn = asnArr(greIps), greGeo = geoArr(greIps),
      greRir = rirArr(greIps),
      httpXffIp = xffIps, httpXffAsn = asnArr(xffIps),
      httpXffGeo = geoArr(xffIps), httpXffRir = rirArr(xffIps),
      dnsPuny = dns.map(_.puny).getOrElse(Nil),
      httpSha256 = http.map(_.sha256).getOrElse(Nil),
      httpRequestBody = http.map(_.requestBody).getOrElse(Nil),
      emailMd5 = smtp.map(_.md5).getOrElse(Nil),
      emailSha256 = smtp.map(_.sha256).getOrElse(Nil),
      emailFilename = smtp.map(_.filename).getOrElse(Nil),
      emailBodyMagic = smtp.map(_.bodyMagic).getOrElse(Nil),
      dhcpOui = dhcp.map(_.mac.flatMap(Fixtures.ouiOf).distinct)
        .getOrElse(Nil),
      isisMsgType = seg.iterator.map(_.isisMsgType).filter(_ != null)
        .distinct.toIndexedSeq,
      emailUseragent = smtp.map(_.useragent).getOrElse(Nil),
      cert = certSeq,
      vlanId = seg.iterator.flatMap(_.vlanIds).toSeq.distinct.sorted,
      ircNick = irc.map(_.nick).getOrElse(Nil),
      ircChannel = irc.map(_.channel).getOrElse(Nil),
      pgUser = pg.map(_.user).orNull,
      pgDb = pg.map(_.db).orNull,
      pgApp = pg.map(_.app).orNull,
      mysqlVersion = mysql.map(_.version).orNull,
      mysqlUser = mysql.map(_.user).orNull,
      krb5Realm = krb5.map(_.realm).getOrElse(Nil),
      krb5Cname = krb5.map(_.cname).getOrElse(Nil),
      krb5Sname = krb5.map(_.sname).getOrElse(Nil),
      ldapAuthtype = (ldapSrc.map(_.authtype).getOrElse(Nil) ++
        ldapDst.map(_.authtype).getOrElse(Nil)).distinct,
      ldapBindname = (ldapSrc.map(_.bindname).getOrElse(Nil) ++
        ldapDst.map(_.bindname).getOrElse(Nil)).distinct,
      quicHost = (quic.map(_.host).getOrElse(Nil) ++
        fbzero.map(_.host).getOrElse(Nil)).distinct,
      quicUseragent = (quic.map(_.useragent).getOrElse(Nil) ++
        fbzero.map(_.useragent).getOrElse(Nil)).distinct,
      quicVersion = (quic.map(_.version).getOrElse(Nil) ++
        fbzero.map(_.version).getOrElse(Nil)).distinct,
      smbDomain = smb.map(_.domain).getOrElse(Nil),
      smbUser = smb.map(_.user).getOrElse(Nil),
      smbHost = smb.map(_.host).getOrElse(Nil),
      smbOs = smb.map(_.os).getOrElse(Nil),
      smbVersion = smb.map(_.version).getOrElse(Nil),
      smbShare = smb.map(_.share).getOrElse(Nil),
      smbFilename = smb.map(_.filename).getOrElse(Nil),
      icmpType = seg.iterator.filter(_.icmpType >= 0).map(_.icmpType)
        .toSeq.distinct.sorted,
      icmpCode = seg.iterator.filter(_.icmpCode >= 0).map(_.icmpCode)
        .toSeq.distinct.sorted,
      bgpType = bgpTypes.sorted,
      user = users,
      oracleUser = oracleInfo.map(_.user).orNull,
      oracleHost = oracleInfo.map(_.host).orNull,
      oracleService = oracleInfo.map(_.service).orNull,
      radiusUser = radius.map(_.user).getOrElse(Nil),
      radiusFramedIp = framedIps,
      radiusFramedAsn = asnArr(framedIps),
      radiusFramedGeo = geoArr(framedIps),
      radiusFramedRir = rirArr(framedIps),
      radiusMac = radius.map(_.mac).getOrElse(Nil))
  }

  /** Batch pipeline: pcap path → session rows. `testRules` opts into the
    * reference test deployment's rules.yaml marker tags (golden fidelity).
    * `bpf` is the capture-filter config (`bpf=`, capture/config.c:480):
    * non-matching packets drop map-side, before the codec pack and the
    * sessionize shuffle ever see them.
    */
  def sessionize(spark: SparkSession, pcapPath: String,
      node: String = "test", testRules: Boolean = false,
      yaraRules: Seq[graft.ops.Yara.Rule] = Nil,
      bpf: Option[String] = None): Dataset[SessionRow] = {
    import spark.implicits._
    // branch once on the driver: the no-filter path keeps the exact
    // per-packet code of the throughput-pinned ingest
    val decodeFn: Pcap.RawPacket => Iterator[Decode.DecodedPacket] =
      bpf.map(Bpf.packetPredicate(_)) match {
        case Some(keep) => p => Decode.decode(p).iterator.filter(keep)
        case None => p => Decode.decode(p).iterator
      }
    // shuffle leg rides the compact binary codec: (key, packed) is a
    // two-column row, vs the 25-field product encoding of DecodedPacket
    // whose per-field UnsafeRow conversion dominated ingest (PacketCodec)
    Pcap.readPackets(spark, pcapPath)
      .flatMap(decodeFn)
      .map(p => (sessionKey(p), PacketCodec.pack(p)))
      .groupByKey(_._1)
      .flatMapGroups((k, ps) =>
        buildSessions(k, ps.map(t => PacketCodec.unpack(t._2)), node,
          testRules, yaraRules))
  }

  /** Golden-fidelity sessionize: replays the reference test rules, as the
    * reference's test captures were produced with tests/config.test.ini
    * (rules.yaml field rules + the rules.yara content rules) loaded.
    */
  def sessionizeRef(spark: SparkSession, pcapPath: String,
      node: String = "test"): Dataset[SessionRow] =
    sessionize(spark, pcapPath, node, testRules = true,
      yaraRules = refYaraRules)

  /** Fails loudly: an unreadable or unparsable rules file must not
    * become "no rules", which would silently tag nothing.
    */
  private lazy val refYaraRules: Seq[graft.ops.Yara.Rule] = {
    val path = "/root/reference/tests/rules.yara"
    try graft.ops.Yara.parse(new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Exception =>
      throw new IllegalStateException(
        s"cannot load the reference YARA rules from $path", e) }
  }
}
