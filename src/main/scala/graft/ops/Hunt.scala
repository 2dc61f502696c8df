package graft.ops

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.etl.SessionBuilder.SessionRow

/** E13: Hunts — batch packet-content search jobs over stored pcap bytes
  * (reference: viewer/apiHunts.js:13-112 matchers, job runner 370-580).
  *
  * A hunt re-reads each matching session's raw packets (addressed by the
  * session's `fileId`/`packetPos`/`packetLen` arrays — the reference's
  * design, kept verbatim) and scans payload bytes for an ascii /
  * ascii-case-sensitive / hex / regex needle, optionally restricted to
  * one direction. Matching sessions get a tag added, like the reference
  * writes hunt tags back to matched sessions.
  *
  * Scale: sessions partition across executors; each task opens only the
  * pcap files its sessions reference (files are grouped per partition by
  * sorting on fileId), so the byte side-channel is read once per
  * task×file, never shuffled.
  */
object Hunt {

  sealed trait Needle { def matches(hay: Array[Byte]): Boolean }

  /** ASCII substring, optionally case-insensitive (reference `ascii` /
    * `asciicase` hunt types).
    */
  final case class AsciiNeedle(s: String, caseSensitive: Boolean) extends Needle {
    // Locale.ROOT: the haystack fold below is ASCII-only, so a default
    // Turkish locale lowercasing 'I' to dotless-ı would make the needle
    // unmatchable
    private val needle =
      (if (caseSensitive) s else s.toLowerCase(java.util.Locale.ROOT))
        .getBytes(StandardCharsets.ISO_8859_1)
    def matches(hay: Array[Byte]): Boolean = {
      val h = if (caseSensitive) hay else hay.map(b =>
        if (b >= 'A' && b <= 'Z') (b + 32).toByte else b)
      indexOf(h, needle) >= 0
    }
  }

  /** Raw byte-sequence needle from a hex string (reference `hex`). */
  final case class HexNeedle(hex: String) extends Needle {
    private val needle = hex.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    def matches(hay: Array[Byte]): Boolean = indexOf(hay, needle) >= 0
  }

  /** Regex over the latin-1 view of the payload (reference `regex` /
    * `hexregex`; uses re2j-style linear matching in the reference — Java
    * regex here, applied to bounded payloads).
    */
  final case class RegexNeedle(re: String) extends Needle {
    private val p = java.util.regex.Pattern.compile(re)
    def matches(hay: Array[Byte]): Boolean =
      p.matcher(new String(hay, StandardCharsets.ISO_8859_1)).find()
  }

  private def indexOf(hay: Array[Byte], needle: Array[Byte]): Int = {
    if (needle.isEmpty) return 0
    var i = 0
    while (i <= hay.length - needle.length) {
      var j = 0
      while (j < needle.length && hay(i + j) == needle(j)) j += 1
      if (j == needle.length) return i
      i += 1
    }
    -1
  }

  final case class HuntConfig(
      needle: Needle,
      src: Boolean = true,
      dst: Boolean = true,
      tag: String = "hunt-match")

  /** Run a hunt over session rows; returns the sessions with a `huntTag`
    * column (null when unmatched) — the write-back analogue.
    *
    * Packets are fetched by seeking each stored `(fileId, packetPos,
    * packetLen)` slice — capture files are multi-GB in production, so a
    * task only ever reads the bytes its sessions reference (the
    * reference's `readPacket(pos)` path), never whole files. Offsets are
    * grouped per file via `packetFileIdx`, so a multi-file session never
    * misreads an offset of file A against file B.
    */
  def run(sessions: Dataset[SessionRow], cfg: HuntConfig,
      keys: String => graft.etl.PcapCrypto.FileKeys = _ => graft.etl.PcapCrypto.Normal,
      store: graft.etl.PcapStore.Store = graft.etl.PcapStore.Local): DataFrame = {
    val spark = sessions.sparkSession
    import spark.implicits._
    // materialize the input once: it feeds both the packet-scanning
    // mapPartitions below AND the join back — without this, a HuntJob
    // batch (filter + sort + limit) re-executes per join subtree, one
    // of them repeating all the packet I/O
    val src = CacheHooks.materialize(sessions)
    val matched = src.mapPartitions { rows =>
      // one open blob + parsed global header per referenced file,
      // cached for the task's lifetime, closed on task completion.
      // `keys` resolves a raw fileId to its at-rest encryption material
      // (files-index encoding/dek/iv); slices decrypt in place, so an
      // encrypted store hunts with the same seek-only I/O as a plain one.
      // `store` picks the byte backend (local file vs chunked object).
      // The open/read machinery itself is the shared PcapChannels path.
      val open = PcapChannels.newOpenMap()
      Option(org.apache.spark.TaskContext.get()).foreach(
        _.addTaskCompletionListener[Unit](_ => PcapChannels.closeAll(open)))
      rows.map { s =>
        def dirOf(p: graft.etl.Decode.DecodedPacket): Int =
          if (p.srcIp == s.srcIp && p.srcPort == s.srcPort) 0 else 1
        // exists short-circuits: a session stops reading at its first hit
        val hit = s.packetPos.indices.exists { i =>
          s.fileId.lift(s.packetFileIdx(i)).exists { f =>
            PcapChannels.channelOf(open, f, keys, store).exists { ch =>
              PcapChannels.readPacket(ch, f, s.packetPos(i), s.packetLen(i))
                .toSeq.flatMap(graft.etl.Decode.decode(_))
                .exists { p =>
                  p.payload.nonEmpty &&
                    ((cfg.src && dirOf(p) == 0) || (cfg.dst && dirOf(p) == 1)) &&
                    cfg.needle.matches(p.payload)
                }
            }
          }
        }
        // Key on (sessionId, segmentSeq): segments of one long session
        // share sessionId, so joining back on sessionId alone would
        // cross-product n segments into n² rows.
        (s.sessionId, s.segmentSeq, hit)
      }
    }.toDF("sessionId", "segmentSeq", "hit")
    CacheHooks.unpersistAfterFirstUse(src) // before the returned Dataset exists
    src.toDF().join(matched, Seq("sessionId", "segmentSeq"))
      .withColumn("huntTag", when(col("hit"), lit(cfg.tag)))
      .drop("hit")
  }
}
