package graft.ops

import java.io.{BufferedOutputStream, FileOutputStream}

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.etl.{PcapCrypto, PcapStore, SessionStore}
import graft.etl.SessionBuilder.SessionRow

/** Cross-cluster session forwarding — the `/api/sessions/send` family
  * and the cron-query `forward:cluster` action (reference:
  * viewer/apiSessions.js:799-830 sendSessionsList, 3035-3092
  * sendSessionToNode/sendSessionsToNode; receive side
  * apiSessions.js:3125-3240 receiveSession: the destination writes one
  * pcap file per `saveId` (`<node>-<seq>-<saveId>.pcap`), appends each
  * arriving session's packet records to it, rewrites the session's
  * `packetPos`/`fileId` to reference that file, applies the request's
  * tags, and indexes the SPI document).
  *
  * Spark split: the packet-slice reads are the distributed half —
  * [[PcapExport.records]] seeks only the forwarded sessions' byte
  * ranges, grouped per source file across the cluster (and decrypts
  * encrypted-at-rest stores, so the destination receives plain pcap
  * records exactly like the reference's sender). Only the final byte
  * stream into the single destination file is serial, which is the
  * reference's model too (per-saveId sequential appends over HTTP).
  * Forwarded batches are bounded by the caller (the cron scheduler
  * forwards ≤ `size` sessions per window step), so the per-batch offset
  * map is small; the SPI append itself is a distributed store write.
  */
object Forward {

  final case class Result(sessions: Long, records: Long, pcapPath: String)

  /** A destination "cluster": its SPI store root and its pcap dir —
    * the sandbox stand-in for the reference's named remote cluster
    * (`Config.get('multiES')` cluster map).
    */
  final case class Cluster(storePath: String, pcapDir: String,
      node: String = "remote")

  /** Forward `sessions` to `dest` under `saveId`. Writes
    * `<dest.pcapDir>/<dest.node>-<saveId>.pcap` (24-byte global header +
    * every referenced record in stored order) and appends the rewritten
    * SPI rows to `dest.storePath`. Idempotent per saveId: re-forwarding
    * the same batch overwrites the same pcap file; SPI rows append (the
    * reference likewise re-indexes).
    */
  def sendSessions(spark: SparkSession, sessions: Dataset[SessionRow],
      dest: Cluster, saveId: String, tags: Seq[String] = Nil,
      keys: String => PcapCrypto.FileKeys = _ => PcapCrypto.Normal,
      store: PcapStore.Store = PcapStore.Local): Result = {
    import spark.implicits._
    // sanitize like the reference's receive side — but when stripping
    // actually changed the id, append a short content hash so two
    // DIFFERENT raw saveIds ("fwd one" vs "fwdone") can never collide
    // onto one destination file after sanitization
    val stripped = saveId.replaceAll("[^-a-zA-Z0-9_]", "")
    require(stripped.nonEmpty, "Missing saveId")
    val cleanId =
      if (stripped == saveId) stripped
      else stripped + "-" + java.security.MessageDigest.getInstance("MD5")
        .digest(saveId.getBytes("UTF-8")).take(4)
        .map("%02x".format(_)).mkString
    val destFile = java.nio.file.Paths.get(dest.pcapDir,
      s"${dest.node}-$cleanId.pcap").toString
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(dest.pcapDir))

    // the offsets pass and the SPI rewrite both consume the same rows;
    // compute the source read once
    val src = CacheHooks.materialize(sessions)
    try {
      val hdr = PcapExport.header(src, keys, store)
      val sorted = PcapExport.records(src, keys, store)
        .orderBy("firstPacket", "sessionId", "seq")
        .select("sessionId", "seq", "record")

      // serial assembly of the destination file, tracking each record's
      // landing offset — the receiveSession write loop
      val offsets = scala.collection.mutable.Map[
        String, scala.collection.mutable.ArrayBuffer[(Int, Long, Int)]]()
      val out = new BufferedOutputStream(new FileOutputStream(destFile), 1 << 16)
      var nRec = 0L
      var off: Long = hdr.length.toLong
      try {
        out.write(hdr)
        sorted.toLocalIterator().forEachRemaining { r =>
          val sid = r.getString(0)
          val seq = r.getInt(1)
          val rec = r.getAs[Array[Byte]](2)
          offsets.getOrElseUpdate(sid,
            new scala.collection.mutable.ArrayBuffer) += ((seq, off, rec.length))
          out.write(rec)
          off += rec.length
          nRec += 1
        }
      } finally out.close()

      // rewrite each session's packet references to the destination file
      // (receiveSession's packetPos/fileId rewrite, apiSessions.js:3220-3226)
      val posMap: Map[String, (Seq[Long], Seq[Int])] = offsets.iterator.map {
        case (sid, buf) =>
          val s = buf.sortBy(_._1)
          sid -> (s.map(_._2).toSeq, s.map(_._3).toSeq)
      }.toMap
      val bc = spark.sparkContext.broadcast(posMap)
      // every forwarded row carries a per-saveId marker tag, making the
      // SPI side replay-idempotent: re-forwarding the same saveId first
      // purges the previous batch's rows (matched days only), exactly as
      // the pcap file is overwritten — without it a crash-replay doubles
      // the destination's rows
      val marker = s"fwd:$cleanId"
      val cleanTags = Upload.sanitizeTags(tags) :+ marker
      val destNode = dest.node
      val rewritten = src.map { s =>
        val (pos, len) = bc.value.getOrElse(s.sessionId,
          (Seq.empty[Long], Seq.empty[Int]))
        s.copy(node = destNode,
          fileId = if (pos.isEmpty) Nil else Seq(destFile),
          packetPos = pos.toArray, packetLen = len.toArray,
          packetFileIdx = new Array[Int](pos.length),
          tags = (s.tags ++ cleanTags).distinct)
      }
      val destRoot = new org.apache.hadoop.fs.Path(dest.storePath)
      if (destRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(destRoot))
        Tagging.rewriteMatchedDays(spark, dest.storePath,
          org.apache.spark.sql.functions.array_contains(
            org.apache.spark.sql.functions.col("tags"), marker)) { df =>
          df.filter(!org.apache.spark.sql.functions.array_contains(
            org.apache.spark.sql.functions.col("tags"), marker))
        }
      SessionStore.append(rewritten, dest.storePath)
      Result(src.count(), nRec, destFile)
    } finally src.unpersist()
  }
}
