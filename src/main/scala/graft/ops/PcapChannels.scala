package graft.ops

/** The seek-only pcap fetch path shared by every consumer that resolves
  * stored `packetPos` references back to bytes — [[Hunt]]'s partition
  * scans and the interactive single-session endpoints ([[CyberChef]],
  * [[BodyHash]]). One place owns blob open ([[graft.etl.Pcap.localPath]])
  * + global-header parse, per-file key resolution and the swallow-and-
  * skip error policy, so a change to any of them (new store backend, new
  * encryption encoding) lands everywhere at once.
  */
private[ops] object PcapChannels {

  type Chan = (graft.etl.PcapStore.Blob, graft.etl.Pcap.PcapHeader,
    graft.etl.PcapCrypto.FileKeys)

  type OpenMap = scala.collection.mutable.Map[String, Option[Chan]]

  def newOpenMap(): OpenMap = scala.collection.mutable.Map()

  /** Resolve (and cache) the channel for a raw fileId. */
  def channelOf(open: OpenMap, f0: String,
      keys: String => graft.etl.PcapCrypto.FileKeys,
      store: graft.etl.PcapStore.Store): Option[Chan] = {
    open.getOrElseUpdate(f0, try {
      val k = keys(f0)
      val blob = store.open(graft.etl.Pcap.localPath(f0))
      val hdr = graft.etl.PcapCrypto.readSlice(blob, 0L, 24, k)
      graft.etl.Pcap.parseHeader(hdr).map((blob, _, k))
    } catch { case _: Exception => None })
  }

  /** One stored record slice → raw packet (None on any read error). */
  def readPacket(chan: Chan, f: String, pos: Long,
      len: Int): Option[graft.etl.Pcap.RawPacket] =
    try {
      val rec = graft.etl.PcapCrypto.readSlice(chan._1, pos, len, chan._3)
      graft.etl.Pcap.parseRecord(chan._2, rec, f, pos)
    } catch { case _: Exception => None }

  def closeAll(open: OpenMap): Unit =
    open.values.flatten.foreach(c =>
      try c._1.close() catch { case _: Exception => () })
}
