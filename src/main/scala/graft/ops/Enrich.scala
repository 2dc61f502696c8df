package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Enrichment operators:
  *   - I9: GeoIP/ASN/OUI-style broadcast dimension joins;
  *   - I13: WISE-style threat-intel lookup (key → fields/tags);
  *   - I11: duplicate-packet / duplicate-row suppression;
  *   - I14: ES-bulk-shaped JSON serialization of session rows.
  *
  * All joins broadcast the (small) dimension side — at 100 TB the fact
  * scan never shuffles for enrichment.
  */
object Enrich {

  /** I9 (CIDR form): longest-prefix GeoIP-style lookup. The dim table has
    * (cidr, value) rows; facts join on prefix containment. Broadcast
    * nested-loop on the tiny dim side — at scale, pre-explode CIDRs into
    * fixed /16 buckets to make it an equi-join.
    */
  def cidrJoin(
      facts: DataFrame, ipCol: Column, dim: Seq[(String, String)],
      outCol: String): DataFrame = {
    // Longest prefix first: a CASE chain takes the FIRST matching arm, so
    // overlapping entries (10.0.0.0/8 and 10.1.2.0/24) must be ordered
    // most-specific-first regardless of caller order; a bare address is
    // a host route (/32, or /128 for v6). Ties keep caller order.
    def prefixLen(cidr: String): Int = cidr.split('/') match {
      case Array(_, n) => n.toInt
      case Array(ip) => if (ip.contains(':')) 128 else 32
    }
    val ordered = dim.sortBy(e => -prefixLen(e._1))
    // Build a CASE chain over the (few) CIDR rows: stays codegen'd.
    val chain = ordered.foldRight(lit(null).cast("string")) {
      case ((cidr, value), acc) =>
        when(graft.functions.IpFunctions.ipInCidr(ipCol, cidr), lit(value))
          .otherwise(acc)
    }
    facts.withColumn(outCol, chain)
  }

  /** I9: RIR for a v4 address column — first-octet lookup against the
    * bundled IANA address-space fixture (capture/db.c:291-293 falls back
    * the same way when maxmind lacks RIR data). A literal map in the
    * plan: codegen'd, no join, no shuffle.
    */
  def rirFor(ip: Column): Column = {
    val octet = when(ip.rlike("^[0-9]{1,3}\\."),
      split(ip, "\\.").getItem(0).cast("int"))
    try_element_at(typedLit(graft.model.Fixtures.rirByOctet), octet)
  }

  /** I9: manufacturer for a MAC column via the bundled IEEE OUI subset
    * (capture/db.c:2259-2267; 24-bit prefixes).
    */
  def ouiFor(mac: Column): Column =
    try_element_at(typedLit(graft.model.Fixtures.ouiByPrefix),
      lower(substring(mac, 1, 8)))

  /** I13: WISE-style intel lookup — a key column (ip/domain/md5/ja3)
    * against an intel table of (key, field, value); matches set fields
    * and add tags.
    */
  def wiseLookup(
      sessions: DataFrame, keyCol: Column, intel: DataFrame): DataFrame = {
    val tagged = intel.groupBy(col("key"))
      .agg(collect_set(concat_ws("=", col("field"), col("value"))).as("intel"))
    sessions.join(broadcast(tagged), keyCol === col("key"), "left")
      .drop("key")
  }

  /** I11: exact duplicate suppression on a content hash within a FIXED
    * time bucket (reference: capture/dedup.c's seconds ring buffer; the
    * batch analogue uses floor(ts/window) buckets, so duplicates
    * straddling a bucket boundary are intentionally both kept — the
    * price of a shuffle-free-deterministic batch form). Keeps the
    * EARLIEST row per (bucket, hash) deterministically: the aggregate
    * takes the struct-min ordered by (ts, full row), never
    * dropDuplicates' partition-order-dependent pick.
    */
  def dedupPackets(
      df: DataFrame, hashCols: Seq[String], tsCol: Column,
      windowSecs: Long): DataFrame = {
    val bucket = (unix_timestamp(tsCol) / windowSecs).cast("long")
    val cols = df.columns.toSeq
    df.withColumn("_w", bucket)
      .groupBy(("_w" +: hashCols).map(col): _*)
      .agg(min(struct((tsCol.as("_k") +: cols.map(col)): _*)).as("_r"))
      .select(cols.map(c => col(s"_r.`$c`").as(c)): _*)
  }

  /** I14: serialize session rows to ES-bulk-shaped JSON documents (the
    * nested `source.*`/`destination.*` document layout of db.c:635-1100).
    * Returns (jsonDoc) strings ready for an `_bulk` sink / ndjson files.
    */
  def toEsDocs(sessions: DataFrame): DataFrame =
    sessions.select(esDocCol.as("doc"))

  /** One `_bulk` unit per session: the `{"index":{...}}` action line (index
    * name `sessions3-YYMMDD` from firstPacket — the reference's time-rotated
    * naming, capture/db.c:538-577) and the document, newline-joined.
    */
  def toEsBulkLines(sessions: DataFrame): DataFrame = {
    val idx = concat(lit("sessions3-"),
      date_format(timestamp_millis(col("firstPacket")), "yyMMdd"))
    val action = to_json(struct(struct(
      idx.as("_index"),
      concat_ws("-", col("sessionId"), col("firstPacket")).as("_id"))
      .as("index")))
    sessions.select(concat(action, lit("\n"), esDocCol).as("bulk"))
  }

  private def esDocCol: Column = {
    to_json(struct(
      col("firstPacket"), col("lastPacket"), col("length"), col("ipProtocol"),
      struct(col("srcIp").as("ip"), col("srcPort").as("port"),
        col("srcPackets").as("packets"), col("srcBytes").as("bytes"),
        col("srcMac").as("mac")).as("source"),
      struct(col("dstIp").as("ip"), col("dstPort").as("port"),
        col("dstPackets").as("packets"), col("dstBytes").as("bytes"),
        col("dstMac").as("mac")).as("destination"),
      struct(col("totPackets").as("packets"), col("totBytes").as("bytes"),
        col("communityId").as("community_id")).as("network"),
      struct(col("srcDataBytes").as("bytes")).as("client"),
      struct(col("dstDataBytes").as("bytes")).as("server"),
      col("totDataBytes"), col("protocol"), col("node"),
      col("segmentCnt"), col("packetPos"), col("packetLen")
    ))
  }

  /** Suricata-plugin-style alert enrichment: attach out-of-band alerts to
    * the session whose key matches and whose [start, end] interval covers
    * the alert time (reference: capture/plugins/suricata.c — eve.json
    * alerts matched to live sessions by 5-tuple + packet-time window).
    *
    * Interval-join strategy that survives 100 TB: both sides are bucketed
    * to `bucketSeconds`; a session row fans out to every bucket its span
    * touches (bounded — long flows are already segment-split by the ETL's
    * mid-save, so spans are capped), an alert lands in exactly one, and
    * the join is a plain equi-join on (key, bucket) — no theta-join, no
    * broadcast requirement, skew bounded by per-bucket traffic. Duplicate
    * matches from multi-bucket spans collapse via the final distinct on
    * (session identity, alert identity).
    *
    * `sessions` needs `key`, `start_s`, `end_s` columns; `alerts` needs
    * `key`, `alert_s`, `alert_id` (+ any payload columns, all kept).
    */
  def alertSessionJoin(
      sessions: DataFrame, alerts: DataFrame,
      bucketSeconds: Long = 3600L): DataFrame = {
    val s = sessions.withColumn("_bucket",
      explode(sequence(floor(col("start_s") / bucketSeconds),
        floor(col("end_s") / bucketSeconds))))
    val a = alerts.withColumn("_bucket",
      floor(col("alert_s") / bucketSeconds))
    s.join(a, Seq("key", "_bucket"))
      .filter(col("alert_s") >= col("start_s") &&
        col("alert_s") <= col("end_s"))
      .drop("_bucket")
      .distinct()
  }
}
