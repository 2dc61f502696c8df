package graft.etl

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import SessionBuilder.SessionRow

/** Session persistence: day-partitioned parquet — the Spark analogue of
  * the reference's time-rotated `sessions3-YYMMDD` indices
  * (capture/db.c:538-577; pruning viewer/db.js:1853-1940 getIndices).
  *
  * Writing `partitionBy(day)` gives the same property the viewer gets
  * from index-name pruning: a time-bounded query only opens the days
  * that overlap the window (visible as PartitionFilters in the scan).
  * At 100 TB with ~daily compaction this is the difference between
  * scanning everything and scanning a handful of partitions.
  */
object SessionStore {

  /** Parquet bloom filter on sessionId: the detail fetch (E12
    * `filter(sessionId === x)`) and segment expansion (the self-join
    * key) are point lookups on RANDOM hash ids — row-group min/max
    * stats can never prune them, a bloom filter per row group can skip
    * almost every group. At 100 TB that turns a day-scan into a handful
    * of row-group reads. (Time predicates still prune via min/max, see
    * [[compact]].)
    *
    * Adaptive sizing: with no NDV given, parquet sizes a fixed filter at
    * `parquet.bloom.filter.max.bytes` (1 MiB) whatever the row group
    * holds. The adaptive writer keeps candidate filters from that cap
    * down and writes the smallest that holds the row group's distinct
    * sessionIds at the default FPP. Small files are the norm wherever
    * graft appends (live sink, upload, forward: one per micro-batch or
    * flush). The seed-1 perfbench ingest store (10.0 MB of capture, 28
    * files of ~85 sessions) measured ~1.16 MB per file with fixed 1 MiB
    * filters (3.25 stored bytes per input byte) and ~170 KB with adaptive
    * ones, whose 64 KiB filter is the smallest of parquet's default five
    * candidates (0.48 bytes per input byte). The one writer-option set of
    * every store writer, the streaming sink included.
    */
  private[graft] val bloomOpts = Map(
    "parquet.bloom.filter.enabled#sessionId" -> "true",
    "parquet.bloom.filter.adaptive.enabled" -> "true")

  /** UTC calendar date of an epoch-millis column, independent of
    * spark.sql.session.timeZone — date_format on a timestamp would
    * shift the partition key under a non-UTC session while [[expire]]
    * computes its cutoff in UTC (off-by-a-day retention). The one day
    * expression of every store writer, the streaming sink included.
    */
  private[graft] def utcDay(ms: org.apache.spark.sql.Column) =
    date_format(date_add(lit("1970-01-01").cast("date"),
      floor(ms / 86400000L).cast("int")), "yyyy-MM-dd")

  /** Write sessions day-partitioned (day = UTC date of firstPacket). */
  def write(sessions: Dataset[SessionRow], path: String): Unit =
    sessions.toDF()
      .withColumn("day", utcDay(col("firstPacket")))
      .write.mode("overwrite")
      .options(bloomOpts)
      .partitionBy("day")
      .parquet(path)

  /** Append sessions into an existing (or new) store — the ingest mode
    * used by upload ([[graft.ops.Upload]]), cross-cluster forwarding
    * ([[graft.ops.Forward]]) and live capture flushes: new files land in
    * the day partitions they belong to, existing files are untouched
    * (compaction later folds the accumulation, [[compact]]).
    */
  def append(sessions: Dataset[SessionRow], path: String): Unit =
    sessions.toDF()
      .withColumn("day", utcDay(col("firstPacket")))
      .write.mode("append")
      .options(bloomOpts)
      .partitionBy("day")
      .parquet(path)

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Bucketed store variant: additionally pre-hash rows into `nBuckets`
    * files per partition by sessionId, sorted within buckets. Joins whose
    * key is sessionId — the segment self-join (E12), hunt-result joins
    * (E13), federation re-aggregation (E15) — then read both sides
    * already co-located: the scan reports its bucketing and Catalyst
    * elides the Exchange on every bucketed side. At 100 TB that removes
    * the single biggest shuffle in the detail path. Catalog-backed
    * (`saveAsTable`) because bucketing metadata lives in the table
    * catalog, not the files.
    */
  def writeBucketed(sessions: Dataset[SessionRow], table: String,
      nBuckets: Int = 64): Unit =
    sessions.toDF()
      .withColumn("day", utcDay(col("firstPacket")))
      .write.mode("overwrite")
      .options(bloomOpts)
      .partitionBy("day")
      .bucketBy(nBuckets, "sessionId")
      .sortBy("sessionId")
      .format("parquet")
      .saveAsTable(table)

  /** Time-bounded read: the day predicate prunes partitions, the
    * millisecond predicate refines within them (reference bounding modes
    * are applied by Endpoints.sessionQuery on top).
    */
  def readRange(spark: SparkSession, path: String,
      startMs: Long, stopMs: Long): DataFrame = {
    val startDay = utcDay(lit(startMs))
    val stopDay = utcDay(lit(stopMs))
    read(spark, path)
      .filter(col("day") >= startDay && col("day") <= stopDay)
      .filter(col("lastPacket") >= startMs && col("firstPacket") <= stopMs)
  }

  /** Compaction: rewrite one day partition's accumulation of small files
    * (every micro-batch / capture node flush adds some) into
    * `ceil(bytes/targetBytes)` files, range-clustered and sorted by
    * `firstPacket` — the analogue of the reference's nightly
    * `optimizeAndDeleteIndices` forceMerge (db/db.pl). Range partitioning
    * rather than round-robin so each output file covers a narrow time
    * span and parquet min/max stats prune sub-day time predicates.
    * Returns the number of files written (0 = partition absent).
    */
  def compact(spark: SparkSession, path: String, day: String,
      targetBytes: Long = 512L * 1024 * 1024): Int = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dayPath = new org.apache.hadoop.fs.Path(root, s"day=$day")
    if (!fs.exists(dayPath)) return 0
    val bytes = fs.getContentSummary(dayPath).getLength
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    val tmp = new org.apache.hadoop.fs.Path(root, s"_compact_tmp_day=$day")
    spark.read.parquet(dayPath.toString)
      .repartitionByRange(nFiles, col("firstPacket"))
      .sortWithinPartitions("firstPacket")
      .write.mode("overwrite").options(bloomOpts).parquet(tmp.toString)
    val bak = new org.apache.hadoop.fs.Path(root, s"_compact_old_day=$day")
    if (!fs.rename(dayPath, bak))
      throw new java.io.IOException(s"compact: cannot move day=$day aside")
    if (!fs.rename(tmp, dayPath)) {
      fs.rename(bak, dayPath) // roll back
      throw new java.io.IOException(s"compact: cannot swap in day=$day")
    }
    fs.delete(bak, true)
    nFiles
  }

  /** One day partition's description, from METADATA only. */
  final case class PartitionInfo(
      day: String, files: Long, bytes: Long, rows: Long,
      minFirstPacket: Long, maxFirstPacket: Long, bucketed: Boolean)

  // Spark names bucketed output files part-…_NNNNN.c000…: the 5-digit
  // bucket ordinal before the .cN section
  private val BucketFilePattern = ".*_\\d{5}\\.c\\d+.*\\.parquet$".r

  /** Store inspection — the `/api/esindices` analogue (reference:
    * viewer/apiStats.js index listing: per-index docs/bytes/time-range/
    * health). One unordered row per day partition with file count, byte
    * size, row count and the firstPacket time range, assembled ENTIRELY
    * from filesystem listings and parquet footers — no data page is read.
    * The driver does one listing per day directory (metadata-only); the
    * footer opens — one RPC per file, the actual latency — run as a
    * distributed job over the file list, so a 100 TB store with a few
    * hundred thousand files answers in seconds on a cluster instead of
    * minutes of single-threaded driver RPCs. `bucketed` reports whether
    * the partition's files carry Spark's bucket-ordinal naming (the
    * [[writeBucketed]] layout).
    */
  def inspect(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val root = new org.apache.hadoop.fs.Path(path)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) return spark.createDataFrame(Seq.empty[PartitionInfo])
    val dayDirs = fs.listStatus(root).toSeq
      .filter(_.isDirectory)
      .filter(_.getPath.getName.startsWith("day="))
    val files: Seq[(String, String, Long)] = dayDirs.flatMap { dayDir =>
      val day = dayDir.getPath.getName.stripPrefix("day=")
      fs.listStatus(dayDir.getPath).toSeq
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        .map(f => (day, f.getPath.toString, f.getLen))
    }
    // day dirs with zero parquet files still report (empty partitions)
    val emptyDays = (dayDirs.map(_.getPath.getName.stripPrefix("day=")).toSet
      -- files.map(_._1)).toSeq
      .map(PartitionInfo(_, 0L, 0L, 0L, -1L, -1L, bucketed = false))
    if (files.isEmpty)
      return spark.createDataFrame(emptyDays)
    val sconf = new Pcap.SerializableConf(conf)
    val slots = math.max(1,
      math.min(files.size, spark.sparkContext.defaultParallelism * 4))
    val perFile = spark.createDataset(files)
      .repartition(slots)
      .map { case (day, fpath, len) =>
        import scala.jdk.CollectionConverters._
        val p = new org.apache.hadoop.fs.Path(fpath)
        var rows = 0L
        var minFp = Long.MaxValue
        var maxFp = Long.MinValue
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, sconf.value))
        try reader.getFooter.getBlocks.asScala.foreach { block =>
          rows += block.getRowCount
          block.getColumns.asScala
            .find(_.getPath.toDotString == "firstPacket")
            .foreach { c =>
              val st = c.getStatistics
              if (st != null && !st.isEmpty) {
                (st.genericGetMin, st.genericGetMax) match {
                  case (mn: java.lang.Long, mx: java.lang.Long) =>
                    minFp = math.min(minFp, mn)
                    maxFp = math.max(maxFp, mx)
                  case _ => ()
                }
              }
            }
        } finally reader.close()
        (day, len, rows, minFp, maxFp,
          BucketFilePattern.matches(p.getName))
      }
      .toDF("day", "bytes", "rows", "minFp", "maxFp", "isBucketFile")
    val agg = perFile.groupBy("day")
      .agg(
        count(lit(1)).as("files"),
        sum("bytes").as("bytes"),
        sum("rows").as("rows"),
        min("minFp").as("minFp"),
        max("maxFp").as("maxFp"),
        min(col("isBucketFile").cast("int")).as("allBucketed"))
      .select(
        col("day"),
        col("files"),
        col("bytes"),
        col("rows"),
        when(col("minFp") === Long.MaxValue, -1L).otherwise(col("minFp"))
          .as("minFirstPacket"),
        when(col("maxFp") === Long.MinValue, -1L).otherwise(col("maxFp"))
          .as("maxFirstPacket"),
        (col("allBucketed") === 1).as("bucketed"))
    if (emptyDays.isEmpty) agg
    else agg.unionByName(spark.createDataFrame(emptyDays))
  }

  /** Targeted single-partition delete — the `DELETE /api/esindices/
    * :index` analogue (reference: viewer/apiStats.js deleteIndex; the
    * admin page's per-index delete, distinct from retention). One
    * metadata operation regardless of partition size. Returns false if
    * the day partition does not exist.
    */
  def dropDay(spark: SparkSession, path: String, day: String): Boolean = {
    // `day` is request input (the endpoint's :index): a strict format
    // gate, or "x/../.." would normalize past day= and delete the store
    require(day.matches("\\d{4}-\\d{2}-\\d{2}"),
      s"dropDay: malformed day '$day'")
    val p = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(path), s"day=$day")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.delete(p, true)
  }

  /** Retention: drop day partitions older than `keepDays` — the analogue
    * of the reference's index lifecycle (`db.pl expire daily N` deletes
    * whole `sessions3-YYMMDD` indices, db/db.pl optimizeAndDeleteIndices;
    * never per-document deletes). Dropping a partition directory is one
    * metadata operation however many rows it holds, which is the only
    * retention model that works at 100 TB. Returns the dropped day keys.
    */
  def expire(spark: SparkSession, path: String, keepDays: Int,
      nowMs: Long = System.currentTimeMillis()): Seq[String] = {
    val cutoff = java.time.Instant.ofEpochMilli(nowMs)
      .atZone(java.time.ZoneOffset.UTC).toLocalDate.minusDays(keepDays - 1L)
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Nil
    fs.listStatus(root).toSeq
      .filter(_.isDirectory)
      .map(_.getPath)
      .filter(_.getName.startsWith("day="))
      .flatMap { p =>
        val day = p.getName.stripPrefix("day=")
        val old =
          try java.time.LocalDate.parse(day).isBefore(cutoff)
          catch { case _: java.time.format.DateTimeParseException => false }
        if (old && fs.delete(p, true)) Some(day) else None
      }
      .sorted
  }
}
