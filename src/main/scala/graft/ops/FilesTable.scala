package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.etl.SessionBuilder.SessionRow

/** E42: `GET /api/files` — the PCAP-file inventory page (reference:
  * viewer/apiMisc.js:34-92 getFiles over the `files` index; columns
  * num, node, name, locked, first, filesize, encoding,
  * packetPosEncoding; start/length paging, sortField/desc ordering,
  * name-substring filter; response carries recordsTotal /
  * recordsFiltered / data).
  *
  * Spark-first mapping: the reference maintains a separate `files`
  * index because its sessions only store integer file NUMBERS; this
  * engine's session rows carry the capture file PATHS themselves
  * (`fileId`), so the file inventory is a derived dimension — explode +
  * groupBy over the session store, with `first` = the earliest
  * firstPacket referencing the file and `num` = the reference's
  * per-node file ordinal (row_number over arrival order, partitioned
  * by node — never a partition-less window). File sizes come from one
  * distributed filesystem-status pass over the DISTINCT file list (the
  * [[graft.etl.SessionStore.inspect]] pattern), not a driver loop.
  * `encoding`/`packetPosEncoding` report this store's fixed layout
  * (plaintext records, absolute positions; at-rest encryption is the
  * E22 `keys` hook, resolved per file elsewhere).
  */
object FilesTable {

  /** One row per (node, file) the sessions reference. */
  def filesTable(sessions: Dataset[SessionRow]): DataFrame = {
    val spark = sessions.sparkSession
    import spark.implicits._
    val base = sessions.toDF()
      .select(col("node"), explode(col("fileId")).as("name"),
        col("firstPacket"))
      .groupBy("node", "name")
      .agg(min(col("firstPacket")).as("first"))
    val sconf = new graft.etl.Pcap.SerializableConf(
      spark.sparkContext.hadoopConfiguration)
    val sizes = base.select(col("name")).distinct().as[String]
      .map { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        val len =
          try p.getFileSystem(sconf.value).getFileStatus(p).getLen
          catch { case _: Exception => -1L }
        (f, len)
      }.toDF("name", "filesize")
    base.join(sizes, Seq("name"))
      .withColumn("num", row_number().over(
        Window.partitionBy(col("node")).orderBy(col("first"), col("name"))))
      .select(col("num"), col("node"), col("name"), lit(0).as("locked"),
        col("first"), col("filesize"), lit("normal").as("encoding"),
        lit("gap0").as("packetPosEncoding"))
  }

  /** `GET /api/:nodeName/:fileNum/filesize` (apiMisc.js:94-110
    * getFileSize): one file's size by its per-node ordinal. None = the
    * reference's "file not found"; -1 size = file referenced by the
    * store but missing on disk, like the reference's stat failure.
    */
  def fileSize(sessions: Dataset[SessionRow], node: String,
      num: Int): Option[Long] =
    filesTable(sessions)
      .filter(col("node") === node && col("num") === num)
      .select(col("filesize")).collect().headOption.map(_.getLong(0))

  final case class Page(recordsTotal: Long, recordsFiltered: Long,
      data: DataFrame)

  /** The endpoint's paged response: `filter` is the name-substring
    * wildcard, `sortField`/`desc` the ordering (default num asc),
    * `start`/`length` the page (length capped at 10 000 like the
    * reference's max).
    */
  def files(sessions: Dataset[SessionRow], start: Int = 0,
      length: Int = 100, sortField: String = "num", desc: Boolean = false,
      filter: Option[String] = None): Page = {
    val all = CacheHooks.materialize(filesTable(sessions))
    val total = all.count()
    val filtered = filter.fold(all)(f => all.filter(col("name").contains(f)))
    val nFiltered = filter.fold(total)(_ => filtered.count())
    CacheHooks.unpersistAfterFirstUse(all) // before the returned page exists
    val sortCol = if (filtered.columns.contains(sortField)) col(sortField)
      else col("num")
    val page = filtered
      .orderBy(if (desc) sortCol.desc else sortCol.asc, col("num").asc)
      .offset(math.max(0, start))
      .limit(math.min(math.max(0, length), 10000))
    Page(total, nFiltered, page)
  }
}
