package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Reads parquet footers of a session store: per data file, the
  * `sessionId` bloom filter length of each row group (-1 = none).
  */
object StoreFooters {
  def sessionIdBloomLengths(spark: SparkSession,
      path: String): Map[String, Seq[Long]] = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf)
    val files = fs.listFiles(root, true)
    val out = Map.newBuilder[String, Seq[Long]]
    while (files.hasNext) {
      val p = files.next().getPath
      if (p.getName.endsWith(".parquet") &&
          !p.toString.contains("/_spark_metadata")) {
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
        try out += p.toString -> r.getFooter.getBlocks.asScala.toSeq.map {
          _.getColumns.asScala.find(_.getPath.toDotString == "sessionId")
            .get.getBloomFilterLength.toLong
        } finally r.close()
      }
    }
    out.result()
  }
}
