package graft.model

import org.apache.spark.sql.{Encoder, SparkSession}

/** Whole-rewrite persistence for tiny configuration tables (users,
  * shortcuts, views, notifiers, parliament issues, UI state): one
  * parquet directory rewritten atomically-enough on every mutation.
  * These tables are configuration — thousands of rows at most — so a
  * full rewrite is one small task and the read side is a
  * broadcast-sized scan; they never grow with the session store.
  *
  * The swap protocol (write aside → move live table out of the way →
  * move the new one in → roll back on failure) mirrors
  * [[graft.etl.SessionStore]] compaction: HDFS `rename` will not
  * replace an existing directory, so the aside move is mandatory, and
  * the no-table window is the gap between two metadata renames rather
  * than a full recursive delete + rename (the reference serializes
  * writers the same way with per-store mutexes, e.g.
  * viewer/apiShortcuts.js shortcutMutex).
  *
  * It is the only reader and writer of these tables: every store reads
  * through [[read]] and writes through [[write]], so the swap protocol,
  * its crash recovery and forward schema evolution live here alone. A
  * store that read its parquet itself would answer an empty table
  * during the crash window, and its next write would drop every row.
  */
object TinyTable {

  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{col, lit}
  import org.apache.spark.sql.types._

  /** A crash between the two swap renames leaves the live data parked at
    * `path_old` with no `path`: finish the interrupted swap by moving it
    * back before any read or write proceeds, otherwise a read returns an
    * empty table and the next write deletes the only copy.
    */
  private def recover(fs: org.apache.hadoop.fs.FileSystem,
      target: org.apache.hadoop.fs.Path): Unit = {
    val bak = new org.apache.hadoop.fs.Path(target.toString + "_old")
    if (!fs.exists(target) && fs.exists(bak)) fs.rename(bak, target)
  }

  /** Schema-evolution default for a column absent from an older stored
    * table: a zero-ish value of the field's type (callers override per
    * field via `defaults` when the domain default isn't the zero).
    */
  private def zeroOf(dt: DataType): Column = dt match {
    case BooleanType => lit(false)
    case ByteType | ShortType | IntegerType | LongType => lit(0L).cast(dt)
    case FloatType | DoubleType => lit(0.0).cast(dt)
    case _: DecimalType => lit(0).cast(dt)
    case StringType => lit("")
    case m: MapType => org.apache.spark.sql.functions.map().cast(m)
    case a: ArrayType => org.apache.spark.sql.functions.array().cast(a)
    case other => lit(null).cast(other)
  }

  /** Read tolerating forward schema evolution: fields the encoder knows
    * but the stored parquet predates are filled with `defaults` (or the
    * type's zero), so adding a case-class field never bricks an existing
    * store.
    */
  def read[T <: Product](spark: SparkSession, path: String,
      defaults: Map[String, Column] = Map.empty)(
      implicit enc: Encoder[T]): Seq[T] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recover(fs, p)
    if (!fs.exists(p)) Nil
    else {
      val df = spark.read.parquet(path)
      val have = df.columns.toSet
      val want = enc.schema
      val filled = want.fields.foldLeft(df) { (d, f) =>
        if (have.contains(f.name)) d
        else d.withColumn(f.name,
          defaults.getOrElse(f.name, zeroOf(f.dataType)))
      }
      filled.select(want.fieldNames.toIndexedSeq.map(col): _*)
        .as[T].collect().toSeq
    }
  }

  def write[T <: Product: Encoder](spark: SparkSession, path: String,
      rows: Seq[T], label: String): Unit = {
    val target = new org.apache.hadoop.fs.Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recover(fs, target)
    val tmp = new org.apache.hadoop.fs.Path(path + "_tmp")
    spark.createDataset(rows).coalesce(1)
      .write.mode("overwrite").parquet(tmp.toString)
    val bak = new org.apache.hadoop.fs.Path(path + "_old")
    fs.delete(bak, true) // leftover from a crashed prior swap
    val hadOld = fs.exists(target)
    if (hadOld && !fs.rename(target, bak))
      throw new java.io.IOException(s"$label: cannot move $path aside")
    if (!fs.rename(tmp, target)) {
      if (hadOld) fs.rename(bak, target) // roll back
      throw new java.io.IOException(s"$label: cannot swap in $path")
    }
    if (hadOld) fs.delete(bak, true)
  }
}
