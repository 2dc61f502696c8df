package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Loaders for the driver-provided synthetic tables (TESTDATA.md).
  *
  * At 100 TB these would be partitioned-by-day parquet datasets; the loader
  * keeps the access path identical (`spark.read.parquet(dir)`) so partition
  * pruning and filter pushdown apply unchanged at scale.
  *
  * `events.ts` is written as parquet TIMESTAMP(NANOS), which Spark only
  * reads via the `nanosAsLong` legacy flag (see [[Sessions.builder]]); the
  * loader converts it back to a microsecond TimestampType (truncating, the
  * same way DuckDB's micro-precision TIMESTAMP reads the file).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    if (name == "events" && df.schema("ts").dataType == LongType)
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else df
  }
}

/** Single place for SparkSession defaults shared by Verify/Bench/tests. */
object Sessions {
  /** Entries of Spark's generated-code cache (a static conf, default 100).
    * The cache is an LRU, and cyclic access over more classes than it
    * holds misses on every access: one perfbench `operators` pass (8
    * queries) cycles through ~235 generated classes and one sweep of the
    * 138 `SparkEntry` queries at sf0.01 through ~2,345, so at 100 every
    * warmed pass recompiled all of them in Janino and re-warmed the JIT.
    * Measured on 4 vCPUs: warmed `operators` passes 235 → 18, 4, 0
    * compiles and ~20% less process CPU; warmed sweeps ~3,180 → 284, 168
    * compiles; metaspace after three sweeps 201 → 209 MB. 4096 is
    * power-of-two headroom above the sweep.
    */
  val CodegenCacheEntries = 4096

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // The local fixtures are single small parquet files; the 128 MB
      // default would scan each on ONE core, serializing per-document
      // kernels (shingle hashing, quality metrics). 1 MB splits keep all
      // cores busy locally and is a no-op at cluster scale, where inputs
      // arrive as many multi-hundred-MB files.
      .config("spark.sql.files.maxPartitionBytes", (1024 * 1024).toString)
      .config("spark.sql.files.openCostInBytes", (64 * 1024).toString)
      // Managed tables (the materialized IVF index, bucketed stores) land
      // in tmp, never in the working tree.
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft-warehouse")
      // Shuffle/spill scratch on the fastest local storage available —
      // the standard deployment knob (NVMe on a real cluster). On this
      // single-node disk-backed /tmp, memory-backed scratch moves full
      // sessionization from ~165 to ~265 MB/s (the shuffle leg stops
      // paying ext4 writeback for 250 MB of per-packet blocks).
      .config("spark.local.dir", {
        // only when the tmpfs has real capacity: container defaults give
        // /dev/shm 64 MB, where electing it would fail the first shuffle
        // with ENOSPC instead of just running slower
        val shm = new java.io.File("/dev/shm")
        if (shm.isDirectory && shm.canWrite &&
          shm.getUsableSpace >= (16L << 30)) "/dev/shm/graft-scratch"
        else System.getProperty("java.io.tmpdir")
      })
      // Prefer the serialized sort shuffle writer over bypass-merge:
      // with 32 reduce partitions under the 200 default, every map task
      // of the packet shuffle wrote 32 partition files and then
      // concatenated them — every shuffled byte written twice. The
      // sort writer radix-sorts partition ids in memory and writes
      // once (sessionize: 1.5 → 0.95 s on the ingest bench corpus).
      .config("spark.shuffle.sort.bypassMergeThreshold", "8")
      .config("spark.shuffle.file.buffer", "1m")
      .config("spark.ui.enabled", "false")
}
