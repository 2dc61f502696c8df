package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.etl.SessionBuilder.SessionRow
import graft.ops.Enrich

/** Streaming sinks for session rows — the reference's bulk-indexing path
  * (capture/db.c:472-1100: per-thread buffers, flush ≤ dbFlushTimeout 5 s)
  * as Structured Streaming micro-batches.
  *
  *   - parquet sink: day-partitioned append (same layout and writer
  *     options as etl.SessionStore, so live files carry the sessionId
  *     bloom filter; readable mid-stream);
  *   - ES-bulk sink: foreachBatch serializing to the nested ES document
  *     shape as ndjson files — swap the writer lambda for an HTTP _bulk
  *     client against a live cluster; the 5-second trigger mirrors the
  *     reference's dbFlushTimeout.
  */
object SessionSink {

  def toParquet(sessions: Dataset[SessionRow], path: String,
      checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("5 seconds")): StreamingQuery = {
    // the file stream sink takes its writer's Hadoop conf from the
    // session's SQL conf when start() creates it and ignores Hadoop keys
    // given as stream options, so the store's writer options are set on
    // the session for the start() call only
    val conf = sessions.sparkSession.conf
    val opts = graft.etl.SessionStore.bloomOpts
    val prev = opts.keys.map(k => k -> conf.getOption(k))
    opts.foreach { case (k, v) => conf.set(k, v) }
    try sessions.toDF()
      .withColumn("day", graft.etl.SessionStore.utcDay(col("firstPacket")))
      .writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .partitionBy("day")
      .trigger(trigger)
      .outputMode("append")
      .start()
    finally prev.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
  }

  /** Live `_bulk` HTTP sink: each partition serializes its rows to
    * action+doc ndjson and POSTs chunks of at most `maxBulkBytes` — the
    * reference's per-thread 200 KB `dbBulkSize` buffers (capture/db.c:
    * 601-618, config.c:528). Transient failures (429/5xx/IO) back off and
    * retry up to `maxRetries`; a still-failing chunk throws, failing the
    * task and ultimately the micro-batch, which the checkpoint re-runs —
    * at-least-once, like the reference's bulk re-queue. POSTs happen on
    * the executors: the driver never sees the data, so the sink scales
    * with the cluster, not the driver's NIC.
    */
  def toEsBulkHttp(sessions: Dataset[SessionRow], url: String,
      checkpoint: String,
      maxBulkBytes: Int = 200 * 1024,
      maxRetries: Int = 3,
      trigger: Trigger = Trigger.ProcessingTime("5 seconds")): StreamingQuery =
    sessions.toDF()
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        Enrich.toEsBulkLines(batch).as[String]
          .foreachPartition { it: Iterator[String] =>
            val buf = new StringBuilder
            def flush(): Unit = if (buf.nonEmpty) {
              postBulk(url, buf.toString, maxRetries); buf.clear()
            }
            it.foreach { unit =>
              if (buf.length + unit.length + 1 > maxBulkBytes) flush()
              buf.append(unit).append('\n')
            }
            flush()
          }
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .outputMode("append")
      .start()

  /** POST one ndjson chunk, retrying transient failures with exponential
    * backoff. JDK HttpURLConnection only — no client dependency.
    */
  private[streaming] def postBulk(
      url: String, body: String, maxRetries: Int): Unit = {
    var attempt = 0
    var done = false
    while (!done) {
      try {
        val conn = new java.net.URL(url).openConnection()
          .asInstanceOf[java.net.HttpURLConnection]
        conn.setRequestMethod("POST")
        conn.setRequestProperty("Content-Type", "application/x-ndjson")
        conn.setDoOutput(true)
        conn.setConnectTimeout(10000)
        conn.setReadTimeout(30000)
        val out = conn.getOutputStream
        try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        val code = conn.getResponseCode
        val respBody = try {
          val in = if (code >= 400) conn.getErrorStream else conn.getInputStream
          if (in != null) {
            val b = in.readAllBytes(); in.close()
            new String(b, java.nio.charset.StandardCharsets.UTF_8)
          } else ""
        } catch { case _: java.io.IOException => "" }
        // a 200 _bulk response still reports PER-ITEM failures
        // ("errors":true with per-action rejections, e.g. item-level 429
        // under load) — treating it as success silently drops documents;
        // retry the batch like a top-level 429 (idempotent: docs are
        // indexed by id)
        if (code >= 200 && code < 300 &&
          !respBody.contains("\"errors\":true")) done = true
        else if ((code >= 200 && code < 300) || code == 429 || code >= 500)
          throw new java.io.IOException(
            s"bulk POST $code (item errors: ${code < 300})")
        else throw new IllegalStateException(
          s"bulk POST rejected with $code") // 4xx other than 429: no retry
      } catch {
        case e: java.io.IOException =>
          attempt += 1
          if (attempt > maxRetries) throw e
          Thread.sleep(100L << math.min(attempt, 6))
      }
    }
  }

  /** ES-bulk-shaped ndjson via foreachBatch (file-based stand-in for the
    * `_bulk` HTTP sink; the batch boundary is the flush unit).
    */
  def toEsBulk(sessions: Dataset[SessionRow], path: String,
      checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("5 seconds")): StreamingQuery =
    sessions.toDF()
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // overwrite, not append: the directory is keyed by batchId, so a
        // checkpoint replay of a failed micro-batch rewrites the same
        // files instead of appending a duplicate copy of every doc
        Enrich.toEsDocs(batch)
          .write.mode("overwrite").text(s"$path/batch=$batchId")
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .outputMode("append")
      .start()
}
