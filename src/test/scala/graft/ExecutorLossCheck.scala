package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated,
  SparkListenerExecutorAdded, SparkListenerExecutorRemoved}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Multimodal, Similarity, TextOps}

/** Body of [[ExecutorLossSpec]], run in its own JVM because it needs a
  * `local-cluster` SparkContext (executors in separate processes that
  * can be killed) and a JVM holds one SparkContext.
  *
  * For one operator per family it builds the frame — which runs the
  * eager materialization of the operator's shared intermediates — kills
  * the executor holding the most of the blocks that build cached, then
  * runs the action. The rows must equal an undisturbed run. Prints one
  * `ok <family>` line per operator; any mismatch or failed action exits
  * non-zero with the error on stderr.
  *
  * Usage: `ExecutorLossCheck <tables-dir>` with `SPARK_HOME` pointing at
  * a Spark distribution (the workers launch executors from it).
  */
object ExecutorLossCheck {

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val cases: Seq[(String, SparkSession => DataFrame)] = Seq(
      "dedup" -> { spark =>
        Dedup.resolveGroups(Dedup.minhashCandidates(
          Tables.load(spark, dir, "documents"), col("text"), col("doc_id"),
          star = true))
      },
      "text" -> { spark =>
        val docs = Tables.load(spark, dir, "documents")
        val queries = docs.filter(col("doc_id") % 100 === 0)
          .select(col("doc_id").as("qid"),
            substring(col("text"), 1, 60).as("qt"))
        TextOps.bm25TopK(docs, col("text"), col("doc_id"),
          queries, col("qt"), col("qid"), k = 5)
      },
      "similarity" -> { spark =>
        val emb = Tables.load(spark, dir, "embeddings")
        val cents = emb.filter(col("vec_id") < 4).orderBy("vec_id")
          .select(Similarity.toDouble(col("embedding"))).collect()
          .map(_.getSeq[Double](0).toSeq).toSeq
        if (!spark.catalog.tableExists("ivf_idx_executor_loss"))
          Similarity.ivfWriteIndex(emb, "embedding", "vec_id", cents,
            "ivf_idx_executor_loss", nBuckets = 4)
        Similarity.ivfProbeIndex(spark, "ivf_idx_executor_loss",
          emb.filter(col("vec_id") < 10), "embedding", "vec_id", 5, cents,
          nProbe = 2)
      },
      "multimodal" -> { spark =>
        Multimodal.dhashPairs(Tables.load(spark, dir, "documents"),
          col("doc_id"), col("text"))
      })
    // one cluster per operator: a killed executor is not replaced, and
    // each case needs two executors so the survivor can recompute
    val ok = cases.forall { case (family, build) =>
      val spark = Sessions.builder("local-cluster[2,1,1024]", 4)
        .config("spark.executor.extraClassPath",
          System.getProperty("java.class.path"))
        // registered at context start, before any executor can register
        .config("spark.extraListeners", classOf[ExecutorLossTracker].getName)
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      val tracker = ExecutorLossTracker.current
      try {
        tracker.awaitExecutors(2)
        val expected = rows(build(spark))
        tracker.cachedBlocks.clear()
        val frame = build(spark)
        val victim = tracker.awaitVictim()
        spark.sparkContext.killExecutor(victim)
        tracker.awaitGone(victim)
        val got = rows(frame)
        if (got == expected) println(s"ok $family")
        else System.err.println(s"MISMATCH $family: ${got.size} rows " +
          s"after executor loss vs ${expected.size} undisturbed")
        got == expected
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          false
      } finally spark.stop()
    }
    sys.exit(if (ok) 0 else 1)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted
}

/** Live executors and the RDD blocks each holds, from listener events. */
class ExecutorLossTracker extends SparkListener {
  ExecutorLossTracker.current = this
  val executors = TrieMap.empty[String, Unit]
  val cachedBlocks = TrieMap.empty[(String, String), Unit]

  override def onExecutorAdded(e: SparkListenerExecutorAdded): Unit =
    executors.put(e.executorId, ())
  override def onExecutorRemoved(e: SparkListenerExecutorRemoved): Unit =
    executors.remove(e.executorId)
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    val key = (info.blockManagerId.executorId, info.blockId.name)
    if (info.blockId.isRDD && info.storageLevel.isValid)
      cachedBlocks.put(key, ())
    else cachedBlocks.remove(key)
  }

  private def await(what: String)(cond: => Boolean): Unit = {
    val deadline = System.currentTimeMillis + 120000
    while (!cond) {
      if (System.currentTimeMillis > deadline)
        throw new IllegalStateException(s"timed out waiting for $what")
      Thread.sleep(100)
    }
  }

  def awaitExecutors(n: Int): Unit =
    await(s"$n executors")(executors.size >= n)

  def awaitGone(id: String): Unit =
    await(s"executor $id to exit")(!executors.contains(id))

  /** The executor holding the most blocks cached since the last clear. */
  def awaitVictim(): String = {
    await("cached blocks")(cachedBlocks.keys.exists(k =>
      executors.contains(k._1)))
    cachedBlocks.keysIterator.map(_._1).filter(executors.contains).toSeq
      .groupBy(identity).maxBy(_._2.size)._1
  }
}

object ExecutorLossTracker {
  @volatile var current: ExecutorLossTracker = _
}
